package graft

import java.time.LocalDate

import graft.queries.StrategyQueries
import graft.strategies.{Health, Strategies}
import graft.strategies.Strategies.ParsedLeg

class HealthSpec extends SparkSpec {

  private def leg(qty: Double, delta: Double, dte: Int): ParsedLeg =
    ParsedLeg("O", "SPY", "Equity Option", qty, Some("C"), Some(BigDecimal(100)),
      Some(LocalDate.of(2026, 3, 20)), delta = Some(delta), daysToExpiration = Some(dte))

  test("DTE thresholds: critical beats warning") {
    val crit = Health.check("IRON_CONDOR", "SPY", Seq(leg(1, 0.0, 5)))
    assert(crit.exists(a => a.level == "CRITICAL" && a.message.startsWith("DTE=5")))
    val warn = Health.check("IRON_CONDOR", "SPY", Seq(leg(1, 0.0, 10)))
    assert(warn.exists(a => a.level == "WARNING" && a.message.startsWith("DTE=10")))
    assert(Health.check("IRON_CONDOR", "SPY", Seq(leg(1, 0.0, 30))).isEmpty)
  }

  test("delta drift normalizes per position and exempts delta-1 strategies") {
    // 2 contracts, net delta 0.8 -> per-position 0.4 -> warning
    val legs = Seq(leg(2, 0.4, 30))
    val alerts = Health.check("SHORT_STRANGLE", "SPY", legs)
    assert(alerts.exists(a => a.level == "WARNING" && a.message.contains("0.40")))
    // same numbers on an exempt strategy -> nothing
    assert(Health.check("COVERED_CALL", "SPY", legs).isEmpty)
  }

  test("per-type overrides change the gates") {
    val over = Map("iron_condor" -> Health.Thresholds(dteWarning = 30, dteCritical = 21))
    val a = Health.check("IRON_CONDOR", "SPY", Seq(leg(1, 0.0, 25)), over)
    assert(a.exists(_.level == "WARNING"))
  }

  test("alertsDf ≡ driver-side classifyGroup + check, and null enrichment silences the rules") {
    import org.apache.spark.sql.functions.col
    // the h1 synthesis at the smallest sf: enriched legs whose expected
    // alerts we recompute with the SAME pure functions driver-side
    val legsDf = StrategyQueries.h1Legs(spark, sf0001)
    val live = Health
      .alertsDf(spark, legsDf)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
      .toSet
    assert(live.nonEmpty)
    assert(live.exists(_._4 == "CRITICAL") && live.exists(_._4 == "WARNING"))
    assert(live.exists(_._5.startsWith("DTE=")) && live.exists(_._5.startsWith("Net delta=")))
    // driver-side recompute: same parse, same classifier, same checker
    val expected = legsDf
      .collect()
      .map { r =>
        val get = legsDf.schema.fieldIndex _
        ParsedLeg(
          r.getString(get("symbol")), r.getString(get("underlying")),
          r.getString(get("instrument_type")), r.getDouble(get("signed_quantity")),
          Option(r.getString(get("option_type"))),
          Option(r.getDecimal(get("strike"))).map(BigDecimal(_)),
          Option(r.getDate(get("expiration"))).map(_.toLocalDate),
          delta = if (r.isNullAt(get("delta"))) None else Some(r.getDouble(get("delta"))),
          daysToExpiration =
            if (r.isNullAt(get("days_to_expiration"))) None else Some(r.getInt(get("days_to_expiration")))
        )
      }
      .groupBy(_.underlying)
      .flatMap { case (u, ls) =>
        // classifyGroup is row-order-invariant up to the sorted-symbol
        // ordering alertsDf uses — feed it the same ordering
        Strategies.classifyGroup(u, ls.sortBy(_.symbol).toList).flatMap { m =>
          Health.check(m.strategyType, u, m.legs).map { a =>
            (u, a.strategyType, m.legs.map(_.symbol).sorted.mkString(","), a.level, a.message)
          }
        }
      }
      .toSet
    assert(live == expected)
    // stripping the enrichment silences both rules: no DTE, no delta
    val bare = legsDf
      .withColumn("delta", org.apache.spark.sql.functions.lit(null).cast("double"))
      .withColumn("days_to_expiration", org.apache.spark.sql.functions.lit(null).cast("int"))
    assert(Health.alertsDf(spark, bare).filter(col("level").isNotNull).count() == 0L)
  }
}
