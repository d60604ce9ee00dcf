package graft.strategies

import graft.strategies.Strategies.ParsedLeg

/** Strategy health monitor (reference `strategies/health.py:28-197` +
  * `config/strategy_health.toml`): per-strategy-type threshold config
  * (DTE warning/critical, per-position delta drift) with a delta-exempt
  * set for delta-1/covered strategies.
  *
  * Pure Scala over classified strategies — at scale this runs inside the
  * same `groupBy(underlying)` pass as classification (group-local, no
  * extra shuffle).
  */
object Health {

  case class Thresholds(
      dteWarning: Int = 14,
      dteCritical: Int = 7,
      maxLossWarning: Double = 0.75,
      maxLossCritical: Double = 0.90,
      deltaDriftWarning: Double = 0.30,
      deltaDriftCritical: Double = 0.50
  )

  case class Alert(strategyType: String, underlying: String, level: String, message: String)

  /** Delta-1 / covered strategies where high absolute delta is inherent
    * (reference `health.py:144-153`).
    */
  val DeltaExempt: Set[String] = Set(
    "LONG_STOCK", "SHORT_STOCK", "LONG_CRYPTO", "SHORT_CRYPTO",
    "LONG_FUTURE", "SHORT_FUTURE", "COVERED_CALL", "PROTECTIVE_PUT"
  )

  /** Threshold lookup with per-strategy-type overrides (the reference's
    * TOML sections become a plain map — configuration is the caller's
    * concern).
    */
  def thresholdsFor(overrides: Map[String, Thresholds], strategyType: String): Thresholds =
    overrides.getOrElse(strategyType.toLowerCase, Thresholds())

  def check(
      strategyType: String,
      underlying: String,
      legs: Seq[ParsedLeg],
      overrides: Map[String, Thresholds] = Map.empty
  ): List[Alert] = {
    val t = thresholdsFor(overrides, strategyType)
    val alerts = List.newBuilder[Alert]

    Strategies.minDte(legs).foreach { dte =>
      if (dte <= t.dteCritical)
        alerts += Alert(strategyType, underlying, "CRITICAL", s"DTE=$dte <= ${t.dteCritical}")
      else if (dte <= t.dteWarning)
        alerts += Alert(strategyType, underlying, "WARNING", s"DTE=$dte <= ${t.dteWarning}")
    }

    if (!DeltaExempt.contains(strategyType)) {
      Strategies.netDelta(legs).foreach { nd =>
        // normalize to per-position (1x) delta, reference health.py:155-163
        val qty = legs
          .find(_.isOption)
          .orElse(legs.headOption)
          .map(_.absQuantity.toInt)
          .getOrElse(1)
        val perPos = if (qty > 0) nd / qty else nd
        if (math.abs(perPos) > t.deltaDriftCritical)
          alerts += Alert(strategyType, underlying, "CRITICAL", f"Net delta=$perPos%.2f exceeds +/-${t.deltaDriftCritical}")
        else if (math.abs(perPos) > t.deltaDriftWarning)
          alerts += Alert(strategyType, underlying, "WARNING", f"Net delta=$perPos%.2f exceeds +/-${t.deltaDriftWarning}")
      }
    }
    alerts.result()
  }

  import org.apache.spark.sql.{DataFrame, Row, SparkSession}
  import org.apache.spark.sql.types.{StringType, StructField, StructType}

  val alertSchema: StructType = StructType(Seq(
    StructField("underlying", StringType),
    StructField("strategy_type", StringType),
    // sorted leg-symbol set: the strategy-instance identity (greedy
    // matching consumes each leg once → leg sets are disjoint, the s11
    // fixture-key argument)
    StructField("legs_key", StringType),
    StructField("level", StringType),
    StructField("message", StringType)
  ))

  /** Distributed health monitor: classify each underlying's legs (the
    * SAME [[Strategies.classifyGroup]] the classifier query runs) and
    * emit one row per alert. `legs` needs [[Strategies.classify]]'s
    * columns PLUS the metrics enrichment health reads: `delta: double`
    * and `days_to_expiration: int` (both nullable — null means
    * unenriched, and the corresponding rule stays silent, the
    * reference's None semantics).
    *
    * Scale shape: identical to classify — ONE shuffle on underlying,
    * group-local combinatorics bounded by portfolio width; health
    * checks are O(legs) arithmetic inside the same pass (the reference
    * runs health right after classification per account snapshot —
    * `strategies/health.py:28-197`).
    */
  def alertsDf(spark: SparkSession, legs: DataFrame, overrides: Map[String, Thresholds] = Map.empty): DataFrame =
    Strategies.perMatch(legs, Seq("delta", "days_to_expiration"), alertSchema) { (u, m) =>
      check(m.strategyType, u, m.legs, overrides).iterator.map { a =>
        Row(u, a.strategyType, m.legs.map(_.symbol).sorted.mkString(","), a.level, a.message)
      }
    }
}
