package graft

import java.time.LocalDate

import graft.queries.StrategyQueries
import graft.strategies.Strategies
import graft.strategies.Strategies.ParsedLeg

/** Ports the reference's canonical pattern cases
  * (`unit_tests/analytics/strategies/test_patterns.py`, FIXTURES.md A4).
  */
class StrategiesSpec extends SparkSpec {

  private val exp1 = LocalDate.of(2026, 3, 20)
  private val exp2 = LocalDate.of(2026, 4, 17)
  private var n = 0

  private def opt(tpe: String, strike: Int, qty: Double, exp: LocalDate = exp1): ParsedLeg = {
    n += 1
    ParsedLeg(s"OPT$n", "SPY", "Equity Option", qty, Some(tpe), Some(BigDecimal(strike)), Some(exp))
  }
  private def stock(qty: Double): ParsedLeg = {
    n += 1
    ParsedLeg(s"STK$n", "SPY", "Equity", qty, None, None, None)
  }

  private def types(legs: List[ParsedLeg]): List[String] =
    Strategies.classifyGroup("SPY", legs).map(_.strategyType)

  test("iron condor") {
    assert(types(List(opt("P", 95, 1), opt("P", 100, -1), opt("C", 110, -1), opt("C", 115, 1))) == List("IRON_CONDOR"))
  }

  test("iron butterfly vs broken wing") {
    assert(types(List(opt("P", 90, 1), opt("P", 100, -1), opt("C", 100, -1), opt("C", 110, 1))) == List("IRON_BUTTERFLY"))
    assert(types(List(opt("P", 85, 1), opt("P", 100, -1), opt("C", 100, -1), opt("C", 110, 1))) == List("IRON_BROKEN_FLY"))
  }

  test("1:2:1 butterflies, equal vs unequal spacing") {
    assert(types(List(opt("C", 100, 1), opt("C", 110, -2), opt("C", 120, 1))) == List("CALL_BUTTERFLY"))
    assert(types(List(opt("P", 100, 1), opt("P", 110, -2), opt("P", 120, 1))) == List("PUT_BUTTERFLY"))
    assert(types(List(opt("C", 100, 1), opt("C", 110, -2), opt("C", 125, 1))) == List("BROKEN_FLY"))
  }

  test("jade lizard both variants") {
    assert(types(List(opt("P", 95, -1), opt("C", 105, -1), opt("C", 110, 1))) == List("JADE_LIZARD"))
    assert(types(List(opt("C", 110, -1), opt("P", 105, -1), opt("P", 95, 1))) == List("JADE_LIZARD"))
  }

  test("big lizard: short straddle + long OTM call") {
    assert(types(List(opt("C", 100, -1), opt("P", 100, -1), opt("C", 105, 2))) == List("BIG_LIZARD"))
  }

  test("covered jade lizard consumes the stock leg") {
    val r = types(List(stock(100), opt("P", 95, -1), opt("C", 105, -1), opt("C", 110, 1)))
    assert(r == List("COVERED_JADE_LIZARD"))
  }

  test("collar / covered call / protective put") {
    assert(types(List(stock(100), opt("P", 95, 1), opt("C", 105, -1))) == List("COLLAR"))
    assert(types(List(stock(100), opt("C", 105, -1))) == List("COVERED_CALL"))
    assert(types(List(stock(100), opt("P", 95, 1))) == List("PROTECTIVE_PUT"))
  }

  test("vertical spreads, all four orientations") {
    assert(types(List(opt("C", 100, 1), opt("C", 110, -1))) == List("BULL_CALL_SPREAD"))
    assert(types(List(opt("C", 100, -1), opt("C", 110, 1))) == List("BEAR_CALL_SPREAD"))
    assert(types(List(opt("P", 100, 1), opt("P", 110, -1))) == List("BEAR_PUT_SPREAD"))
    assert(types(List(opt("P", 100, -1), opt("P", 110, 1))) == List("BULL_PUT_SPREAD"))
  }

  test("ratio spread needs different quantities") {
    assert(types(List(opt("C", 100, 1), opt("C", 110, -2))) == List("RATIO_SPREAD"))
  }

  test("straddle / strangle / synthetic") {
    assert(types(List(opt("C", 100, 1), opt("P", 100, 1))) == List("LONG_STRADDLE"))
    assert(types(List(opt("C", 100, -1), opt("P", 100, -1))) == List("SHORT_STRADDLE"))
    assert(types(List(opt("C", 110, 1), opt("P", 90, 1))) == List("LONG_STRANGLE"))
    assert(types(List(opt("C", 110, -1), opt("P", 90, -1))) == List("SHORT_STRANGLE"))
    assert(types(List(opt("C", 100, 1), opt("P", 100, -1))) == List("SYNTHETIC_LONG"))
    assert(types(List(opt("C", 100, -1), opt("P", 100, 1))) == List("SYNTHETIC_SHORT"))
  }

  test("calendar vs diagonal") {
    assert(types(List(opt("C", 100, 1), opt("C", 100, -1, exp2))) == List("CALENDAR_SPREAD"))
    assert(types(List(opt("C", 100, 1), opt("C", 110, -1, exp2))) == List("DIAGONAL_SPREAD"))
  }

  test("single-leg fallbacks") {
    assert(types(List(opt("C", 100, 1))) == List("LONG_CALL"))
    assert(types(List(opt("C", 100, -1))) == List("NAKED_CALL"))
    assert(types(List(opt("P", 100, 1))) == List("LONG_PUT"))
    assert(types(List(opt("P", 100, -1))) == List("NAKED_PUT"))
    assert(types(List(stock(100))) == List("LONG_STOCK"))
    assert(types(List(stock(-100))) == List("SHORT_STOCK"))
  }

  test("greedy consumption: condor + leftover stock") {
    val r = types(List(stock(100), opt("P", 95, 1), opt("P", 100, -1), opt("C", 110, -1), opt("C", 115, 1)))
    assert(r.sorted == List("IRON_CONDOR", "LONG_STOCK"))
  }

  test("A4 netting: greeks scale by signed qty, theta by multiplier") {
    val legs = List(
      opt("P", 95, 1).copy(delta = Some(-0.3), theta = Some(-0.05), multiplier = BigDecimal(100), daysToExpiration = Some(30)),
      opt("C", 110, -2).copy(delta = Some(0.4), theta = Some(-0.04), multiplier = BigDecimal(100), daysToExpiration = Some(58))
    )
    assert(Strategies.netDelta(legs).contains(-1.1)) // -0.3*1 + 0.4*-2
    assert(Strategies.netTheta(legs).contains(3.0)) // (-0.05*1 + -0.04*-2)*100
    assert(Strategies.minDte(legs).contains(30))
    assert(Strategies.width(legs).contains(BigDecimal(15)))
  }

  test("A5 max profit/loss: credit spread and debit spread formulas") {
    // bull put spread 95/100, 1 contract, x100, net credit $150
    val bps = List(
      opt("P", 95, 1).copy(multiplier = BigDecimal(100), entryValue = Some(BigDecimal(-50))),
      opt("P", 100, -1).copy(multiplier = BigDecimal(100), entryValue = Some(BigDecimal(200)))
    )
    assert(Strategies.maxProfit("BULL_PUT_SPREAD", bps).contains(BigDecimal(150)))
    // max loss = width*100 - credit = 500 - 150 = 350
    assert(Strategies.maxLoss("BULL_PUT_SPREAD", bps).contains(BigDecimal(350)))
    // debit call spread: net debit 120 -> maxProfit = 500 - 120, maxLoss = 120
    val bcs = List(
      opt("C", 100, 1).copy(multiplier = BigDecimal(100), entryValue = Some(BigDecimal(-300))),
      opt("C", 105, -1).copy(multiplier = BigDecimal(100), entryValue = Some(BigDecimal(180)))
    )
    assert(Strategies.maxProfit("BULL_CALL_SPREAD", bcs).contains(BigDecimal(380)))
    assert(Strategies.maxLoss("BULL_CALL_SPREAD", bcs).contains(BigDecimal(120)))
    // naked call: unlimited risk
    val nc = List(opt("C", 100, -1).copy(entryValue = Some(BigDecimal(100))))
    assert(Strategies.maxLoss("NAKED_CALL", nc).isEmpty)
    assert(Strategies.maxProfit("NAKED_CALL", nc).contains(BigDecimal(100)))
  }

  test("A5 iron condor wing-width max loss") {
    val ic = List(
      opt("P", 95, 1).copy(multiplier = BigDecimal(100), entryValue = Some(BigDecimal(-30))),
      opt("P", 100, -1).copy(multiplier = BigDecimal(100), entryValue = Some(BigDecimal(120))),
      opt("C", 110, -1).copy(multiplier = BigDecimal(100), entryValue = Some(BigDecimal(110))),
      opt("C", 117, 1).copy(multiplier = BigDecimal(100), entryValue = Some(BigDecimal(-40)))
    )
    // net credit 160; wing width = max(5, 7) = 7 -> 700 - 160 = 540
    assert(Strategies.maxProfit("IRON_CONDOR", ic).contains(BigDecimal(160)))
    assert(Strategies.maxLoss("IRON_CONDOR", ic).contains(BigDecimal(540)))
  }

  test("distributed classify matches pure classifyGroup") {
    import spark.implicits._
    val legs = Seq(
      ("O1", "SPY", "Equity Option", 1.0, "P", BigDecimal(95), java.sql.Date.valueOf("2026-03-20")),
      ("O2", "SPY", "Equity Option", -1.0, "P", BigDecimal(100), java.sql.Date.valueOf("2026-03-20")),
      ("O3", "SPY", "Equity Option", -1.0, "C", BigDecimal(110), java.sql.Date.valueOf("2026-03-20")),
      ("O4", "SPY", "Equity Option", 1.0, "C", BigDecimal(115), java.sql.Date.valueOf("2026-03-20")),
      ("O5", "QQQ", "Equity Option", 1.0, "C", BigDecimal(400), java.sql.Date.valueOf("2026-03-20")),
      ("O6", "QQQ", "Equity Option", -1.0, "C", BigDecimal(410), java.sql.Date.valueOf("2026-03-20"))
    ).toDF("symbol", "underlying", "instrument_type", "signed_quantity", "option_type", "strike", "expiration")
    val out = Strategies
      .classify(spark, legs)
      .select("underlying", "strategy_type")
      .as[(String, String)]
      .collect()
      .toSet
    assert(out == Set(("SPY", "IRON_CONDOR"), ("QQQ", "BULL_CALL_SPREAD")))
  }

  test("distributed riskDf matches pure classifyGroup + maxProfit/maxLoss") {
    import spark.implicits._
    // a condor (defined risk), a naked call (null loss), and a long call
    // (null/null) in one frame — the three null-shapes of the dispatch
    val legs = Seq(
      ("O1", "SPY", 1.0, "P", 95, "2026-03-20", -30),
      ("O2", "SPY", -1.0, "P", 100, "2026-03-20", 120),
      ("O3", "SPY", -1.0, "C", 110, "2026-03-20", 110),
      ("O4", "SPY", 1.0, "C", 117, "2026-03-20", -40),
      ("O5", "QQQ", -1.0, "C", 400, "2026-03-20", 100),
      ("O6", "IWM", 1.0, "C", 200, "2026-03-20", -250)
    ).toDF("symbol", "underlying", "signed_quantity", "option_type", "k", "e", "v")
      .select(
        $"symbol", $"underlying",
        org.apache.spark.sql.functions.lit("Equity Option").as("instrument_type"),
        $"signed_quantity", $"option_type",
        $"k".cast("decimal(12,3)").as("strike"),
        $"e".cast("date").as("expiration"),
        org.apache.spark.sql.functions.lit(100).cast("decimal(12,2)").as("multiplier"),
        $"v".cast("decimal(12,2)").as("entry_value")
      )
    val out = Strategies
      .riskDf(spark, legs)
      .select("underlying", "strategy_type", "max_profit", "max_loss")
      .collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.get(2)), Option(r.get(3))))
      .toSet
    // hand math: condor credit 160, wing width max(5,7)=7 -> loss 540
    assert(out == Set(
      ("SPY", "IRON_CONDOR", Some(160.0), Some(540.0)),
      ("QQQ", "NAKED_CALL", Some(100.0), None),
      ("IWM", "LONG_CALL", None, None)
    ))
  }

  test("a5 oracle query: live risk matches the committed fixture instance-by-instance (sf0.001)") {
    val rows = StrategyQueries.a5MaxProfitLoss(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // n_match == n on EVERY group: classification, legs_key, and both
    // risk figures (null-safe) agree with the fixture for every
    // instance — this is also the fixture-staleness canary
    val bad = rows.filter(r => r.getLong(r.fieldIndex("n")) != r.getLong(r.fieldIndex("n_match")))
    assert(bad.isEmpty, s"fixture-mismatched groups: ${bad.take(5).mkString("; ")}")
    // the synthesis keeps the full formula dispatch exercised: all four
    // iron variants, all four verticals, both butterflies + broken fly,
    // straddles both directions, jade lizard, naked + long singles
    val types = rows.map(_.getString(1)).toSet
    val expected = Set(
      "IRON_CONDOR", "IRON_BUTTERFLY", "IRON_BROKEN_FLY",
      "BULL_CALL_SPREAD", "BEAR_CALL_SPREAD", "BULL_PUT_SPREAD", "BEAR_PUT_SPREAD",
      "CALL_BUTTERFLY", "PUT_BUTTERFLY", "BROKEN_FLY",
      "SHORT_STRADDLE", "LONG_STRADDLE", "JADE_LIZARD",
      "NAKED_CALL", "NAKED_PUT", "LONG_CALL", "LONG_PUT"
    )
    assert((expected -- types).isEmpty, s"dispatch types lost from the synthesis: ${expected -- types}")
  }
}
