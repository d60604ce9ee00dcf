package graft.strategies

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Relational

/** Option-strategy classification (reference
  * `analytics/strategies/patterns.py` + `classifier.py:100-163`,
  * SURVEY §2.11): group legs by underlying, apply matchers
  * most-complex→simplest greedily (each matcher loops until it stops
  * matching), leftovers become single-leg strategies.
  *
  * The combinatorial search is pure Scala over tiny groups (positions
  * per underlying), distributed via `groupBy(underlying)` +
  * per-partition iteration — the 100 TB-safe shape because group size is
  * bounded by portfolio width, not data volume.
  */
object Strategies {

  case class ParsedLeg(
      symbol: String,
      underlying: String,
      instrumentType: String, // Equity | Equity Option | Future | Future Option | Cryptocurrency
      signedQuantity: Double,
      optionType: Option[String], // C | P
      strike: Option[BigDecimal],
      expiration: Option[LocalDate],
      // metrics enrichment (reference ParsedLeg, models.py:76-147)
      delta: Option[Double] = None,
      gamma: Option[Double] = None,
      theta: Option[Double] = None,
      vega: Option[Double] = None,
      multiplier: BigDecimal = BigDecimal(1),
      entryValue: Option[BigDecimal] = None,
      daysToExpiration: Option[Int] = None
  ) {
    def isLong: Boolean = signedQuantity > 0
    def isShort: Boolean = signedQuantity < 0
    def isCall: Boolean = optionType.contains("C")
    def isPut: Boolean = optionType.contains("P")
    def isOption: Boolean = instrumentType == "Equity Option" || instrumentType == "Future Option"
    def isStock: Boolean = instrumentType == "Equity" || instrumentType == "Future" || instrumentType == "Cryptocurrency"
    def absQuantity: Double = math.abs(signedQuantity)
  }

  case class Match(strategyType: String, legs: List[ParsedLeg])

  private def sameExpiration(legs: Seq[ParsedLeg]): Boolean =
    legs.flatMap(_.expiration).distinct.size == 1

  private def sameAbsQuantity(legs: Seq[ParsedLeg]): Boolean =
    legs.map(_.absQuantity).distinct.size == 1

  private def sortedByStrike(legs: Seq[ParsedLeg]): List[ParsedLeg] =
    legs.sortBy(_.strike.getOrElse(BigDecimal(0))).toList

  /** Iron condor / iron butterfly / iron BWB share the long-low-put /
    * short-high-put / short-low-call / long-high-call frame; they differ
    * in the short-strike and wing-width relations.
    */
  private def matchIronFamily(legs: List[ParsedLeg], which: String): Option[Match] = {
    val options = legs.filter(_.isOption)
    if (options.size < 4) return None
    options.combinations(4).foreach { combo =>
      if (sameExpiration(combo) && sameAbsQuantity(combo)) {
        val puts = sortedByStrike(combo.filter(_.isPut))
        val calls = sortedByStrike(combo.filter(_.isCall))
        if (puts.size == 2 && calls.size == 2 &&
          puts(0).isLong && puts(1).isShort && calls(0).isShort && calls(1).isLong) {
          (puts(0).strike, puts(1).strike, calls(0).strike, calls(1).strike) match {
            case (Some(pl), Some(ps), Some(cs), Some(cl)) =>
              which match {
                case "condor" if ps < cs =>
                  return Some(Match("IRON_CONDOR", combo))
                case "butterfly" if ps == cs && (ps - pl) == (cl - cs) =>
                  return Some(Match("IRON_BUTTERFLY", combo))
                case "bwb" if ps == cs && (ps - pl) != (cl - cs) =>
                  return Some(Match("IRON_BROKEN_FLY", combo))
                case _ => ()
              }
            case _ => ()
          }
        }
      }
    }
    None
  }

  /** 1:2:1 butterfly over one option type; `equalSpacing` selects the
    * regular vs broken-wing variant.
    */
  private def matchButterfly(legs: List[ParsedLeg], put: Boolean, equalSpacing: Boolean, name: String): Option[Match] = {
    val options = legs.filter(l => l.isOption && (if (put) l.isPut else l.isCall))
    if (options.size < 3) return None
    options.combinations(3).foreach { combo =>
      val sorted = sortedByStrike(combo)
      if (sameExpiration(sorted)) {
        val (low, mid, high) = (sorted(0), sorted(1), sorted(2))
        (low.strike, mid.strike, high.strike) match {
          case (Some(l), Some(m), Some(h)) =>
            val spacingEq = (m - l) == (h - m)
            if (spacingEq == equalSpacing &&
              low.isLong && mid.isShort && high.isLong &&
              low.absQuantity == high.absQuantity && mid.absQuantity == 2 * low.absQuantity)
              return Some(Match(name, sorted))
          case _ => ()
        }
      }
    }
    None
  }

  private def matchBrokenWing(legs: List[ParsedLeg]): Option[Match] =
    matchButterfly(legs, put = false, equalSpacing = false, "BROKEN_FLY")
      .orElse(matchButterfly(legs, put = true, equalSpacing = false, "BROKEN_FLY"))

  private def matchCoveredJadeLizard(legs: List[ParsedLeg]): Option[Match] = {
    val stocks = legs.filter(l => l.isStock && l.isLong)
    val options = legs.filter(_.isOption)
    if (stocks.isEmpty || options.size < 3) return None
    val stock = stocks.head
    options.combinations(3).foreach { combo =>
      if (sameExpiration(combo)) {
        val sp = combo.filter(l => l.isPut && l.isShort)
        val sc = combo.filter(l => l.isCall && l.isShort)
        val lc = combo.filter(l => l.isCall && l.isLong)
        if (sp.size == 1 && sc.size == 1 && lc.size == 1)
          (sc.head.strike, lc.head.strike) match {
            case (Some(s), Some(l)) if s < l => return Some(Match("COVERED_JADE_LIZARD", stock :: combo))
            case _                           => ()
          }
      }
    }
    None
  }

  private def matchBigLizard(legs: List[ParsedLeg]): Option[Match] = {
    val options = legs.filter(_.isOption)
    if (options.size < 3) return None
    options.combinations(3).foreach { combo =>
      if (sameExpiration(combo)) {
        val sc = combo.filter(l => l.isCall && l.isShort)
        val sp = combo.filter(l => l.isPut && l.isShort)
        val lc = combo.filter(l => l.isCall && l.isLong)
        if (sc.size == 1 && sp.size == 1 && lc.size == 1 &&
          sc.head.strike == sp.head.strike &&
          (for (l <- lc.head.strike; s <- sc.head.strike) yield l > s).getOrElse(false))
          return Some(Match("BIG_LIZARD", combo))
      }
    }
    None
  }

  private def matchJadeLizard(legs: List[ParsedLeg]): Option[Match] = {
    val options = legs.filter(_.isOption)
    if (options.size < 3) return None
    options.combinations(3).foreach { combo =>
      if (sameExpiration(combo) && sameAbsQuantity(combo)) {
        val sp = combo.filter(l => l.isPut && l.isShort)
        val sc = combo.filter(l => l.isCall && l.isShort)
        val lc = combo.filter(l => l.isCall && l.isLong)
        val lp = combo.filter(l => l.isPut && l.isLong)
        if (sp.size == 1 && sc.size == 1 && lc.size == 1 &&
          (for (s <- sc.head.strike; l <- lc.head.strike) yield s < l).getOrElse(false))
          return Some(Match("JADE_LIZARD", combo))
        if (sc.size == 1 && sp.size == 1 && lp.size == 1 &&
          (for (l <- lp.head.strike; s <- sp.head.strike) yield l < s).getOrElse(false))
          return Some(Match("JADE_LIZARD", combo))
      }
    }
    None
  }

  private def matchCollar(legs: List[ParsedLeg]): Option[Match] = {
    val stocks = legs.filter(l => l.isStock && l.isLong)
    val options = legs.filter(_.isOption)
    if (stocks.isEmpty || options.size < 2) return None
    val stock = stocks.head
    options.combinations(2).foreach { combo =>
      if (sameExpiration(combo)) {
        val lp = combo.filter(l => l.isPut && l.isLong)
        val sc = combo.filter(l => l.isCall && l.isShort)
        if (lp.size == 1 && sc.size == 1) return Some(Match("COLLAR", stock :: combo))
      }
    }
    None
  }

  private def matchCoveredCall(legs: List[ParsedLeg]): Option[Match] = {
    val stocks = legs.filter(l => l.isStock && l.isLong)
    val shortCalls = legs.filter(l => l.isOption && l.isCall && l.isShort)
    if (stocks.isEmpty || shortCalls.isEmpty) None
    else Some(Match("COVERED_CALL", List(stocks.head, shortCalls.head)))
  }

  private def matchProtectivePut(legs: List[ParsedLeg]): Option[Match] = {
    val stocks = legs.filter(l => l.isStock && l.isLong)
    val longPuts = legs.filter(l => l.isOption && l.isPut && l.isLong)
    if (stocks.isEmpty || longPuts.isEmpty) None
    else Some(Match("PROTECTIVE_PUT", List(stocks.head, longPuts.head)))
  }

  private def matchVertical(legs: List[ParsedLeg]): Option[Match] = {
    val options = legs.filter(_.isOption)
    if (options.size < 2) return None
    options.combinations(2).foreach { combo =>
      val (a, b) = (combo(0), combo(1))
      if (a.optionType == b.optionType && a.expiration == b.expiration && a.expiration.isDefined &&
        a.strike != b.strike && a.strike.isDefined && b.strike.isDefined &&
        a.absQuantity == b.absQuantity) {
        val (low, high) = if (a.strike.get < b.strike.get) (a, b) else (b, a)
        if (a.isCall) {
          if (low.isLong && high.isShort) return Some(Match("BULL_CALL_SPREAD", List(low, high)))
          if (low.isShort && high.isLong) return Some(Match("BEAR_CALL_SPREAD", List(low, high)))
        } else {
          if (low.isLong && high.isShort) return Some(Match("BEAR_PUT_SPREAD", List(low, high)))
          if (low.isShort && high.isLong) return Some(Match("BULL_PUT_SPREAD", List(low, high)))
        }
      }
    }
    None
  }

  private def matchRatio(legs: List[ParsedLeg]): Option[Match] = {
    val options = legs.filter(_.isOption)
    if (options.size < 2) return None
    options.combinations(2).foreach { combo =>
      val (a, b) = (combo(0), combo(1))
      if (a.optionType == b.optionType && a.expiration == b.expiration && a.expiration.isDefined &&
        a.strike != b.strike && a.strike.isDefined && b.strike.isDefined &&
        a.absQuantity != b.absQuantity &&
        ((a.isLong && b.isShort) || (a.isShort && b.isLong)))
        return Some(Match("RATIO_SPREAD", combo))
    }
    None
  }

  private def matchStraddleStrangle(legs: List[ParsedLeg], sameStrike: Boolean): Option[Match] = {
    val options = legs.filter(_.isOption)
    if (options.size < 2) return None
    options.combinations(2).foreach { combo =>
      val (a, b) = (combo(0), combo(1))
      if (a.optionType != b.optionType && a.expiration == b.expiration && a.expiration.isDefined &&
        a.strike.isDefined && b.strike.isDefined &&
        (if (sameStrike) a.strike == b.strike else a.strike != b.strike) &&
        a.absQuantity == b.absQuantity && a.isLong == b.isLong) {
        val name =
          if (sameStrike) { if (a.isLong) "LONG_STRADDLE" else "SHORT_STRADDLE" }
          else { if (a.isLong) "LONG_STRANGLE" else "SHORT_STRANGLE" }
        return Some(Match(name, combo))
      }
    }
    None
  }

  private def matchSynthetic(legs: List[ParsedLeg]): Option[Match] = {
    val options = legs.filter(_.isOption)
    if (options.size < 2) return None
    options.combinations(2).foreach { combo =>
      val (a, b) = (combo(0), combo(1))
      if (a.optionType != b.optionType && a.expiration == b.expiration && a.expiration.isDefined &&
        a.strike == b.strike && a.strike.isDefined &&
        a.absQuantity == b.absQuantity && a.isLong != b.isLong) {
        val call = if (a.isCall) a else b
        val put = if (a.isCall) b else a
        val name = if (call.isLong && put.isShort) "SYNTHETIC_LONG" else "SYNTHETIC_SHORT"
        return Some(Match(name, combo))
      }
    }
    None
  }

  private def matchCalendarDiagonal(legs: List[ParsedLeg], sameStrike: Boolean): Option[Match] = {
    val options = legs.filter(_.isOption)
    if (options.size < 2) return None
    options.combinations(2).foreach { combo =>
      val (a, b) = (combo(0), combo(1))
      if (a.optionType == b.optionType &&
        (if (sameStrike) a.strike == b.strike && a.strike.isDefined
         else a.strike != b.strike && a.strike.isDefined && b.strike.isDefined) &&
        a.expiration != b.expiration && a.expiration.isDefined && b.expiration.isDefined &&
        a.absQuantity == b.absQuantity)
        return Some(Match(if (sameStrike) "CALENDAR_SPREAD" else "DIAGONAL_SPREAD", combo))
    }
    None
  }

  def matchSingleLeg(leg: ParsedLeg): String = leg.instrumentType match {
    case "Equity"         => if (leg.isLong) "LONG_STOCK" else "SHORT_STOCK"
    case "Future"         => if (leg.isLong) "LONG_FUTURE" else "SHORT_FUTURE"
    case "Cryptocurrency" => if (leg.isLong) "LONG_CRYPTO" else "SHORT_CRYPTO"
    case _ =>
      if (leg.isCall) { if (leg.isLong) "LONG_CALL" else "NAKED_CALL" }
      else if (leg.isPut) { if (leg.isLong) "LONG_PUT" else "NAKED_PUT" }
      else "CUSTOM"
  }

  /** Matchers in the reference's priority order (`patterns.py:678-704`). */
  val multiLegMatchers: List[List[ParsedLeg] => Option[Match]] = List(
    matchIronFamily(_, "condor"),
    matchIronFamily(_, "butterfly"),
    matchIronFamily(_, "bwb"),
    matchCoveredJadeLizard,
    matchBigLizard,
    matchButterfly(_, put = false, equalSpacing = true, "CALL_BUTTERFLY"),
    matchButterfly(_, put = true, equalSpacing = true, "PUT_BUTTERFLY"),
    matchBrokenWing,
    matchJadeLizard,
    matchCollar,
    matchCoveredCall,
    matchProtectivePut,
    matchVertical,
    matchRatio,
    matchStraddleStrangle(_, sameStrike = true),
    matchStraddleStrangle(_, sameStrike = false),
    matchSynthetic,
    matchCalendarDiagonal(_, sameStrike = true),
    matchCalendarDiagonal(_, sameStrike = false)
  )

  /** Greedy classification of one underlying's legs (reference
    * `classifier.py:127-163`): each matcher repeats until exhausted,
    * consuming matched legs; leftovers become single-leg strategies.
    */
  def classifyGroup(underlying: String, legs: List[ParsedLeg]): List[Match] = {
    var remaining = legs
    val out = List.newBuilder[Match]
    multiLegMatchers.foreach { matcher =>
      var res = if (remaining.nonEmpty) matcher(remaining) else None
      while (res.isDefined) {
        val m = res.get
        out += m
        // reference-equality removal (the reference uses id(); identity
        // HASH codes can collide and would silently drop extra legs)
        remaining = remaining.filterNot(l => m.legs.exists(_ eq l))
        res = if (remaining.nonEmpty) matcher(remaining) else None
      }
    }
    remaining.foreach(l => out += Match(matchSingleLeg(l), List(l)))
    out.result()
  }

  // -------------------------------------------------------------------
  // A4/A5 — strategy netting and risk formulas (reference
  // `strategies/models.py:160-452`)
  // -------------------------------------------------------------------

  private def roundH(x: Double, dp: Int): Double =
    BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_EVEN).toDouble

  def netDelta(legs: Seq[ParsedLeg]): Option[Double] = netGreek(legs, _.delta, 4)
  def netGamma(legs: Seq[ParsedLeg]): Option[Double] = netGreek(legs, _.gamma, 4)
  def netVega(legs: Seq[ParsedLeg]): Option[Double] = netGreek(legs, _.vega, 4)

  private def netGreek(legs: Seq[ParsedLeg], f: ParsedLeg => Option[Double], dp: Int): Option[Double] = {
    val vals = legs.filter(l => f(l).isDefined)
    if (vals.isEmpty) None
    else Some(roundH(vals.map(l => f(l).get * l.signedQuantity).sum, dp))
  }

  /** Dollar net theta: theta × signed qty × multiplier, rounded 2dp. */
  def netTheta(legs: Seq[ParsedLeg]): Option[Double] = {
    val vals = legs.filter(_.theta.isDefined)
    if (vals.isEmpty) None
    else Some(roundH(vals.map(l => l.theta.get * l.signedQuantity * l.multiplier.toDouble).sum, 2))
  }

  def minDte(legs: Seq[ParsedLeg]): Option[Int] = {
    val dtes = legs.flatMap(_.daysToExpiration)
    if (dtes.isEmpty) None else Some(dtes.min)
  }

  /** Strike width = max(strike) − min(strike) across distinct strikes. */
  def width(legs: Seq[ParsedLeg]): Option[BigDecimal] = {
    val strikes = legs.flatMap(_.strike).distinct.sorted
    if (strikes.size >= 2) Some(strikes.last - strikes.head) else None
  }

  private def strategyMultiplier(legs: Seq[ParsedLeg]): BigDecimal =
    legs.find(_.isOption).map(_.multiplier).getOrElse(BigDecimal(1))

  private def strategyQuantity(legs: Seq[ParsedLeg]): BigDecimal =
    legs.find(_.isOption).map(l => BigDecimal(l.absQuantity)).getOrElse(BigDecimal(1))

  /** Net dollar entry credit: Σ leg entry values (already signed by the
    * LIFO replay); None if any option leg lacks entry data.
    */
  def netEntryCredit(optionLegs: Seq[ParsedLeg]): Option[BigDecimal] =
    if (optionLegs.exists(_.entryValue.isEmpty)) None
    else Some(optionLegs.flatMap(_.entryValue).sum)

  private val CreditStrategies = Set(
    "BEAR_CALL_SPREAD", "BULL_PUT_SPREAD", "IRON_CONDOR", "IRON_BUTTERFLY",
    "IRON_BROKEN_FLY", "SHORT_STRANGLE", "SHORT_STRADDLE", "NAKED_CALL",
    "NAKED_PUT", "JADE_LIZARD"
  )
  private val DebitSpreads = Set("BULL_CALL_SPREAD", "BEAR_PUT_SPREAD")
  private val Butterflies = Set("CALL_BUTTERFLY", "PUT_BUTTERFLY", "BROKEN_FLY")
  private val UnlimitedRisk = Set("NAKED_CALL", "NAKED_PUT", "SHORT_STRANGLE", "SHORT_STRADDLE")

  private def quantize(x: BigDecimal): BigDecimal = x.setScale(0, BigDecimal.RoundingMode.HALF_EVEN)

  /** Max profit in dollars (reference `models.py:286-357`): fixed at
    * entry from the LIFO-signed entry credits.
    */
  def maxProfit(strategyType: String, legs: Seq[ParsedLeg]): Option[BigDecimal] = {
    val optionLegs = legs.filter(_.isOption)
    if (optionLegs.isEmpty) return None
    val dollarPerPoint = strategyMultiplier(legs) * strategyQuantity(legs)
    netEntryCredit(optionLegs).flatMap { netCredit =>
      if (CreditStrategies.contains(strategyType))
        Some(quantize(netCredit.max(BigDecimal(0))))
      else if (DebitSpreads.contains(strategyType))
        width(legs).map(w => quantize((w * dollarPerPoint + netCredit).max(BigDecimal(0))))
      else if (Butterflies.contains(strategyType)) {
        val strikes = optionLegs.flatMap(_.strike).distinct.sorted
        if (strikes.size < 3) None
        else {
          val narrow = (strikes(1) - strikes(0)).min(strikes(2) - strikes(1))
          Some(quantize((narrow * dollarPerPoint + netCredit).max(BigDecimal(0))))
        }
      } else None
    }
  }

  /** Max loss in dollars (reference `models.py:360-452`); None =
    * unlimited risk or insufficient data.
    */
  def maxLoss(strategyType: String, legs: Seq[ParsedLeg]): Option[BigDecimal] = {
    val optionLegs = legs.filter(_.isOption)
    if (optionLegs.isEmpty || UnlimitedRisk.contains(strategyType)) return None
    val dollarPerPoint = strategyMultiplier(legs) * strategyQuantity(legs)
    netEntryCredit(optionLegs).flatMap { netCredit =>
      strategyType match {
        case "BEAR_CALL_SPREAD" | "BULL_PUT_SPREAD" =>
          width(legs).map(w => quantize((w * dollarPerPoint - netCredit).max(BigDecimal(0))))
        case "BULL_CALL_SPREAD" | "BEAR_PUT_SPREAD" =>
          Some(quantize((-netCredit).max(BigDecimal(0))))
        case "IRON_CONDOR" | "IRON_BUTTERFLY" | "IRON_BROKEN_FLY" =>
          val putStrikes = optionLegs.filter(_.isPut).flatMap(_.strike).sorted
          val callStrikes = optionLegs.filter(_.isCall).flatMap(_.strike).sorted
          val putW = if (putStrikes.size >= 2) putStrikes.last - putStrikes.head else BigDecimal(0)
          val callW = if (callStrikes.size >= 2) callStrikes.last - callStrikes.head else BigDecimal(0)
          Some(quantize((putW.max(callW) * dollarPerPoint - netCredit).max(BigDecimal(0))))
        case "JADE_LIZARD" =>
          width(legs).map(w => quantize((w * dollarPerPoint - netCredit).max(BigDecimal(0))))
        case t if Butterflies.contains(t) =>
          val strikes = optionLegs.flatMap(_.strike).distinct.sorted
          if (strikes.size < 3) None
          else {
            val wider = (strikes(1) - strikes(0)).max(strikes(2) - strikes(1))
            val credit = maxProfit(strategyType, legs).getOrElse(BigDecimal(0))
            Some(quantize((wider * dollarPerPoint - credit).max(BigDecimal(0))))
          }
        case _ => None
      }
    }
  }

  val strategySchema: StructType = StructType(Seq(
    StructField("underlying", StringType),
    StructField("strategy_type", StringType),
    StructField("n_legs", IntegerType),
    StructField("leg_symbols", ArrayType(StringType)),
    StructField("net_qty", DoubleType)
  ))

  val riskSchema: StructType = StructType(Seq(
    StructField("underlying", StringType),
    StructField("strategy_type", StringType),
    // sorted leg-symbol set: the strategy-instance identity (greedy
    // matching consumes each leg once → leg sets are disjoint, the s11
    // fixture-key argument)
    StructField("legs_key", StringType),
    // quantized whole-dollar figures (models.py HALF_EVEN to 0dp), so
    // DOUBLE is exact and DECIMAL stays off the compare surface
    StructField("max_profit", DoubleType),
    StructField("max_loss", DoubleType)
  ))

  /** Distributed A5 risk table: classify each underlying's legs (the
    * SAME [[classifyGroup]] the classifier query runs) and emit one row
    * per strategy instance with its entry-fixed max profit / max loss
    * in dollars (reference `strategies/models.py:274-452`). `legs`
    * needs [[classify]]'s columns PLUS the entry enrichment the
    * formulas read: `multiplier: decimal` and `entry_value: decimal`
    * (both nullable — a missing option entry value makes both risk
    * numbers null, the reference's None semantics; null = unlimited
    * risk for the [[maxLoss]] unlimited set).
    *
    * Scale shape: identical to classify — ONE shuffle on underlying,
    * group-local combinatorics bounded by portfolio width; the risk
    * formulas are O(legs) arithmetic inside the same pass (the
    * reference computes them on the freshly classified strategy,
    * `models.py:160-210`).
    */
  def riskDf(spark: SparkSession, legs: DataFrame): DataFrame =
    perMatch(legs, Seq("multiplier", "entry_value"), riskSchema) { (u, m) =>
      Iterator.single(Row(
        u,
        m.strategyType,
        m.legs.map(_.symbol).sorted.mkString(","),
        maxProfit(m.strategyType, m.legs).map(v => Double.box(v.toDouble)).orNull,
        maxLoss(m.strategyType, m.legs).map(v => Double.box(v.toDouble)).orNull
      ))
    }

  /** Distributed classifier: `legs` needs columns (symbol, underlying,
    * instrument_type, signed_quantity, option_type, strike: decimal,
    * expiration: date). One shuffle on underlying; group combinatorics
    * run leg-local.
    */
  def classify(spark: SparkSession, legs: DataFrame): DataFrame =
    perMatch(legs, Nil, strategySchema) { (u, m) =>
      Iterator.single(Row(u, m.strategyType, m.legs.size, m.legs.map(_.symbol), m.legs.map(_.signedQuantity).sum))
    }

  /** The one walk behind [[classify]], [[riskDf]] and
    * [[graft.strategies.Health.alertsDf]]: each underlying's legs, in
    * symbol order, through [[classifyGroup]], then `rows(underlying, m)`
    * per match. [[Relational.perKeyRuns]] on underlying. `enrichment`
    * names the nullable columns read into [[ParsedLeg]] beyond
    * classify's seven: `multiplier` and `entry_value` (decimal; a null
    * multiplier reads as 1), `delta` (double), `days_to_expiration`
    * (int).
    */
  private[strategies] def perMatch(legs: DataFrame, enrichment: Seq[String], out: StructType)(
      rows: (String, Match) => Iterator[Row]
  ): DataFrame = {
    val idx = legs.schema.fieldIndex _
    val (si, ui, ii, qi, oi, ki, ei) = (
      idx("symbol"), idx("underlying"), idx("instrument_type"), idx("signed_quantity"),
      idx("option_type"), idx("strike"), idx("expiration")
    )
    def opt(name: String): Option[Int] = if (enrichment.contains(name)) Some(idx(name)) else None
    val (mi, vi, di, ti) = (opt("multiplier"), opt("entry_value"), opt("delta"), opt("days_to_expiration"))
    def decimal(r: Row, i: Option[Int]) = i.flatMap(j => Option(r.getDecimal(j))).map(BigDecimal(_))
    def parse(r: Row) = ParsedLeg(
      r.getString(si), r.getString(ui), r.getString(ii), r.getDouble(qi),
      Option(r.getString(oi)),
      Option(r.getDecimal(ki)).map(BigDecimal(_)),
      Option(r.getDate(ei)).map(_.toLocalDate),
      delta = di.filterNot(r.isNullAt).map(r.getDouble),
      multiplier = decimal(r, mi).getOrElse(BigDecimal(1)),
      entryValue = decimal(r, vi),
      daysToExpiration = ti.filterNot(r.isNullAt).map(r.getInt)
    )
    Relational.perKeyRuns(legs, Seq(col("underlying")), Seq(col("symbol")))(_.getString(ui)) { (u, run) =>
      classifyGroup(u, run.map(parse).toList).iterator.flatMap(rows(u, _))
    }(Encoders.row(out))
  }
}
