package graft.signals

import java.time.{Instant, LocalTime, ZoneId}

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Relational
import graft.streaming.Streams

/** Hull MA + MACD confluence signal engine (reference
  * `analytics/engines/hull_macd.py:36-260`, SURVEY T5): a position-aware
  * per-symbol state machine — strict two-indicator confluence to OPEN,
  * single indicator flip to CLOSE, independent bullish/bearish
  * positions, ET session gates (no signals before `earliestEntry`;
  * CLOSEs any time after; no OPENs at/after `latestEntry`).
  *
  * The transition function is pure `(State, Candle) → (State, Signals)`
  * — unit-testable exactly like the reference engine. Batch
  * ([[detectSignals]]) and the streams drive it through ONE kernel,
  * [[graft.streaming.Streams.stepIndicatorFull]], which updates Hull and
  * MACD per candle (trailing-window WMA and prefix-fold EMA make per-row
  * values identical to the reference's recompute-per-candle over its
  * buffer, for series within the reference's 500-candle cap; the cap
  * itself is a memory bound, not a semantic choice — SURVEY §7.5.3).
  * [[graft.indicators.Indicators]] computes the same values as columns.
  */
object HullMacd {

  val ET: ZoneId = ZoneId.of("America/New_York")
  val Bullish = "BULLISH"
  val Bearish = "BEARISH"

  case class State(
      hullDir: Option[String] = None,
      macdPos: Option[String] = None,
      hullArmed: Option[String] = None,
      macdArmed: Option[String] = None,
      bullishOpen: Boolean = false,
      bearishOpen: Boolean = false
  )

  case class Candle(
      timeUs: Long,
      close: Double,
      hullColor: String,
      hullValue: Double,
      macdValue: Double,
      macdSignal: Double,
      macdHistogram: Double
  )

  case class Signal(
      timeUs: Long,
      signalType: String, // OPEN | CLOSE
      direction: String,  // BULLISH | BEARISH
      trigger: String,    // hull | macd | confluence
      hullDirection: String,
      hullValue: Double,
      macdValue: Double,
      macdSignal: Double,
      macdHistogram: Double,
      closePrice: Double
  )

  private def hullToSignalDir(d: String): String = if (d == "Up") Bullish else Bearish
  private def macdToSignalDir(p: String): String = if (p == "bullish") Bullish else Bearish

  /** One state transition (reference `on_candle_event`,
    * `hull_macd.py:93-133` + close/open handlers `:170-260`).
    */
  def step(
      state: State,
      c: Candle,
      earliestEntry: LocalTime = LocalTime.of(10, 0),
      latestEntry: LocalTime = LocalTime.of(15, 0)
  ): (State, List[Signal]) = {
    val hullDir = c.hullColor
    val macdPos = if (c.macdValue > c.macdSignal) "bullish" else "bearish"
    val hullChanged = state.hullDir.exists(_ != hullDir)
    val macdChanged = state.macdPos.exists(_ != macdPos)
    var s = state.copy(hullDir = Some(hullDir), macdPos = Some(macdPos))
    val candleEt = Instant.ofEpochMilli(c.timeUs / 1000).atZone(ET).toLocalTime

    if (candleEt.isBefore(earliestEntry)) return (s, Nil)

    var signals = List.empty[Signal]
    def emit(tpe: String, dir: String, trigger: String): Unit =
      signals :+= Signal(c.timeUs, tpe, dir, trigger, hullDir, c.hullValue, c.macdValue, c.macdSignal, c.macdHistogram, c.close)

    // CLOSEs always fire (must be able to exit)
    if (s.bullishOpen) {
      if (hullChanged && hullDir == "Down") { emit("CLOSE", Bullish, "hull"); s = s.copy(bullishOpen = false) }
      else if (macdChanged && macdPos == "bearish") { emit("CLOSE", Bullish, "macd"); s = s.copy(bullishOpen = false) }
    }
    if (s.bearishOpen) {
      if (hullChanged && hullDir == "Up") { emit("CLOSE", Bearish, "hull"); s = s.copy(bearishOpen = false) }
      else if (macdChanged && macdPos == "bullish") { emit("CLOSE", Bearish, "macd"); s = s.copy(bearishOpen = false) }
    }

    // No new OPENs during power hour
    if (!candleEt.isBefore(latestEntry)) return (s, signals)

    if (hullChanged) s = s.copy(hullArmed = Some(hullToSignalDir(hullDir)))
    if (macdChanged) s = s.copy(macdArmed = Some(macdToSignalDir(macdPos)))

    (s.hullArmed, s.macdArmed) match {
      case (Some(h), Some(m)) if h == m =>
        val alreadyOpen = (h == Bullish && s.bullishOpen) || (h == Bearish && s.bearishOpen)
        if (!alreadyOpen) {
          emit("OPEN", h, "confluence")
          s =
            if (h == Bullish) s.copy(bullishOpen = true, hullArmed = None, macdArmed = None)
            else s.copy(bearishOpen = true, hullArmed = None, macdArmed = None)
        }
      case (Some(_), Some(_)) =>
        // opposing armed directions — discard the older one
        s =
          if (hullChanged && !macdChanged) s.copy(macdArmed = None)
          else if (macdChanged && !hullChanged) s.copy(hullArmed = None)
          else s.copy(hullArmed = None, macdArmed = None)
      case _ => ()
    }
    (s, signals)
  }

  val signalSchema: StructType = StructType(Seq(
    StructField("symbol", StringType),
    StructField("time_us", LongType),
    StructField("signal_type", StringType),
    StructField("direction", StringType),
    StructField("engine", StringType),
    StructField("trigger", StringType),
    StructField("hull_direction", StringType),
    StructField("hull_value", DoubleType),
    StructField("macd_value", DoubleType),
    StructField("macd_signal", DoubleType),
    StructField("macd_histogram", DoubleType),
    StructField("close_price", DoubleType)
  ))

  /** Batch signal detection: `df` needs (symbolCol: string, timeUs: long,
    * closeCol: double). One pipeline: project to (symbol, time, close),
    * drop null closes, then [[Relational.perKeyRuns]] on symbol ordered by
    * time folds [[graft.streaming.Streams.stepIndicatorFull]] over each
    * symbol's run — Hull(20) and MACD(12,26,9) updated per
    * candle, padded and seeded with the symbol's first close (the
    * reference's `prior_close=None` fallback), and [[step]] applied from
    * the second candle on (reference requires ≥2 candles).
    *
    * Duplicates: unless `assumeDeduped`, a candle is skipped when the
    * next candle of its run has the same (symbol, time), so exactly one
    * candle per (symbol, time) is folded; WHICH of several rows sharing
    * (symbol, time) survives is arbitrary. A caller that needs a defined
    * pick dedups upstream with a real tie-break column and passes
    * `assumeDeduped = true`, its guarantee that (symbol, time) is
    * already unique.
    */
  def detectSignals(
      df: DataFrame,
      symbolCol: String,
      timeUsCol: String,
      closeCol: String,
      hullLength: Int = 20,
      fast: Int = 12,
      slow: Int = 26,
      signalLen: Int = 9,
      assumeDeduped: Boolean = false
  ): DataFrame = {
    import df.sparkSession.implicits._
    val candles = df
      .select(col(symbolCol).as("symbol"), col(timeUsCol).as("timeUs"), col(closeCol).as("close"))
      .filter(col("close").isNotNull)
      .as[Streams.CandleIn]
    Relational.perKeyRuns(candles, Seq(col("symbol")), Seq(col("timeUs")))(_.symbol) { (sym, run) =>
      val it = run.buffered
      var state = Streams.emptyIndicatorState
      it.flatMap { c =>
        if (!assumeDeduped && it.hasNext && it.head.timeUs == c.timeUs) Nil
        else {
          val (next, cd, sigs) = Streams.stepIndicatorFull(state, c, hullLength, fast, slow, signalLen)
          state = next
          sigs.map(sg =>
            Row(
              sym, cd.timeUs, sg.signal_type, sg.direction, "hull_macd", sg.trigger,
              cd.hullColor, cd.hullValue, cd.macdValue, cd.macdSignal, cd.macdHistogram, cd.close
            )
          )
        }
      }
    }(Encoders.row(signalSchema))
  }
}
