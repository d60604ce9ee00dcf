package graft

import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.indicators.Indicators
import graft.ops.Relational
import graft.signals.HullMacd
import graft.signals.HullMacd.{Candle, State}

/** Golden scenarios from the reference engine's test suite semantics
  * (FIXTURES.md A6; reference `unit_tests/analytics/test_hull_macd_engine.py`):
  * confluence OPEN, single-flip CLOSE, session gates, independent
  * bullish/bearish positions.
  */
class HullMacdSpec extends SparkSpec {

  /** Candle at a given ET wall-clock time (2026-02-10 was an ET-winter
    * date: ET = UTC-5).
    */
  private def candleAtEt(h: Int, m: Int, hullColor: String, macdBull: Boolean): Candle = {
    val utc = LocalDateTime.of(2026, 2, 10, h + 5, m).toInstant(ZoneOffset.UTC)
    Candle(
      timeUs = utc.toEpochMilli * 1000,
      close = 100.0,
      hullColor = hullColor,
      hullValue = 100.0,
      macdValue = if (macdBull) 1.0 else -1.0,
      macdSignal = 0.0,
      macdHistogram = if (macdBull) 1.0 else -1.0
    )
  }

  test("confluence after both indicators flip the same way -> OPEN") {
    var s = State()
    // warm up: both bearish
    s = HullMacd.step(s, candleAtEt(10, 0, "Down", macdBull = false))._1
    // hull flips up -> armed bullish, no open yet
    val (s2, sig2) = HullMacd.step(s, candleAtEt(10, 5, "Up", macdBull = false))
    assert(sig2.isEmpty && s2.hullArmed.contains("BULLISH"))
    // macd flips bullish -> confluence OPEN
    val (s3, sig3) = HullMacd.step(s2, candleAtEt(10, 10, "Up", macdBull = true))
    assert(sig3.map(x => (x.signalType, x.direction, x.trigger)) == List(("OPEN", "BULLISH", "confluence")))
    assert(s3.bullishOpen && s3.hullArmed.isEmpty && s3.macdArmed.isEmpty)
  }

  test("single hull flip closes an open bullish position") {
    var s = State(hullDir = Some("Up"), macdPos = Some("bullish"), bullishOpen = true)
    val (s2, sigs) = HullMacd.step(s, candleAtEt(12, 0, "Down", macdBull = true))
    assert(sigs.map(x => (x.signalType, x.direction, x.trigger)) == List(("CLOSE", "BULLISH", "hull")))
    assert(!s2.bullishOpen)
  }

  test("macd flip alone also closes (trigger=macd)") {
    val s = State(hullDir = Some("Up"), macdPos = Some("bullish"), bullishOpen = true)
    val (s2, sigs) = HullMacd.step(s, candleAtEt(12, 0, "Up", macdBull = false))
    assert(sigs.map(_.trigger) == List("macd"))
    assert(!s2.bullishOpen)
  }

  test("no signals before 10:00 ET, but directions still update") {
    val s = State(hullDir = Some("Up"), macdPos = Some("bullish"), bullishOpen = true)
    val (s2, sigs) = HullMacd.step(s, candleAtEt(9, 55, "Down", macdBull = false))
    assert(sigs.isEmpty)
    assert(s2.hullDir.contains("Down") && s2.macdPos.contains("bearish"))
    assert(s2.bullishOpen) // close NOT fired before the gate
  }

  test("no OPEN at/after 15:00 ET; CLOSE still fires") {
    val open = State(hullDir = Some("Down"), macdPos = Some("bearish"), bullishOpen = true)
    val (s2, sigs) = HullMacd.step(open, candleAtEt(15, 0, "Up", macdBull = true))
    // bullish pos closes? no: close requires Down/bearish flip for bullish.
    // bearish-style flip (Up/bullish) closes a BEARISH position; here the
    // bullish position stays open, and no OPEN can fire after 15:00.
    assert(sigs.isEmpty && s2.bullishOpen)
    val bearish = State(hullDir = Some("Down"), macdPos = Some("bearish"), bearishOpen = true)
    val (s3, sigs3) = HullMacd.step(bearish, candleAtEt(15, 0, "Up", macdBull = false))
    assert(sigs3.map(x => (x.signalType, x.direction)) == List(("CLOSE", "BEARISH")))
    assert(!s3.bearishOpen)
  }

  test("opposing armed directions: newer survives") {
    val s = State(hullDir = Some("Up"), macdPos = Some("bearish"), hullArmed = Some("BULLISH"))
    // macd flips bullish->bearish? already bearish; flip macd to bullish arms BULLISH -> confluence
    val (s2, sigs) = HullMacd.step(s, candleAtEt(11, 0, "Up", macdBull = true))
    assert(sigs.map(_.signalType) == List("OPEN"))
    // now: opposing case — hull armed BULLISH, macd flips to bearish (newer)
    val so = State(hullDir = Some("Up"), macdPos = Some("bullish"), hullArmed = Some("BULLISH"))
    val (s3, sigs3) = HullMacd.step(so, candleAtEt(11, 5, "Up", macdBull = false))
    assert(sigs3.isEmpty && s3.hullArmed.isEmpty && s3.macdArmed.contains("BEARISH"))
  }

  test("independent bullish and bearish positions can both be open") {
    val s = State(
      hullDir = Some("Up"),
      macdPos = Some("bullish"),
      bullishOpen = true,
      bearishOpen = true
    )
    // hull flips Down: closes bullish (hull) AND arms bearish... the
    // bearish position is open already, so no duplicate OPEN
    val (s2, sigs) = HullMacd.step(s, candleAtEt(11, 0, "Down", macdBull = true))
    assert(sigs.map(x => (x.signalType, x.direction)) == List(("CLOSE", "BULLISH")))
    assert(!s2.bullishOpen && s2.bearishOpen)
  }

  test("session gate follows ET across DST (same UTC hour, different gate)") {
    def candleAtUtc(month: Int, day: Int, hUtc: Int): Candle = {
      val utc = LocalDateTime.of(2026, month, day, hUtc, 0).toInstant(ZoneOffset.UTC)
      Candle(utc.toEpochMilli * 1000, 100.0, "Down", 100.0, -1.0, 0.0, -1.0)
    }
    // open bullish position; a Down/bearish flip would CLOSE if gate open
    val st = State(hullDir = Some("Up"), macdPos = Some("bullish"), bullishOpen = true)
    // 2026-01-09 is EST (UTC-5): 14:00 UTC = 09:00 ET -> gated, no signal
    val (_, winter) = HullMacd.step(st, candleAtUtc(1, 9, 14))
    assert(winter.isEmpty)
    // 2026-06-09 is EDT (UTC-4): 14:00 UTC = 10:00 ET -> gate open: the
    // bullish CLOSE fires, and (both indicators having flipped bearish
    // simultaneously) a bearish confluence OPEN follows in the same step
    // - reference behavior: closes run before opens on each candle
    val (_, summer) = HullMacd.step(st, candleAtUtc(6, 9, 14))
    assert(summer.map(s => (s.signalType, s.direction)) == List(("CLOSE", "BULLISH"), ("OPEN", "BEARISH")))
  }

  test("batch driver runs end-to-end on events and emits plausible signals") {
    import org.apache.spark.sql.functions._
    val ev = graft.io.Tables
      .events(spark, sf0001)
      .select(col("user_id").cast("string").as("symbol"), col("ts_us"), col("value"))
    val out = HullMacd.detectSignals(ev, "symbol", "ts_us", "value")
    val rows = out.collect()
    // every CLOSE must follow an OPEN of the same direction per symbol
    val bySym = rows.groupBy(_.getString(0))
    bySym.foreach { case (_, sigs) =>
      val sorted = sigs.sortBy(_.getLong(1))
      var open = Set.empty[String]
      sorted.foreach { r =>
        val (tpe, dir) = (r.getString(2), r.getString(3))
        if (tpe == "OPEN") { assert(!open.contains(dir)); open += dir }
        else { assert(open.contains(dir), s"CLOSE without OPEN: $r"); open -= dir }
      }
    }
    assert(rows.nonEmpty)
  }

  /** The column-form signal pipeline, kept here as an independent
    * reference for the kernel fold: keep-last dedup → Hull and MACD
    * columns → per-symbol fold of [[HullMacd.step]] over the sorted
    * indicator rows.
    */
  private def columnFormSignals(df: DataFrame, symbolCol: String, timeUsCol: String, closeCol: String): DataFrame = {
    val deduped = Relational.dedupKeepLast(df.filter(col(closeCol).isNotNull), Seq(symbolCol, timeUsCol), timeUsCol)
    val withHull = Indicators.withHull(deduped, symbolCol, Seq(timeUsCol), closeCol, 20, padCol = None)
    val withMacd = Indicators.withMacd(withHull, symbolCol, Seq(timeUsCol), closeCol, None, 12, 26, 9, prePartitioned = true)
    val Seq(symIdx, timeIdx, closeIdx, hmaIdx, colorIdx, mvIdx, msIdx, mhIdx) =
      Seq(symbolCol, timeUsCol, closeCol, "hma", "hma_color", "macd_value", "avg", "diff").map(withMacd.schema.fieldIndex)
    withMacd.sortWithinPartitions(col(symbolCol), col(timeUsCol)).mapPartitions { rows =>
      var curKey: String = null
      var state = State()
      var rowsInKey = 0
      rows.flatMap { r =>
        val k = r.getString(symIdx)
        if (rowsInKey == 0 || k != curKey) { curKey = k; state = State(); rowsInKey = 0 }
        rowsInKey += 1
        if (rowsInKey < 2) Nil
        else {
          val c = Candle(r.getLong(timeIdx), r.getDouble(closeIdx), r.getString(colorIdx),
            r.getDouble(hmaIdx), r.getDouble(mvIdx), r.getDouble(msIdx), r.getDouble(mhIdx))
          val (ns, sigs) = HullMacd.step(state, c)
          state = ns
          sigs.map(sg => Row(k, sg.timeUs, sg.signalType, sg.direction, "hull_macd", sg.trigger,
            sg.hullDirection, sg.hullValue, sg.macdValue, sg.macdSignal, sg.macdHistogram, sg.closePrice))
        }
      }
    }(Encoders.row(HullMacd.signalSchema))
  }

  /** Seeded 1-minute session bars (09:30–15:59 ET on 2026-02-10) for
    * eight symbols, in shuffled row order, with null closes and
    * exact-duplicate (symbol, time, close) rows.
    */
  private def seededBars(): DataFrame = {
    val rnd = new scala.util.Random(7)
    val open = LocalDateTime.of(2026, 2, 10, 14, 30).toInstant(ZoneOffset.UTC).toEpochMilli * 1000
    val rows = for {
      s <- 0 until 8
      px = Iterator.iterate(50.0 + 10 * s)(p => p + rnd.nextGaussian() * 0.3).take(390).toVector
      (p, i) <- px.zipWithIndex
      close = if (rnd.nextDouble() < 0.04) null else java.lang.Double.valueOf(p)
      copies = if (rnd.nextDouble() < 0.05) 2 else 1
      _ <- 0 until copies
    } yield Row(s"S$s", open + i * 60000000L, close)
    val schema = StructType(Seq(
      StructField("symbol", StringType), StructField("time_us", LongType), StructField("close", DoubleType)))
    spark.createDataFrame(java.util.Arrays.asList(rnd.shuffle(rows): _*), schema)
  }

  private def bitwise(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq
      .map(r => r.toSeq.map {
        case d: Double => java.lang.Double.doubleToRawLongBits(d)
        case x         => x
      })
      .sortBy(r => (r(0).asInstanceOf[String], r(1).asInstanceOf[Long], r(2).asInstanceOf[String], r(3).asInstanceOf[String]))

  test("kernel-fold detectSignals == column-form pipeline, all 12 columns bit-identical at widths 1, 4, 64") {
    val events = graft.io.Tables
      .events(spark, sf0001)
      .select(col("user_id").cast("string").as("symbol"), col("ts_us"), col("value"))
    val inputs = Seq(("events", events, "ts_us", "value"), ("seeded", seededBars(), "time_us", "close"))
    for (width <- Seq(1, 4, 64); (name, df, timeCol, closeCol) <- inputs)
      Sessions.withConf(spark, "spark.sql.shuffle.partitions" -> width.toString) {
        val kernel = HullMacd.detectSignals(df, "symbol", timeCol, closeCol)
        assert(kernel.schema == HullMacd.signalSchema)
        val got = bitwise(kernel)
        val want = bitwise(columnFormSignals(df, "symbol", timeCol, closeCol))
        assert(want.nonEmpty, s"$name produced no signals")
        assert(got == want, s"$name at width $width: first diff ${got.zip(want).find(p => p._1 != p._2)}, " +
          s"sizes ${got.size}/${want.size}")
      }
  }

  test("detectSignals with its dedup plans exactly one shuffle exchange and no Window operator") {
    val out = HullMacd.detectSignals(seededBars(), "symbol", "time_us", "close", assumeDeduped = false)
    assert(out.collect().nonEmpty)
    val plan = out.queryExecution.executedPlan
    val walk = new AdaptiveSparkPlanHelper {}
    val shuffles = walk.collect(plan) { case e: ShuffleExchangeLike => e }
    val windows = walk.collect(plan) { case w: WindowExecBase => w }
    assert(shuffles.size == 1 && windows.isEmpty, s"plan:\n$plan")
  }
}
