package perfbench

import java.io.{File, Writer}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Dataset

import graft.streaming.Streams
import graft.streaming.Streams.{CandleIn, IndicatorOut, SignalOut}

/** Seeded one-minute candles for a fixed symbol universe: a random walk
  * whose drift flips now and then, so the Hull and MACD indicators turn
  * and the signal engine fires. Minute `m` is `StartUs + m` minutes; the
  * same seed gives the same closes.
  */
final class CandleFeed(seed: Long, val symbols: Int) {
  private val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 23)
  val names: Array[String] = Array.tabulate(symbols)(i => f"C$i%04d")
  private val px = Array.fill(symbols)(20.0 + r.nextDouble() * 300.0)
  private val drift = Array.fill(symbols)(0.0)
  private var next = 0

  /** Closes of every symbol for the next minute. */
  def minute(): (Long, Array[Double]) = {
    val t = CandleFeed.HistoryStartUs + next * 60000000L
    next += 1
    val closes = Array.tabulate(symbols) { i =>
      if (r.nextDouble() < 0.05) drift(i) = (r.nextDouble() - 0.5) * 0.004
      px(i) = math.max(1.0, px(i) * (1 + drift(i) + 0.002 * (r.nextDouble() - 0.5)))
      px(i)
    }
    (t, closes)
  }
}

object CandleFeed {
  // Live candles start at 09:58 ET, so the warm-up round's two minutes
  // fall before the signal engine's 10:00 ET entry gate.
  val HistoryMinutes = 58
  val HistoryStartUs = 1710248400000000L // 2024-03-12 09:00 ET (13:00 UTC)

  def write(minutes: Seq[(Long, Array[Double])], names: Array[String], w: Writer): Unit =
    minutes.foreach { case (t, cs) =>
      cs.indices.foreach { i =>
        w.write(s"""{"symbol": "${names(i)}", "timeUs": $t, "close": ${java.lang.Double.toString(cs(i))}}""")
        w.write('\n')
      }
    }
}

/** The live candle path: one-minute candles for a thousand symbols go,
  * one candle per symbol per micro-batch, first to the indicator stream
  * and then to the signal engine, each a `flatMapGroupsWithState` query
  * with its own file source and both warm-started by
  * `seedIndicatorState` from 58 minutes of history. Catch-up batches of five
  * minutes stand for a reconnect. After each batch a reader takes the
  * watchlist's rows from the newest emitted indicator batch.
  */
object LiveSignals {
  val Symbols = 1000
  val CatchUpMinutes = 5
  val Tolerance = 1e-9
  val Watchlist = 20
  private val candleSchema = "symbol STRING, timeUs BIGINT, close DOUBLE"

  /** Round `n`, shaped by [[Live.shape]]; each element is the minutes
    * one micro-batch carries.
    */
  private def round(feed: CandleFeed, n: Int): Seq[Seq[(Long, Array[Double])]] =
    Live.shape(n).map(c => if (c) Seq.fill(CatchUpMinutes)(feed.minute()) else Seq(feed.minute()))

  /** State seeding and stream start happen on construction. */
  final class Pipe(ctx: Ctx) extends Live.Pipe {
    private val spark = ctx.spark
    import spark.implicits._
    private val rec = ctx.rec
    private val feed = new CandleFeed(ctx.seed, Symbols)
    private val hist = ctx.dir("signals-history")
    private val (srcI, srcS, stage, out) =
      (ctx.dir("signals-source-ind"), ctx.dir("signals-source-sig"), ctx.dir("signals-stage"), ctx.dir("signals-out"))
    private val ckptI = new File(ctx.work, "signals-checkpoint-ind")
    private val ckptS = new File(ctx.work, "signals-checkpoint-sig")
    private val watch = feed.names.take(Watchlist).toSet
    ctx.gen(Fs.publish(hist, "history.json",
      CandleFeed.write(Seq.fill(CandleFeed.HistoryMinutes)(feed.minute()), feed.names, _)))

    private val seed = Streams.seedIndicatorState(spark.read.schema(candleSchema).json(hist.getAbsolutePath).as[CandleIn])
    private def source(d: File): Dataset[CandleIn] =
      spark.readStream.schema(candleSchema).option("maxFilesPerTrigger", 1).json(d.getAbsolutePath).as[CandleIn]
    private val indOut = Fs.writer(new File(out, "indicators.tsv"))
    private val sigOut = Fs.writer(new File(out, "signals.tsv"))
    @volatile private var emitted = 0L
    @volatile private var newest: Array[IndicatorOut] = Array.empty
    private val qI = Streams.indicatorSeriesStream(source(srcI), Some(seed)).writeStream
      .outputMode("append").option("checkpointLocation", ckptI.getAbsolutePath)
      .foreachBatch { (b: Dataset[IndicatorOut], _: Long) =>
        val rows = b.collect()
        rows.foreach(o => indOut.write(s"${o.symbol}\t${o.time_us}\t${o.hma}\t${o.hma_color}\t${o.macd_value}\t${o.avg}\t${o.diff}\n"))
        newest = rows
        emitted += rows.length
        ()
      }.start()
    private val qS = Streams.detectSignalsStream(source(srcS), initialState = Some(seed)).writeStream
      .outputMode("append").option("checkpointLocation", ckptS.getAbsolutePath)
      .foreachBatch { (b: Dataset[SignalOut], _: Long) =>
        val rows = b.collect()
        rows.foreach(s => sigOut.write(s"${s.symbol}\t${s.time_us}\t${s.signal_type}\t${s.direction}\t${s.trigger}\t${s.close_price}\n"))
        emitted += rows.length
        ()
      }.start()

    private var rounds = 0
    private var batchNo = 0
    private var (lastI, lastS) = (-1L, -1L)
    private val pending = mutable.Queue[Seq[(Long, Array[Double])]]()
    private var last: (Seq[(Long, Array[Double])], Seq[org.apache.spark.sql.streaming.StreamingQueryProgress], Long) = _
    /** Trigger time of the first micro-batch of both queries, which folds the seeded history into state. */
    var seedMs = 0.0

    def stageRound(): Unit = {
      val bs = round(feed, rounds)
      bs.zipWithIndex.foreach { case (mins, i) =>
        Seq("i", "s").foreach(k =>
          Fs.publish(stage, f"$k${batchNo + pending.size + i}%06d.json", CandleFeed.write(mins, feed.names, _)))
      }
      pending ++= bs
      rounds += 1
    }

    def op(): Long = {
      val mins = pending.dequeue()
      val before = emitted
      val pI = Feed.one(qI, new File(stage, f"i$batchNo%06d.json"), srcI, lastI)
      val pS = Feed.one(qS, new File(stage, f"s$batchNo%06d.json"), srcS, lastS)
      if (batchNo == 0) seedMs = Feed.ms(pI, "triggerExecution") + Feed.ms(pS, "triggerExecution")
      lastI = pI.batchId
      lastS = pS.batchId
      last = (mins, Seq(pI, pS), emitted - before)
      mins.size.toLong * Symbols
    }

    /** The watchlist's rows of the newest indicator batch. This step is
      * the benchmark's own Spark job, not a program call, so it adds
      * nothing to `read_ms`.
      */
    def read(): Double = {
      val (mins, ps, rowsOut) = last
      val w = watch // a local, so the filter closure does not capture the pipe
      val seen = rec.span("streaming.watch_read", batchNo) {
        spark.createDataset(newest.toSeq).filter(o => w(o.symbol)).collect()
      }
      require(seen.length == Watchlist * mins.size, s"watchlist read saw ${seen.length} rows")
      if (rec.active && mins.size == 1) {
        Feed.sampleStreaming(rec, ps, rowsOut.toDouble)
        rec.sample("streaming.checkpoint_mb", Fs.mb(ckptI.toPath) + Fs.mb(ckptS.toPath))
      }
      batchNo += 1
      0.0
    }

    def finish(): (Seq[String], () => Seq[(String, Seq[String])]) = {
      qI.stop()
      qS.stop()
      indOut.close()
      sigOut.close()
      val got = Got(
        Fs.lines(new File(out, "indicators.tsv")).map { l =>
          val f = l.split("\t", -1)
          IndicatorOut(f(0), f(1).toLong, f(2).toDouble, f(3), f(4).toDouble, f(5).toDouble, f(6).toDouble)
        }.toSeq,
        Fs.lines(new File(out, "signals.tsv")).map { l =>
          val f = l.split("\t", -1)
          SignalOut(f(0), f(1).toLong, f(2), f(3), f(4), f(5).toDouble)
        }.toSeq)
      val (seed, n) = (ctx.seed, rounds)
      (check(seed, n, got), () => Seq(
        "indicator rows" -> check(seed, n, got.copy(ind = got.ind.tail)),
        "indicator values" -> check(seed, n, got.copy(ind = Checks.corrupt(got.ind)(o => o.copy(macd_value = o.macd_value * 1.001 + 1e-3)))),
        "signal order" -> check(seed, n, got.copy(sig = Checks.corrupt(got.sig)(s =>
          s.copy(signal_type = if (s.signal_type == "OPEN") "CLOSE" else "OPEN")))),
        "entry window" -> check(seed, n, got.copy(sig = Checks.corruptFirst(got.sig)(_.signal_type == "OPEN")(s =>
          s.copy(time_us = s.time_us - 60 * 60000000L)))),
        "signals fired" -> check(seed, n, got.copy(sig = Nil))))
    }
  }

  /** What the program produced, read back from disk after the run. */
  final case class Got(ind: Seq[IndicatorOut], sig: Seq[SignalOut])

  /** Recomputes every indicator value with a plain fold over each
    * symbol's closes (history and live, in time order) and checks the
    * signal sequence's properties.
    */
  def check(seed: Long, rounds: Int, got: Got): Seq[String] = {
    val feed = new CandleFeed(seed, Symbols)
    val minutes = ArrayBuffer[(Long, Array[Double])]()
    (0 until CandleFeed.HistoryMinutes).foreach(_ => minutes += feed.minute())
    (0 until rounds).foreach(i => round(feed, i).foreach(minutes ++= _))
    val times = minutes.map(_._1).toArray
    val expected = mutable.HashMap[(String, Long), Array[Double]]()
    (0 until Symbols).foreach { i =>
      val closes = minutes.map(_._2(i)).toArray
      val ind = Reference.hullMacd(closes)
      (CandleFeed.HistoryMinutes until closes.length).foreach { t =>
        expected((feed.names(i), times(t))) = ind(t)
      }
    }
    val gotKeys = got.ind.map(o => (o.symbol, o.time_us))
    val values = got.ind.flatMap { o =>
      expected.get((o.symbol, o.time_us)).toSeq.flatMap { e =>
        val v = Array(o.hma, o.macd_value, o.avg, o.diff)
        if (v.indices.forall(k => Checks.close(e(k), v(k), Tolerance))) Nil
        else Seq(s"${o.symbol}@${o.time_us}: got ${v.mkString(",")} expected ${e.take(4).mkString(",")}")
      }
    }
    val sigs = got.sig.map(s => (s.symbol, s.time_us, s.signal_type, s.direction))
    Checks.sameSet("indicator rows", expected.keys.toSeq, gotKeys) ++
      Checks.holds("indicator values", values) ++
      Checks.signalOrder(sigs) ++
      Checks.entryWindow(sigs) ++
      (if (got.sig.nonEmpty) Nil else Seq("signals fired: no signal fired"))
  }
}

