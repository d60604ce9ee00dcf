package perfbench

import java.io.{File, Writer}
import java.nio.file.Paths
import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.{LatestUpsert, WireDecoder}

/** One decoded market event as the latest-value table stores it. Quote:
  * p1/p2 = bid/ask price, s1/s2 = bid/ask size. Trade: p1 = price,
  * p2 = day turnover (sometimes missing), s1 = size, s2 = day volume.
  */
final case class Ev(
    symbol: String,
    etype: String,
    timeUs: Long,
    seq: Long,
    p1: Double,
    p2: java.lang.Double,
    s1: Double,
    s2: Double
) {
  def key: (String, String) = (symbol, etype)
  def wins(o: Ev): Boolean = timeUs > o.timeUs || (timeUs == o.timeUs && seq > o.seq)
  def tsv: String = Seq(symbol, etype, timeUs, seq, Tsv.d(p1), Tsv.d(p2), Tsv.d(s1), Tsv.d(s2)).mkString("\t")
}

object Ev {
  def parse(f: Array[String], at: Int): Ev =
    Ev(f(at), f(at + 1), f(at + 2).toLong, f(at + 3).toLong, f(at + 4).toDouble, Tsv.od(f(at + 5)),
      f(at + 6).toDouble, f(at + 7).toDouble)
  def toRow(e: Ev): Row = Row(e.symbol, e.etype, e.timeUs, e.seq, e.p1, e.p2, e.s1, e.s2)
  def fromRow(r: Row): Ev =
    Ev(r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4),
      if (r.isNullAt(5)) null else r.getDouble(5), r.getDouble(6), r.getDouble(7))
}

/** Seeded DXLink-style feed: Quote and Trade events over a Zipf-skewed
  * symbol universe, with re-delivered duplicates and late events. The
  * same seed gives the same events in the same batches.
  */
final class QuoteFeed(seed: Long) {
  import QuoteFeed._
  private val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 11)
  val symbols: Array[String] = {
    val names = Array.tabulate(Symbols)(i => f"S$i%04d")
    // which symbols are hot depends on the seed
    for (i <- names.indices.reverse) { val j = r.nextInt(i + 1); val t = names(i); names(i) = names(j); names(j) = t }
    names
  }
  private val zipf = new Zipf(Symbols, ZipfS)
  private val px = Array.fill(Symbols)(10.0 + r.nextDouble() * 490.0)
  private val vol = Array.fill(Symbols)(0L)
  private var clock = StartUs
  private var seq = 0L
  private val recent = ArrayBuffer[Ev]()

  private def cents(x: Double): Double = math.round(x * 100) / 100.0

  private def fresh(i: Int, etype: String, timeUs: Long): Ev = {
    seq += 1
    px(i) = math.max(1.0, px(i) * (1 + 0.001 * (r.nextDouble() - 0.5)))
    if (etype == "Quote") {
      val bid = cents(px(i))
      Ev(symbols(i), etype, timeUs, seq, bid, cents(bid + 0.01 * (1 + r.nextInt(5))),
        (1 + r.nextInt(50)) * 100.0, (1 + r.nextInt(50)) * 100.0)
    } else {
      val size = (1 + r.nextInt(20)) * 10.0
      vol(i) += size.toLong
      val turnover: java.lang.Double = if (r.nextDouble() < 0.2) null else cents(vol(i) * px(i))
      Ev(symbols(i), etype, timeUs, seq, cents(px(i)), turnover, size, vol(i).toDouble)
    }
  }

  /** Generation 0 of the table: one Quote and one Trade per symbol. */
  def seedEvents(): Seq[Ev] =
    symbols.indices.flatMap(i => Seq(fresh(i, "Quote", StartUs - 1000000L), fresh(i, "Trade", StartUs - 1000000L)))

  /** A micro-batch of `n` events: mostly fresh, `DupShare` re-delivered
    * copies of recent events, `LateShare` fresh events stamped up to a
    * minute in the past.
    */
  def batch(n: Int): Seq[Ev] = (0 until n).map { _ =>
    val u = r.nextDouble()
    if (u < DupShare && recent.nonEmpty) recent(r.nextInt(recent.size))
    else {
      clock += 1 + r.nextInt(2000)
      val t = if (u < DupShare + LateShare) clock - 1000000L * (1 + r.nextInt(60)) else clock
      val e = fresh(zipf.sample(r), if (r.nextDouble() < 0.7) "Quote" else "Trade", t)
      if (recent.size < 4096) recent += e else recent(r.nextInt(recent.size)) = e
      e
    }
  }
}

object QuoteFeed {
  val Symbols = 2000
  val ZipfS = 1.1
  val DupShare = 0.10
  val LateShare = 0.10
  val StartUs = 1710252000000000L // 2024-03-12 14:00 UTC
  val QuoteFields = Seq("eventSymbol", "eventTime", "sequence", "bidPrice", "askPrice", "bidSize", "askSize")
  val TradeFields = Seq("eventSymbol", "time", "sequence", "price", "dayTurnover", "size", "dayVolume")
  val FramesPerType = 25

  private def js(v: Any): String = v match {
    case null      => "null"
    case d: Double => "\"" + java.lang.Double.toString(d) + "\""
    case x         => "\"" + x.toString + "\""
  }

  /** FEED_DATA frames in the compact format: one JSON line per frame,
    * `{"eventType": T, "values": [k fields of event 1, k of event 2, ...]}`.
    */
  def writeFrames(events: Seq[Ev], w: Writer): Unit =
    events.groupBy(_.etype).toSeq.sortBy(_._1).foreach { case (t, evs) =>
      evs.grouped(FramesPerType).foreach { g =>
        val vals = g.flatMap(e => Seq[Any](e.symbol, e.timeUs, e.seq, e.p1, e.p2, e.s1, e.s2))
        w.write(s"""{"eventType": "$t", "values": [${vals.map(js).mkString(",")}]}""")
        w.write('\n')
      }
    }

  val schema: StructType = StructType.fromDDL(
    "symbol STRING, event_type STRING, time_us BIGINT, sequence BIGINT, p1 DOUBLE, p2 DOUBLE, s1 DOUBLE, s2 DOUBLE")
}

/** The live quote/trade path: the feed arrives as micro-batches of
  * FEED_DATA frames and lands in the latest-value table through
  * `LatestUpsert.start` (decode inside the stream, in-commit maintenance
  * on). After each commit a reader takes the change feed between the two
  * newest generations and reads a watchlist from the table.
  */
object LiveLatest {
  // The table layout of the engine's deployed streaming path
  // (`SparkEntry.t2StreamLatest`): 32 buckets, in-commit maintenance at
  // 4 files per bucket.
  val Buckets = 32
  val MaxFilesPerBucket = 4
  val SteadyEvents = 100
  val CatchUpEvents = 2000
  val Watchlist = 20

  private sealed trait Step { def events: Seq[Ev] }
  private final case class Steady(events: Seq[Ev]) extends Step
  private final case class CatchUp(events: Seq[Ev]) extends Step

  /** Round `n` of the feed, shaped by [[Live.shape]]. */
  private def round(feed: QuoteFeed, n: Int): Seq[Step] =
    Live.shape(n).map(c => if (c) CatchUp(feed.batch(CatchUpEvents)) else Steady(feed.batch(SteadyEvents)))

  /** Table init and stream start happen on construction. */
  final class Pipe(ctx: Ctx) extends Live.Pipe {
    private val spark = ctx.spark
    import spark.implicits._
    private val rec = ctx.rec
    private val root = new File(ctx.work, "table").getAbsolutePath
    private val src = ctx.dir("latest-source")
    private val stage = ctx.dir("latest-stage")
    private val out = ctx.dir("latest-out")
    private val feed = new QuoteFeed(ctx.seed)
    private val watch = feed.symbols.take(Watchlist).toSeq
    private val frameSchema = "eventType STRING, values ARRAY<STRING>"

    private def decoded(fr: org.apache.spark.sql.DataFrame) = {
      def norm(t: String, f: Seq[String]) = WireDecoder.decode(fr, t, f).select(
        col(f(0)).as("symbol"), lit(t).as("event_type"), col(f(1)).cast("long").as("time_us"),
        col(f(2)).cast("long").as("sequence"), col(f(3)).cast("double").as("p1"),
        col(f(4)).cast("double").as("p2"), col(f(5)).cast("double").as("s1"), col(f(6)).cast("double").as("s2"))
      norm("Quote", QuoteFeed.QuoteFields).unionByName(norm("Trade", QuoteFeed.TradeFields))
    }

    private val seedRows = ctx.gen(feed.seedEvents())
    LatestUpsert.init(spark, root, spark.createDataFrame(seedRows.map(Ev.toRow).asJava, QuoteFeed.schema),
      Seq("symbol", "event_type"), Seq("time_us", "sequence"), Buckets)
    private val q = LatestUpsert.start(
      decoded(spark.readStream.schema(frameSchema).option("maxFilesPerTrigger", 1).json(src.getAbsolutePath)),
      root, new File(ctx.work, "latest-checkpoint").getAbsolutePath, MaxFilesPerBucket)

    private var rounds = 0
    private var batchNo = 0
    private var lastBatch = -1L
    private val pending = mutable.Queue[Step]()
    private var last: (Step, org.apache.spark.sql.streaming.StreamingQueryProgress) = _
    private val cdcOut = Fs.writer(new File(out, "cdc.tsv"))
    private val watchOut = Fs.writer(new File(out, "watch.tsv"))

    def stageRound(): Unit = {
      val rs = round(feed, rounds)
      rs.zipWithIndex.foreach { case (s, i) =>
        Fs.publish(stage, f"b${batchNo + pending.size + i}%06d.json", QuoteFeed.writeFrames(s.events, _))
      }
      pending ++= rs
      rounds += 1
    }

    def op(): Long = {
      val s = pending.dequeue()
      val staged = new File(stage, f"b$batchNo%06d.json")
      if (rec.active) rec.span("io.wire_decode", batchNo) {
        decoded(spark.read.schema(frameSchema).json(staged.getAbsolutePath)).write.format("noop").mode("overwrite").save()
      }
      val p = Feed.one(q, staged, src, lastBatch)
      lastBatch = p.batchId
      last = (s, p)
      s.events.size
    }

    def read(): Double = {
      val r0 = System.nanoTime()
      val gens = LatestUpsert.generations(spark, root)
      val (ga, gb) = (gens(gens.size - 2), gens.last)
      val cdc = rec.span("io.cdc", batchNo) { LatestUpsert.changesBetween(spark, root, ga, gb).collect() }
      val wl = rec.span("io.point_read", batchNo) {
        LatestUpsert.read(spark, root).filter($"symbol".isin(watch: _*)).collect()
      }
      val ms = (System.nanoTime() - r0) / 1e6
      cdc.foreach { r => cdcOut.write(s"$batchNo\t${Ev.fromRow(r).tsv}\t${r.getString(8)}\n") }
      wl.foreach { r => watchOut.write(s"$batchNo\t${Ev.fromRow(r).tsv}\n") }
      val (s, p) = last
      if (rec.active && s.isInstanceOf[Steady]) {
        rec.sample("io.add_batch_ms", Feed.ms(p, "addBatch"))
        rec.sample("io.offsets_ms", Feed.offsetsMs(p))
        rec.sample("io.planning_ms", Feed.ms(p, "queryPlanning"))
        rec.sample("io.cdc_rows", cdc.length)
        val g = Paths.get(root, "data", f"g$gb%012d")
        val parquet = Fs.files(g).filter(_.toString.endsWith(".parquet"))
        rec.sample("io.files_per_commit", parquet.size)
        rec.sample("io.bytes_per_commit", parquet.map(java.nio.file.Files.size).sum)
        rec.sample("io.buckets_per_commit", Option(g.toFile.list()).map(_.count(_.startsWith("kb="))).getOrElse(0).toDouble)
        rec.sample("io.table_mb", Fs.mb(Paths.get(root)))
      }
      batchNo += 1
      ms
    }

    def finish(): (Seq[String], () => Seq[(String, Seq[String])]) = {
      q.stop()
      cdcOut.close()
      watchOut.close()
      val got = Got(
        Fs.lines(new File(out, "cdc.tsv")).map { l =>
          val f = l.split("\t", -1); (f(0).toInt, Ev.parse(f, 1), f(9))
        }.toSeq,
        Fs.lines(new File(out, "watch.tsv")).map { l =>
          val f = l.split("\t", -1); (f(0).toInt, Ev.parse(f, 1))
        }.toSeq,
        LatestUpsert.read(spark, root).collect().map(Ev.fromRow).toSeq,
        LatestUpsert.generations(spark, root).last)
      val (seed, n) = (ctx.seed, rounds)
      def bump(e: Ev) = e.copy(p1 = e.p1 + 0.01)
      (check(seed, n, got), () => Seq(
        "final table" -> check(seed, n, got.copy(table = Checks.corrupt(got.table)(bump))),
        "change feed" -> check(seed, n, got.copy(cdc = Checks.corrupt(got.cdc)(c => c.copy(_2 = bump(c._2))))),
        "watchlist reads" -> check(seed, n, got.copy(watch = Checks.corrupt(got.watch)(w => w.copy(_2 = bump(w._2))))),
        "committed generations" -> check(seed, n, got.copy(lastGen = got.lastGen + 1))))
    }
  }

  /** What the program produced, read back from disk after the run. */
  final case class Got(cdc: Seq[(Int, Ev, String)], watch: Seq[(Int, Ev)], table: Seq[Ev], lastGen: Long)

  /** Replays the feed through a plain keep-last fold and compares it
    * with what the program produced: the final table, the change feed
    * of every commit, every watchlist read and the generation count.
    */
  def check(seed: Long, rounds: Int, got: Got): Seq[String] = {
    val feed = new QuoteFeed(seed)
    val state = mutable.HashMap[(String, String), Ev]()
    feed.seedEvents().foreach(e => if (state.get(e.key).forall(e.wins)) state(e.key) = e)
    val watch = feed.symbols.take(Watchlist).toSet
    val expCdc = ArrayBuffer[(Int, Ev, String)]()
    val expWatch = ArrayBuffer[(Int, Ev)]()
    var b = 0
    (0 until rounds).foreach { i =>
      round(feed, i).foreach { s =>
        val before = s.events.map(_.key).distinct.map(k => k -> state.get(k)).toMap
        s.events.foreach(e => if (state.get(e.key).forall(e.wins)) state(e.key) = e)
        before.foreach { case (k, old) =>
          if (!old.contains(state(k))) expCdc += ((b, state(k), if (old.isEmpty) "added" else "updated"))
        }
        state.valuesIterator.filter(e => watch(e.symbol)).foreach(e => expWatch += ((b, e)))
        b += 1
      }
    }
    Checks.sameSet("final table", state.values.toSeq, got.table) ++
      Checks.sameSet("change feed", expCdc.toSeq, got.cdc) ++
      Checks.sameSet("watchlist reads", expWatch.toSeq, got.watch) ++
      Checks.equal("committed generations", b.toLong, got.lastGen)
  }
}
