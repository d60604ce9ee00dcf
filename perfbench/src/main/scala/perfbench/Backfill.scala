package perfbench

import java.io.File
import java.math.{BigDecimal => JBig}
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.accounts.Lifo
import graft.backtest.Backtest
import graft.indicators.Indicators
import graft.metrics.Metrics
import graft.ops.Relational
import graft.signals.HullMacd

/** One minute bar. */
final case class Bar(symbol: String, timeUs: Long, close: Double)

/** One fill; money on the 6-dp grid. */
final case class Fill(
    symbol: String,
    atUs: Long,
    action: String,
    price: JBig,
    value: JBig,
    effect: String,
    net: JBig,
    qty: Int
) {
  def isOpen: Boolean = action.endsWith("to Open")
}

/** An open position at the end of a day. */
final case class Position(symbol: String, underlying: String, option: Boolean, qty: Int, long: Boolean) {
  def streamer: String = if (option) s".$symbol" else symbol
}

/** One trading day of inputs: minute bars with gaps for a set of
  * equities, and a fill log over those equities and one option on each,
  * skewed across symbols. Each day is drawn from its own seeded stream,
  * so day `d` is the same whatever ran before it.
  */
final class Day(seed: Long, val index: Int) {
  import Day._
  private val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1000003L * (index + 1))
  val date: LocalDate = {
    var d = FirstDay
    var n = 0
    while (n < index || d.getDayOfWeek.getValue > 5) {
      if (d.getDayOfWeek.getValue <= 5) n += 1
      d = d.plusDays(1)
    }
    d
  }
  // 09:30 ET on an EST date is 14:30 UTC
  val openUs: Long = date.toEpochDay * 86400000000L + (14L * 60 + 30) * 60000000L

  val bars: Seq[Bar] = (0 until Equities).flatMap { i =>
    var px = 50.0 + 10 * i + r.nextDouble()
    var drift = 0.0
    val gapAt = r.nextInt(Minutes)
    val gapLen = 5 + r.nextInt(25)
    (0 until Minutes).flatMap { m =>
      if (r.nextDouble() < 0.05) drift = (r.nextDouble() - 0.5) * 0.003
      px = math.max(1.0, px * (1 + drift + 0.002 * (r.nextDouble() - 0.5)))
      val missing = (m > 0 && m < Minutes - 1) && (r.nextDouble() < GapShare || (m >= gapAt && m < gapAt + gapLen))
      if (missing) None else Some(Bar(equity(i), openUs + m * 60000000L, math.round(px * 100) / 100.0))
    }
  }

  private def lastClose(sym: String): Double = bars.filter(_.symbol == sym).maxBy(_.timeUs).close

  /** Fills for equities and one call on each; symbol choice is Zipf-skewed. */
  val fills: Seq[Fill] = {
    val zipf = new Zipf(2 * Equities, FillSkew)
    val syms = (0 until Equities).flatMap(i => Seq(equity(i), option(i)))
    val picks = Seq.fill(FillsPerDay)(syms(zipf.sample(r))).groupBy(identity).view.mapValues(_.size).toMap
    syms.filter(picks.contains).flatMap { s =>
      val opt = s.contains(" ")
      val long = r.nextBoolean()
      val mult = if (opt) 100 else 1
      var pos = 0
      val times = Seq.fill(picks(s))(openUs + r.nextInt(Minutes * 60) * 1000000L + r.nextInt(1000000)).distinct.sorted
      times.map { t =>
        val open = pos == 0 || r.nextDouble() < 0.6
        val q = if (open) 1 + r.nextInt(10) else 1 + r.nextInt(pos)
        pos += (if (open) q else -q)
        val buy = open == long
        val action = (if (buy) "Buy" else "Sell") + (if (open) " to Open" else " to Close")
        val price = JBig.valueOf(if (opt) 100 + r.nextInt(900) else 5000 + r.nextInt(10000), 2)
        val value = price.multiply(JBig.valueOf(q.toLong * mult))
        val fee = JBig.valueOf(q.toLong + (if (opt) 10 else 0), 2)
        Fill(s, t, action, price.setScale(6), value.setScale(6), if (buy) "Debit" else "Credit",
          (if (buy) value.add(fee) else value.subtract(fee)).setScale(6), q)
      }
    }
  }

  val positions: Seq[Position] = fills.groupBy(_.symbol).toSeq.sortBy(_._1).flatMap { case (s, fs) =>
    val qty = fs.map(f => if (f.isOpen) f.qty else -f.qty).sum
    if (qty == 0) None
    else Some(Position(s, s.take(3), s.contains(" "), qty, fs.head.action.startsWith("Buy")))
  }

  /** (streamer symbol, delta, gamma, theta, vega) for the options held. */
  val greeks: Seq[(String, Double, Double, Double, Double)] = positions.filter(_.option).map { p =>
    (p.streamer, 0.1 + 0.8 * r.nextDouble(), 0.01 * r.nextDouble(), -0.05 * r.nextDouble(), 0.1 * r.nextDouble())
  }

  def quotes: Seq[(String, Double, Double)] = positions.map { p =>
    val mid = if (p.option) 5.0 else lastClose(p.symbol)
    (p.streamer, mid - 0.01, mid + 0.01)
  }

  def rows: Int = bars.size + fills.size
}

object Day {
  val Equities = 16
  val Minutes = 390
  val GapShare = 0.08
  val FillsPerDay = 400
  val FillSkew = 1.2
  val FirstDay: LocalDate = LocalDate.of(2024, 1, 2)
  def equity(i: Int): String = f"E$i%02d"
  def option(i: Int): String = f"E$i%02d   240419C00100000"
}

/** `backfill`: a history of minute bars with gaps and a fill log, one
  * trading day per operation. Each day runs `forwardFillGrid`, then
  * `Backtest.run` over the filled grid (as-of priced from the observed
  * bars), then `Lifo.entryCredits` and `Metrics.positionMetrics`; a
  * reader then summarises net delta per underlying (`Metrics.summary`).
  * In a traced run each layer's call is materialized on its own.
  */
object Backfill {
  val TimedDays = 6
  val WarmupDays = 2

  private val barSchema = StructType.fromDDL("symbol STRING, time_us BIGINT, close DOUBLE")
  private val fillSchema = StructType.fromDDL(
    "symbol STRING, executed_at_us BIGINT, action STRING, price DECIMAL(18,6), value DECIMAL(18,6), " +
      "value_effect STRING, net_value DECIMAL(18,6), quantity INT")

  private def writeDay(dir: File, d: Day): Unit = {
    d.bars.groupBy(b => math.abs(b.symbol.hashCode) % 4).foreach { case (part, bs) =>
      Fs.publish(dir, s"bars-$part.json", w => bs.foreach { b =>
        w.write(s"""{"symbol": "${b.symbol}", "time_us": ${b.timeUs}, "close": ${b.close}}""" + "\n")
      })
    }
    val fd = new File(dir.getParentFile, dir.getName + "-fills")
    fd.mkdirs()
    Fs.publish(fd, "fills.json", w => d.fills.foreach { f =>
      w.write(s"""{"symbol": "${f.symbol}", "executed_at_us": ${f.atUs}, "action": "${f.action}", """ +
        s""""price": ${f.price.toPlainString}, "value": ${f.value.toPlainString}, "value_effect": "${f.effect}", """ +
        s""""net_value": ${f.net.toPlainString}, "quantity": ${f.qty}}""" + "\n")
    })
  }

  private def frames(spark: SparkSession, d: Day) = {
    import spark.implicits._
    val pos = d.positions.map(p => (p.symbol, p.streamer, p.underlying,
      if (p.option) "Equity Option" else "Equity", p.qty.abs, if (p.long) "Long" else "Short",
      if (p.option) 100 else 1, p.qty.abs))
      .toDF("symbol", "streamer_symbol", "underlying_symbol", "instrument_type", "quantity",
        "quantity_direction", "multiplier", "current_qty")
    val quotes = d.quotes.toDF("streamer_symbol", "bid_price", "ask_price")
    val greeks = d.greeks.toDF("streamer_symbol", "delta", "gamma", "theta", "vega")
    val inst = d.positions.filter(_.option).map(p => (p.symbol, "C", "100.000", "2024-04-19"))
      .toDF("symbol", "option_type", "strike", "expiry")
      .select($"symbol", $"option_type", $"strike".cast("decimal(12,3)").as("strike_price"),
        to_date($"expiry").as("expiration_date"), datediff(to_date($"expiry"), lit(d.date.toString)).as("days_to_expiration"))
    (pos, quotes, greeks, inst)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val rec = ctx.rec
    val in = ctx.dir("days")
    val out = ctx.dir("out")
    val (gapOut, sigOut, creditOut, deltaOut) = (Fs.writer(new File(out, "gaps.tsv")),
      Fs.writer(new File(out, "signals.tsv")), Fs.writer(new File(out, "credits.tsv")),
      Fs.writer(new File(out, "delta.tsv")))
    val opMs, readMs = ArrayBuffer[Double]()
    var rows = 0L
    var day = 0

    def oneDay(timed: Boolean): Unit = {
      val d = ctx.gen {
        val d = new Day(ctx.seed, day)
        writeDay(new File(in, f"d$day%04d"), d)
        d
      }
      val (pos, quotes, greeks, inst) = frames(spark, d)
      rec.beginOp()
      val t0 = System.nanoTime()
      val bars = spark.read.schema(barSchema).json(new File(in, f"d$day%04d").getAbsolutePath)
      val gaps = rec.span("ops.forward_fill", day) {
        Relational.forwardFillGrid(bars, "symbol", "time_us", 60000000L, Seq("close")).collect()
      }
      val grid = bars.unionByName(spark.createDataFrame(gaps.toSeq.asJava, barSchema))
      val signals =
        if (!rec.active) Backtest.run(grid, bars).collect()
        else {
          rec.span("indicators.hull_macd", day) {
            Indicators.withMacd(Indicators.withHull(grid, "symbol", Seq("time_us"), "close", 20, None),
              "symbol", Seq("time_us"), "close", None, 12, 26, 9, prePartitioned = true)
              .write.format("noop").mode("overwrite").save()
          }
          val raw = rec.span("signals.detect", day) {
            HullMacd.detectSignals(grid, "symbol", "time_us", "close").collect()
          }
          rec.span("backtest.enrich", day) {
            Backtest.enrichSignals(spark.createDataFrame(raw.toSeq.asJava, HullMacd.signalSchema), bars).collect()
          }
        }
      val fills = spark.read.schema(fillSchema).json(new File(in, f"d$day%04d-fills").getAbsolutePath)
      val credits = rec.span("accounts.lifo", day) { Lifo.entryCredits(fills, pos).collect() }
      val metrics = Metrics.positionMetrics(pos, quotes, greeks, inst,
        spark.createDataFrame(credits.toSeq.asJava, Lifo.outputSchema))
      val mrows = rec.span("metrics.position_metrics", day) { metrics.collect() }
      val ms = (System.nanoTime() - t0) / 1e6
      rec.endOp()
      val r0 = System.nanoTime()
      val summary = Metrics.summary(metrics).collect()
      val rMs = (System.nanoTime() - r0) / 1e6

      gaps.foreach(g => gapOut.write(s"$day\t${g.getString(0)}\t${g.getLong(1)}\t${g.getDouble(2)}\n"))
      signals.foreach { s =>
        sigOut.write(s"$day\t${s.getAs[String]("symbol")}\t${s.getAs[Long]("time_us")}\t${s.getAs[Double]("entry_price")}\t" +
          s"${s.getAs[String]("signal_type")}\t${s.getAs[String]("direction")}\n")
      }
      credits.foreach { c =>
        creditOut.write(s"$day\t${c.getString(0)}\t${c.getDecimal(1).toPlainString}\t${c.getDecimal(2).toPlainString}\t" +
          s"${Option(c.getDecimal(3)).map(_.toPlainString).getOrElse("\\N")}\t${c.getInt(4)}\n")
      }
      val net = mrows.map(m => m.getAs[Double]("delta") * m.getAs[Int]("signed_quantity")).sum
      deltaOut.write(s"$day\t$net\t${summary.map(_.getAs[Double]("net_delta")).sum}\n")
      if (timed) {
        opMs += ms
        readMs += rMs
        rows += d.rows
      }
      day += 1
    }

    val tWarm = System.nanoTime()
    (0 until WarmupDays).foreach(_ => oneDay(timed = false))
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val setupS = ctx.setupSecondsUntilNow()
    rec.timed = true
    (0 until TimedDays).foreach(_ => oneDay(timed = true))
    val heapMb = Main.retainedHeapMb()
    Seq(gapOut, sigOut, creditOut, deltaOut).foreach(_.close())

    val got = Got(
      Fs.lines(new File(out, "gaps.tsv")).map(_.split("\t")).map(f => (f(0).toInt, Bar(f(1), f(2).toLong, f(3).toDouble))).toSeq,
      Fs.lines(new File(out, "signals.tsv")).map(_.split("\t")).map(f =>
        Sig(f(0).toInt, f(1), f(2).toLong, f(3).toDouble, f(4), f(5))).toSeq,
      Fs.lines(new File(out, "credits.tsv")).map(_.split("\t")).map(f =>
        (f(0).toInt, f(1), new JBig(f(2)), new JBig(f(3)), if (f(4) == "\\N") None else Some(new JBig(f(4))), f(5).toInt)).toSeq,
      Fs.lines(new File(out, "delta.tsv")).map(_.split("\t")).map(f => (f(0).toInt, f(1).toDouble, f(2).toDouble)).toSeq)
    Main.log("timed operation latencies (ms)", opMs.toSeq)
    Main.log("downstream read latencies (ms)", readMs.toSeq)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("op_ms_p50", Stats.median(opMs), "ms"),
      ("rows_per_s", rows / (opMs.sum / 1000.0), "rows/s"),
      ("read_ms_p50", Stats.median(readMs), "ms"),
      ("retained_heap_mb", heapMb, "MB"))
    Outcome(day, 0, check(ctx.seed, day, got), e2e,
      Main.layerMetrics(rec, Seq("setup.init_s" -> 0.0, "setup.warmup_s" -> warmS), opMs.toSeq),
      () => Seq(
        "forward-fill grid" -> check(ctx.seed, day, got.copy(gaps = Checks.corrupt(got.gaps)(g => g.copy(_2 = g._2.copy(close = g._2.close + 1))))),
        "lifo credits" -> check(ctx.seed, day, got.copy(credits = Checks.corrupt(got.credits)(c => c.copy(_6 = c._6 + 1)))),
        "entry prices" -> check(ctx.seed, day, got.copy(signals = Checks.corrupt(got.signals)(s => s.copy(price = s.price + 0.01)))),
        "signal order" -> check(ctx.seed, day, got.copy(signals = Checks.corrupt(got.signals)(s =>
          s.copy(kind = if (s.kind == "OPEN") "CLOSE" else "OPEN")))),
        "entry window" -> check(ctx.seed, day, got.copy(signals = Checks.corruptFirst(got.signals)(_.kind == "OPEN")(s =>
          s.copy(timeUs = new Day(ctx.seed, s.day).openUs + 330 * 60000000L)))),
        "net delta" -> check(ctx.seed, day, got.copy(delta = Checks.corrupt(got.delta)(x => x.copy(_2 = x._2 + 1))))))
  }

  /** One enriched signal of day `day`. */
  final case class Sig(day: Int, symbol: String, timeUs: Long, price: Double, kind: String, direction: String)

  final case class Got(
      gaps: Seq[(Int, Bar)],
      signals: Seq[Sig],
      credits: Seq[(Int, String, JBig, JBig, Option[JBig], Int)],
      delta: Seq[(Int, Double, Double)])

  /** Recomputes each day apart from the program and compares. */
  def check(seed: Long, days: Int, got: Got): Seq[String] = {
    val gapsByDay = got.gaps.groupBy(_._1)
    val sigByDay = got.signals.groupBy(_.day)
    val credByDay = got.credits.groupBy(_._1)
    val deltaByDay = got.delta.groupBy(_._1)
    val grid, credits, prices, delta = ArrayBuffer[String]()
    (0 until days).foreach { i =>
      val d = new Day(seed, i)
      val barsBy = d.bars.groupBy(_.symbol).view.mapValues(_.sortBy(_.timeUs)).toMap
      // grid: observed ∪ filled = every minute from first to last bar, once,
      // each fill carrying the last observation before it
      val gaps = gapsByDay.getOrElse(i, Nil).map(_._2)
      barsBy.foreach { case (s, bs) =>
        val obs = bs.map(_.timeUs).toSet
        val filled = gaps.filter(_.symbol == s)
        val all = (obs.toSeq ++ filled.map(_.timeUs)).sorted
        val want = (bs.head.timeUs to bs.last.timeUs by 60000000L)
        if (all != want) grid += s"day $i $s: ${all.size} grid rows, expected ${want.size}"
        filled.foreach { g =>
          val prior = bs.takeWhile(_.timeUs < g.timeUs).lastOption.map(_.close)
          if (!prior.contains(g.close)) grid += s"day $i $s@${g.timeUs}: filled ${g.close}, last observed $prior"
        }
      }
      if (gaps.exists(g => !barsBy.contains(g.symbol))) grid += s"day $i: fill rows for unknown symbols"
      // LIFO replay
      val want = d.positions.flatMap(p => Reference.lifo(d.fills.filter(_.symbol == p.symbol), p.qty.abs)
        .map { case (c, f, w, n) => (p.symbol, c, f, w, n) })
      val have = credByDay.getOrElse(i, Nil).map(c => (c._2, c._3, c._4, c._5, c._6))
      credits ++= Checks.sameSet(s"day $i", want.map(norm), have.map(norm))
      // as-of entry prices against the observed bars
      sigByDay.getOrElse(i, Nil).foreach { case Sig(_, s, t, px, _, _) =>
        val asOf = barsBy.get(s).flatMap(_.takeWhile(_.timeUs <= t).lastOption).map(_.close)
        if (!asOf.contains(px)) prices += s"day $i $s@$t: entry $px, as-of close $asOf"
      }
      // net delta: equities ±1 per share, options their delta, by side
      val g = d.greeks.map(x => x._1 -> x._2).toMap
      val net = d.positions.map { p =>
        val sq = if (p.long) p.qty.abs else -p.qty.abs
        (if (p.option) g(p.streamer) else if (p.long) 1.0 else -1.0) * sq
      }.sum
      deltaByDay.getOrElse(i, Nil) match {
        case Seq((_, v, summed)) =>
          if (!Checks.close(net, v, 1e-9)) delta += s"day $i: net delta $v, computed apart $net"
          if (!Checks.close(net, summed, 1e-3)) delta += s"day $i: summary net delta $summed, computed apart $net"
        case other => delta += s"day $i: ${other.size} net delta records"
      }
    }
    // each day's signal fold starts afresh, so the signal rules hold per day
    val sigs = got.signals.map(s => (s"day ${s.day} ${s.symbol}", s.timeUs, s.kind, s.direction))
    Checks.holds("forward-fill grid", grid.toSeq) ++ Checks.holds("lifo credits", credits.toSeq) ++
      Checks.holds("entry prices", prices.toSeq) ++ Checks.holds("net delta", delta.toSeq) ++
      Checks.signalOrder(sigs) ++ Checks.entryWindow(sigs) ++
      (if (sigs.nonEmpty) Nil else Seq("entry prices: no signal was enriched"))
  }

  private def norm(c: (String, JBig, JBig, Option[JBig], Int)) =
    (c._1, c._2.setScale(6), c._3.setScale(6), c._4.map(_.setScale(6)), c._5)
}
