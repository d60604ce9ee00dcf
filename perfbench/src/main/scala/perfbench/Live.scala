package perfbench

import scala.collection.mutable.ArrayBuffer

/** `live`: the live market-data path. One operation is one market minute
  * as it arrives: a micro-batch of quote/trade frames into the
  * latest-value table ([[LiveLatest]]), then that minute's candles
  * through the indicator and signal streams ([[LiveSignals]]). Catch-up
  * operations carry a reconnect's backlog on both paths. After each
  * operation the downstream readers run: the table's change feed and
  * watchlist, and the watchlist's newest indicator rows.
  */
object Live {
  val SteadyPerRound = 6
  val CatchUpsPerRound = 2
  val WarmupSteady = 2

  /** Round `n` as a sequence of operations, true for a catch-up: round 0
    * (the warm-up) has `WarmupSteady` steady operations, the timed round
    * `SteadyPerRound` steady operations and `CatchUpsPerRound` catch-ups
    * spread evenly among them.
    */
  def shape(n: Int): Seq[Boolean] = {
    val (steady, catchUps) = if (n == 0) (WarmupSteady, 0) else (SteadyPerRound, CatchUpsPerRound)
    val cut = (1 to catchUps).map(_ * steady / (catchUps + 1)).toSet
    (0 until steady).flatMap(i => (if (cut(i)) Seq(true) else Nil) :+ false)
  }

  /** One path of the live workload, fed one round at a time. */
  trait Pipe {
    /** Generate and stage the next round's inputs. */
    def stageRound(): Unit
    /** Run the next staged operation; returns its input rows. */
    def op(): Long
    /** The downstream read after the operation, kept for the checks;
      * returns the milliseconds spent in the program's read calls.
      */
    def read(): Double
    /** Stop the streams and check the outputs: failures, and the self-test. */
    def finish(): (Seq[String], () => Seq[(String, Seq[String])])
  }

  def run(ctx: Ctx): Outcome = {
    val rec = ctx.rec
    val tInit = System.nanoTime()
    val latest = new LiveLatest.Pipe(ctx)
    val signals = new LiveSignals.Pipe(ctx)
    val initS = (System.nanoTime() - tInit) / 1e9
    val steadyMs, catchUpMs, readMs = ArrayBuffer[Double]()
    var catchUpRows = 0L
    var ops = 0
    var rounds = 0

    def oneRound(): Unit = {
      val timed = rounds > 0
      ctx.gen { latest.stageRound(); signals.stageRound() }
      shape(rounds).foreach { catchUp =>
        rec.beginOp()
        val t0 = System.nanoTime()
        val rows = latest.op() + signals.op()
        val ms = (System.nanoTime() - t0) / 1e6
        rec.endOp()
        val rMs = latest.read() + signals.read()
        if (timed && catchUp) { catchUpMs += ms; catchUpRows += rows }
        else if (timed) { steadyMs += ms; readMs += rMs }
        ops += 1
      }
      rounds += 1
    }

    val tWarm = System.nanoTime()
    oneRound()
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val setupS = ctx.setupSecondsUntilNow()
    rec.timed = true
    oneRound()
    val heapMb = Main.retainedHeapMb()
    val (latestFail, latestSelf) = latest.finish()
    val (signalFail, signalSelf) = signals.finish()

    Main.log("timed operation latencies (ms)", steadyMs.toSeq)
    Main.log("downstream read latencies (ms)", readMs.toSeq)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("op_ms_p50", Stats.median(steadyMs), "ms"),
      ("rows_per_s", catchUpRows / (catchUpMs.sum / 1000.0), "rows/s"),
      ("read_ms_p50", Stats.median(readMs), "ms"),
      ("retained_heap_mb", heapMb, "MB"))
    Outcome(ops, 0, latestFail ++ signalFail, e2e,
      Main.layerMetrics(rec, Seq("setup.init_s" -> initS, "setup.warmup_s" -> warmS,
        "streaming.seed_ms" -> signals.seedMs), steadyMs.toSeq),
      () => latestSelf() ++ signalSelf())
  }
}
