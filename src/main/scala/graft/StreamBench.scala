package graft

import java.nio.file.Files

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.Streams
import graft.streaming.Streams.{CandleIn, SignalOut}

/** Streaming micro-bench for the stateful signal engine (SURVEY T5/W5):
  * MemoryStream → HullMacd state machine → noop sink, measured per
  * micro-batch. The reference's only published performance targets are
  * STREAMING targets (`src/notes/Proposal.MD:139-141`: sub-second
  * signal latency at a few hundred symbols); this grounds the rebuild's
  * "streaming is the same code" claim in numbers on both engine APIs —
  * `flatMapGroupsWithState` (default HDFS-backed state) and the Spark 4
  * `transformWithState` twin (RocksDB state store).
  *
  * Two regimes per engine, matching how the two claims are consumed:
  *  - latency: small batches (one tick per symbol per batch) — the
  *    reference regime, a live feed at ~1k symbols; per-batch wall time
  *    IS the end-to-end signal latency;
  *  - throughput: large batches that amortize the fixed per-micro-batch
  *    cost (planning, shuffle, state commit) — the replay/backfill
  *    regime.
  * Reports per-batch wall latency (first batch = cold start: stream
  * init, codegen, state-store open), steady-state rows/s and median
  * batch latency, and the state operator's own footprint metrics
  * (rows, bytes) from the final `StreamingQueryProgress`. One JSON
  * line on stdout, mirrored to STREAMBENCH.json.
  *
  * Knob (env): SPARK_GRAFT_STREAM_SYMBOLS (default 1000).
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val nSymbols = sys.env.getOrElse("SPARK_GRAFT_STREAM_SYMBOLS", "1000").toInt
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    // deterministic candle feed: every symbol ticks once per nSymbols
    // rows, close follows a slow sine so the engine actually arms/fires
    def candle(i: Long): CandleIn = {
      val sym = i % nSymbols
      CandleIn(
        f"S$sym%05d",
        (i / nSymbols) * 60_000_000L,
        100.0 + 5.0 * math.sin(i / nSymbols * 0.05 + sym * 0.1)
      )
    }

    def run(
        name: String,
        mk: Dataset[CandleIn] => Dataset[SignalOut],
        rowsPerBatch: Int,
        nBatches: Int,
        startAt: Long
    ): String = {
      val input = MemoryStream[CandleIn]
      val ckpt = Files.createTempDirectory(s"streambench_$name").toString
      val q = mk(input.toDS()).writeStream
        .format("noop")
        .option("checkpointLocation", ckpt)
        .start()
      val times = (0 until nBatches).map { b =>
        // row construction happens OUTSIDE the timed window; the timed
        // span is enqueue + full micro-batch processing
        val rows = (0 until rowsPerBatch).map(r => candle(startAt + b.toLong * rowsPerBatch + r))
        val t0 = System.nanoTime()
        input.addData(rows)
        q.processAllAvailable()
        (System.nanoTime() - t0) / 1e9
      }
      val state = Option(q.lastProgress).toSeq.flatMap(_.stateOperators.toSeq)
      val stateRows = state.map(_.numRowsTotal).sum
      val stateBytes = state.map(_.memoryUsedBytes).sum
      q.stop()
      val steady = times.drop(1).sorted // batch 0 absorbs stream/codegen/state-store init
      val rps = (steady.length.toLong * rowsPerBatch / steady.sum).toLong
      // true median: mean of the middle pair when the steady count is
      // even (it always is in the throughput regime) — the upper-middle
      // shortcut overstated a skewed 4-element run by ~35%
      val medianSec =
        if (steady.length % 2 == 1) steady(steady.length / 2)
        else (steady(steady.length / 2 - 1) + steady(steady.length / 2)) / 2
      // Double.toString, not %f: format strings are JVM-locale-dependent
      // (decimal commas corrupt the JSON)
      def r4(x: Double): Double = math.round(x * 10000) / 10000.0
      System.err.println(
        f"[streambench] $name@$rowsPerBatch: ${times.map(t => f"$t%.2f").mkString(" ")} s/batch, $rps rows/s, median ${medianSec}%.3f s")
      s"""{"rows_per_sec":$rps,"median_batch_sec":${r4(medianSec)},"batch_rows":$rowsPerBatch,""" +
        s""""batch_sec":${times.map(t => r4(t).toString).mkString("[", ",", "]")},"state_rows":$stateRows,"state_bytes":$stateBytes}"""
    }

    def engine(name: String, mk: Dataset[CandleIn] => Dataset[SignalOut]): String = {
      // latency regime: one tick per symbol per batch; throughput
      // regime: 300 ticks per symbol per batch. Disjoint time ranges so
      // event time stays monotonic per symbol across the two streams.
      val lat = run(s"$name-latency", mk, nSymbols, 20, 0L)
      val thr = run(s"$name-throughput", mk, nSymbols * 300, 5, nSymbols * 100L)
      s""""$name":{"latency":$lat,"throughput":$thr}"""
    }

    val fmgws = engine("flatMapGroupsWithState", ds => Streams.detectSignalsStream(ds))
    // the transformWithState twin needs the RocksDB provider (multi
    // column-family state)
    val tws = Sessions.withConf(
      spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )(engine("transformWithState", ds => Streams.detectSignalsTransformWithState(ds)))
    val json =
      s"""{"metric":"stream_signal_engine","symbols":$nSymbols,$fmgws,$tws,"calib":${HostCalib.json()}}"""
    println(json)
    Files.writeString(java.nio.file.Paths.get("STREAMBENCH.json"), json + "\n")
    spark.stop()
  }
}
