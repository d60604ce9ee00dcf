package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

/** Entry point of one benchmark run (see README.md):
  *
  * {{{
  * Main --workload <live|backfill> --seed <n> --trace <0|1>
  *      --work <dir> --threads <n>
  * Main --selftest --work <dir> --threads <n>
  * }}}
  *
  * Every run does the same fixed work: one warm-up round, then one
  * timed round. Prints one line `PERFBENCH_RESULT <json>`: with
  * `--trace 0` the end-to-end metrics, with `--trace 1` the per-layer
  * metrics. Exits 1 when an output check fails; an operation that throws
  * ends the run with exit 2 and no result line.
  */
object Main {

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "live" -> Live.run,
    "backfill" -> Backfill.run)

  /** Every per-layer metric and its unit; all are printed on every
    * workload, reading 0 where the workload does not use the layer.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.task_ms_per_op" -> "ms", "spark.gc_ms_per_op" -> "ms",
    "spark.shuffle_bytes_per_op" -> "bytes", "spark.spill_bytes_per_op" -> "bytes",
    "spark.max_task_share" -> "ratio",
    "io.add_batch_ms" -> "ms", "io.offsets_ms" -> "ms", "io.planning_ms" -> "ms", "io.wire_decode_ms" -> "ms",
    "io.files_per_commit" -> "count", "io.bytes_per_commit" -> "bytes", "io.buckets_per_commit" -> "count",
    "io.cdc_ms" -> "ms", "io.cdc_rows" -> "count", "io.point_read_ms" -> "ms", "io.table_mb" -> "MB",
    "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms", "streaming.planning_ms" -> "ms",
    "streaming.offsets_ms" -> "ms", "streaming.state_commit_ms" -> "ms", "streaming.state_update_ms" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_mb" -> "MB", "streaming.state_stores" -> "count",
    "streaming.checkpoint_mb" -> "MB", "streaming.seed_ms" -> "ms", "streaming.rows_out" -> "count",
    "ops.forward_fill_ms" -> "ms", "indicators.hull_macd_ms" -> "ms", "signals.detect_ms" -> "ms",
    "backtest.enrich_ms" -> "ms", "accounts.lifo_ms" -> "ms", "metrics.position_metrics_ms" -> "ms",
    "setup.session_s" -> "s", "setup.init_s" -> "s", "setup.warmup_s" -> "s",
    "trace.op_ms_p50" -> "ms", "trace.op_ms_p90" -> "ms")

  private var sessionS = 0.0

  /** Per-layer metrics from the recorder. Scheduler counters are means
    * per operation; span and progress timings are medians over the
    * timed operations. `fixed` supplies values measured once per run.
    */
  def layerMetrics(rec: Recorder, fixed: Seq[(String, Double)], opMs: Seq[Double]): Seq[(String, Double, String)] = {
    val known = (fixed ++ Seq("setup.session_s" -> sessionS, "trace.op_ms_p50" -> Stats.median(opMs),
      "trace.op_ms_p90" -> Stats.pct(opMs, 90))).toMap
    PerLayer.map { case (name, unit) =>
      val spans = rec.spanMs(name.stripSuffix("_ms"))
      val v =
        if (known.contains(name)) known(name)
        else if (name.endsWith("_per_op")) Stats.mean(rec.values(name.stripSuffix("_per_op")))
        else if (spans.nonEmpty) Stats.median(spans)
        else if (rec.values(name).nonEmpty) Stats.median(rec.values(name))
        else 0.0
      (name, v, unit)
    }
  }

  /** Heap still in use after full collections: the smallest of several
    * post-collection readings, taken after pauses that let Spark's
    * context cleaner drop the blocks of objects the previous collection
    * found unreachable. Post-collection usage leaves out whatever threads
    * allocated after the collection ended.
    */
  def retainedHeapMb(): Double = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(150)
      pools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    }.drop(2).min
  }

  /** Diagnostics go to stderr; stdout carries only the result line. */
  def log(what: String, xs: Seq[Double]): Unit =
    System.err.println(s"[perfbench] $what: ${xs.map(x => f"$x%.0f").mkString(" ")}")

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = new File(arg(args, "--work").getOrElse(sys.error("--work is required")))
    val threads = arg(args, "--threads").map(_.toInt).getOrElse(4)
    val selfTest = args.contains("--selftest")
    val t0 = System.nanoTime()
    val spark = graft.Sessions.local(threads)
    sessionS = (System.nanoTime() - t0) / 1e9
    val code =
      try {
        if (selfTest) runSelfTest(spark, work, jvmStartMs)
        else {
          val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
          val trace = arg(args, "--trace").contains("1")
          val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
          val rec = new Recorder(trace, spark)
          val ctx = Ctx(spark, seed, rec, new File(work, workload), jvmStartMs)
          val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
          val o = run(ctx)
          System.err.println(s"[perfbench] persisted RDDs left after the run: ${spark.sparkContext.getPersistentRDDs.size}")
          rec.write(new File(work.getParentFile, s"traces/$workload-seed$seed.jsonl"))
          o.checkFailures.foreach(f => System.err.println(s"CHECK FAILED [$workload] $f"))
          val metrics = if (trace) o.perLayer else o.endToEnd
          println(s"""PERFBENCH_RESULT {"correct": ${o.checkFailures.isEmpty}, "attempted": ${o.attempted}, """ +
            s""""failed": ${o.failed}, "metrics": ${Json.metrics(metrics)}}""")
          if (o.checkFailures.isEmpty) 0 else 1
        }
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    spark.stop()
    sys.exit(code)
  }

  /** Runs every workload once, then re-runs each output check on a
    * copy of the outputs with one row corrupted; every check must report
    * the corruption.
    */
  private def runSelfTest(spark: org.apache.spark.sql.SparkSession, work: File, jvmStartMs: Long): Int = {
    val results = Workloads.toSeq.sortBy(_._1).flatMap { case (name, run) =>
      val o = run(Ctx(spark, 7L, new Recorder(false, spark), new File(work, s"selftest-$name"), jvmStartMs))
      val clean = if (o.checkFailures.isEmpty) Seq(s"ok   $name: checks pass on the program's outputs")
      else o.checkFailures.map(f => s"FAIL $name: check failed on the program's outputs: $f")
      clean ++ o.selfTest().map { case (check, fails) =>
        val hit = fails.find(_.startsWith(check))
        if (hit.nonEmpty) s"ok   $name/$check: reports ${hit.get.take(160)}"
        else s"FAIL $name/$check: a corrupted row went unreported (${fails.mkString("; ").take(160)})"
      }
    }
    results.foreach(println)
    if (results.forall(_.startsWith("ok"))) 0 else 1
  }
}
