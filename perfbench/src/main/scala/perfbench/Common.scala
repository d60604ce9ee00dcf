package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Order statistics over one run's samples. Percentiles interpolate
  * linearly between closest ranks, so the p90 of 100 samples has ten
  * samples beyond it.
  */
object Stats {
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "percentile of no samples")
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 50)
  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Zipf(s) over ranks 0 until n by inverse-CDF lookup. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  def sample(r: java.util.SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

object Fs {
  /** Regular files under `p` (none if it does not exist). */
  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  def bytes(p: Path): Long = files(p).map(Files.size).sum

  def mb(p: Path): Double = bytes(p) / 1048576.0

  def writer(f: File): BufferedWriter = {
    f.getParentFile.mkdirs()
    new BufferedWriter(new FileWriter(f, true), 1 << 16)
  }

  def lines(f: File): Iterator[String] =
    if (!f.exists()) Iterator.empty
    else scala.io.Source.fromFile(f, "UTF-8").getLines()

  /** Write a file under `dir` and move it into place, so a streaming
    * file source never sees it half-written.
    */
  def publish(dir: File, name: String, body: java.io.Writer => Unit): Unit = {
    dir.mkdirs()
    val tmp = new File(dir.getParentFile, s".${dir.getName}-$name")
    val w = new BufferedWriter(new FileWriter(tmp), 1 << 16)
    try body(w)
    finally w.close()
    Files.move(tmp.toPath, new File(dir, name).toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}

/** Tab-separated text for outputs kept on disk; `\N` is null. */
object Tsv {
  def d(x: java.lang.Double): String = if (x == null) "\\N" else java.lang.Double.toString(x)
  def od(s: String): java.lang.Double = if (s == "\\N") null else java.lang.Double.valueOf(s)
}

/** One JSON object per metric set, written without a JSON library. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c    => c.toString
  } + "\""
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString
  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s"${str(n)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}" }
      .mkString("{", ", ", "}")
}

/** Counts what the Spark scheduler did: jobs, stages, tasks, task and
  * GC time, shuffle and spill bytes, and the largest share of a stage's
  * records (read from input or shuffle) that one task of a multi-task
  * stage read (partition skew). Registered only in traced runs; read at
  * operation boundaries after the listener bus is drained.
  */
final class SchedulerCounters extends SparkListener {
  private var jobs, stages, tasks = 0L
  private var taskMs, gcMs, shuffleBytes, spillBytes = 0L
  private var maxShare = 0.0
  private val stageRecords = mutable.HashMap[(Int, Int), ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      val recs = m.shuffleReadMetrics.recordsRead + m.inputMetrics.recordsRead
      if (recs > 0) stageRecords.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer()) += recs
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    stageRecords.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach { rs =>
      if (rs.size > 1) maxShare = math.max(maxShare, rs.max.toDouble / rs.sum)
    }
  }

  /** (jobs, stages, tasks, taskMs, gcMs, shuffleBytes, spillBytes, maxShare);
    * the skew share resets at each snapshot, so it covers one operation.
    */
  def snapshot(): Array[Double] = synchronized {
    val out = Array[Double](jobs, stages, tasks, taskMs, gcMs, shuffleBytes, spillBytes, maxShare)
    maxShare = 0.0
    out
  }
}

/** Spans and per-operation samples of a traced run. With tracing off,
  * or before the timed phase, every call runs its body and records
  * nothing.
  */
final class Recorder(val on: Boolean, spark: SparkSession) {
  /** Set when the timed phase starts; warm-up operations are not recorded. */
  var timed = false
  def active: Boolean = on && timed

  private case class Span(name: String, op: Int, parent: String, start: Long, end: Long)
  private val spans = ArrayBuffer[Span]()
  private val samples = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  private val sched = if (on) Some(new SchedulerCounters) else None
  sched.foreach(spark.sparkContext.addSparkListener)
  private var opStart: Array[Double] = Array.emptyDoubleArray

  def span[T](name: String, op: Int, parent: String = "op")(body: => T): T =
    if (!active) body
    else {
      val t0 = System.nanoTime()
      try body
      finally spans += Span(name, op, parent, t0, System.nanoTime())
    }

  def sample(name: String, v: Double): Unit =
    if (active) samples.getOrElseUpdate(name, ArrayBuffer()) += v

  def values(name: String): Seq[Double] = samples.getOrElse(name, ArrayBuffer()).toSeq

  /** Span durations in ms for one layer, one value per operation. */
  def spanMs(name: String): Seq[Double] =
    spans.filter(_.name == name).groupBy(_.op).values.map(_.map(s => (s.end - s.start) / 1e6).sum).toSeq

  private def drained(): Array[Double] = {
    org.apache.spark.BusDrain.drain(spark.sparkContext)
    sched.get.snapshot()
  }

  /** Mark an operation boundary for the scheduler counters. */
  def beginOp(): Unit = if (active) opStart = drained()

  def endOp(): Unit = if (active) {
    val end = drained()
    val names = Seq("jobs", "stages", "tasks", "task_ms", "gc_ms", "shuffle_bytes", "spill_bytes")
    names.zipWithIndex.foreach { case (n, i) => sample(s"spark.$n", end(i) - opStart(i)) }
    // not a difference: the snapshot at beginOp reset it, so the end
    // snapshot holds the largest share seen during the operation
    sample("spark.max_task_share", end(7))
  }

  def write(f: File): Unit = if (on) {
    val w = Fs.writer(f)
    try spans.foreach { s =>
      w.write(s"""{"name": ${Json.str(s.name)}, "op": ${s.op}, "parent": ${Json.str(s.parent)}, """ +
        s""""start_ns": ${s.start}, "end_ns": ${s.end}}""")
      w.newLine()
    }
    finally w.close()
  }
}

/** What a workload hands back to [[Main]]. `selfTest` re-runs each
  * output check on a copy of the outputs with one row corrupted and
  * returns, per check, what the check reported.
  */
final case class Outcome(
    attempted: Int,
    failed: Int,
    checkFailures: Seq[String],
    endToEnd: Seq[(String, Double, String)],
    perLayer: Seq[(String, Double, String)],
    selfTest: () => Seq[(String, Seq[String])]
)

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, seed: Long, rec: Recorder, work: File, jvmStartMs: Long) {
  private var genNs = 0L

  /** Time spent generating inputs is not set-up: it is subtracted. */
  def gen[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally genNs += System.nanoTime() - t0
  }

  def setupSecondsUntilNow(): Double =
    (System.currentTimeMillis() - jvmStartMs) / 1000.0 - genNs / 1e9

  def dir(name: String): File = { val f = new File(work, name); f.mkdirs(); f }
}
