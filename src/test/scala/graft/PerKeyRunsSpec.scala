package graft

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Relational

/** [[Relational.perKeyRuns]], the engine's one ordered per-key fold:
  * run boundaries, early exit, empty input and its plan shape.
  */
class PerKeyRunsSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("t", LongType), StructField("v", LongType)))

  private def frame(rows: Seq[(String, Long, Long)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (k, t, v) => Row(k, t, v) }: _*), schema)

  /** Each run as (key, its t values in run order). */
  private def runs(df: DataFrame, width: Int, order: Seq[org.apache.spark.sql.Column] = Seq(col("t")))(
      perRun: (Any, Iterator[Row]) => Iterator[Row] = (k, run) => Iterator.single(Row(k, run.map(_.getLong(1)).toSeq))
  ): Seq[(Any, Seq[Long])] =
    Sessions.withConf(spark, "spark.sql.shuffle.partitions" -> width.toString) {
      val out = StructType(Seq(StructField("k", df.schema("k").dataType), StructField("ts", ArrayType(LongType))))
      Relational.perKeyRuns(df, Seq(col("k")), order)(_.get(0))(perRun)(Encoders.row(out))
        .collect().toSeq.map(r => (r.get(0), r.getSeq[Long](1)))
    }

  test("several runs in one partition: one run per key, each in (key, order) order") {
    val rnd = new scala.util.Random(3)
    val rows = rnd.shuffle(for (k <- 0 until 6; t <- 0 until 5) yield (s"K$k", t.toLong, 0L))
    for (width <- Seq(1, 4)) {
      val got = runs(frame(rows), width, Seq(col("t").desc))()
      assert(got.map(_._1).sortBy(_.toString) == (0 until 6).map(k => s"K$k"), s"width $width: $got")
      got.foreach { case (_, ts) => assert(ts == Seq(4L, 3L, 2L, 1L, 0L)) }
    }
  }

  test("null keys form one run, apart from the other keys") {
    val rows = Seq((null, 2L, 0L), ("a", 1L, 0L), (null, 1L, 0L), ("a", 0L, 0L), (null, 3L, 0L))
    val got = runs(frame(rows), 1)().toMap
    assert(got.size == 2)
    assert(got(null) == Seq(1L, 2L, 3L) && got("a") == Seq(0L, 1L))
  }

  test("boxed Long keys split by value, not by reference") {
    // 1000L and 2000L are outside the Long.valueOf cache: every row boxes
    // a distinct object, so a reference compare would open a run per row
    val longKeys = spark.range(0, 6)
      .select(when(col("id") < 4, lit(1000L)).otherwise(lit(2000L)).as("k"), col("id").as("t"), lit(0L).as("v"))
    val got = runs(longKeys, 1)()
    assert(got.map(_._1).sortBy(_.toString) == Seq(1000L, 2000L), got)
    assert(got.toMap == Map(1000L -> Seq(0L, 1L, 2L, 3L), 2000L -> Seq(4L, 5L)))
  }

  test("empty input: no run, no row") {
    assert(runs(frame(Nil), 1)().isEmpty)
    assert(runs(frame(Nil), 4)().isEmpty)
  }

  test("a perRun that stops early: the rest of its run is skipped, the next key starts clean") {
    val rows = for (k <- 0 until 5; t <- 0 until 7) yield (s"K$k", t.toLong, 0L)
    for (width <- Seq(1, 3)) {
      // take(2) leaves five rows of every run unread
      val got = runs(frame(rows), width)((k, run) => Iterator.single(Row(k, run.take(2).map(_.getLong(1)).toSeq)))
      assert(got.size == 5, s"width $width: $got")
      got.foreach { case (_, ts) => assert(ts == Seq(0L, 1L)) }
      // a perRun that reads nothing at all
      val none = runs(frame(rows), width)((k, _) => Iterator.single(Row(k, Seq.empty[Long])))
      assert(none.map(_._1).sortBy(_.toString) == (0 until 5).map(k => s"K$k"))
    }
  }

  private def planCounts(ds: Dataset[_]): (Int, Int, Int) = {
    val plan = ds.queryExecution.executedPlan
    val walk = new AdaptiveSparkPlanHelper {}
    (walk.collect(plan) { case e: ShuffleExchangeLike => e }.size,
      walk.collect(plan) { case s: SortExec => s }.size,
      walk.collect(plan) { case w: WindowExecBase => w }.size)
  }

  test("plans one shuffle exchange, one sort and no Window; prePartitioned plans no exchange") {
    val df = frame(for (k <- 0 until 4; t <- 0 until 3) yield (s"K$k", t.toLong, t.toLong))
    def sums(pre: Boolean) =
      Relational.perKeyRuns(df, Seq(col("k")), Seq(col("t")), prePartitioned = pre)(_.getString(0)) { (k, run) =>
        Iterator.single(k -> run.map(_.getLong(2)).sum)
      }(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
    val shuffled = sums(pre = false)
    assert(shuffled.collect().toMap == (0 until 4).map(k => s"K$k" -> 3L).toMap)
    assert(planCounts(shuffled) == (1, 1, 0), s"plan:\n${shuffled.queryExecution.executedPlan}")
    val pre = sums(pre = true)
    pre.collect()
    assert(planCounts(pre) == (0, 1, 0), s"plan:\n${pre.queryExecution.executedPlan}")
  }
}
