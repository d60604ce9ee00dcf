package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational building blocks — the engine's vocabulary (SURVEY §2).
  *
  * Each operator is a pure `DataFrame => DataFrame` transform built from
  * declarative Spark primitives so Catalyst keeps full visibility
  * (pushdown, pruning, AQE). Nothing here collects to the driver.
  *
  * Scale notes are inline per operator; the common theme: per-key windows
  * shuffle once on the key and sort within partitions (sort-merge window
  * exec), which holds at 1000 executors as long as keys are not pathologically
  * skewed — for skew, pre-salt the key or rely on AQE skew handling.
  */
object Relational {

  /** Latest row per key — the reference's Redis "latest-value table"
    * (reference `messaging/processors/default.py:62-68`,
    * `redis.py:36-38`; SURVEY A1/W11).
    *
    * Implemented as a row_number window rather than `max_by(struct)` so the
    * tie-break is explicit and deterministic (`tieBreak` descending after
    * `orderCol` descending).
    *
    * Scale: one shuffle on `keys`; map-side nothing to combine (row-level),
    * but Spark's window exec spills sorted runs, so it is robust at any
    * group size. For a true 100 TB latest-value table prefer the
    * aggregation form `groupBy(keys).agg(max_by(struct(*), order))` which
    * enables partial aggregation; both are provided.
    */
  def latestPerKey(df: DataFrame, keys: Seq[String], orderCol: String, tieBreak: String): DataFrame = {
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol).desc, col(tieBreak).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Partial-aggregation form of latest-per-key: `max_by(struct(cols), order)`.
    * Map-side combine makes this the 100 TB-friendly variant (each task
    * reduces to one row per key before the shuffle).
    *
    * A single value column skips the struct wrapper: `max_by` over a
    * struct buffer is not hash-aggregable (SortAggregate, a sort on BOTH
    * sides of the exchange), while `max_by(value, order)` keeps primitive
    * buffers and runs as a HashAggregate with map-side partials. The two
    * forms agree row-for-row: MaxMinBy compares only the ordering (null
    * orderings skipped, null values kept), and `struct(v).v == v` always.
    * Multiple value columns keep the struct — per-column `max_by`s could
    * mix rows when the ordering ties, the struct pick is atomic.
    */
  def latestPerKeyAgg(df: DataFrame, keys: Seq[String], orderCol: Column, valueCols: Seq[String]): DataFrame = {
    if (valueCols.sizeIs == 1) {
      val c = valueCols.head
      df.groupBy(keys.map(col): _*)
        .agg(max_by(col(c), orderCol).as(c))
        .select((keys :+ c).map(col): _*)
    } else {
      val packed = struct(valueCols.map(col): _*)
      df.groupBy(keys.map(col): _*)
        .agg(max_by(packed, orderCol).as("__latest"))
        .select(keys.map(col) ++ valueCols.map(c => col(s"__latest.$c").as(c)): _*)
    }
  }

  /** Keep-last upsert on a composite key — candle dedup semantics
    * (reference `processors/default.py:80-91`, SURVEY A2): late or
    * duplicate bars resolved by last-arrival-wins on (symbol, time).
    */
  def dedupKeepLast(df: DataFrame, keys: Seq[String], arrival: String): DataFrame =
    latestPerKey(df, keys, arrival, arrival)

  /** Top-k rows per group with a deterministic tie-break (SURVEY O4).
    * Scale: single shuffle on the group key; window exec streams sorted
    * groups, no buffering of full groups in memory.
    */
  def topKPerGroup(df: DataFrame, keys: Seq[String], order: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .drop("__rank")
  }

  /** The engine's one ordered per-key fold: ONE shuffle on `keys`, one
    * sort on (keys, order) within partitions, then `perRun(k, run)` on
    * each key's run in order, streamed — per-key memory is whatever
    * `perRun` keeps, never the run itself. Runs split where `keyOf`
    * changes under `==`: null-safe, and value equality for boxed
    * primitives, so null keys form one run and a boxed `Long` key splits
    * only where its value changes. Whatever `perRun` leaves of its run
    * once its iterator is exhausted is skipped before the next key.
    *
    * `prePartitioned`: the caller guarantees `ds` is already
    * hash-partitioned on `keys` (e.g. straight out of a window over the
    * same key); Catalyst cannot see that through a typed operator, so
    * the exchange is left out on request. The sort always runs.
    */
  def perKeyRuns[A, K, B: Encoder](
      ds: Dataset[A],
      keys: Seq[Column],
      order: Seq[Column],
      prePartitioned: Boolean = false
  )(keyOf: A => K)(perRun: (K, Iterator[A]) => Iterator[B]): Dataset[B] =
    (if (prePartitioned) ds else ds.repartition(keys: _*))
      .sortWithinPartitions(keys ++ order: _*)
      .mapPartitions { rows =>
        val it = rows.buffered
        new Iterator[(K, Iterator[A])] {
          private var run: Iterator[A] = Iterator.empty
          def hasNext: Boolean = { run.foreach(_ => ()); it.hasNext }
          def next(): (K, Iterator[A]) = {
            val k = keyOf(it.head)
            run = new Iterator[A] {
              def hasNext: Boolean = it.hasNext && keyOf(it.head) == k
              def next(): A = it.next()
            }
            (k, run)
          }
        }.flatMap { case (k, run) => perRun(k, run) }
      }

  /** Diagonal / schema-widening union (reference `providers/market.py:351-358`
    * `pl.concat how="diagonal"`; SURVEY U1/U2). Missing columns null-filled.
    */
  def unionDiagonal(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** As-of join (SURVEY J6, reference `backtest/publisher.py:112-128`):
    * for each left row, the most recent right row with
    * `right.timeCol <= left.timeCol` within the same key, requiring
    * `valueCol` non-null (the reference skips null-close candles).
    *
    * Formulation: union both sides tagged, one window
    * `last(value, ignoreNulls)` over (key, time, side-rank), keep left
    * rows. One shuffle on the key, one in-partition sort — the same cost
    * profile as a sort-merge join, with no range-explosion. This scales
    * linearly in rows and is skew-tolerant via AQE.
    *
    * Right rows sort *before* left rows at identical timestamps (the
    * reference's binary search uses `<=`).
    */
  def asOfJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTime: String,
      rightTime: String,
      valueCols: Seq[String]
  ): DataFrame = {
    val lTagged = left
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(1))
      .withColumns(valueCols.map(c => c -> lit(null).cast(right.schema(c).dataType)).toMap)
    val rTagged = right
      .withColumn("__t", col(rightTime))
      .select((Seq("__t", key) ++ valueCols).map(col): _*)
      .withColumn("__side", lit(0))
    val unioned = lTagged.unionByName(rTagged, allowMissingColumns = true)
    val w = Window
      .partitionBy(col(key))
      .orderBy(col("__t").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = valueCols.foldLeft(unioned) { (d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
    filled.filter(col("__side") === 1).drop("__t", "__side")
  }

  /** Nearest-key match (SURVEY P7, reference `market/option_chains.py:144-172`
    * DTE-closest-expiration): for each target value pick the closest
    * available key; ties resolved toward the smaller key.
    *
    * Scale: `available` is a tiny distinct set — broadcast the cross join;
    * the subsequent semi-join against the big table is also broadcast.
    */
  def nearestKey(targets: DataFrame, targetCol: String, available: DataFrame, availCol: String): DataFrame = {
    targets
      .crossJoin(broadcast(available.select(col(availCol)).distinct()))
      .groupBy(col(targetCol))
      .agg(
        min_by(
          col(availCol),
          struct(abs(col(availCol) - col(targetCol)), col(availCol))
        ).as("matched")
      )
  }

  /** Forward-fill onto a regular time grid (SURVEY W6, reference
    * `utils/time_series.py:72-96`): per key, materialize every grid step
    * between that key's min and max bucket, carry the last observed value
    * forward, and emit only the previously-missing steps (the reference
    * writes back only gap rows).
    *
    * `df` must have one row per (key, bucket) — pre-aggregate first.
    *
    * Single-pass formulation (gaps-and-islands): forward-fill the
    * OBSERVED rows, then each row emits the grid steps between itself
    * and its `lead` neighbor, carrying its filled value — exactly the
    * previously-missing steps, with the last non-null observation at or
    * before each gap. The old grid-aggregate + re-join form scanned and
    * shuffled `df` twice (the r13 before-plan shows the whole upstream
    * window subtree duplicated: once under the grid aggregate, once
    * under the join); `last` and `lead` share one Window exec (same
    * partitioning and ordering), so this is ONE scan, one shuffle on
    * the key, no join. Gap rows null any non-value payload columns,
    * matching the join form where gap rows came from the grid side.
    */
  def forwardFillGrid(df: DataFrame, key: String, bucketCol: String, stepMicros: Long, valueCols: Seq[String]): DataFrame = {
    val wFill = Window
      .partitionBy(col(key))
      .orderBy(col(bucketCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLead = Window.partitionBy(col(key)).orderBy(col(bucketCol))
    val filled = valueCols.foldLeft(df) { (d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(wFill))
    }
    val gaps = filled
      .withColumn("__next", lead(col(bucketCol), 1).over(wLead))
      .filter(col("__next").isNotNull && col("__next") > col(bucketCol) + lit(stepMicros))
      .withColumn(
        bucketCol,
        explode(sequence(col(bucketCol) + lit(stepMicros), col("__next") - lit(stepMicros), lit(stepMicros)))
      )
      .drop("__next")
    val others = df.columns.filterNot(c => c == key || c == bucketCol || valueCols.contains(c))
    val nulled = others.foldLeft(gaps) { (d, c) =>
      d.withColumn(c, lit(null).cast(df.schema(c).dataType))
    }
    // column order of the join form: join keys first, then df's rest
    nulled.select((Seq(key, bucketCol) ++ df.columns.filterNot(c => c == key || c == bucketCol)).map(col): _*)
  }

  /** Two-stage salted aggregation for skewed keys: stage 1 aggregates
    * (key, salt) partials — spreading a hot key over `saltBuckets`
    * reducers — stage 2 combines partials per key. Use when a handful of
    * keys dominate (AQE skew-join handles joins; this is the groupBy
    * analog). `aggs` must be algebraic (sum/count/min/max-style) so the
    * two-stage split is exact.
    */
  def saltedSumCount(df: DataFrame, keys: Seq[String], valueCol: String, saltBuckets: Int): DataFrame = {
    val salted = df.withColumn(
      "__salt",
      pmod(spark_partition_id().cast("long") + monotonically_increasing_id(), lit(saltBuckets.toLong))
    )
    salted
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(sum(col(valueCol)).as("__psum"), count(lit(1)).as("__pcnt"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__psum")).as("sum_value"), sum(col("__pcnt")).as("n_rows"))
  }

  /** A10 — observability: attach named row/value metrics to a DataFrame
    * (reference queue/stream counters, `messaging/handlers.py:24-38`);
    * read them post-action from `QueryExecutionListener` or
    * `df.observe`'s observation API.
    */
  def withRowMetrics(df: DataFrame, name: String, valueCol: String): DataFrame =
    df.observe(name, count(lit(1)).as("n_rows"), sum(col(valueCol)).as("sum_value"))

  /** Prior-period last value (SURVEY W7, reference
    * `providers/market.py:187-235` prior-trading-day close): aggregate to
    * one row per (key, period) keeping the last value in the period, then
    * `lag` the previous period's value, skipping periods with no data
    * (`last(ignoreNulls)` over the preceding frame).
    */
  def priorPeriodLast(df: DataFrame, key: String, periodCol: Column, orderCols: Seq[String], valueCol: String): DataFrame = {
    val perPeriod = df
      .withColumn("__period", periodCol)
      .groupBy(col(key), col("__period"))
      .agg(max_by(col(valueCol), struct(orderCols.map(col): _*)).as("period_last"))
    val w = Window.partitionBy(col(key)).orderBy(col("__period"))
    perPeriod
      .withColumn("prior_last", lag(col("period_last"), 1).over(w))
      .withColumnRenamed("__period", "period")
  }
}
