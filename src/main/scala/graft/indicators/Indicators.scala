package graft.indicators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

import graft.ops.Relational

/** Technical-indicator kernels (SURVEY §2.5 W1-W4), re-expressed for
  * Spark's execution model.
  *
  * Numeric contract: these reproduce the reference's seeding semantics
  * (reference `analytics/indicators/momentum.py`) with a *defined*
  * floating-point evaluation order — a left-to-right weighted sum for the
  * WMA and a left fold for the EMA — so a DuckDB oracle evaluating the
  * same expression order matches bit-for-bit.
  *
  * Scale notes: the WMA family is pure window expressions
  * (whole-stage-codegen'd, one shuffle per key + in-partition sort).
  * The EMA family is an order-dependent recursion, which no frame-window
  * aggregate expresses; it runs as a single-pass per-key fold on
  * [[graft.ops.Relational.perKeyRuns]] (one shuffle on the key, one sort
  * on (key, order), each key's run streamed) — O(n) per key, no group
  * materialization, which is the 100 TB-safe shape (contrast with
  * `collect_list`-based formulations that buffer whole series per key).
  */
object Indicators {

  /** Padded weighted MA (reference `momentum.py:10-40`): weights 1..p with
    * the current row weighted p; positions before the series head read
    * `padCol` (ThinkOrSwim-style seeding).
    *
    * Expression shape (defined evaluation order, codegen-friendly):
    * {{{ (p*v + (p-1)*lag(v,1) + ... + 1*lag(v,p-1)) / (p(p+1)/2) }}}
    */
  def paddedWmaCol(value: Column, pad: Column, period: Int, w: WindowSpec): Column = {
    require(period >= 1)
    val terms = (0 until period).map { k =>
      val weight = period - k
      val v = if (k == 0) value else coalesce(lag(value, k).over(w), pad)
      lit(weight.toDouble) * v
    }
    val num = terms.reduceLeft(_ + _)
    num / lit((period * (period + 1) / 2).toDouble)
  }

  /** Hull MA (reference `momentum.py:43-98`):
    * HMA = WMA(2·WMA(v, round(p/2)) − WMA(v, p), round(√p)), all three
    * WMAs padded with the same `padCol` (the reference pads the final
    * smoothing with the *price* pad, not the first diff — preserved).
    * Adds `hma` and `hma_color` ("Up" iff hma > previous hma, first row
    * "Down", matching numpy NaN-comparison semantics).
    */
  def withHull(
      df: DataFrame,
      key: String,
      order: Seq[String],
      valueCol: String,
      length: Int,
      padCol: Option[Column]
  ): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(order.map(col): _*)
    val half = math.round(length / 2.0).toInt
    val sqrtLen = math.round(math.sqrt(length.toDouble)).toInt
    val v = col(valueCol)
    // reference default: pad with the first value of the series
    val pad = padCol.getOrElse(first(v).over(w))
    val diff = lit(2.0) * paddedWmaCol(v, pad, half, w) - paddedWmaCol(v, pad, length, w)
    val withDiff = df.withColumn("__hull_diff", diff)
    val hma = paddedWmaCol(col("__hull_diff"), pad, sqrtLen, w)
    withDiff
      .withColumn("hma", hma)
      .withColumn(
        "hma_color",
        when(col("hma") > lag(col("hma"), 1).over(w), "Up").otherwise("Down")
      )
      .drop("__hull_diff")
  }

  /** Seeded EMA (reference `momentum.py:101-113`):
    * out(0) = α·v(0) + (1−α)·seed; out(i) = α·v(i) + (1−α)·out(i−1),
    * α = 2/(length+1). Order-dependent recursion → one
    * [[Relational.perKeyRuns]] fold holding one double per key.
    * `seedCol` must be constant within a key; without it the seed is
    * the key's first NON-NULL value.
    *
    * Null values propagate (null out, state unchanged) — the reference
    * operates on dense numpy arrays and has no null story.
    */
  def withEmaSeeded(
      df: DataFrame,
      key: String,
      order: Seq[String],
      valueCol: String,
      seedCol: Option[String],
      length: Int,
      outCol: String
  ): DataFrame = {
    val alpha = 2.0 / (length + 1.0)
    val outSchema = StructType(df.schema.fields :+ StructField(outCol, DoubleType, nullable = true))
    val keyIdx = df.schema.fieldIndex(key)
    val valIdx = df.schema.fieldIndex(valueCol)
    val seedIdx = seedCol.map(df.schema.fieldIndex)
    Relational.perKeyRuns(df, Seq(col(key)), order.map(col))(_.get(keyIdx)) { (_, run) =>
      var seeded = false
      var acc = 0.0
      run.map { r =>
        val out: Any =
          if (r.isNullAt(valIdx)) null // null propagates, state unchanged
          else {
            val v = r.getDouble(valIdx)
            if (!seeded) { acc = seedIdx.fold(v)(r.getDouble); seeded = true }
            acc = alpha * v + (1 - alpha) * acc
            acc
          }
        Row.fromSeq(r.toSeq :+ out)
      }
    }(Encoders.row(outSchema))
  }

  /** MACD with EMA seeding (reference `momentum.py:116-193`). Adds
    * `macd_value` (fast−slow EMA; renamed from the reference's `Value` to
    * avoid colliding with input columns), `avg` (signal EMA, seed 0.0),
    * `diff` (histogram) and `diff_color` (4-shade rule, strict
    * comparisons). `priorCloseCol` seeds both EMAs and must be constant
    * per key; the reference's `prior_close=None` fallback (first non-null
    * close) is the caller's responsibility.
    *
    * All three EMA recursions + histogram + color run in ONE streaming
    * pass over key-sorted partitions (single shuffle) — the recursions
    * chain row-locally, so no intermediate materialization is needed.
    *
    * OUTPUT CONTRACT: rows come back key-partitioned and
    * (key, order)-sorted — the fold's own repartition + in-partition
    * sort survives the order-preserving `mapPartitions`. A downstream
    * per-key fold can compose on this contract directly instead of
    * re-shuffling; Catalyst cannot prove the invariant through
    * `mapPartitions`, so a caller-side repartition would plan a
    * REDUNDANT exchange + sort. (The signal engine no longer builds on
    * these columns: it folds the incremental kernel itself, see
    * [[graft.signals.HullMacd.detectSignals]]. `prePartitioned` stays
    * for external callers that feed this fold from a window over the
    * same key, as `withHull` output is.)
    */
  def withMacd(
      df: DataFrame,
      key: String,
      order: Seq[String],
      valueCol: String,
      priorCloseCol: Option[String],
      fastLength: Int = 12,
      slowLength: Int = 26,
      macdLength: Int = 9,
      prePartitioned: Boolean = false
  ): DataFrame = {
    val aF = 2.0 / (fastLength + 1.0)
    val aS = 2.0 / (slowLength + 1.0)
    val aM = 2.0 / (macdLength + 1.0)
    val outNames = Seq("macd_value", "avg", "diff", "diff_color")
    require(df.columns.intersect(outNames).isEmpty, s"input must not contain ${outNames.mkString(",")}")
    // prePartitioned: rows are already key-partitioned (e.g. straight
    // out of a window over the same key), so no exchange is planned; the
    // in-partition sort stays (cheap on sorted input, and the fold's
    // correctness depends on it).
    val outSchema = StructType(
      df.schema.fields ++ Seq(
        StructField("macd_value", DoubleType, nullable = true),
        StructField("avg", DoubleType, nullable = true),
        StructField("diff", DoubleType, nullable = true),
        StructField("diff_color", StringType, nullable = true)
      )
    )
    val keyIdx = df.schema.fieldIndex(key)
    val valIdx = df.schema.fieldIndex(valueCol)
    val seedIdx = priorCloseCol.map(df.schema.fieldIndex)
    Relational.perKeyRuns(df, Seq(col(key)), order.map(col), prePartitioned)(_.get(keyIdx)) { (_, run) =>
      var seeded = false
      var fast, slow, signal = 0.0
      var prevDiff = Double.NaN
      run.map { r =>
        val base = r.toSeq
        if (r.isNullAt(valIdx)) Row.fromSeq(base ++ Seq(null, null, null, null))
        else {
          val v = r.getDouble(valIdx)
          val first = !seeded
          if (first) {
            // seed from the explicit column, else the first NON-NULL value
            fast = seedIdx.fold(v)(r.getDouble); slow = fast
            seeded = true
          }
          fast = aF * v + (1 - aF) * fast
          slow = aS * v + (1 - aS) * slow
          val value = fast - slow
          signal = aM * value + (1 - aM) * signal
          val diff = value - signal
          // 4-shade histogram color (reference momentum.py:164-183)
          val color =
            if (first) { if (diff > 0) "#04FE00" else "#FE0000" }
            else if (diff > 0) { if (diff > prevDiff) "#04FE00" else "#006401" }
            else { if (diff < prevDiff) "#FE0000" else "#7E0100" }
          prevDiff = diff
          Row.fromSeq(base ++ Seq(value, signal, diff, color))
        }
      }
    }(Encoders.row(outSchema))
  }
}
