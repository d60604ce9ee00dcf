package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.io.Tables
import graft.ops.Relational

/** How a stream carrier replays a deterministic stream. A carrier is a
  * declared query whose end state comes out of a real Structured
  * Streaming run and is hash-checked against DuckDB; each keeps only
  * its own contract (the seed split, the operator, the output
  * projection) and takes the plumbing from here.
  *
  * Arrival order: the file source orders new files by modification
  * time, and back-to-back writes can land in the same millisecond, at
  * which point it falls back to path order over random part-file
  * names. Every arrival is therefore stamped with a strictly
  * increasing mtime, so batch boundaries and batch order are a
  * function of the seed alone.
  */
private[graft] object Replay {

  /** Append each batch to `src` as one file, stamping it
    * `base + i·1000` ms (i = 1, 2, …) as it lands.
    */
  def arrivals(spark: SparkSession, src: String, batches: Seq[DataFrame]): Unit = {
    val p = new Path(src)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (batch, i) =>
      val before: Set[String] =
        if (fs.exists(p)) fs.listStatus(p).map(_.getPath.getName).toSet else Set.empty
      batch.coalesce(1).write.mode("append").parquet(src)
      fs.listStatus(p)
        .filter(st => st.getPath.getName.startsWith("part-") && !before(st.getPath.getName))
        .foreach(st => fs.setTimes(st.getPath, base + (i + 1) * 1000L, -1))
    }
  }

  /** Copy the one part file of the seeded dir `seeded` into `streamDir`
    * as `<seeded name>.parquet`, stamped 1 s after the newest file
    * already there (the current time for the first), so files arrive
    * in call order even across a stream restart.
    */
  def copyArrival(spark: SparkSession, seeded: String, streamDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val from = new Path(seeded)
    val to = new Path(streamDir)
    val fs = to.getFileSystem(conf)
    val part = fs.listStatus(from).map(_.getPath).find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(s"seed $seeded has no part file"))
    val newest = fs.listStatus(to).map(_.getModificationTime)
    val dst = new Path(to, s"${from.getName}.parquet")
    FileUtil.copy(fs, part, fs, dst, false, conf)
    fs.setTimes(dst, if (newest.isEmpty) System.currentTimeMillis() else newest.max + 1000L, -1)
  }

  /** Replay the files under `src` (schema taken from them, one file per
    * micro-batch) through `op` into a memory sink named
    * `<name>_<dir hash>` with a fresh checkpoint and
    * `Trigger.AvailableNow`, and return the sink's table. The run uses
    * [[graft.streaming.Streams.adaptiveStateWidth]] as its shuffle and
    * state width; the session width is restored afterwards.
    */
  def toMemory(spark: SparkSession, src: String, name: String, dir: String, outputMode: String = "append")(
      op: DataFrame => Dataset[_]
  ): DataFrame = {
    val qn = s"${name}_" + Integer.toHexString(dir.hashCode).replace('-', 'n')
    val width = graft.streaming.Streams.adaptiveStateWidth(spark, Seq(src))
    Sessions.withConf(spark, "spark.sql.shuffle.partitions" -> width.toString) {
      op(graft.streaming.Streams.readEventStream(spark, src, spark.read.parquet(src).schema)).writeStream
        .outputMode(outputMode)
        .format("memory")
        .queryName(qn)
        .option("checkpointLocation", java.nio.file.Files.createTempDirectory(s"${name}_ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    spark.table(qn)
  }

  /** g1's candle feed `(symbol, ts_us, value)`: events with a non-null
    * value, one row per (symbol, ts_us). ts_us is micros truncated from
    * nanos, so two events can share the key; the max event_id wins,
    * a total pick both engines can state. Agg form (max_by): the
    * map-side combine beats the window form's full sort.
    */
  def candleFeed(spark: SparkSession, dir: String): DataFrame =
    Relational
      .latestPerKeyAgg(
        Tables
          .events(spark, dir)
          .select(col("user_id").cast("string").as("symbol"), col("ts_us"), col("value"), col("event_id"))
          .filter(col("value").isNotNull),
        Seq("symbol", "ts_us"),
        col("event_id"),
        Seq("value")
      )
      .select("symbol", "ts_us", "value")

  /** b1's two backtest sides over `(symbol, time_us, close)`:
    *  - pricing: one row per (symbol, time_us), max event_id wins. Null
    *    closes drop BEFORE the dedup ("most recent NON-NULL close": a
    *    null-close duplicate must not shadow a real price), which also
    *    keeps the IsNotNull predicate at the scan. The as-of right side
    *    needs this uniqueness: ASOF ↔ union-window equivalence holds
    *    only for a unique (key, ts) right side.
    *  - bucket candles: the last event per 30-minute bucket by
    *    (time_us, event_id), stamped at the bucket start; nulls are
    *    kept (a null-close keeper shadows the bucket's earlier events).
    * Both dedups are the agg form: event_id is unique, so the pick is
    * total, and the bucket keys give the map-side combine real
    * reduction.
    */
  def backtestSides(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val events = Tables
      .events(spark, dir)
      .select(col("user_id").cast("string").as("symbol"), col("ts_us").as("time_us"), col("value").as("close"), col("event_id"))
    val pricing = Relational
      .latestPerKeyAgg(events.filter(col("close").isNotNull), Seq("symbol", "time_us"), col("event_id"), Seq("close"))
      .select("symbol", "time_us", "close")
    val candles = Relational
      .latestPerKeyAgg(
        events.withColumn("bucket_us", expr("(time_us div 1800000000) * 1800000000")),
        Seq("symbol", "bucket_us"),
        struct(col("time_us"), col("event_id")),
        Seq("close")
      )
      .select(col("symbol"), col("bucket_us").as("time_us"), col("close"))
    (pricing, candles)
  }
}
