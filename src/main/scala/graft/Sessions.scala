package graft

import org.apache.spark.sql.SparkSession

/** Centralized SparkSession construction so every entry point (Verify,
  * Bench, ScalaTest suites) shares the exact same session semantics.
  *
  * Two settings are load-bearing for correctness against the driver's
  * DuckDB oracle:
  *
  *   - `spark.sql.session.timeZone=UTC` — the reference stores naive-UTC
  *     timestamps (see reference `charting/server.py:36-60`); all oracle
  *     comparisons assume UTC.
  *   - `spark.sql.legacy.parquet.nanosAsLong=true` — earlier testdata
  *     generations stored `events.ts` as parquet INT64 TIMESTAMP(NANOS),
  *     which Spark 4.1 otherwise rejects with [PARQUET_TYPE_ILLEGAL];
  *     with the flag such files read as BIGINT epoch-nanoseconds. The
  *     round-6 regeneration switched to TIMESTAMP(MICROS) (flag then a
  *     no-op); [[graft.io.Tables.events]] schema-dispatches on whichever
  *     encoding it finds, so keeping the flag covers both generations.
  *
  * Shuffle partitions are sized for local[N] (match cores, not the 200
  * default); on a real cluster this would be driven by AQE +
  * `spark.sql.adaptive.coalescePartitions`, which we also enable.
  */
object Sessions {

  def builder(master: String, cores: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Every Generate in this library explodes a COMPUTED array
      // (window fingerprints, chunk lists, LSH buckets, wire frames).
      // InferFiltersFromGenerate duplicates the generator child into a
      // `size(e) > 0 AND isnotnull(e)` scan filter, re-evaluating the
      // whole array expression per row for the rare privilege of
      // skipping empty-array rows — measured 2× on the dup-span
      // operators at sf0.1. For attribute children (where the rule is
      // free) our explodes gain nothing: empty arrays are rare and
      // cheap to drop at the Generate itself.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")

  /** Standard local session: `local[cores]` with matching shuffle width.
    * Registers graft's native Catalyst expressions. Deliberately does
    * NOT inject [[GraftExtensions]]' Jaccard length-pruning rule: the
    * curated pipelines here already length-block before their jaccard
    * filters, so the guard is measured pure overhead (~15% on d4); the
    * rule exists for ad-hoc SQL sessions that filter on a bare
    * `graft_sorted_jaccard(a,b) >= t`.
    */
  def local(cores: Int = 32): SparkSession = {
    val spark = builder(s"local[$cores]", cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.expressions.DotProduct.register(spark)
    graft.expressions.SortedJaccard.register(spark)
    graft.expressions.Simhash60.register(spark)
    graft.expressions.ShingleHashes.register(spark)
    spark
  }

  /** Run `body` with each `key -> value` set on the session. On exit,
    * normal or exceptional, every key gets back the value it had
    * before, or is unset again if it was not set (a key that only had
    * a default stays unset, so `spark.conf.getAll` is unchanged).
    * Session conf set this way cannot outlive the code that set it.
    */
  def withConf[T](spark: SparkSession, pairs: (String, String)*)(body: => T): T = {
    val set = spark.conf.getAll // explicitly set keys only, no defaults
    val prior = pairs.map { case (k, _) => k -> set.get(k) }
    try {
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prior.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
