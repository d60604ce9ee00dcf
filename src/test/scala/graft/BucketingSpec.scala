package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.io.{Bucketing, Tables}

/** Bucketed co-located joins: after the one-time bucketed write, an
  * equi-join on the bucket key plans with ZERO shuffle exchanges even
  * with broadcast disabled — the property that makes repeated
  * fact-to-fact joins viable at 100 TB.
  */
class BucketingSpec extends SparkSpec {

  test("join of two tables bucketed on the key runs with no Exchange") {
    val base = Files.createTempDirectory("graft_bucketed").toString
    val o = Tables.orders(spark, sf001).select("o_orderkey", "o_totalprice", "o_orderstatus")
    val l = Tables.lineitem(spark, sf001).select("l_orderkey", "l_quantity")
    Bucketing.writeBucketed(o, "b_orders", s"$base/o", "o_orderkey", 8)
    Bucketing.writeBucketed(l.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem", s"$base/l", "o_orderkey", 8)

    // force a real join strategy
    try Sessions.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // AQE wraps the physical plan, so count exchanges in the explain
      // text (the initial plan shows them before adaptive execution).
      // Match the partitioning spec, not tree-prefix art: nested left
      // branches render as ':  +- Exchange ...' and a prefix-anchored
      // pattern would miss them (and must not count BroadcastExchange)
      def nExchanges(df: org.apache.spark.sql.DataFrame): Int =
        "Exchange (hashpartitioning|rangepartitioning|SinglePartition)".r
          .findAllIn(df.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode))
          .length
      val joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        .groupBy("o_orderstatus")
        .agg(sum("l_quantity").as("qty"))
      // count BEFORE execution — AQE rewrites the plan after collect()
      val bucketedExchanges = nExchanges(joined)
      // the join itself must be shuffle-free; the only allowed exchange
      // is the final aggregation on o_orderstatus
      assert(bucketedExchanges <= 1, s"expected co-located join, got:\n${joined.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)}")
      assert(joined.collect().nonEmpty)

      // sanity: same join WITHOUT bucketing plans at least one more exchange
      val unbucketed = o.join(l.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey")
        .groupBy("o_orderstatus").agg(sum("l_quantity").as("qty"))
      assert(nExchanges(unbucketed) > bucketedExchanges)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }
}
