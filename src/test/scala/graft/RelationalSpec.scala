package graft

import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.ops.Relational

class RelationalSpec extends SparkSpec {

  test("all registered queries run and have stable schemas") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val confBefore = spark.conf.getAll
      val df = fn(spark, sf0001)
      assert(df.columns.nonEmpty, name)
      assert(df.count() >= 0, name)
      // session conf never escapes the query that set it
      val confAfter = spark.conf.getAll
      assert(confAfter == confBefore,
        s"$name changed session conf: ${(confAfter.toSet diff confBefore.toSet) ++ (confBefore.toSet diff confAfter.toSet)}")
    }
  }

  test("withConf restores a set key and unsets an unset key, also when the body throws") {
    val (setKey, unsetKey) = ("spark.sql.shuffle.partitions", "spark.sql.files.maxRecordsPerFile")
    Sessions.withConf(spark, setKey -> "17") {
      assert(!spark.conf.getAll.contains(unsetKey), "premise: the unset key is set")
      val before = spark.conf.getAll
      def run(body: => Unit): Unit =
        Sessions.withConf(spark, setKey -> "3", unsetKey -> "5") {
          assert(spark.conf.get(setKey) == "3" && spark.conf.get(unsetKey) == "5")
          body
        }
      run(())
      assert(spark.conf.getAll == before)
      intercept[RuntimeException](run(throw new RuntimeException("boom")))
      assert(spark.conf.get(setKey) == "17")
      assert(!spark.conf.getAll.contains(unsetKey))
      assert(spark.conf.getAll == before)
    }
  }

  test("every query has an oracle (static or fitted) or is explicitly oracle-free") {
    val missing =
      SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- SparkEntry.fittedOracleNames
    // Oracle-free queries get a weaker rows-only check from the driver;
    // keep this list tight and intentional.
    assert(missing.forall(SparkEntry.oracleFree.contains), s"missing oracles: $missing")
    // and the three sets are disjoint — a name in two would let a stale
    // static entry shadow the fitted rendering (or vice versa)
    assert((SparkEntry.oracleSql.keySet & SparkEntry.fittedOracleNames).isEmpty)
    assert((SparkEntry.oracleSql.keySet & SparkEntry.oracleFree).isEmpty)
    assert((SparkEntry.fittedOracleNames & SparkEntry.oracleFree).isEmpty)
    // and the declared fitted names are exactly what the dump renders —
    // a name in the set without a rendered entry would pass coverage
    // here while Verify silently dumps no oracle for it
    assert(SparkEntry.oracleSqlFitted(spark, sf0001).keySet == SparkEntry.fittedOracleNames)
  }

  test("latestPerKey keeps exactly one row per key, the max-order one") {
    val ev = Tables.events(spark, sf0001)
    val latest = Relational.latestPerKey(ev, Seq("user_id"), "ts_us", "event_id")
    assert(latest.groupBy("user_id").count().filter(col("count") > 1).count() == 0)
    val users = ev.select("user_id").distinct().count()
    assert(latest.count() == users)
    // the kept ts is the max ts per user
    val maxTs = ev.groupBy("user_id").agg(max("ts_us").as("m"))
    val joined = latest.join(maxTs, "user_id").filter(col("ts_us") =!= col("m"))
    assert(joined.count() == 0)
  }

  test("latestPerKeyAgg single-value fast path matches the struct form exactly") {
    import spark.implicits._
    // pins the MaxMinBy semantics the hash-aggregable fast path relies
    // on: a NULL value at the max ordering is KEPT (not skipped), rows
    // with a NULL ordering are skipped, and an all-null-ordering group
    // yields a null value — identical to max_by(struct(v), o).value
    val df = Seq(
      ("a", 1L, Some(10.0)),
      ("a", 3L, None),          // max ordering carries a null value → kept as null
      ("a", 2L, Some(20.0)),
      ("b", 5L, Some(1.0)),
      ("b", 6L, Some(2.0)),     // plain max
      ("d", 9L, Some(7.0))
    ).toDF("k", "o", "v")
      .unionByName(Seq(("c", Option.empty[Long], Some(3.0))).toDF("k", "o", "v")) // all-null ordering group
    val fast = Relational.latestPerKeyAgg(df, Seq("k"), col("o"), Seq("v"))
    val structForm = df
      .groupBy(col("k"))
      .agg(max_by(struct(col("v")), col("o")).as("__latest"))
      .select(col("k"), col("__latest.v").as("v"))
    val f = fast.collect().map(r => (r.getString(0), Option(r.get(1)))).toSet
    val s = structForm.collect().map(r => (r.getString(0), Option(r.get(1)))).toSet
    assert(f == s)
    assert(f == Set(("a", None), ("b", Some(2.0)), ("c", None), ("d", Some(7.0))))
    // and the fast path really is hash-aggregable: no SortAggregate
    val plan = fast.queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"), plan)
  }

  test("asOfJoin picks most recent right value at or before left time") {
    import spark.implicits._
    val right = Seq(
      ("a", 10L, 1.0), ("a", 20L, 2.0), ("a", 30L, 3.0),
      ("b", 15L, 9.0)
    ).toDF("k", "t", "v")
    val left = Seq(("a", 5L), ("a", 20L), ("a", 25L), ("b", 100L)).toDF("k", "lt")
    val out = Relational
      .asOfJoin(left.withColumn("t", col("lt")), right, "k", "t", "t", Seq("v"))
      .select("k", "lt", "v")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.get(2))))
      .toSet
    assert(out == Set(
      ("a", 5L, None),          // no right row yet
      ("a", 20L, Some(2.0)),    // ties: right row at same t wins (<=)
      ("a", 25L, Some(2.0)),
      ("b", 100L, Some(9.0))
    ))
  }

  test("forwardFillGrid emits only gap rows, carrying last value") {
    import spark.implicits._
    val obs = Seq(("a", 0L, 1.0), ("a", 30L, 4.0)).toDF("k", "b", "v")
    val out = Relational
      .forwardFillGrid(obs, "k", "b", 10L, Seq("v"))
      .select("k", "b", "v")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(out == Set(("a", 10L, 1.0), ("a", 20L, 1.0)))
  }

  test("forwardFillGrid reference scenarios (unit_tests/utils/test_time_series.py:105-157)") {
    import spark.implicits._
    def us(min: Int): Long = java.time.Instant.parse("2026-01-01T10:00:00Z").toEpochMilli * 1000L + min * 60_000_000L
    // consecutive gaps @10m between 10:00=50.0 and 10:30=60.0: the two
    // missing candles both carry 50.0 forward
    val gaps = Relational
      .forwardFillGrid(Seq(("S", us(0), 50.0), ("S", us(30), 60.0)).toDF("k", "b", "v"), "k", "b", 600_000_000L, Seq("v"))
      .select("b", "v").as[(Long, Double)].collect().toSet
    assert(gaps == Set((us(10), 50.0), (us(20), 50.0)))
    // complete series @5m: nothing to fill
    val none = Relational
      .forwardFillGrid(
        Seq(("S", us(0), 100.0), ("S", us(5), 101.0), ("S", us(10), 102.0)).toDF("k", "b", "v"),
        "k", "b", 300_000_000L, Seq("v")
      )
    assert(none.count() == 0)
  }

  test("saltedSumCount equals the direct aggregation on a skewed key") {
    val li = graft.io.Tables.lineitem(spark, sf0001)
    val salted = Relational
      .saltedSumCount(li, Seq("l_returnflag"), "l_quantity", 16)
      .collect()
      .map(r => r.getString(0) -> (math.rint(r.getDouble(1) * 100) / 100, r.getLong(2)))
      .toMap
    val direct = li
      .groupBy("l_returnflag")
      .agg(sum("l_quantity").as("s"), count(lit(1)).as("n"))
      .collect()
      .map(r => r.getString(0) -> (math.rint(r.getDouble(1) * 100) / 100, r.getLong(2)))
      .toMap
    assert(salted == direct)
  }

  test("observe metrics surface row counts after an action") {
    val ev = graft.io.Tables.events(spark, sf0001)
    val observed = Relational.withRowMetrics(ev, "ingest", "value")
    observed.write.format("noop").mode("overwrite").save()
    // metrics are attached to the plan; presence of the observe node is
    // the contract (values are read via QueryExecutionListener in prod)
    assert(observed.queryExecution.analyzed.toString.contains("ingest"))
  }

  test("asOfJoin with no matching right rows yields nulls, not dropped rows") {
    import spark.implicits._
    val left = Seq(("a", 10L)).toDF("k", "t")
    val right = Seq(("b", 5L, 1.0)).toDF("k", "t", "v")
    val out = Relational.asOfJoin(left, right, "k", "t", "t", Seq("v")).collect()
    assert(out.length == 1 && out.head.isNullAt(out.head.fieldIndex("v")))
  }

  test("forwardFillGrid with a single observation emits nothing") {
    import spark.implicits._
    val obs = Seq(("a", 0L, 1.0)).toDF("k", "b", "v")
    assert(Relational.forwardFillGrid(obs, "k", "b", 10L, Seq("v")).count() == 0)
  }

  test("nearestKey resolves ties toward the smaller key") {
    import spark.implicits._
    val targets = Seq(10, 25).toDF("target")
    val avail = Seq(5, 15, 35).toDF("k")
    val out = Relational
      .nearestKey(targets, "target", avail, "k")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)))
      .toSet
    // 10 is equidistant from 5 and 15 -> 5; 25 equidistant from 15 and 35 -> 15
    assert(out == Set((10, 5), (25, 15)))
  }
}
