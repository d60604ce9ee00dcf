package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streams
import graft.streaming.Streams.CandleIn

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def eventCandles() =
    graft.io.Tables
      .events(spark, sf0001)
      .select(col("user_id").cast("string").as("symbol"), col("ts_us").as("timeUs"), col("value").as("close"))
      .as[CandleIn]

  test("streaming signal engine == batch fold, across micro-batch boundaries") {
    implicit val ctx = spark.sqlContext
    val all = eventCandles().collect().sortBy(c => (c.symbol, c.timeUs))
    // split by time so most symbols span multiple micro-batches
    val cut = all.map(_.timeUs).sorted.apply(all.length / 2)
    val (b1, b2) = all.partition(_.timeUs < cut)

    val input = MemoryStream[CandleIn]
    val q = Streams
      .detectSignalsStream(input.toDS())
      .writeStream
      .format("memory")
      .queryName("sigs")
      .outputMode("append")
      .start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark
      .table("sigs")
      .select("symbol", "time_us", "signal_type", "direction", "trigger", "close_price")
      .as[(String, Long, String, String, String, Double)]
      .collect()
      .toSet

    val batch = graft.signals.HullMacd
      .detectSignals(
        eventCandles().toDF().withColumnRenamed("timeUs", "ts_us").withColumnRenamed("close", "value"),
        "symbol",
        "ts_us",
        "value"
      )
      .select("symbol", "time_us", "signal_type", "direction", "trigger", "close_price")
      .as[(String, Long, String, String, String, Double)]
      .collect()
      .toSet

    assert(streamed == batch, s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    assert(batch.nonEmpty)
  }

  test("W5 warm start: batch-seeded stream == pure-batch fold over the concatenated series") {
    implicit val ctx = spark.sqlContext
    val all = eventCandles().collect().sortBy(c => (c.symbol, c.timeUs))
    val cut = all.map(_.timeUs).sorted.apply(all.length / 2)
    val (history, live) = all.partition(_.timeUs < cut)

    // seed state from batch history, then stream ONLY the live half
    val seed = Streams.seedIndicatorState(history.toSeq.toDS())
    val input = MemoryStream[CandleIn]
    val q = Streams
      .detectSignalsStream(input.toDS(), initialState = Some(seed))
      .writeStream
      .format("memory")
      .queryName("sigs_seeded")
      .outputMode("append")
      .start()
    try {
      // two micro-batches so state also carries across the live half
      val liveCut = live.map(_.timeUs).sorted.apply(live.length / 2)
      val (l1, l2) = live.partition(_.timeUs < liveCut)
      input.addData(l1.toSeq); q.processAllAvailable()
      input.addData(l2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark
      .table("sigs_seeded")
      .select("symbol", "time_us", "signal_type", "direction", "trigger", "close_price")
      .as[(String, Long, String, String, String, Double)]
      .collect()
      .toSet

    // ground truth: the full-series batch fold, scored only in the live range
    val batch = graft.signals.HullMacd
      .detectSignals(
        eventCandles().toDF().withColumnRenamed("timeUs", "ts_us").withColumnRenamed("close", "value"),
        "symbol", "ts_us", "value"
      )
      .select("symbol", "time_us", "signal_type", "direction", "trigger", "close_price")
      .as[(String, Long, String, String, String, Double)]
      .collect()
      .filter(_._2 >= cut)
      .toSet

    assert(streamed == batch, s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    assert(batch.nonEmpty, "live range produced no signals — cut landed badly")
  }

  test("warm-start seeding folds an OVERSIZED shuffled history identically to a sequential fold") {
    // far beyond any warmup window (5k candles/symbol) and deliberately
    // shuffled: the streamed-iterator seeding path must sort per key and
    // produce the exact state a sequential fold would, regardless of
    // input order or partitioning.
    val syms = Seq("AAA", "BB", "C")
    val candles = for {
      s <- syms
      i <- 0 until 5000
    } yield CandleIn(s, 1000000L * i + 17, 50.0 + 40.0 * math.sin(i * 0.05 + s.length) + (i % 7) * 0.13)
    val shuffled = new scala.util.Random(11).shuffle(candles)

    val seeded = Streams
      .seedIndicatorState(shuffled.toDS().repartition(8))
      .flatMapGroups((sym, states) => states.map(sym -> _))
      .collect()
      .toMap

    val expected = syms.map { s =>
      var st = Streams.emptyIndicatorState
      candles.filter(_.symbol == s).sortBy(_.timeUs).foreach { c =>
        st = Streams.stepIndicator(st, c, 20, 12, 26, 9)._1
      }
      s -> st
    }.toMap

    assert(seeded.keySet == expected.keySet)
    syms.foreach(s => assert(seeded(s) == expected(s), s"state mismatch for $s"))
  }

  /** transformWithState needs the RocksDB state store (multiple column
    * families); the default HDFS-backed provider can't host it.
    */
  private def onRocksDb[T](body: => T): T =
    Sessions.withConf(
      spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  test("transformWithState twin emits the same signals as flatMapGroupsWithState") {
    implicit val ctx = spark.sqlContext
    onRocksDb {
      val all = eventCandles().filter(col("symbol") < "2").collect().sortBy(c => (c.symbol, c.timeUs))
      val cut = all.map(_.timeUs).sorted.apply(all.length / 2)
      val (b1, b2) = all.partition(_.timeUs < cut)
      val input = MemoryStream[CandleIn]
      val q = Streams
        .detectSignalsTransformWithState(input.toDS())
        .writeStream
        .format("memory")
        .queryName("sigs_tws")
        .outputMode("append")
        .start()
      try {
        input.addData(b1.toSeq); q.processAllAvailable()
        input.addData(b2.toSeq); q.processAllAvailable()
      } finally q.stop()
      val tws = spark
        .table("sigs_tws")
        .select("symbol", "time_us", "signal_type", "direction", "trigger")
        .as[(String, Long, String, String, String)]
        .collect()
        .toSet
      val batch = graft.signals.HullMacd
        .detectSignals(
          eventCandles().filter(col("symbol") < "2").toDF()
            .withColumnRenamed("timeUs", "ts_us").withColumnRenamed("close", "value"),
          "symbol", "ts_us", "value"
        )
        .select("symbol", "time_us", "signal_type", "direction", "trigger")
        .as[(String, Long, String, String, String)]
        .collect()
        .toSet
      assert(tws == batch)
    }
  }

  test("transformWithState indicator series (warm-started) == flatMapGroupsWithState twin, bit-exact") {
    implicit val ctx = spark.sqlContext
    onRocksDb {
      val all = eventCandles().filter(col("symbol") < "3").collect().sortBy(c => (c.symbol, c.timeUs))
      val times = all.map(_.timeUs).sorted
      val (histCut, cut) = (times(all.length / 4), times(all.length / 2))
      val history = all.filter(_.timeUs < histCut)
      val (b1, b2) = all.filter(_.timeUs >= histCut).partition(_.timeUs < cut)
      val seeded = Streams.seedIndicatorState(history.toSeq.toDS())

      def run(name: String, mk: org.apache.spark.sql.Dataset[CandleIn] => org.apache.spark.sql.Dataset[Streams.IndicatorOut]) = {
        val input = MemoryStream[CandleIn]
        val q = mk(input.toDS()).writeStream.format("memory").queryName(name).outputMode("append").start()
        try {
          input.addData(b1.toSeq); q.processAllAvailable()
          input.addData(b2.toSeq); q.processAllAvailable()
        } finally q.stop()
        spark.table(name).as[Streams.IndicatorOut].collect().sortBy(o => (o.symbol, o.time_us)).toSeq
      }

      val fmgws = run("ind_fmgws", ds => Streams.indicatorSeriesStream(ds, Some(seeded)))
      val tws = run("ind_tws", ds => Streams.indicatorSeriesTransformWithState(ds, Some(Streams.seedIndicatorState(history.toSeq.toDS()))))
      assert(tws.nonEmpty, "vacuous: no indicator rows emitted")
      assert(tws == fmgws, "the two stateful APIs diverged on the warm-started indicator series")
    }
  }

  test("T9 merged-stream ordering: pricing folds before signal on tied timestamps; == batch backtest") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streams.RankedCandle
    // same construction as BacktestSpec: pricing = raw events, signal =
    // last value per 30-min bucket stamped at BUCKET START — guaranteeing
    // timestamp ties with pricing rows at bucket boundaries
    val rawPricing = graft.io.Tables
      .events(spark, sf0001)
      .select(col("user_id").cast("string").as("symbol"), col("ts_us").as("timeUs"), lit(0).as("rank"), col("value").as("close"))
    val signalCandles = graft.ops.Relational
      .latestPerKey(
        rawPricing.withColumn("bucket_us", expr("(timeUs div 1800000000) * 1800000000")),
        Seq("symbol", "bucket_us"), "timeUs", "timeUs"
      )
      .select(col("symbol"), col("bucket_us").as("timeUs"), lit(1).as("rank"), col("close"))
    // inject a pricing tick exactly AT each bucket start — guaranteed
    // timestamp tie with the signal candle; correct behavior folds it first
    val pricing = rawPricing.unionByName(
      signalCandles.select(col("symbol"), col("timeUs"), lit(0).as("rank"), (col("close") + 0.5).as("close"))
    )
    val merged = pricing.unionByName(signalCandles).as[RankedCandle].collect()
      .sortBy(c => (c.symbol, c.timeUs, c.rank))
    assert(merged.groupBy(c => (c.symbol, c.timeUs)).exists(_._2.length > 1), "no timestamp ties — test is vacuous")

    val cut = merged.map(_.timeUs).sorted.apply(merged.length / 2)
    val (b1, b2) = merged.partition(_.timeUs < cut)
    val input = MemoryStream[RankedCandle]
    val q = Streams
      .backtestStream(input.toDS(), hullLength = 8, fast = 4, slow = 8, signalLen = 3)
      .writeStream.format("memory").queryName("bt_stream").outputMode("append").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("bt_stream")
      .select("symbol", "time_us", "signal_type", "direction", "entry_price")
      .as[(String, Long, String, String, Option[Double])].collect().toSet

    val batch = graft.backtest.Backtest
      .run(
        signalCandles.select(col("symbol"), col("timeUs").as("time_us"), col("close")),
        pricing.select(col("symbol"), col("timeUs").as("time_us"), col("close")),
        hullLength = 8, fast = 4, slow = 8, signalLen = 3
      )
      .select("symbol", "time_us", "signal_type", "direction", "entry_price")
      .as[(String, Long, String, String, Option[Double])].collect().toSet

    assert(streamed == batch, s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    assert(batch.nonEmpty)
  }

  test("W5 warm start on transformWithState: seeded processor == pure-batch fold") {
    implicit val ctx = spark.sqlContext
    onRocksDb {
      val all = eventCandles().filter(col("symbol") < "3").collect().sortBy(c => (c.symbol, c.timeUs))
      val cut = all.map(_.timeUs).sorted.apply(all.length / 2)
      val (history, live) = all.partition(_.timeUs < cut)
      val seed = Streams.seedIndicatorState(history.toSeq.toDS())
      val input = MemoryStream[CandleIn]
      val q = Streams
        .detectSignalsTransformWithState(input.toDS(), Some(seed))
        .writeStream.format("memory").queryName("sigs_tws_seeded").outputMode("append").start()
      try {
        input.addData(live.toSeq); q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.table("sigs_tws_seeded")
        .select("symbol", "time_us", "signal_type", "direction", "trigger")
        .as[(String, Long, String, String, String)].collect().toSet
      val batch = graft.signals.HullMacd
        .detectSignals(
          eventCandles().filter(col("symbol") < "3").toDF()
            .withColumnRenamed("timeUs", "ts_us").withColumnRenamed("close", "value"),
          "symbol", "ts_us", "value"
        )
        .select("symbol", "time_us", "signal_type", "direction", "trigger")
        .as[(String, Long, String, String, String)].collect()
        .filter(_._2 >= cut).toSet
      assert(streamed == batch, s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
      assert(batch.nonEmpty)
    }
  }

  test("streaming latest-per-key (complete mode) matches batch max_by") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp, Double)]
    val df = input.toDS().toDF("k", "ts", "value")
    val q = Streams
      .latestPerKey(df, "k", "ts", "10 minutes", Seq("value"))
      .writeStream
      .format("memory")
      .queryName("latest")
      .outputMode("complete")
      .start()
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    try {
      input.addData(("a", t(10), 1.0), ("a", t(20), 2.0), ("b", t(5), 9.0))
      q.processAllAvailable()
      input.addData(("a", t(30), 3.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("latest").select("k", "value").as[(String, Double)].collect().toMap
    assert(out == Map("a" -> 3.0, "b" -> 9.0))
  }

  test("T7 snapshot completion fires exactly once per registered symbol, ignores re-delivery") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streams.FlaggedEvent
    val input = MemoryStream[FlaggedEvent]
    val q = Streams
      .snapshotCompletions(input.toDS(), registered = Set("AAPL{=d}", "SPY{=d}"))
      .writeStream.format("memory").queryName("completions").outputMode("append").start()
    try {
      // AAPL: plain events then SNAPSHOT_END; unregistered symbol flagged too
      input.addData(
        FlaggedEvent("AAPL{=d}", 10L, 0x04), // SNAPSHOT_BEGIN — not completion
        FlaggedEvent("AAPL{=d}", 20L, 0x08), // SNAPSHOT_END → fire
        FlaggedEvent("MSFT{=d}", 30L, 0x08)  // unregistered — ignored
      )
      q.processAllAvailable()
      // re-delivered END must NOT re-fire; SPY completes via SNIP
      input.addData(
        FlaggedEvent("AAPL{=d}", 40L, 0x08),
        FlaggedEvent("SPY{=d}", 50L, 0x10) // SNAPSHOT_SNIP also signals end
      )
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("completions").as[(String, Long)].collect().toSet
    assert(out == Set(("AAPL{=d}", 20L), ("SPY{=d}", 50L)))
  }

  test("W10 row-cap retention: per-key state never exceeds the cap across batches") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[CandleIn]
    val q = Streams
      .rowCapStream(input.toDS(), cap = 3)
      .writeStream.format("memory").queryName("rowcap").outputMode("append").start()
    try {
      input.addData((1 to 5).map(i => CandleIn("A", i.toLong, i.toDouble)))
      q.processAllAvailable()
      input.addData((6 to 8).map(i => CandleIn("A", i.toLong, i.toDouble)))
      q.processAllAvailable()
    } finally q.stop()
    val reports = spark.table("rowcap").as[(String, Int, Long, Long)].collect()
    assert(reports.forall(_._2 <= 3))
    // after 8 rows the retained window is exactly the newest 3: [6, 8]
    val last = reports.maxBy(_._4)
    assert(last == (("A", 3, 6L, 8L)))
  }

  test("T8 self-heal: a NEW query restarted from the checkpoint resumes state, no dupes or gaps") {
    import java.nio.file.Files
    val src = Files.createTempDirectory("t8_src").toString
    val out = Files.createTempDirectory("t8_out").toString
    val ckpt = Files.createTempDirectory("t8_ckpt").toString

    val all = eventCandles().collect().sortBy(c => (c.symbol, c.timeUs))
    val cut = all.map(_.timeUs).sorted.apply(all.length / 2)
    val (b1, b2) = all.partition(_.timeUs < cut)

    // each run is a FRESH streaming query object — state survives only
    // through the checkpoint, which is exactly the reconnect story
    def runOnce(): Unit = {
      val ds = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[CandleIn]].schema)
        .parquet(src)
        .as[CandleIn]
      val q = Streams
        .detectSignalsStream(ds)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    b1.toSeq.toDS().write.mode("append").parquet(src)
    runOnce() // first life: consumes b1, checkpoints indicator state
    b2.toSeq.toDS().write.mode("append").parquet(src)
    runOnce() // second life: must resume AFTER b1 with recovered state

    val streamed = spark.read.parquet(out)
      .select("symbol", "time_us", "signal_type", "direction", "trigger", "close_price")
      .as[(String, Long, String, String, String, Double)].collect()
    val batch = graft.signals.HullMacd
      .detectSignals(
        eventCandles().toDF().withColumnRenamed("timeUs", "ts_us").withColumnRenamed("close", "value"),
        "symbol", "ts_us", "value"
      )
      .select("symbol", "time_us", "signal_type", "direction", "trigger", "close_price")
      .as[(String, Long, String, String, String, Double)].collect()
    assert(streamed.length == streamed.toSet.size, "restart re-emitted signals (dupes)")
    assert(streamed.toSet == batch.toSet, s"missing=${(batch.toSet -- streamed.toSet).take(3)} extra=${(streamed.toSet -- batch.toSet).take(3)}")
    assert(batch.nonEmpty)
  }

  test("T3 tumbling windows: aggregates per window, watermark drops late rows (append mode)") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp, Double)]
    val df = input.toDS().toDF("k", "ts", "value")
    val q = Streams
      .windowedAgg(df, "ts", "10 seconds", "1 minute", Seq("k"))
      .writeStream.format("memory").queryName("windows").outputMode("append").start()
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    try {
      // first minute fills window [60,120); the watermark advances with
      // the max seen event time
      input.addData(("a", t(70), 1.0), ("a", t(80), 2.0))
      q.processAllAvailable()
      // jump far ahead: watermark passes [60,120) so it finalizes + emits
      input.addData(("a", t(400), 5.0))
      q.processAllAvailable()
      // a row 5+ minutes late, inside the long-closed window: dropped
      input.addData(("a", t(75), 100.0))
      q.processAllAvailable()
      // close the second window too so its row emits
      input.addData(("a", t(800), 7.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("windows")
      .selectExpr("k", "window.start", "n", "sum_value")
      .as[(String, java.sql.Timestamp, Long, Double)].collect()
      .map { case (k, start, n, s) => (k, start.getTime / 1000, n, s) }.toSet
    // the late 100.0 must NOT appear in the [60,120) aggregate
    assert(out.contains(("a", 60L, 2L, 3.0)), s"got $out")
    assert(out.contains(("a", 360L, 1L, 5.0)), s"got $out")
  }

  test("stateful dedup drops repeated ids across micro-batches") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val df = input.toDS().toDF("fill_id", "ts", "value")
    val q = Streams
      .dedupByIds(df, "ts", "1 hour", Seq("fill_id"))
      .writeStream
      .format("memory")
      .queryName("fills")
      .outputMode("append")
      .start()
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    try {
      input.addData((1L, t(10), 1.0), (2L, t(11), 2.0))
      q.processAllAvailable()
      // duplicate fill 1 RE-DELIVERED WITH A DIFFERENT TIMESTAMP — still
      // the same fill; id-only dedup must drop it
      input.addData((1L, t(15), 1.0), (3L, t(12), 3.0))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("fills").count() == 3)
  }

  test("adaptiveStateWidth: derived from source bytes, clamped to [min(8,w), w], conf restored") {
    val dir = java.nio.file.Files.createTempDirectory("asw").toString
    Seq(1, 2, 3).toDF("x").coalesce(1).write.mode("overwrite").parquet(dir)
    val confBefore = spark.conf.getAll
    def width(sessionWidth: Int, dirs: String*) =
      Sessions.withConf(spark, "spark.sql.shuffle.partitions" -> sessionWidth.toString) {
        Streams.adaptiveStateWidth(spark, dirs)
      }
    // tiny source, large advisory: floor wins (min(8, sessionWidth))
    assert(width(32, dir) == 8)
    assert(width(4, dir) == 4) // session narrower than the floor: width = session
    // advisory smaller than the source: derived grows but never past the session width
    Sessions.withConf(spark, "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1b") {
      assert(width(32, dir) == 32)
    }
    // missing dir counts as zero bytes, not an error
    assert(width(32, s"$dir/_nope") == 8)
    assert(spark.conf.getAll == confBefore)
  }
}
