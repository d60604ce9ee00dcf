package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.{Replay, Sessions}

import graft.queries.SignalQueries.{b1Sql, signalEngineCtes}
import graft.queries.Oracle.Sql
import graft.queries.Scratch.{indexScratch, seedOnce, tableStamp}

/** Stream carriers: each runs a real Structured Streaming query over
  * replayed arrival files ([[graft.Replay]]) and returns its end state,
  * which the oracle states relationally over the whole input. Seeded
  * inputs live in shared scratch ([[Scratch.seedOnce]]) keyed by a stamp
  * of the source table; stream plumbing (source dir, checkpoint, sink)
  * is fresh per invocation, and a replay converges to the same end
  * state. The latest-value table end states (s5, s5b) sit here too: t2
  * reaches s5's end state through the stream entry point.
  */
object StreamQueries {

  /** S5 at lake scale — the incremental latest-value table END-STATE
    * (see [[graft.io.LatestUpsert]]): seed the bucket-partitioned
    * artifact with the event_id%3==0 events, then merge the %3==1 and
    * %3==2 batches IN ORDER with bucket-pruned rewrites, and read the
    * final table. The merge is row-level idempotent (max is
    * associative/commutative/idempotent), so the end state equals the
    * one-shot latest-per-key over ALL events — which is a1's contract,
    * so this query's oracle is a1's SQL verbatim (the d13/d14 end-state
    * technique, with the sequential gate replaced by an order-free
    * merge the oracle can state directly). Scratch: seed shared across
    * runs on unchanged testdata ([[Scratch.seedOnce]]); the two
    * upserts re-run every time and idempotence keeps the end state
    * identical (LatestUpsertSpec replay test).
    */
  def s5LatestUpsert(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(spark, dir)
      .select("user_id", "event_id", "ts_us", "event_type", "value")
    val root = indexScratch("s5_latest", dir)
    // v3: generation-manifest layout (atomic manifest commits, full
    // pinned schema) — stale v2 rename-swap scratch must re-seed
    val stamp = s"s5 v3 ${tableStamp(spark, s"$dir/events.parquet")}"
    seedOnce(spark, root, stamp) {
      graft.io.LatestUpsert.init(
        spark, root, ev.filter(pmod($"event_id", lit(3)) === 0),
        keyCols = Seq("user_id"), orderCols = Seq("ts_us", "event_id"), buckets = 32)
    }
    graft.io.LatestUpsert.upsert(spark, root, ev.filter(pmod($"event_id", lit(3)) === 1))
    graft.io.LatestUpsert.upsert(spark, root, ev.filter(pmod($"event_id", lit(3)) === 2))
    graft.io.LatestUpsert
      .read(spark, root)
      .select("user_id", "event_id", "ts_us", "event_type", "value")
      .orderBy("user_id")
  }

  /** T2/S5 — the keep-last upsert END-STATE through a REAL stream and
    * the PRODUCTION entry point: two event micro-batches (copied in by
    * [[Replay.copyArrival]]) replayed into
    * [[graft.io.LatestUpsert.start]] — the streaming foreachBatch gate
    * with per-batch self-maintenance on (`maxFilesPerBucket=4`, the
    * deployed configuration) — then the committed lake table read
    * back. s5 pins the same end state through DIRECT upsert calls;
    * this row pins it through the streaming machinery itself
    * (checkpointed foreachBatch, batch boundaries from the file
    * source), so a regression in the stream wiring — not just the
    * merge — flips the hash. The merge is row-level idempotent and
    * batch-order-free (max over a total per-key order), so re-running
    * the stream against the shared scratch table converges to the
    * identical end state (LatestUpsertSpec replay property), and the
    * oracle is the one-shot latest-per-key over all events — a1's SQL
    * verbatim, the reference's late/duplicate-bar resolution contract
    * (`processors/default.py:80-91`: keep-last on the key, no
    * lateness bound).
    */
  def t2StreamLatest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(spark, dir)
      .select("user_id", "event_id", "ts_us", "event_type", "value")
    val root = indexScratch("t2_stream", dir)
    val stamp = s"t2 v1 ${tableStamp(spark, s"$dir/events.parquet")}"
    seedOnce(spark, root, stamp) {
      graft.io.LatestUpsert.init(
        spark, s"$root/table", ev.filter(pmod($"event_id", lit(3)) === 0),
        keyCols = Seq("user_id"), orderCols = Seq("ts_us", "event_id"), buckets = 32)
      (1 to 2).foreach { i =>
        ev.filter(pmod($"event_id", lit(3)) === i)
          .coalesce(1).write.mode("overwrite").parquet(s"$root/b$i")
      }
    }
    // fresh stream plumbing per invocation (the table is shared scratch
    // — replays converge)
    val streamDir = java.nio.file.Files.createTempDirectory("t2src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("t2ckpt").toString
    (1 to 2).foreach(i => Replay.copyArrival(spark, s"$root/b$i", streamDir))
    val src = graft.streaming.Streams.readEventStream(spark, streamDir, spark.read.parquet(s"$root/b1").schema)
    val q = graft.io.LatestUpsert.start(src, s"$root/table", ckpt, maxFilesPerBucket = 4)
    q.processAllAvailable()
    q.stop()
    graft.io.LatestUpsert
      .read(spark, s"$root/table")
      .select("user_id", "event_id", "ts_us", "event_type", "value")
      .orderBy("user_id")
  }

  /** S6 — the time-series history sink END-STATE through the NATIVE
    * parquet file sink ([[graft.io.Sinks.streamHistory]]: partitioned
    * append, `_spark_metadata` commit log), exactly-once pinned ACROSS
    * A RESTART: run 1 streams the first half of events (AvailableNow,
    * clean stop), run 2 resumes from the same checkpoint with the
    * second half added — mis-restored offsets would re-commit run 1's
    * rows and double them (the commit log is what makes the file sink
    * exactly-once; a reader sees only log-committed files). The oracle
    * is the whole events table: every row exactly once, partition
    * round-trip included (`event_type` rides as the partition dir and
    * must come back value-exact). Unlike t8 (foreachBatch, state-store
    * recovery) this pins the NATIVE sink's own transaction log.
    */
  def s6StreamHistory(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(spark, dir)
      .select("event_id", "ts_us", "user_id", "value", "event_type")
    val root = indexScratch("s6_stream", dir)
    val stamp = s"s6 v1 ${tableStamp(spark, s"$dir/events.parquet")}"
    seedOnce(spark, root, stamp) {
      (0 to 1).foreach { i =>
        ev.filter(pmod($"event_id", lit(2)) === i)
          .coalesce(1).write.mode("overwrite").parquet(s"$root/f${i + 1}")
      }
    }
    val streamDir = java.nio.file.Files.createTempDirectory("s6src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("s6ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("s6out").toString + "/history"
    val sch = spark.read.parquet(s"$root/f1").schema
    def runOnce(): Unit = {
      val src = graft.streaming.Streams.readEventStream(spark, streamDir, sch)
      val q = graft.io.Sinks.streamHistory(src, out, ckpt, Seq("event_type")).start()
      q.awaitTermination()
    }
    Replay.copyArrival(spark, s"$root/f1", streamDir)
    runOnce() // run 1: half the history, clean stop
    Replay.copyArrival(spark, s"$root/f2", streamDir)
    runOnce() // run 2: commit-log resume — run 1's files must NOT re-commit
    spark.read.parquet(out)
      .select("event_id", "ts_us", "user_id", "event_type", "value")
      .orderBy("event_id")
  }

  /** S5 CDC — [[graft.io.LatestUpsert.changesBetween]] hash-pinned
    * cross-engine (the spec pins diff ≡ snapshot-compare and the
    * changed-bucket scan pruning; this row pins the emitted rows
    * against DuckDB): a FRESH latest table per invocation (generation
    * numbers must be deterministic — replays against shared scratch
    * converge and would diff empty), seeded with the mod-0 events,
    * upserted with mod-1 (gen 1) then mod-2 (gen 2); the diff of the
    * last two generations is every user whose latest row CHANGED in
    * the second batch. The oracle states it relationally: latest over
    * mod ≤ 1 vs latest over all, left-joined on the key, kept where
    * the winning event differs (event_id is unique, so payload
    * difference ⇔ winner difference). The per-invocation init is the
    * price of generation determinism — bounded by the seed subset,
    * and the diff itself stays ∝ changed buckets (spec-pinned).
    */
  def s5bChangesBetween(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(spark, dir)
      .select("user_id", "event_id", "ts_us", "event_type", "value")
    val root = java.nio.file.Files.createTempDirectory("s5b_changes").toString + "/t"
    graft.io.LatestUpsert.init(
      spark, root, ev.filter(pmod($"event_id", lit(3)) === 0),
      keyCols = Seq("user_id"), orderCols = Seq("ts_us", "event_id"), buckets = 32)
    graft.io.LatestUpsert.upsert(spark, root, ev.filter(pmod($"event_id", lit(3)) === 1))
    graft.io.LatestUpsert.upsert(spark, root, ev.filter(pmod($"event_id", lit(3)) === 2))
    graft.io.LatestUpsert
      .changesBetween(spark, root, 1L, 2L)
      .select("user_id", "event_id", "ts_us", "event_type", "value", "change")
      .orderBy("user_id")
  }

  /** T1/T3/W5 — a REAL Structured Streaming run whose end state is
    * oracle-checked: events split into three arrival files on
    * `event_id mod 3`, replayed as three micro-batches and aggregated
    * into 5-minute event-time candles per user in COMPLETE output mode
    * (reference `processors/default.py:71-75` leading-edge bars;
    * `messages.py:189-203` boundary floor). Complete mode makes
    * the end state equal the one-shot batch aggregate regardless of
    * micro-batch arrival order, which is exactly the contract the
    * DuckDB oracle states relationally. StreamingSpec pins streaming ≡
    * batch bit-parity for windowed aggs; this row hash-pins the SAME
    * semantics against a second engine, end to end through a real
    * stream. The float sum is rounded on both sides (the partial-agg
    * ordering discipline); the window bucket is pure integer division.
    *
    * Scale note: COMPLETE mode is the oracle vehicle, not the 100 TB
    * path — its state is every window ever seen. The production form is
    * watermark + append ([[graft.streaming.Streams.windowedAgg]], W5),
    * whose streaming ≡ batch parity StreamingSpec pins; this query
    * exists to hash-pin the shared window/agg semantics cross-engine.
    */
  def t3StreamCandles(spark: SparkSession, dir: String): DataFrame = {
    val root = indexScratch("t3_stream", dir)
    val src = s"$root/src"
    // v2: arrival mtimes pinned
    val stamp = s"t3 v2 ${tableStamp(spark, s"$dir/events.parquet")}"
    seedOnce(spark, root, stamp) {
      val ev = Tables.events(spark, dir).select($"event_id", $"ts_us", $"user_id", $"value")
      Replay.arrivals(spark, src, (0 to 2).map(i => ev.filter(pmod($"event_id", lit(3L)) === i)))
    }
    Replay
      .toMemory(spark, src, "t3_candles", dir, outputMode = "complete") {
        _.withColumn("bucket_us", expr("(ts_us div 300000000) * 300000000"))
          .groupBy($"user_id", $"bucket_us")
          .agg(
            count("*").as("n"),
            round(sum($"value"), 4).as("sum_v"),
            max($"event_id").as("last_event")
          )
      }
      .orderBy("user_id", "bucket_us")
  }

  /** T3b — the SCALE path's emission semantics hash-pinned: the same
    * event stream as t3, but through watermark + APPEND mode (the
    * [[graft.streaming.Streams.windowedAgg]] form that runs at 100 TB
    * — bounded state, windows emitted once when the watermark closes
    * them, late rows dropped). Determinism construction:
    *
    *  - the three micro-batch files are TIME-ORDERED tertiles (ntile
    *    over (ts_us, event_id)), so no real row is ever late — each
    *    batch's min event time exceeds the previous batch's max, and
    *    the watermark (10 min behind the running max) can never
    *    overtake an unseen row. The no-late-drops contract is thereby
    *    stated BY CONSTRUCTION, and the oracle needs no drop clause.
    *  - a sentinel "flusher" row (user_id = -1) rides at the end of
    *    the LAST file, mid-window two windows past the last real one:
    *    ts = ((max div W) + 2)·W + W/2. The final watermark lands at
    *    (max div W)·W + W/2 — STRICTLY INSIDE the last real window,
    *    150 s from either boundary, so the emitted set is immune to
    *    the engine's ≤-vs-< eviction boundary and to the internal
    *    micros→millis watermark floor. Closed (emitted): every window
    *    strictly before the last real one. Withheld: the last real
    *    window (it has data — a wrong eager emission flips the hash)
    *    and the flusher's own window (a sentinel leak flips it too).
    *  - batch order is the tertile order ([[Replay.arrivals]]).
    *
    * The oracle states the same set relationally: group-by candles
    * over events restricted to buckets strictly before the last one.
    * `spark.sql.streaming.noDataMicroBatches.enabled` (default true)
    * is pinned explicitly — the final no-data batch is what lets the
    * flusher-advanced watermark evict the closed windows under
    * `Trigger.AvailableNow`.
    */
  def t3bStreamCandlesAppend(spark: SparkSession, dir: String): DataFrame = {
    val root = indexScratch("t3b_stream", dir)
    val src = s"$root/src"
    val stamp = s"t3b v1 ${tableStamp(spark, s"$dir/events.parquet")}"
    seedOnce(spark, root, stamp) {
      val ev = Tables.events(spark, dir).select($"event_id", $"ts_us", $"user_id", $"value")
      val maxTs = ev.agg(max($"ts_us")).head().getLong(0)
      val flusherTs = ((maxTs / 300000000L) + 2L) * 300000000L + 150000000L
      val tiled = ev.withColumn(
        "_t",
        ntile(3).over(org.apache.spark.sql.expressions.Window.orderBy($"ts_us", $"event_id")))
      val parts = (1 to 3).map(i => tiled.filter($"_t" === i).drop("_t"))
      val flusher = spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(-1L, flusherTs, -1L, 0.0)), parts.last.schema)
      Replay.arrivals(spark, src, parts.init :+ parts.last.unionByName(flusher))
    }
    Sessions.withConf(spark, "spark.sql.streaming.noDataMicroBatches.enabled" -> "true") {
      Replay.toMemory(spark, src, "t3b_candles", dir) {
        _.withColumn("ts", timestamp_micros($"ts_us"))
          .withWatermark("ts", "10 minutes")
          .groupBy(window($"ts", "5 minutes"), $"user_id")
          .agg(
            count("*").as("n"),
            round(sum($"value"), 4).as("sum_v"),
            max($"event_id").as("last_event")
          )
          .select(
            $"user_id",
            unix_micros($"window.start").as("bucket_us"),
            $"n", $"sum_v", $"last_event")
      }
    }.orderBy("user_id", "bucket_us")
  }

  /** T6 — stateful streaming dedup END-STATE through a real stream
    * (reference `orchestrator.py:339-371` seen-fill_id set; dedup is by
    * ID ALONE, first arrival wins even when payloads differ). Events
    * become three micro-batches (`fill_id = event_id div 3`, batch `i =
    * event_id mod 3` — so a fill can recur ACROSS batches but is unique
    * WITHIN each, which is what makes "first arrival" deterministic
    * under Spark's intra-batch shuffle). Batch order is pinned
    * ([[Replay.arrivals]]). `dropDuplicates("fill_id")` in append mode
    * then emits exactly the earliest batch's row per fill, i.e. the row
    * with `min(event_id)` per div-3 group — which the DuckDB oracle
    * states relationally. The
    * payload column rides along, so a wrong-arrival keeper flips the
    * hash, pinning the ORDERING contract, not just the key set.
    *
    * Scale note: unbounded keys ⇒ the production form is the
    * watermarked [[graft.streaming.Streams.dedupByIds]] (state TTL);
    * this bounded replay exists to hash-pin the keep-first semantics
    * cross-engine.
    */
  def t6StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    val root = indexScratch("t6_stream", dir)
    val src = s"$root/src"
    // v2: arrival mtimes stamped as each batch lands
    val stamp = s"t6 v2 ${tableStamp(spark, s"$dir/events.parquet")}"
    seedOnce(spark, root, stamp) {
      val ev = Tables
        .events(spark, dir)
        .select(
          expr("event_id div 3").as("fill_id"),
          $"event_id",
          $"event_type".as("payload")
        )
      Replay.arrivals(spark, src, (0 to 2).map(i => ev.filter(pmod($"event_id", lit(3L)) === i)))
    }
    Replay
      .toMemory(spark, src, "t6_dedup", dir)(_.dropDuplicates("fill_id"))
      .select($"fill_id", $"event_id", $"payload")
      .orderBy("fill_id")
  }

  /** T8 — checkpoint/resume END-STATE hash-pinned through a REAL
    * stop-and-restart: the stream runs TWICE against the same
    * checkpoint (two `Trigger.AvailableNow` executions — a clean stop
    * after the first, a genuine state-store + offset-log recovery into
    * the second), deduping fills by id with keep-first semantics
    * across the restart boundary.
    *
    * Construction (fill_id = event_id div 2, so every fill has an
    * even and an odd member):
    *  - run 1, file 1: the EVEN member of every even fill; file 2:
    *    the ODD member of those same fills — an in-run duplicate,
    *    dropped by in-memory state (arrival pinned by
    *    [[Replay.copyArrival]], so the even member is always the
    *    keeper);
    *  - run 2, file 3: the odd member of every even fill AGAIN (a
    *    duplicate that can only be dropped if the seen-set was
    *    RESTORED from the checkpoint — broken recovery emits a second
    *    row per even fill and fails the row-count gate) plus the even
    *    member of every odd fill (novel keys after resume, which
    *    broken recovery could also lose — both failure directions
    *    flip the result).
    *
    * The sink is `foreachBatch` appending to a per-invocation scratch
    * dir (the memory sink does not recover from a checkpoint in
    * append mode), so the final table is the union of both runs'
    * emissions. The DuckDB oracle states the end state relationally:
    * arg-min per fill over exactly the replayed subset (all events
    * except the never-delivered odd members of odd fills).
    */
  def t8StreamResume(spark: SparkSession, dir: String): DataFrame = {
    val root = indexScratch("t8_stream", dir)
    val stamp = s"t8 v1 ${tableStamp(spark, s"$dir/events.parquet")}"
    seedOnce(spark, root, stamp) {
      val ev = Tables
        .events(spark, dir)
        .select(expr("event_id div 2").as("fill_id"), $"event_id", $"event_type".as("payload"))
      val even = $"event_id" % 2 === 0
      val evenFill = expr("event_id div 2") % 2 === 0
      Seq(
        ev.filter(even && evenFill),            // f1: keeper rows, run 1
        ev.filter(!even && evenFill),           // f2: in-run duplicates
        ev.filter((even && !evenFill) || (!even && evenFill)) // f3: run 2
      ).zipWithIndex.foreach { case (df, i) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$root/f${i + 1}")
      }
    }
    val streamDir = java.nio.file.Files.createTempDirectory("t8src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("t8ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("t8out").toString + "/rows"
    val sch = spark.read.parquet(s"$root/f1").schema
    def runOnce(): Unit = {
      val q = graft.streaming.Streams
        .readEventStream(spark, streamDir, sch)
        .dropDuplicates("fill_id")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(out)
          ()
        }
        .start()
      q.awaitTermination()
    }
    Replay.copyArrival(spark, s"$root/f1", streamDir)
    Replay.copyArrival(spark, s"$root/f2", streamDir)
    // both runs under one width: the checkpoint pins the state width at
    // first start
    val width = graft.streaming.Streams.adaptiveStateWidth(spark, Seq(streamDir))
    Sessions.withConf(spark, "spark.sql.shuffle.partitions" -> width.toString) {
      runOnce() // run 1: two micro-batches, clean stop
      Replay.copyArrival(spark, s"$root/f3", streamDir)
      runOnce() // run 2: recovery from the checkpoint — state restored
    }
    spark.read.parquet(out).orderBy("fill_id")
  }

  /** T5/W5 — the FLAGSHIP signal engine through a REAL stream: g1's
    * deduped candle feed replayed as three TIME-ORDERED tertile
    * micro-batches (global ntile over (ts_us, symbol), mtime-pinned
    * arrival — cross-batch order is the file source's contract, and
    * the tertile split guarantees every symbol's candles arrive in
    * time order across batches; within a batch the engine sorts) into
    * [[graft.streaming.Streams.detectSignalsStream]] — the keyed
    * `flatMapGroupsWithState` incremental fold — with the emitted
    * signals accumulated in append mode. StreamingSpec pins streaming
    * ≡ batch bit-parity engine-to-engine; this row pins the streaming
    * fold's OUTPUT against a second engine: the oracle re-derives the
    * signal set relationally with g1's own CTE chain, projected to the
    * streaming engine's output columns. A drift anywhere — indicator
    * recursion, seeding, state carry-over between micro-batches,
    * signal arming/confluence — flips the hash.
    */
  def t5StreamSignals(spark: SparkSession, dir: String): DataFrame = {
    val root = indexScratch("t5_stream", dir)
    val src = s"$root/src"
    val stamp = s"t5 v1 ${tableStamp(spark, s"$dir/events.parquet")}"
    seedOnce(spark, root, stamp) {
      val tiled = Replay.candleFeed(spark, dir).withColumn(
        "_t",
        ntile(3).over(org.apache.spark.sql.expressions.Window.orderBy($"ts_us", $"symbol")))
      Replay.arrivals(spark, src, (1 to 3).map(i => tiled.filter($"_t" === i).drop("_t")))
    }
    implicit val candleEnc: org.apache.spark.sql.Encoder[graft.streaming.Streams.CandleIn] =
      org.apache.spark.sql.Encoders.product[graft.streaming.Streams.CandleIn]
    Replay
      .toMemory(spark, src, "t5_signals", dir) { s =>
        graft.streaming.Streams.detectSignalsStream(
          s.select($"symbol", $"ts_us".as("timeUs"), $"value".as("close")).as[graft.streaming.Streams.CandleIn])
      }
      .select("symbol", "time_us", "signal_type", "direction", "trigger", "close_price")
      .orderBy("symbol", "time_us", "signal_type", "direction")
  }

  /** T4/W5 — hash-pinned cross-engine: the INCREMENTAL per-candle
    * indicator series (hull value/color, MACD value/signal/histogram;
    * reference `charting/indicators.py:26-284` O(1) chart-state
    * updates) through a REAL warm-started stream. Construction: g1's
    * deduped candle feed is quartered on the global (ts_us, symbol)
    * row_number — the FIRST quarter becomes batch HISTORY folded into
    * per-symbol [[graft.streaming.Streams.IndicatorState]] by
    * `seedIndicatorState` (the W5 warm start), the remaining three
    * quarters arrive as mtime-pinned micro-batches into
    * [[graft.streaming.Streams.indicatorSeriesStream]], which emits
    * each candle's indicator surface from the O(1) state update. The
    * oracle recomputes the hull/MACD recursions over each symbol's FULL
    * series (history ∪ stream, the w2/w4 formulas at Hull(8) /
    * MACD(4,8,3)) and projects the streamed quarters — so a drift
    * anywhere in the incremental state (ring contents, EMA carry,
    * prev-HMA color across the seed boundary, state hand-off between
    * micro-batches) flips the hash. Quartering uses explicit
    * row_number/count arithmetic, NOT ntile, so both engines derive the
    * split from first principles.
    */
  def t4StreamIndicators(spark: SparkSession, dir: String): DataFrame =
    runT4Harness(spark, dir, "t4_indicators") { (candles, seeded) =>
      graft.streaming.Streams
        .indicatorSeriesStream(candles, Some(seeded), hullLength = 8, fast = 4, slow = 8, signalLen = 3)
    }

  /** t4b — the same W5 incremental indicator series, same seed split,
    * same warm start, same oracle, through the Spark-4
    * `transformWithState` PRODUCTION API
    * ([[graft.streaming.Streams.IndicatorSeriesProcessor]] with the
    * RocksDB state-store provider) instead of
    * `flatMapGroupsWithState` — so BOTH stateful streaming APIs are
    * pinned against the one relational recomputation, and a divergence
    * between the processor and the fold (state encoding, initial-state
    * delivery, emission order) flips exactly one of the two hashes.
    */
  def t4bStreamIndicatorsTws(spark: SparkSession, dir: String): DataFrame =
    // transformWithState needs the RocksDB provider (the default
    // HDFS-backed one can't host its multi-column-family layout).
    // Changelog checkpointing persists only each batch's changed keys
    // instead of a full instance snapshot per partition per batch, so
    // the per-commit upload follows the batch, not the state size.
    Sessions.withConf(
      spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true"
    ) {
      runT4Harness(spark, dir, "t4b_indicators") { (candles, seeded) =>
        graft.streaming.Streams
          .indicatorSeriesTransformWithState(candles, Some(seeded), hullLength = 8, fast = 4, slow = 8, signalLen = 3)
      }
    }

  /** The shared t4/t4b harness: the quarter split (seedOnce, one stamp
    * for both carriers, so whichever runs first pays it) — history =
    * the first quarter of g1's candle feed, stream = the other three
    * quarters as arrival files — the warm-start state folded from the
    * history, the given indicator-series stream, and the pinned output
    * columns.
    */
  private def runT4Harness(
      spark: SparkSession,
      dir: String,
      name: String
  )(
      mk: (
          org.apache.spark.sql.Dataset[graft.streaming.Streams.CandleIn],
          org.apache.spark.sql.KeyValueGroupedDataset[String, graft.streaming.Streams.IndicatorState]
      ) => org.apache.spark.sql.Dataset[graft.streaming.Streams.IndicatorOut]
  ): DataFrame = {
    val root = indexScratch("t4_stream", dir)
    val src = s"$root/src"
    val hist = s"$root/history"
    val stamp = s"t4 v1 ${tableStamp(spark, s"$dir/events.parquet")}"
    seedOnce(spark, root, stamp) {
      val ev = Replay.candleFeed(spark, dir)
      val n = ev.count()
      val ranked = ev.withColumn(
        "_rn",
        row_number().over(org.apache.spark.sql.expressions.Window.orderBy($"ts_us", $"symbol")))
      ranked.filter($"_rn" <= lit(n / 4)).drop("_rn")
        .coalesce(1).write.mode("overwrite").parquet(hist)
      Replay.arrivals(spark, src, (1 to 3).map { i =>
        ranked.filter($"_rn" > lit(n * i / 4) && $"_rn" <= lit(n * (i + 1) / 4)).drop("_rn")
      })
    }
    implicit val candleEnc: org.apache.spark.sql.Encoder[graft.streaming.Streams.CandleIn] =
      org.apache.spark.sql.Encoders.product[graft.streaming.Streams.CandleIn]
    def candles(df: DataFrame) =
      df.select($"symbol", $"ts_us".as("timeUs"), $"value".as("close")).as[graft.streaming.Streams.CandleIn]
    val seeded = graft.streaming.Streams
      .seedIndicatorState(candles(spark.read.parquet(hist)), hullLength = 8, fast = 4, slow = 8, signalLen = 3)
    Replay
      .toMemory(spark, src, name, dir)(s => mk(candles(s), seeded))
      .select("symbol", "time_us", "hma", "hma_color", "macd_value", "avg", "diff")
      .orderBy("symbol", "time_us")
  }

  /** T7 — the snapshot-completion handshake through a REAL stream
    * ([[graft.streaming.Streams.snapshotCompletions]], reference
    * `messaging/processors/snapshot.py:30-100`): per REGISTERED
    * symbol, exactly one completion at the first event carrying
    * SNAPSHOT_END|SNAPSHOT_SNIP (flags & 0x18), later flagged
    * re-deliveries swallowed by the per-symbol done state,
    * unregistered symbols ignored. Flags synthesized as w9 does
    * (`event_id % 32`); registered = users with id % 3 ≠ 2 (the
    * ignore path is on the hash). Determinism: batches are
    * time-ordered tertiles (mtime-pinned), the detector sorts within
    * a batch and emits only (symbol, min flagged time) — so the
    * output is the GLOBAL min flagged time per registered symbol
    * regardless of tie placement at tertile boundaries, which is
    * exactly what the oracle states relationally. A detector that
    * forgot the done state (duplicate completions), missed the
    * registered filter, or picked a non-first flagged event all flip
    * the result.
    */
  def t7SnapshotCompletions(spark: SparkSession, dir: String): DataFrame = {
    val root = indexScratch("t7_stream", dir)
    val src = s"$root/src"
    val stamp = s"t7 v1 ${tableStamp(spark, s"$dir/events.parquet")}"
    seedOnce(spark, root, stamp) {
      val ev = Tables
        .events(spark, dir)
        .select(
          $"user_id".cast("string").as("symbol"),
          $"ts_us".as("timeUs"),
          pmod($"event_id", lit(32)).cast("int").as("flags"))
      val tiled = ev.withColumn(
        "_t",
        ntile(3).over(org.apache.spark.sql.expressions.Window.orderBy($"timeUs", $"symbol", $"flags")))
      Replay.arrivals(spark, src, (1 to 3).map(i => tiled.filter($"_t" === i).drop("_t")))
    }
    // bounded driver collect: one string per registered user
    val registered: Set[String] = Tables
      .events(spark, dir)
      .filter(pmod($"user_id", lit(3)) =!= 2)
      .select($"user_id".cast("string"))
      .distinct()
      .collect()
      .map(_.getString(0))
      .toSet
    implicit val fe: org.apache.spark.sql.Encoder[graft.streaming.Streams.FlaggedEvent] =
      org.apache.spark.sql.Encoders.product[graft.streaming.Streams.FlaggedEvent]
    Replay
      .toMemory(spark, src, "t7_completions", dir) { s =>
        graft.streaming.Streams.snapshotCompletions(
          s.select($"symbol", $"timeUs", $"flags").as[graft.streaming.Streams.FlaggedEvent], registered)
      }
      .select($"symbol", $"completed_at_us")
      .orderBy("symbol")
  }

  /** T9/J8 — the MERGED multi-timeframe streaming backtest hash-pinned
    * cross-engine: b1's exact two-sided feed (deduped pricing ticks as
    * rank 0, 30-minute bucket candles stamped at bucket start as
    * rank 1 — guaranteed (symbol, time) ties at bucket boundaries, the
    * ordering rule T9 exists for) interleaved into ONE stream, split
    * into three time-ordered micro-batches on the global
    * (time_us, rank, symbol) row_number (a tie straddling a batch
    * boundary lands its rank-0 pricing row in the EARLIER batch —
    * folded first, as the merge rule demands), arrival mtime-pinned,
    * driven through [[graft.streaming.Streams.backtestStream]]: the
    * per-symbol stateful fold where pricing rows update last-price
    * state and signal rows step the indicator engine, each emitted
    * signal carrying its as-of entry price FROM STATE. The oracle is
    * b1's own SQL — the engine CTE fold plus DuckDB's native ASOF
    * JOIN — so the streaming fold's state carry-over, the
    * pricing-first tie rule, and the null-before-first-pricing edge
    * all land on the hash.
    */
  def t9StreamBacktest(spark: SparkSession, dir: String): DataFrame = {
    val root = indexScratch("t9_stream", dir)
    val src = s"$root/src"
    val stamp = s"t9 v1 ${tableStamp(spark, s"$dir/events.parquet")}"
    seedOnce(spark, root, stamp) {
      // the bucket candles' null closes are filtered AFTER their dedup —
      // the engine's own WHERE, applied at construction because
      // RankedCandle.close is a primitive
      val (pricing, signalCandles) = Replay.backtestSides(spark, dir)
      val merged = pricing.withColumn("rank", lit(0))
        .unionByName(signalCandles.withColumn("rank", lit(1)).filter($"close".isNotNull))
      val n = merged.count()
      val ranked = merged.withColumn(
        "_rn",
        row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy($"time_us", $"rank", $"symbol")))
      Replay.arrivals(spark, src, (1 to 3).map { i =>
        ranked.filter($"_rn" > lit(n * (i - 1) / 3) && $"_rn" <= lit(n * i / 3)).drop("_rn")
      })
    }
    implicit val rcEnc: org.apache.spark.sql.Encoder[graft.streaming.Streams.RankedCandle] =
      org.apache.spark.sql.Encoders.product[graft.streaming.Streams.RankedCandle]
    Replay
      .toMemory(spark, src, "t9_backtest", dir) { s =>
        graft.streaming.Streams.backtestStream(
          s.select($"symbol", $"time_us".as("timeUs"), $"rank", $"close").as[graft.streaming.Streams.RankedCandle],
          hullLength = 8, fast = 4, slow = 8, signalLen = 3)
      }
      .select("symbol", "time_us", "signal_type", "direction", "trigger", "close_price", "entry_price")
      .orderBy("symbol", "time_us", "signal_type", "direction")
  }

  /** W10 — streaming row-cap retention hash-pinned through a real
    * stream (reference `messaging/processors/default.py:39-48` keeps
    * the newest N rows per key): the deduped candle feed in three
    * mtime-pinned, time-ordered micro-batches (tiles of the global
    * (ts_us, symbol) row_number — tile boundaries respect the global
    * time order, so each touch's `newest_us` strictly increases and
    * the report multiset has no collisions) through
    * [[graft.streaming.Streams.rowCapStream]] at cap 5. Every batch
    * emits one retention report per TOUCHED symbol; the oracle
    * restates all of them relationally: for each (symbol, tile with
    * rows), the newest-5 window over that symbol's rows in tiles ≤ it.
    * The per-key state bound ACROSS batches — the property that keeps
    * streaming state from growing with stream length — is what the
    * retained/oldest columns pin.
    */
  def w10StreamRowCap(spark: SparkSession, dir: String): DataFrame = {
    val root = indexScratch("w10_stream", dir)
    val src = s"$root/src"
    val stamp = s"w10 v1 ${tableStamp(spark, s"$dir/events.parquet")}"
    seedOnce(spark, root, stamp) {
      val ev = Replay.candleFeed(spark, dir)
      val n = ev.count()
      val ranked = ev.withColumn(
        "_rn",
        row_number().over(org.apache.spark.sql.expressions.Window.orderBy($"ts_us", $"symbol")))
      Replay.arrivals(spark, src, (1 to 3).map { i =>
        ranked.filter($"_rn" > lit(n * (i - 1) / 3) && $"_rn" <= lit(n * i / 3)).drop("_rn")
      })
    }
    implicit val ciEnc: org.apache.spark.sql.Encoder[graft.streaming.Streams.CandleIn] =
      org.apache.spark.sql.Encoders.product[graft.streaming.Streams.CandleIn]
    Replay
      .toMemory(spark, src, "w10_rowcap", dir) { s =>
        graft.streaming.Streams.rowCapStream(
          s.select($"symbol", $"ts_us".as("timeUs"), $"value".as("close")).as[graft.streaming.Streams.CandleIn],
          cap = 5)
      }
      .select($"symbol", $"retained".cast("int").as("retained"), $"oldest_us", $"newest_us")
      .orderBy("symbol", "newest_us")
  }

  // T4/W5 — the streamed indicator series: hull/MACD recursions at
  // Hull(8)/MACD(4,8,3) over each symbol's FULL deduped series (the
  // candles CTE of the shared engine fold), projected to the streamed
  // quarters. The quartering is explicit integer row_number/count
  // arithmetic over the total (ts_us, symbol) order — both engines
  // derive the split from first principles (no ntile semantics
  // dependency), so the seed/stream boundary is bit-pinned too.
  private val t4Sql: String =
    s"""WITH src0 AS (
       |  SELECT symbol, ts_us, value FROM (
       |    SELECT CAST(user_id AS VARCHAR) AS symbol, epoch_us(ts) AS ts_us, value,
       |      row_number() OVER (PARTITION BY user_id, epoch_us(ts) ORDER BY event_id DESC) AS rn
       |    FROM events WHERE value IS NOT NULL) t
       |  WHERE rn = 1),
       |ranked AS (
       |  SELECT symbol, ts_us, value,
       |    row_number() OVER (ORDER BY ts_us, symbol) AS _rn,
       |    count(*) OVER () AS _n
       |  FROM src0),
       |src AS (SELECT symbol, ts_us, value FROM src0),
       |${signalEngineCtes("src", hullLength = 8, fast = 4, slow = 8, signalLen = 3)}
       |SELECT c.symbol, c.ts_us AS time_us, c.hma, c.hma_color, c.macd_value, c.avg, c.diff
       |FROM candles c
       |JOIN ranked r ON r.symbol = c.symbol AND r.ts_us = c.ts_us
       |WHERE r._rn > r._n // 4
       |ORDER BY c.symbol, time_us""".stripMargin

  // T5 — g1's engine CTEs projected to the STREAMING engine's output
  // columns (SignalOut carries the signal row + close, not the full
  // indicator surface): same src dedup, same fold, stated once.
  private val t5Sql: String =
    s"""WITH src AS (
       |  SELECT symbol, ts_us, value FROM (
       |    SELECT CAST(user_id AS VARCHAR) AS symbol, epoch_us(ts) AS ts_us, value,
       |      row_number() OVER (PARTITION BY user_id, epoch_us(ts) ORDER BY event_id DESC) AS rn
       |    FROM events WHERE value IS NOT NULL) t
       |  WHERE rn = 1),
       |${signalEngineCtes("src", hullLength = 20, fast = 12, slow = 26, signalLen = 9)}
       |SELECT p.symbol, p.time_us, p.signal_type, p.direction, p.trigger, c.close_price
       |FROM parsed p JOIN candles c ON p.symbol = c.symbol AND p.time_us = c.ts_us
       |ORDER BY p.symbol, p.time_us, p.signal_type, p.direction""".stripMargin

  val defs: List[QueryDef] = List(
    // S5 incremental upsert — the merge is row-level idempotent, so the
    // END STATE after seed + two batch merges equals the one-shot
    // latest-per-key over ALL events: a1's SQL verbatim (the oracle
    // states the contract; the query earns it incrementally through
    // bucket-pruned rewrites).
    QueryDef("s5_latest_upsert", s5LatestUpsert, Sql(
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin)),
    // T2 through the REAL stream entry (LatestUpsert.start): same
    // end-state contract, a1's SQL verbatim — see t2StreamLatest.
    QueryDef("t2_stream_latest", t2StreamLatest, Sql(
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin)),
    // S6 native file-sink history with an exactly-once restart: the
    // end state is simply every event exactly once (see
    // s6StreamHistory — a double-committed batch doubles rows).
    QueryDef("s6_stream_history", s6StreamHistory, Sql(
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin)),
    // S5 CDC diff: users whose latest row changed in the mod-2 batch —
    // latest over mod<=1 vs latest over all, kept where the winning
    // event differs ('added' = a user whose only events are mod 2).
    QueryDef("s5b_changes_between", s5bChangesBetween, Sql(
      """WITH a1 AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events WHERE event_id % 3 <= 1) t WHERE rn = 1),
        |a2 AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events) t WHERE rn = 1)
        |SELECT a2.user_id, a2.event_id, a2.ts_us, a2.event_type, a2.value,
        |  CASE WHEN a1.user_id IS NULL THEN 'added' ELSE 'updated' END AS change
        |FROM a2 LEFT JOIN a1 ON a2.user_id = a1.user_id
        |WHERE a1.user_id IS NULL OR a2.event_id != a1.event_id
        |ORDER BY a2.user_id""".stripMargin)),
    QueryDef("t3_stream_candles", t3StreamCandles, Sql(
      """SELECT user_id,
        |  (epoch_us(ts) // 300000000) * 300000000 AS bucket_us,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(value), 4) AS sum_v,
        |  CAST(max(event_id) AS BIGINT) AS last_event
        |FROM events GROUP BY user_id, bucket_us
        |ORDER BY user_id, bucket_us""".stripMargin)),
    QueryDef("t3b_stream_candles_append", t3bStreamCandlesAppend, Sql(
      // append-mode emission contract: ONLY windows the final
      // watermark closed. The flusher sentinel (not in the events
      // table) parks the watermark strictly inside the LAST real
      // window, so "closed" = every bucket strictly before the last —
      // stated here as bucket < (max ts_us div W)·W. Late-row drops
      // are zero BY CONSTRUCTION (time-ordered tertile batches), so no
      // drop clause is needed.
      """WITH cutoff AS (
        |  SELECT (max(epoch_us(ts)) // 300000000) * 300000000 AS c FROM events)
        |SELECT user_id,
        |  (epoch_us(ts) // 300000000) * 300000000 AS bucket_us,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(value), 4) AS sum_v,
        |  CAST(max(event_id) AS BIGINT) AS last_event
        |FROM events, cutoff
        |WHERE (epoch_us(ts) // 300000000) * 300000000 < c
        |GROUP BY user_id, bucket_us
        |ORDER BY user_id, bucket_us""".stripMargin)),
    QueryDef("t6_stream_dedup", t6StreamDedup, Sql(
      """SELECT event_id // 3 AS fill_id,
        |  min(event_id) AS event_id,
        |  arg_min(event_type, event_id) AS payload
        |FROM events GROUP BY 1 ORDER BY fill_id""".stripMargin)),
    QueryDef("t8_stream_resume", t8StreamResume, Sql(
      // the replayed subset: all events except the odd members of odd
      // fills, which the resume harness never delivers; keep-first per
      // fill over that subset = arg-min, the same contract as t6 but
      // spanning a genuine checkpoint restart on the Spark side
      """WITH replayed AS (
        |  SELECT * FROM events
        |  WHERE NOT (event_id % 2 = 1 AND (event_id // 2) % 2 = 1))
        |SELECT event_id // 2 AS fill_id,
        |  min(event_id) AS event_id,
        |  arg_min(event_type, event_id) AS payload
        |FROM replayed GROUP BY 1 ORDER BY fill_id""".stripMargin)),
    QueryDef("t5_stream_signals", t5StreamSignals, Sql(t5Sql)),
    QueryDef("t4_stream_indicators", t4StreamIndicators, Sql(t4Sql)),
    // t4b runs the SAME semantics through the transformWithState API —
    // one oracle, two streaming engines, two independent hashes
    QueryDef("t4b_stream_indicators_tws", t4bStreamIndicatorsTws, Sql(t4Sql)),
    // T7 — one completion per registered symbol at its first
    // snapshot-end-flagged event (global min over time-ordered
    // batches; see t7SnapshotCompletions determinism note).
    QueryDef("t7_snapshot_completions", t7SnapshotCompletions, Sql(
      """SELECT CAST(user_id AS VARCHAR) AS symbol, min(epoch_us(ts)) AS completed_at_us
        |FROM events
        |WHERE ((event_id % 32) & 24) <> 0 AND user_id % 3 <> 2
        |GROUP BY 1 ORDER BY symbol""".stripMargin)),
    // T9 — the streaming backtest fold must land on the SAME hash as
    // the batch slice: b1's oracle verbatim (engine CTEs + native ASOF)
    QueryDef("t9_stream_backtest", t9StreamBacktest, Sql(b1Sql)),
    // W10 — every retention report the capped stream emits, restated
    // relationally: for each (symbol, tile with rows), the newest-5
    // window over the symbol's rows in tiles <= it. Tiling arithmetic
    // matches the Spark side's integer row_number/count thirds.
    QueryDef("w10_stream_rowcap", w10StreamRowCap, Sql(
      """WITH src AS (
        |  SELECT symbol, ts_us FROM (
        |    SELECT CAST(user_id AS VARCHAR) AS symbol, epoch_us(ts) AS ts_us,
        |      row_number() OVER (PARTITION BY user_id, epoch_us(ts) ORDER BY event_id DESC) AS rn
        |    FROM events WHERE value IS NOT NULL) t
        |  WHERE rn = 1),
        |tiled AS (
        |  SELECT symbol, ts_us,
        |    CASE WHEN rn <= n // 3 THEN 1 WHEN rn <= (n * 2) // 3 THEN 2 ELSE 3 END AS tile
        |  FROM (SELECT symbol, ts_us,
        |          row_number() OVER (ORDER BY ts_us, symbol) AS rn,
        |          count(*) OVER () AS n
        |        FROM src)),
        |present AS (SELECT DISTINCT symbol, tile FROM tiled),
        |g AS (
        |  SELECT p.symbol, p.tile,
        |    CAST(least(5, count(*)) AS INTEGER) AS retained,
        |    max(r.ts_us) AS newest_us,
        |    (list(r.ts_us ORDER BY r.ts_us DESC))[CAST(least(5, count(*)) AS INTEGER)] AS oldest_us
        |  FROM present p JOIN tiled r ON r.symbol = p.symbol AND r.tile <= p.tile
        |  GROUP BY p.symbol, p.tile)
        |SELECT symbol, retained, oldest_us, newest_us
        |FROM g ORDER BY symbol, newest_us""".stripMargin))
  )
}
