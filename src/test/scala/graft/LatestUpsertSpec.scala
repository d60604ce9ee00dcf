package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.io.{LatestUpsert, Tables}

/** The incremental latest-value sink (SURVEY S5 at lake scale) on the
  * generation-manifest layout: merge semantics, replay/order
  * idempotence, path-level pruning (the merge lists ONLY touched bucket
  * dirs), atomic-commit guarantees (a reader racing a commit sees old
  * or new, never partial — including a reader resolved BEFORE the
  * commit finishing bit-exact through the grace window), the crash
  * sweep over every protocol step, bounded on-disk growth under GC, and
  * legacy-layout migration.
  */
class LatestUpsertSpec extends SparkSpec {
  import spark.implicits._

  private def events: DataFrame =
    Tables
      .events(spark, sf0001)
      .select("user_id", "event_id", "ts_us", "event_type", "value")

  private def oneShotLatest(ev: DataFrame): Set[Row5] =
    graft.ops.Relational
      .latestPerKey(ev, Seq("user_id"), "ts_us", "event_id")
      .select("user_id", "event_id", "ts_us", "event_type", "value")
      .as[Row5]
      .collect()
      .toSet

  private type Row5 = (Long, Long, Long, String, Double)

  private def readSet(root: String): Set[Row5] =
    LatestUpsert
      .read(spark, root)
      .select("user_id", "event_id", "ts_us", "event_type", "value")
      .as[Row5]
      .collect()
      .toSet

  private def freshRoot(): String =
    Files.createTempDirectory("latestupsert").toString + "/t"

  private def initThirds(root: String, ev: DataFrame, buckets: Int = 16): Unit =
    LatestUpsert.init(
      spark, root, ev.filter($"event_id" % 3 === 0),
      keyCols = Seq("user_id"), orderCols = Seq("ts_us", "event_id"), buckets = buckets)

  /** All parquet data files under the artifact's data tree, path → size. */
  private def dataFiles(root: String): Map[String, Long] = {
    val base = Paths.get(s"$root/data")
    val walk = Files.walk(base)
    try walk
      .filter(p => p.toString.endsWith(".parquet"))
      .toArray
      .map { case p: Path => p.toString -> Files.size(p) }
      .toMap
    finally walk.close()
  }

  private def manifestFiles(root: String): Seq[String] = {
    val dir = Paths.get(s"$root/_manifests")
    if (!Files.exists(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.toArray.map(_.toString.split('/').last).toSeq.filter(_.matches("m\\d{12}")).sorted
      finally s.close()
    }
  }

  private def genDirs(root: String): Seq[String] = {
    val dir = Paths.get(s"$root/data")
    val s = Files.list(dir)
    try s.toArray.map(_.toString.split('/').last).toSeq.filter(_.startsWith("g")).sorted
    finally s.close()
  }

  test("empty seed is rejected loudly (a zero-row partitioned write has no readable footers)") {
    val err = intercept[IllegalArgumentException] {
      LatestUpsert.init(
        spark, freshRoot(), events.limit(0),
        keyCols = Seq("user_id"), orderCols = Seq("ts_us", "event_id"))
    }
    assert(err.getMessage.contains("bootstrap with the first batch"))
  }

  test("seed + two merges ≡ one-shot latest-per-key over all events") {
    val ev = events
    val root = freshRoot()
    initThirds(root, ev)
    LatestUpsert.upsert(spark, root, ev.filter($"event_id" % 3 === 1))
    LatestUpsert.upsert(spark, root, ev.filter($"event_id" % 3 === 2))
    assert(readSet(root) == oneShotLatest(ev))
  }

  test("merge is replay-idempotent and batch-order-invariant") {
    val ev = events
    val (r1, r2) = (freshRoot(), freshRoot())
    for (r <- Seq(r1, r2)) initThirds(r, ev)
    val (b1, b2) = (ev.filter($"event_id" % 3 === 1), ev.filter($"event_id" % 3 === 2))
    // r1: 1 then 2, then REPLAY 2; r2: 2 then 1
    LatestUpsert.upsert(spark, r1, b1)
    LatestUpsert.upsert(spark, r1, b2)
    val afterBoth = readSet(r1)
    LatestUpsert.upsert(spark, r1, b2) // replay: max is idempotent
    assert(readSet(r1) == afterBoth)
    LatestUpsert.upsert(spark, r2, b2)
    LatestUpsert.upsert(spark, r2, b1)
    assert(readSet(r2) == afterBoth)
  }

  test("merge READ lists only touched bucket dirs; commit leaves every pre-existing file untouched") {
    val ev = events
    val root = freshRoot()
    LatestUpsert.init(
      spark, root, ev,
      keyCols = Seq("user_id"), orderCols = Seq("ts_us", "event_id"), buckets = 16)
    val allBuckets = genDirs(root).flatMap { g =>
      val s = Files.list(Paths.get(s"$root/data/$g"))
      try s.toArray.map(_.toString.split('/').last).toSeq.filter(_.startsWith("kb="))
      finally s.close()
    }.distinct
    assert(allBuckets.size > 4, s"seed fills only ${allBuckets.size} buckets — pruning unprovable")

    // a one-user batch touches exactly one bucket
    val oneUser = ev.orderBy("user_id").limit(1).select("user_id").as[Long].head()
    val batch = ev.filter($"user_id" === oneUser)
    val touched = LatestUpsert.withMergedForBatch(spark, root, batch) { (merged, touched) =>
      assert(touched.size == 1)
      // path-level pruning: the scan over the artifact has ONLY the touched
      // bucket's directory as a root path — untouched dirs are never listed
      val artifactScans = fileScans(merged)
        .filter(_.relation.location.rootPaths.exists(_.toString.contains("latestupsert")))
      assert(artifactScans.nonEmpty, "no scan over the latest table found")
      artifactScans.foreach { s =>
        val roots = s.relation.location.rootPaths.map(_.toString)
        assert(
          roots.forall(_.endsWith(s"kb=${touched.head}")),
          s"merge read listed non-touched dirs: $roots")
      }
      touched
    }.getOrElse(fail("one-user batch staged no merge"))

    // physical stability: generations are immutable and GC retains the
    // previous manifest's dirs, so EVERY pre-commit file survives the
    // commit byte-for-byte, and all new files land in the new
    // generation's touched-bucket dir
    val before = dataFiles(root)
    LatestUpsert.upsert(spark, root, batch)
    val after = dataFiles(root)
    assert(before.forall { case (p, len) => after.get(p).contains(len) },
      "commit rewrote or dropped a pre-existing file (generations must be immutable)")
    val newFiles = (after.keySet -- before.keySet).toSeq
    assert(newFiles.nonEmpty && newFiles.forall(_.contains(s"kb=${touched.head}")),
      s"new files outside the touched bucket: $newFiles")
    // and the table still answers correctly
    assert(readSet(root) == oneShotLatest(ev))
  }

  test("GC bounds on-disk state: many upserts retain ≤2 manifests and ≤3 generation dirs") {
    val ev = events
    val root = freshRoot()
    initThirds(root, ev, buckets = 8)
    val batch = ev.filter($"event_id" % 3 === 1)
    (1 to 6).foreach(_ => LatestUpsert.upsert(spark, root, batch)) // replays: content stable
    assert(manifestFiles(root).size <= 2, s"manifests not GC'd: ${manifestFiles(root)}")
    // g0 (untouched buckets) + the last two touched generations
    assert(genDirs(root).size <= 3, s"generation dirs not GC'd: ${genDirs(root)}")
    assert(readSet(root) == oneShotLatest(ev.filter($"event_id" % 3 <= 1)))
  }

  test("property: ANY seeded random partition into batches, in ANY order, converges to one-shot latest") {
    val ev = events.localCheckpoint()
    val expected = oneShotLatest(ev)
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val k = 2 + rnd.nextInt(4) // 2..5 batches (+ seed slice)
      // seeded random batch assignment per event id, as a column rule so
      // the split is reproducible inside Spark
      val assign = pmod(xxhash64($"event_id" + lit(seed.toLong)), lit((k + 1).toLong)).cast("int")
      val tagged = ev.withColumn("b", assign)
      val root = freshRoot()
      LatestUpsert.init(
        spark, root, tagged.filter($"b" === 0).drop("b"),
        keyCols = Seq("user_id"), orderCols = Seq("ts_us", "event_id"), buckets = 16)
      val order = rnd.shuffle((1 to k).toList)
      order.foreach(b => LatestUpsert.upsert(spark, root, tagged.filter($"b" === b).drop("b")))
      assert(readSet(root) == expected, s"seed=$seed k=$k order=$order diverged from one-shot latest")
    }
  }

  test("batch drifting from the pinned schema fails loudly — key, value, missing, and extra columns") {
    val ev = events
    val root = freshRoot()
    initThirds(root, ev)
    // INT user_id hashes to a different xxhash64 than the seed's BIGINT
    // for the same key value — must be rejected, not merged
    val keyDrift = intercept[IllegalArgumentException] {
      LatestUpsert.upsert(spark, root, ev.withColumn("user_id", $"user_id".cast("int")))
    }
    assert(keyDrift.getMessage.contains("type drift"), keyDrift.getMessage)
    assert(keyDrift.getMessage.contains("bucket assignment"), keyDrift.getMessage)
    // a drifted VALUE column would persist mixed physical types across
    // generations and fail at a later scan — reject it here instead
    val valDrift = intercept[IllegalArgumentException] {
      LatestUpsert.upsert(spark, root, ev.withColumn("value", $"value".cast("float")))
    }
    assert(valDrift.getMessage.contains("type drift"), valDrift.getMessage)
    assert(valDrift.getMessage.contains("mixed physical types"), valDrift.getMessage)
    // missing pinned column is equally loud
    val missing = intercept[IllegalArgumentException] {
      LatestUpsert.upsert(spark, root, ev.drop("ts_us"))
    }
    assert(missing.getMessage.contains("missing pinned column"), missing.getMessage)
    // as is a column the artifact never saw
    val extra = intercept[IllegalArgumentException] {
      LatestUpsert.upsert(spark, root, ev.withColumn("surprise", lit(1)))
    }
    assert(extra.getMessage.contains("not in the pinned artifact schema"), extra.getMessage)
    // the artifact is untouched by the rejected batches
    assert(readSet(root) == oneShotLatest(ev.filter($"event_id" % 3 === 0)))
  }

  /** Reconstruct upsert's exact on-disk progression up to a crash point:
    * 1 = partial stage (one bucket dir of the new generation), 2 = stage
    * complete, 3 = stage complete + dot-temp manifest written, 4 =
    * manifest PUBLISHED (committed) but GC never ran. Returns the staged
    * generation's expected content.
    */
  private def stageUpTo(root: String, batch: DataFrame, crashPoint: Int): Unit = {
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    LatestUpsert.withMergedForBatch(spark, root, batch) { (merged, touched) =>
      val gen = manifestFiles(root).last.stripPrefix("m").toLong
      val next = f"g${gen + 1}%012d"
      if (crashPoint == 1) {
        merged.filter($"kb" === touched.head)
          .write.mode("overwrite").partitionBy("kb").parquet(s"$root/data/$next")
      } else {
        merged.write.mode("overwrite").partitionBy("kb").parquet(s"$root/data/$next")
      }
      if (crashPoint >= 3) {
        val mf = manifestMap(root, gen) ++ touched.map(b => b -> s"data/$next/kb=$b")
        val body = mf.toSeq.sortBy(_._1).map { case (b, p) => s"$b\t$p" }.mkString("\n")
        val name = f"m${gen + 1}%012d"
        if (crashPoint == 3) Files.writeString(Paths.get(s"$root/_manifests/.tmp-$name"), body)
        else Files.writeString(Paths.get(s"$root/_manifests/$name"), body)
      }
    }.getOrElse(fail("batch staged no merge"))
    // the pinned batch the executed plan read is released on return
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore
    assert(leaked.isEmpty, s"withMergedForBatch left pinned RDDs $leaked")
  }

  private def manifestMap(root: String, gen: Long): Map[Int, String] =
    Files.readString(Paths.get(s"$root/_manifests/" + f"m$gen%012d"))
      .split("\n").filter(_.nonEmpty)
      .map { l => val Array(b, p) = l.split("\t", 2); b.toInt -> p }
      .toMap

  test("crash-point sweep: interruption at EVERY protocol step leaves a readable table and replays to seed+batch") {
    val ev = events
    val batch = ev.filter($"event_id" % 3 === 1)
    val seedOnly = oneShotLatest(ev.filter($"event_id" % 3 === 0))
    val seedPlusBatch = oneShotLatest(ev.filter($"event_id" % 3 <= 1))
    for (crashPoint <- 1 to 4) {
      val root = freshRoot()
      initThirds(root, ev, buckets = 8)
      stageUpTo(root, batch, crashPoint)
      // the table is READABLE at every crash point, with NO recovery
      // call, and never shows partial state: pre-publish crashes serve
      // the seed generation bit-exact, a post-publish crash serves the
      // committed merge bit-exact
      val expectNow = if (crashPoint <= 3) seedOnly else seedPlusBatch
      assert(readSet(root) == expectNow, s"crash point $crashPoint served partial state")
      // replay the batch (what a restarted stream does): recover runs
      // inside upsert, GC'ing staged garbage / finishing pending GC
      LatestUpsert.upsert(spark, root, batch)
      assert(readSet(root) == seedPlusBatch, s"replay after crash point $crashPoint diverged")
      // artifact is fully tidy again: bounded manifests, no temp files
      assert(manifestFiles(root).size <= 2, s"crash point $crashPoint left manifests: ${manifestFiles(root)}")
      val tmps = {
        val s = Files.list(Paths.get(s"$root/_manifests"))
        try s.toArray.map(_.toString).toSeq.filter(_.contains(".tmp-"))
        finally s.close()
      }
      assert(tmps.isEmpty, s"crash point $crashPoint left temp manifests: $tmps")
    }
  }

  test("a reader resolved BEFORE a commit finishes bit-exact (grace window); two commits later its files are gone") {
    val ev = events
    val root = freshRoot()
    initThirds(root, ev)
    val seedOnly = oneShotLatest(ev.filter($"event_id" % 3 === 0))
    // reader resolves the current manifest and its file listing NOW
    val preReader = LatestUpsert
      .read(spark, root)
      .select("user_id", "event_id", "ts_us", "event_type", "value")
    val batch = ev.filter($"event_id" % 3 === 1)
    LatestUpsert.upsert(spark, root, batch)
    // one commit later: GC retained the previous generation, so the
    // in-flight reader still scans its immutable files — OLD table,
    // bit-exact, no error (the concurrent-reader guarantee rename-swap
    // could not give)
    assert(preReader.as[Row5].collect().toSet == seedOnly)
    // a fresh reader sees the new commit
    assert(readSet(root) == oneShotLatest(ev.filter($"event_id" % 3 <= 1)))
    // two MORE commits later the grace window is over: the stale
    // reader's files have been GC'd and its scan fails rather than
    // silently serving partial state (retention knob documented on
    // LatestUpsert.retainedManifests)
    LatestUpsert.upsert(spark, root, batch)
    LatestUpsert.upsert(spark, root, batch)
    intercept[Exception] { preReader.as[Row5].collect() }
  }

  test("mid-commit reader: staged-but-unpublished state is invisible, publish flips atomically") {
    val ev = events
    val root = freshRoot()
    initThirds(root, ev, buckets = 8)
    val batch = ev.filter($"event_id" % 3 === 1)
    // stage fully + dot-temp manifest — the instant BEFORE the atomic
    // publish; a reader must see the old generation, bit-exact
    stageUpTo(root, batch, crashPoint = 3)
    assert(readSet(root) == oneShotLatest(ev.filter($"event_id" % 3 === 0)))
    // "rename" the manifest into place (the commit) — the very next
    // read serves the new generation, bit-exact
    val tmp = {
      val s = Files.list(Paths.get(s"$root/_manifests"))
      try s.toArray.map(_.toString).toSeq.filter(_.contains(".tmp-")).head
      finally s.close()
    }
    Files.move(Paths.get(tmp), Paths.get(tmp.replace(".tmp-", "")))
    assert(readSet(root) == oneShotLatest(ev.filter($"event_id" % 3 <= 1)))
  }

  test("maintain: threshold policy re-coalesces split buckets through a manifest commit, content identical") {
    val ev = events
    val root = freshRoot()
    Sessions.withConf(spark, "spark.sql.files.maxRecordsPerFile" -> "2") {
      LatestUpsert.init(
        spark, root, ev,
        keyCols = Seq("user_id"), orderCols = Seq("ts_us", "event_id"), buckets = 4)
    }
    val before = readSet(root)
    assert(LatestUpsert.bucketFileCounts(spark, root).values.max > 1, "premise: no bucket split")
    assert(LatestUpsert.maintain(spark, root, maxFilesPerBucket = 1), "maintain should have compacted")
    assert(LatestUpsert.bucketFileCounts(spark, root).values.max == 1)
    assert(readSet(root) == before, "maintenance changed the latest table's content")
    assert(!LatestUpsert.maintain(spark, root, maxFilesPerBucket = 1), "second maintain should be a no-op")
  }

  test("time travel: readAt serves each retained generation bit-exact; outside the window fails loudly") {
    val ev = events
    val root = freshRoot()
    initThirds(root, ev)
    val afterSeed = readSet(root)
    LatestUpsert.upsert(spark, root, ev.filter($"event_id" % 3 === 1))
    val afterFirst = readSet(root)
    LatestUpsert.upsert(spark, root, ev.filter($"event_id" % 3 === 2))
    // retention window: last 2 manifests → generations 1 and 2 (gen 0 GC'd)
    assert(LatestUpsert.generations(spark, root) == Seq(1L, 2L))
    def at(g: Long): Set[Row5] =
      LatestUpsert.readAt(spark, root, g)
        .select("user_id", "event_id", "ts_us", "event_type", "value").as[Row5].collect().toSet
    assert(at(1L) == afterFirst, "readAt(previous gen) is not the pre-batch snapshot")
    assert(at(2L) == oneShotLatest(ev))
    assert(at(2L) == readSet(root), "readAt(current) must equal read")
    val err = intercept[IllegalArgumentException](LatestUpsert.readAt(spark, root, 0L))
    assert(err.getMessage.contains("retention window"), err.getMessage)
    assert(afterSeed == oneShotLatest(ev.filter($"event_id" % 3 === 0))) // premise sanity
  }

  test("maintain rewrites ONLY over-threshold buckets — untouched buckets keep their files and manifest entries") {
    val ev = events
    val root = freshRoot()
    initThirds(root, ev, buckets = 8) // gen 0: one fileset per bucket
    // split ONLY the buckets a small batch touches
    Sessions.withConf(spark, "spark.sql.files.maxRecordsPerFile" -> "1") {
      LatestUpsert.upsert(spark, root, ev.filter($"event_id" % 3 === 1).filter($"event_id" % 17 === 0))
    }
    val counts = LatestUpsert.bucketFileCounts(spark, root)
    val over = counts.collect { case (b, n) if n > 2 => b }.toSet
    val under = counts.collect { case (b, n) if n <= 2 => b }.toSet
    assert(over.nonEmpty && under.nonEmpty, s"premise: PARTIAL split, got $counts")
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val genBefore = LatestUpsert.currentGen(fs, root).get
    val manifestBefore = LatestUpsert.readManifest(fs, root, genBefore)
    val filesBefore = dataFiles(root)
    val content = readSet(root)

    assert(LatestUpsert.maintain(spark, root, maxFilesPerBucket = 2), "maintain should have compacted")

    assert(readSet(root) == content, "partial compaction changed the latest table's content")
    assert(LatestUpsert.bucketFileCounts(spark, root).values.max <= 2)
    val manifestAfter = LatestUpsert.readManifest(fs, root, LatestUpsert.currentGen(fs, root).get)
    under.foreach { b =>
      assert(manifestAfter(b) == manifestBefore(b), s"untouched bucket $b was rewritten")
    }
    over.foreach { b =>
      assert(manifestAfter(b) != manifestBefore(b), s"over-threshold bucket $b was NOT rewritten")
    }
    // untouched buckets' data files survive bit-identically on disk
    val filesAfter = dataFiles(root)
    filesBefore.foreach { case (p, sz) =>
      if (under.exists(b => p.contains(s"/kb=$b/")) && manifestBefore.exists { case (b2, rel) => under(b2) && p.contains(rel) })
        assert(filesAfter.get(p).contains(sz), s"untouched file $p changed or vanished")
    }
  }

  test("in-commit maintenance: a maintaining batch is ONE commit, and the pre-batch reader grace survives it") {
    val ev = events
    val root = freshRoot()
    initThirds(root, ev, buckets = 8)
    // split some buckets so the next batch has maintenance work
    Sessions.withConf(spark, "spark.sql.files.maxRecordsPerFile" -> "1") {
      LatestUpsert.upsert(spark, root, ev.filter($"event_id" % 3 === 1).filter($"event_id" % 17 === 0))
    }
    assert(LatestUpsert.bucketFileCounts(spark, root).values.max > 1, "premise: buckets due for compaction")
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val genBefore = LatestUpsert.currentGen(fs, root).get
    // a reader resolves the CURRENT generation just before the batch
    val preContent = readSet(root)
    val reader = LatestUpsert.read(spark, root)
    val preBatch = reader.select("user_id", "event_id", "ts_us", "event_type", "value").as[Row5]

    // merge + compaction must land as ONE commit (two would GC the
    // reader's generation mid-batch: retention is 2 manifests)
    LatestUpsert.upsert(spark, root, ev.filter($"event_id" % 3 === 2), maxFilesPerBucket = 1)
    assert(
      LatestUpsert.currentGen(fs, root).get == genBefore + 1,
      "a maintaining batch advanced more than one generation — reader grace halved")
    assert(LatestUpsert.bucketFileCounts(spark, root).values.max == 1, "maintenance did not compact")
    // the pre-batch reader still scans bit-exact (grace window held)
    assert(preBatch.collect().toSet == preContent)
    // and the table is correct: seed ∪ the %17 subset ∪ the final third
    assert(readSet(root) == oneShotLatest(
      ev.filter($"event_id" % 3 === 0)
        .unionByName(ev.filter($"event_id" % 3 === 1).filter($"event_id" % 17 === 0))
        .unionByName(ev.filter($"event_id" % 3 === 2))))
  }

  test("init on a root with legacy remnants clears them — no hybrid artifact, no stale-migrate trap") {
    val ev = events
    val root = freshRoot()
    // a legacy rename-swap artifact sits at root
    graft.ops.Relational
      .latestPerKey(ev.filter($"event_id" % 3 === 2), Seq("user_id"), "ts_us", "event_id")
      .withColumn("kb", pmod(xxhash64($"user_id"), lit(16L)).cast("int"))
      .write.mode("overwrite").partitionBy("kb").parquet(s"$root/latest")
    Files.writeString(Paths.get(s"$root/_commit"), "3")
    Files.createDirectories(Paths.get(s"$root/_stage"))
    // re-seeding via init must produce a CLEAN manifest artifact, not a
    // hybrid that read/upsert refuse and migrate would "repair" by
    // resurrecting the stale legacy rows over this seed
    initThirds(root, ev)
    for (d <- Seq("latest", "_commit", "_stage"))
      assert(!Files.exists(Paths.get(s"$root/$d")), s"init left legacy remnant $d")
    assert(readSet(root) == oneShotLatest(ev.filter($"event_id" % 3 === 0)))
    LatestUpsert.upsert(spark, root, ev.filter($"event_id" % 3 =!= 0))
    assert(readSet(root) == oneShotLatest(ev))
  }

  test("legacy rename-swap artifact: loud detection, in-place migrate (v1 string _config), then normal upserts") {
    val ev = events
    val root = freshRoot()
    val seed = ev.filter($"event_id" % 3 === 0)
    // construct the pre-manifest layout by hand: latest/kb=... with the
    // same xxhash64 bucketing, plus a v1 _config (comma-joined strings,
    // no pinned types)
    graft.ops.Relational
      .latestPerKey(seed, Seq("user_id"), "ts_us", "event_id")
      .withColumn("kb", pmod(xxhash64($"user_id"), lit(16L)).cast("int"))
      .write.mode("overwrite").partitionBy("kb").parquet(s"$root/latest")
    Seq((16, "user_id", "ts_us,event_id"))
      .toDF("buckets", "key_cols", "order_cols")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/_config")
    // every entry point refuses the legacy layout by name
    for (op <- Seq(
        () => LatestUpsert.read(spark, root),
        () => LatestUpsert.upsert(spark, root, ev),
        () => LatestUpsert.recover(spark, root))) {
      val err = intercept[IllegalArgumentException](op())
      assert(err.getMessage.contains("migrate"), err.getMessage)
    }
    LatestUpsert.migrate(spark, root)
    assert(!Files.exists(Paths.get(s"$root/latest")), "migrate left the legacy tree")
    assert(readSet(root) == oneShotLatest(seed))
    // migrated artifact upserts normally (v3 config was re-pinned from data)
    LatestUpsert.upsert(spark, root, ev.filter($"event_id" % 3 =!= 0))
    assert(readSet(root) == oneShotLatest(ev))
  }

  test("legacy migrate rolls a marked in-flight commit forward (marker ⇒ stage authoritative)") {
    val ev = events
    val root = freshRoot()
    val seed = ev.filter($"event_id" % 3 === 0)
    val withKb = (df: DataFrame) =>
      df.withColumn("kb", pmod(xxhash64($"user_id"), lit(8L)).cast("int"))
    withKb(graft.ops.Relational.latestPerKey(seed, Seq("user_id"), "ts_us", "event_id"))
      .write.mode("overwrite").partitionBy("kb").parquet(s"$root/latest")
    Seq((8, "user_id", "ts_us,event_id"))
      .toDF("buckets", "key_cols", "order_cols")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/_config")
    // legacy crash state: complete merged stage for seed+batch, marker
    // published, one touched bucket already swapped — migrate must land
    // the remaining staged buckets before converting
    val merged = withKb(graft.ops.Relational.latestPerKey(
      ev.filter($"event_id" % 3 <= 1), Seq("user_id"), "ts_us", "event_id"))
    val touched = merged.select("kb").distinct().as[Int].collect().toSeq.sorted
    merged.filter($"kb".isin(touched: _*))
      .write.mode("overwrite").partitionBy("kb").parquet(s"$root/_stage")
    Files.writeString(Paths.get(s"$root/_commit"), touched.mkString(","))
    val b0 = touched.head
    Files.createDirectories(Paths.get(s"$root/_oldgen"))
    if (Files.exists(Paths.get(s"$root/latest/kb=$b0"))) {
      Files.move(Paths.get(s"$root/latest/kb=$b0"), Paths.get(s"$root/_oldgen/kb=$b0"))
      Files.move(Paths.get(s"$root/_stage/kb=$b0"), Paths.get(s"$root/latest/kb=$b0"))
    }
    LatestUpsert.migrate(spark, root)
    assert(readSet(root) == oneShotLatest(ev.filter($"event_id" % 3 <= 1)))
    for (d <- Seq("latest", "_stage", "_oldgen", "_commit"))
      assert(!Files.exists(Paths.get(s"$root/$d")), s"migrate left legacy remnant $d")
  }

  test("concurrent-reader torture: continuous reads during N commits with GC each serve a bit-exact committed generation") {
    // The class doc's reader-grace claim (LatestUpsert.scala, "Reader
    // grace") as pinned behavior, not prose: a reader thread hammers
    // resolve-newest + scan while the single writer commits N
    // generations with GC at the default retainedManifests = 2. Every
    // read that succeeds must be bit-exact to ONE committed generation
    // (never a mix of two, never partial); a read may fail ONLY if the
    // writer advanced >= retainedManifests commits between the
    // reader's manifest resolution and its scan (the documented
    // ≥2-lag GC race). A deliberately slow reader then demonstrates
    // that lagging failure mode loudly at the end.
    val root = freshRoot()
    val keys = (0L until 48L).toVector
    val nCommits = 12
    def rows(g: Int, ks: Seq[Long]): Seq[(Long, Long, Long)] = ks.map(k => (k, g.toLong, k * 1000 + g))
    // driver-side model of every committed snapshot: expected(g) is
    // recorded BEFORE commit g publishes, so by the time a reader can
    // resolve generation g its expectation is already present
    val expected = new java.util.concurrent.ConcurrentHashMap[Long, Set[(Long, Long, Long)]]()
    val cur = scala.collection.mutable.Map.empty[Long, (Long, Long, Long)]
    rows(0, keys).foreach(r => cur(r._1) = r)
    expected.put(0L, cur.values.toSet)
    LatestUpsert.init(
      spark, root, rows(0, keys).toDF("k", "ts", "v"),
      keyCols = Seq("k"), orderCols = Seq("ts"), buckets = 8)

    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val mixes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val hardFailures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val laggedFailures = new java.util.concurrent.atomic.AtomicInteger(0)
    val successes = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      while (!done.get()) {
        val gens = LatestUpsert.generations(spark, root)
        if (gens.nonEmpty) {
          val g = gens.max
          try {
            val got = LatestUpsert.readAt(spark, root, g)
              .select("k", "ts", "v").as[(Long, Long, Long)].collect().toSet
            val want = expected.get(g)
            if (want == null || got != want)
              mixes.add(s"gen $g: read ${got.size} rows != committed snapshot " +
                s"(${Option(want).map(_.size).getOrElse(-1)} rows)")
            successes.incrementAndGet()
          } catch {
            case e: Throwable =>
              // legitimate ONLY when the writer advanced past the
              // grace window mid-read — the documented lag race
              val now = LatestUpsert.generations(spark, root)
              val lag = if (now.isEmpty) Long.MaxValue else now.max - g
              if (lag >= LatestUpsert.retainedManifests) laggedFailures.incrementAndGet()
              else hardFailures.add(s"gen $g (lag $lag): $e")
          }
        }
      }
    })
    reader.start()
    try {
      (1 to nCommits).foreach { g =>
        // sliding subset: exercises both carried-forward manifest
        // entries (untouched buckets) and GC of superseded dirs
        val ks = keys.filter(_ % 6 == g % 6)
        rows(g, ks).foreach(r => cur(r._1) = r)
        expected.put(g.toLong, cur.values.toSet)
        LatestUpsert.upsert(spark, root, rows(g, ks).toDF("k", "ts", "v"))
      }
    } finally {
      done.set(true)
      reader.join(60000)
    }
    assert(mixes.isEmpty, s"reader observed a non-committed state: ${mixes.peek()}")
    assert(hardFailures.isEmpty, s"reader failed INSIDE the grace window: ${hardFailures.peek()}")
    assert(successes.get() >= 5, s"torture reader only completed ${successes.get()} reads — not a meaningful hammer")

    // the deliberately slow reader: resolve now, lag >= retainedManifests
    // full-touch commits (every bucket superseded, old dirs GC'd), then
    // scan — MUST fail loudly, never silently serve partial state
    val stale = LatestUpsert.read(spark, root).select("k", "ts", "v")
    (nCommits + 1 to nCommits + 3).foreach { g =>
      LatestUpsert.upsert(spark, root, rows(g, keys).toDF("k", "ts", "v"))
    }
    intercept[Exception] { stale.as[(Long, Long, Long)].collect() }
  }

  test("changesBetween: CDC diff over manifests ≡ full-snapshot diff, computed from changed buckets only") {
    val root = freshRoot()
    val keys = (0L until 40L).toVector
    def rows(g: Int, ks: Seq[Long]): Seq[(Long, Long, Long)] = ks.map(k => (k, g.toLong, k * 1000 + g))
    LatestUpsert.init(
      spark, root, rows(0, keys.take(30)).toDF("k", "ts", "v"),
      keyCols = Seq("k"), orderCols = Seq("ts"), buckets = 16)
    // gen 1: update 6 existing keys + add 10 new ones
    val b1 = rows(1, keys.take(6) ++ keys.drop(30))
    LatestUpsert.upsert(spark, root, b1.toDF("k", "ts", "v"))
    val diff = LatestUpsert.changesBetween(spark, root, 0L, 1L)
      .select("k", "ts", "v", "change").as[(Long, Long, Long, String)].collect().toSet
    // oracle: compare the two full snapshots driver-side
    val snapA = LatestUpsert.readAt(spark, root, 0L)
      .select("k", "ts", "v").as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val snapB = LatestUpsert.readAt(spark, root, 1L)
      .select("k", "ts", "v").as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val want = snapB.collect {
      case (k, r) if !snapA.contains(k) => (r._1, r._2, r._3, "added")
      case (k, r) if snapA(k) != r      => (r._1, r._2, r._3, "updated")
    }.toSet
    assert(diff == want)
    assert(diff.count(_._4 == "added") == 10 && diff.count(_._4 == "updated") == 6)
    // plan pin: the diff's scans list ONLY buckets whose manifest
    // entries differ between the two generations — an unchanged
    // bucket's dir (same path in both manifests) never appears in any
    // file-source path. Touched buckets computed with the engine's own
    // bucket expression so the pin can't drift from the layout.
    val touchedBuckets = b1.map(_._1).toDF("k")
      .select(pmod(xxhash64($"k"), lit(16L)).cast("int").as("kb"))
      .distinct().as[Int].collect().toSet
    assert(touchedBuckets.size < 16, "test needs at least one UNtouched bucket to pin pruning")
    val diffDf = LatestUpsert.changesBetween(spark, root, 0L, 1L)
    val scanned = diffDf.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.rootPaths.map(_.toString)
    }.flatten
    assert(scanned.nonEmpty)
    val scannedBuckets = scanned.map(p => p.split("kb=").last.toInt).toSet
    assert(
      scannedBuckets.subsetOf(touchedBuckets),
      s"diff scanned unchanged buckets ${(scannedBuckets -- touchedBuckets).toSeq.sorted.mkString(", ")}")
    // and empty diff when nothing changed between equal manifests is
    // impossible by signature (genA < genB); a rewrite-only generation
    // (compaction rider) scans but emits nothing — value comparison,
    // not location comparison
    LatestUpsert.compactBuckets(spark, root, touchedBuckets.toSeq)
    assert(LatestUpsert.changesBetween(spark, root, 1L, 2L).isEmpty)
  }

  test("CDC consumption: incremental refresh of a dependent aggregate from the gen A→B diff ≡ full recompute") {
    // the worked example changesBetween exists for: a dependent grouped
    // aggregate (sum(v), count by g = k % 5) maintained INCREMENTALLY —
    // add each diff row's new contribution, subtract the before-image's
    // (zero extra IO: `before` rides the diff) — must equal recomputing
    // the aggregate from the full genB snapshot.
    val root = freshRoot()
    val keys = (0L until 40L).toVector
    def rows(g: Int, ks: Seq[Long]): Seq[(Long, Long, Long)] = ks.map(k => (k, g.toLong, k * 1000 + g))
    LatestUpsert.init(
      spark, root, rows(0, keys.take(30)).toDF("k", "ts", "v"),
      keyCols = Seq("k"), orderCols = Seq("ts"), buckets = 16)
    def fullAgg(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
      df.groupBy(pmod($"k", lit(5L)).as("g"))
        .agg(sum($"v").as("s"), count(lit(1)).as("n"))
        .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val agg0 = fullAgg(LatestUpsert.readAt(spark, root, 0L))
    // gen 1: update 6 existing keys, add 10 new ones
    LatestUpsert.upsert(spark, root, rows(1, keys.take(6) ++ keys.drop(30)).toDF("k", "ts", "v"))
    val delta = LatestUpsert.changesBetween(spark, root, 0L, 1L, includeBefore = true)
      .groupBy(pmod($"k", lit(5L)).as("g"))
      .agg(
        (sum($"v") - sum(coalesce($"before.v", lit(0L)))).as("ds"),
        sum(when($"change" === "added", 1L).otherwise(0L)).as("dn"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val incremental = (agg0.keySet ++ delta.keySet).map { g =>
      val (s0, n0) = agg0.getOrElse(g, (0L, 0L))
      val (ds, dn) = delta.getOrElse(g, (0L, 0L))
      g -> (s0 + ds, n0 + dn)
    }.toMap
    assert(incremental == fullAgg(LatestUpsert.read(spark, root)))
    // not vacuous: the diff carried both change kinds
    assert(delta.nonEmpty && delta.values.exists(_._2 > 0))
  }

  test("racing writers: lease admits one at a time — single linear generation chain, no lost updates") {
    val ev = events
    val root = freshRoot()
    LatestUpsert.init(
      spark, root, ev.filter($"event_id" % 7 === 0),
      keyCols = Seq("user_id"), orderCols = Seq("ts_us", "event_id"), buckets = 8)
    val writers = 6
    val losses = new java.util.concurrent.atomic.AtomicInteger(0)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val start = new java.util.concurrent.CountDownLatch(1)
    // each writer retries on the loud loser signal until ITS batch
    // commits — the pattern a misconfigured-but-resilient caller uses
    val threads = (1 to writers).map { i =>
      val t = new Thread(() =>
        try {
          start.await()
          val batch = events.filter($"event_id" % 7 === i)
          var done = false
          while (!done)
            try { LatestUpsert.upsert(spark, root, batch); done = true }
            catch {
              case _: graft.io.ConcurrentWriterException =>
                losses.incrementAndGet(); Thread.sleep(20)
            }
        } catch { case e: Throwable => failures.add(e) })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join(300000))
    assert(failures.isEmpty, s"writer thread died: ${failures.peek()}")
    // linear chain: 6 successful upserts from generation 0 ⇒ current
    // generation is exactly 6 — a same-generation double-commit (one
    // manifest overwriting another) would end lower
    assert(graft.io.LatestUpsert.generations(spark, root).max == writers.toLong,
      s"generation chain is not linear: ${graft.io.LatestUpsert.generations(spark, root)}")
    // no lost updates: final state ≡ one-shot latest over seed ∪ all
    // six batches (event_id % 7 covers every event)
    assert(readSet(root) == oneShotLatest(ev))
    // the lease is released: the next writer acquires without help
    assert(!Files.exists(Paths.get(s"$root/_writerlock")))
    LatestUpsert.upsert(spark, root, ev.limit(5))
  }

  test("a losing writer fails fast BEFORE staging anything; breakLock is the crashed-holder recovery") {
    val ev = events
    val root = freshRoot()
    initThirds(root, ev, buckets = 8)
    val before = genDirs(root)
    val manifestsBefore = manifestFiles(root)
    // simulate a crashed (or live) holder: the lock file exists and no
    // process will ever release it
    Files.write(
      Paths.get(s"$root/_writerlock"),
      "writer=dead-beef pid=0 host=ghost epochMs=0".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    val batch = ev.filter($"event_id" % 3 === 1)
    val e = intercept[graft.io.ConcurrentWriterException] {
      LatestUpsert.upsert(spark, root, batch)
    }
    // the message carries the diagnosis: who holds it, and the recovery
    assert(e.getMessage.contains("pid=0"), s"holder info missing: ${e.getMessage}")
    assert(e.getMessage.contains("breakLock"), s"recovery path missing: ${e.getMessage}")
    // the loser touched NOTHING — no staged generation, no manifest,
    // not even garbage for recover() to sweep
    assert(genDirs(root) == before, "loser staged a generation dir")
    assert(manifestFiles(root) == manifestsBefore, "loser touched manifests")
    // documented recovery: confirm the holder is dead, break the lease,
    // and the next writer proceeds normally
    LatestUpsert.breakLock(spark, root)
    LatestUpsert.upsert(spark, root, batch)
    assert(readSet(root) == oneShotLatest(ev.filter($"event_id" % 3 <= 1)))
  }

  test("a writer whose BODY throws releases the lease (only a process crash leaves it held)") {
    val ev = events
    val root = freshRoot()
    initThirds(root, ev, buckets = 8)
    // schema drift fails loudly inside upsert, after lease acquisition
    intercept[IllegalArgumentException] {
      LatestUpsert.upsert(spark, root, ev.withColumn("rogue", lit(1)))
    }
    assert(!Files.exists(Paths.get(s"$root/_writerlock")), "thrown body leaked the lease")
    LatestUpsert.upsert(spark, root, ev.filter($"event_id" % 3 === 1)) // acquires cleanly
  }

  test("an external recover() cannot race a live writer: it takes the lease itself") {
    // recover()'s gc deletes unreferenced bucket/generation dirs — run
    // against a mid-commit live writer it could delete the writer's
    // staged generation between writeGeneration and publishManifest.
    // The lease closes that: with a LIVE holder (this very process, so
    // the same-host auto-break must refuse), recover fails fast and
    // deletes nothing.
    val ev = events
    val root = freshRoot()
    initThirds(root, ev, buckets = 8)
    val startMs = ProcessHandle.current().info().startInstant()
      .map[Long](_.toEpochMilli).orElse(-1L)
    Files.write(
      Paths.get(s"$root/_writerlock"),
      (s"writer=live pid=${ProcessHandle.current().pid()} " +
        s"host=${java.net.InetAddress.getLocalHost.getHostName} startMs=$startMs epochMs=1").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    // the "live writer's staged generation": a data dir no manifest
    // references yet — exactly what an unguarded recover would gc
    val staged = Paths.get(s"$root/data/g000000000042/kb=0")
    Files.createDirectories(staged)
    intercept[graft.io.ConcurrentWriterException] {
      LatestUpsert.recover(spark, root)
    }
    assert(Files.exists(staged), "recover gc'd a live writer's staged generation through the lease")
    LatestUpsert.breakLock(spark, root)
    LatestUpsert.recover(spark, root) // with the lease free, the gc proceeds
    assert(!Files.exists(staged), "post-lease recover failed to sweep the orphaned stage")
  }

  test("streaming foreachBatch maintenance ≡ sequential upserts") {
    val ev = events
    val root = freshRoot()
    initThirds(root, ev)
    val src = Files.createTempDirectory("latestsrc").toString
    val chk = Files.createTempDirectory("latestchk").toString
    ev.filter($"event_id" % 3 === 1).write.mode("append").parquet(src)
    val stream = spark.readStream.schema(ev.schema).parquet(src)
    val q = LatestUpsert.start(stream, root, chk, maxFilesPerBucket = 8)
    q.processAllAvailable()
    ev.filter($"event_id" % 3 === 2).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    assert(readSet(root) == oneShotLatest(ev))
  }
}
