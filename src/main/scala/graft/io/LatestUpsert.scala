package graft.io

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** S5 at lake scale — the reference's Redis latest-value table
  * (`HSET tastytrade:latest:{EventType} symbol json`,
  * `messaging/processors/redis.py:26-38`; in-memory dedup
  * `messaging/processors/default.py:62-68`) as an incrementally
  * MAINTAINED parquet artifact: one row per key, updated batch-by-batch
  * with bucket-pruned rewrites instead of full-table overwrites.
  *
  * [[Sinks.writeLatest]] is the snapshot form (recompute + overwrite —
  * fine when the WHOLE keyspace is in every batch). This is the
  * incremental form a 100 TB event stream needs: each batch touches a
  * tiny fraction of keys, so rewriting the full latest table per batch
  * is O(keyspace) wasted IO.
  *
  * == Layout (generation-manifest) ==
  *
  * {{{
  * root/_config                  # layout + FULL pinned schema sidecar
  * root/_manifests/m<gen>        # committed manifests (see below)
  * root/data/g<gen>/kb=<b>/...   # immutable per-generation bucket dirs
  * }}}
  *
  * Rows are bucketed by `kb = pmod(xxhash64(keyCols), buckets)`; each
  * commit writes the merged TOUCHED buckets into a fresh generation
  * directory and publishes a manifest `m<gen>` — a tiny file holding the
  * COMPLETE bucket→directory mapping for that generation (touched
  * buckets point at the new dirs, untouched buckets keep pointing at
  * the dirs of earlier generations). The current table is defined by
  * the highest-numbered manifest; generation data dirs are IMMUTABLE
  * once written.
  *
  * The `_config` sidecar pins the layout (`buckets`, key/order columns)
  * AND the full seed schema — every column name and type. `xxhash64`
  * hashes by physical type, so a key-column type drift (INT user_id vs
  * the seed's BIGINT) would bucket the same key value differently and
  * leave two "latest" rows for one key; a VALUE-column drift would
  * persist mixed physical types across generations and fail at a later
  * scan instead of at upsert. [[upsert]] validates every batch against
  * the pinned schema and fails loudly on any name or type drift.
  *
  * == Commit protocol (atomic manifest publish) ==
  *
  * Per-batch merge, in order:
  *   1. assign each batch row its deterministic key bucket (scan-local);
  *   2. collect the batch's TOUCHED bucket set (bounded by `buckets`,
  *      a driver-side collect — the `ivfTopKIndexed` move);
  *   3. read ONLY those buckets' directories of the current generation
  *      (path-level pruning: untouched dirs are not even listed);
  *   4. per-key `max_by(row, (orderCols))` over existing ∪ batch —
  *      latest-wins with a TOTAL deterministic order;
  *   5. write the merged buckets to the NEXT generation dir,
  *      repartitioned by bucket (one writing task per touched bucket →
  *      one right-sized file set per bucket per generation — the table
  *      never accumulates small files in steady state);
  *   6. publish manifest `m<gen+1>` — written to a dot-temp and renamed
  *      into place, so the manifest appears fully formed or not at all;
  *   7. GC: drop manifests older than the previous generation and any
  *      data dir no retained manifest references.
  *
  * The commit point is the SINGLE small-file create in step 6. This is
  * atomic on HDFS/POSIX (file rename) and safe on object stores too —
  * a new-key PUT of one small object appears fully formed to readers,
  * unlike the directory rename-swap this replaced (rename-as-copy over
  * a bucket's data files left a crash window proportional to bucket
  * size, and a healthy-run reader could observe a bucket mid-rename).
  * Here a reader NEVER observes partial state on any filesystem: it
  * resolves the newest manifest and reads only immutable directories
  * that manifest references. A reader racing a commit sees either the
  * old generation or the new one, bit-exact.
  *
  * Crash recovery is correspondingly trivial — there is no roll-forward
  * state machine. A crash anywhere before step 6 leaves unreferenced
  * `data/g<gen+1>` garbage (and possibly a dot-temp manifest), which
  * [[recover]] deletes; the interrupted batch is simply replayed. A
  * crash after step 6 is a COMMITTED batch with pending GC, which
  * [[recover]] finishes idempotently. [[recover]] runs automatically at
  * the start of every [[upsert]]; [[read]] needs no recovery call ever.
  *
  * Reader grace: GC retains the previous generation's manifest and all
  * dirs it references, so a reader that resolved its manifest just
  * before a commit can finish scanning through ONE subsequent commit;
  * only a reader that lags two or more commits behind can race GC (size
  * the retention up by keeping more manifests if readers are slower
  * than the batch cadence — the knob is [[retainedManifests]]).
  *
  * Single WRITER by contract (the reference's Redis processor is one
  * consumer loop); readers are unrestricted. The contract is ENFORCED,
  * not prose: every writing entry point takes a `_writerlock` lease via
  * an atomic create-exclusive before touching any state, so a second
  * concurrent writer (a misconfigured second stream on the same root)
  * fails fast with [[ConcurrentWriterException]] — loudly, and before
  * it stages a single byte. The CAS primitive is `O_EXCL` file create
  * (atomic on POSIX via NIO `CREATE_NEW`; atomic on HDFS at the
  * namenode; on an object store it needs conditional-PUT semantics —
  * without them, keep the single-writer guarantee at the orchestration
  * layer). A writer that CRASHES while holding the lease leaves the
  * lock file behind; the documented recovery is [[breakLock]] after
  * confirming the holder is dead (the lock content names writer id,
  * pid, host, and acquisition time for exactly that diagnosis). The
  * manifest protocol itself needs no lock for crash-safety — the lease
  * only serializes LIVE writers.
  *
  * == Replay semantics ==
  *
  * For committed batches the merge is idempotent at the row level (max
  * is associative, commutative, idempotent), so a replayed batch
  * re-merges to identical bucket content; batch ORDER between disjoint
  * key sets is immaterial, and for the same key the (orderCols) max is
  * order-free by construction. The end state after any interleaving of
  * committed upserts equals the one-shot latest-per-key over the union
  * of all rows ever upserted — exactly what the DuckDB oracle
  * recomputes. An uncommitted batch is wholly invisible (the manifest
  * never flipped) and replays from scratch.
  *
  * == 100 TB shape ==
  *
  * The existing-table read lists and scans touched buckets only
  * (batch-key-spread-bounded IO, never O(keyspace)); the merge shuffles
  * ONLY those buckets' rows plus the batch (one exchange on the key,
  * one on the bucket for file sizing); the rewrite IO is the same
  * touched subset. Unlike the rename-swap design, the merge never reads
  * files it is about to replace — generations are immutable and the old
  * one outlives the commit — so no lineage-severing checkpoint (and its
  * full materialization) is needed per batch. `buckets` bounds the
  * directory count; size it so a bucket's latest rows fit an executor
  * comfortably (keyspace/buckets rows, one row per key). Steady-state
  * file hygiene is by construction (step 5); [[compact]] exists to
  * re-coalesce after config experiments and rides the SAME manifest
  * commit, so it has no crash window either.
  */
/** A second live writer raced a writing entry point on the same
  * latest-value table root. The message names the current holder
  * (writer id, pid, host, acquisition time) read from its lock file.
  * The loser has staged NOTHING when this throws — the lease is taken
  * before any state is touched — so there is nothing to clean up;
  * retry after the holder finishes, or fix the misconfiguration that
  * pointed two writers at one root.
  */
class ConcurrentWriterException(msg: String) extends IllegalStateException(msg)

object LatestUpsert {

  /** Manifests (and the generations they reference) retained by GC
    * beyond the current one — the reader-grace knob (see class doc).
    */
  val retainedManifests = 2

  // ── single-writer lease (shared machinery: [[WriterLease]]) ────────

  private def lockPath(root: String) = new Path(s"$root/_writerlock")

  /** Run `body` holding the root's writer lease. Fail-fast semantics:
    * if another live writer holds it, throw [[ConcurrentWriterException]]
    * naming the holder — BEFORE any state is touched. The lease is
    * released on every exit (success or thrown body); only a process
    * crash leaves it behind, and [[breakLock]] is the recovery.
    */
  private def withWriterLock[T](fs: FileSystem, root: String)(body: => T): T =
    WriterLease.withLock(
      fs, lockPath(root),
      s"latest-value table at $root",
      "run LatestUpsert.breakLock(spark, root)")(body)

  /** Operator recovery for a writer that CRASHED holding the lease ON
    * ANOTHER HOST: deletes the lock file so the next writer can
    * acquire. (A same-host dead holder needs no operator — the lease
    * machinery verifies the recorded pid dead locally, start-time-
    * guarded against reuse, and breaks it automatically; see
    * [[WriterLease]].) Call only after confirming the recorded holder
    * (pid/host in the lock file, surfaced by
    * [[ConcurrentWriterException]]) is dead — breaking a LIVE writer's
    * lease reintroduces exactly the race the lease exists to prevent.
    * The artifact itself needs no repair: an interrupted commit never
    * flipped the manifest, and the next [[upsert]]'s [[recover]]
    * deletes its staged garbage.
    */
  def breakLock(spark: SparkSession, root: String): Unit = {
    fsOf(spark, root).delete(lockPath(root), false)
    ()
  }

  /** Initialize the artifact from a seed event set (possibly empty):
    * latest-per-key of the seed as generation 0, plus the `_config`
    * sidecar pinning (buckets, key/order columns, and the FULL seed
    * schema — every column's name and type).
    */
  def init(
      spark: SparkSession,
      root: String,
      seed: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      buckets: Int = 64
  ): Unit = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    // a zero-row partitioned write leaves NO parquet footers, so the
    // artifact would be unreadable (schema can't be inferred) — to
    // start from nothing, seed with the first batch instead
    require(!seed.isEmpty, "seed must be non-empty; bootstrap with the first batch as the seed")
    import spark.implicits._
    val fs = fsOf(spark, root)
    withWriterLock(fs, root) {
    configCache.remove(root)
    fs.delete(new Path(s"$root/data"), true)
    fs.delete(manifestsPath(root), true)
    // init is destructive by contract (it just deleted data/ and
    // _manifests/); legacy rename-swap remnants go too — leaving them
    // would produce a hybrid artifact every other entry point refuses,
    // and the prescribed migrate() would then "repair" it by silently
    // replacing this very seed with the stale legacy rows
    Seq("latest", "_stage", "_oldgen", "_commit", "_commit.tmp")
      .foreach(d => fs.delete(new Path(s"$root/$d"), true))
    val seeded = withBucket(latestPerKey(seed, keyCols, orderCols), keyCols, buckets)
    val present = writeGeneration(spark, root, 0L, seeded, buckets)
    def types(cols: Seq[String]): Seq[String] =
      cols.map(c => seed.schema(c).dataType.catalogString)
    val allCols = seed.columns.toSeq
    // list columns, not comma-joined strings: a column name containing
    // a comma must round-trip; types pinned per column
    Seq((buckets, keyCols, types(keyCols), orderCols, types(orderCols), allCols, types(allCols)))
      .toDF("buckets", "key_cols", "key_types", "order_cols", "order_types", "all_cols", "all_types")
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(s"$root/_config")
    publishManifest(fs, root, 0L, present.map(b => b -> relPath(0L, b)).toMap)
    }
  }

  private[graft] case class Config(
      buckets: Int,
      keyCols: Seq[String],
      keyTypes: Seq[String],
      orderCols: Seq[String],
      orderTypes: Seq[String],
      allCols: Seq[String],
      allTypes: Seq[String]
  )

  /** `_config` is immutable for the life of an artifact (only [[init]] /
    * [[migrate]] rewrite it, and they drop the entry), so cache per
    * root — upsert/read/compact consult it on every call.
    */
  private val configCache = new java.util.concurrent.ConcurrentHashMap[String, Config]()

  private[graft] def readConfig(spark: SparkSession, root: String): Config =
    configCache.computeIfAbsent(root, _ => readConfigUncached(spark, root))

  private def readConfigUncached(spark: SparkSession, root: String): Config = {
    val df = spark.read.parquet(s"$root/_config")
    val isV1 = df.schema.fields.exists(f =>
      f.name == "key_cols" && f.dataType == org.apache.spark.sql.types.StringType)
    require(
      !isV1,
      s"latest-value table at $root has a v1 _config (comma-joined string columns) — " +
        "run LatestUpsert.migrate(spark, root) to upgrade the artifact in place")
    val r = df.collect().head
    Config(
      r.getInt(0),
      r.getSeq[String](1), r.getSeq[String](2),
      r.getSeq[String](3), r.getSeq[String](4),
      r.getSeq[String](5), r.getSeq[String](6))
  }

  /** Fail loudly if `batch` drifts from the pinned seed schema in ANY
    * column — missing, extra, or type-drifted. Key/order drift would
    * silently corrupt bucket assignment (xxhash64 hashes by physical
    * type, leaving two "latest" rows for one key); value drift would
    * persist mixed physical types across generations and fail at a
    * later scan instead of here.
    */
  private def validateBatch(batch: DataFrame, cfg: Config): Unit = {
    val pinned = cfg.allCols.zip(cfg.allTypes).toMap
    batch.schema.fields.foreach { f =>
      require(
        pinned.contains(f.name),
        s"latest-upsert batch carries column '${f.name}' that is not in the pinned artifact " +
          s"schema (${cfg.allCols.mkString(", ")}) — drop it or re-init the artifact")
    }
    cfg.allCols.zip(cfg.allTypes).foreach { case (c, t) =>
      val f = batch.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"latest-upsert batch is missing pinned column '$c' (artifact schema: " +
            s"${cfg.allCols.mkString(", ")})"))
      val role =
        if (cfg.keyCols.contains(c) || cfg.orderCols.contains(c))
          "type drift changes xxhash64 bucket assignment and would silently duplicate keys across buckets"
        else
          "type drift would persist mixed physical types across generations and fail at a later scan"
      require(
        f.dataType.catalogString == t,
        s"latest-upsert batch column '$c' has type ${f.dataType.catalogString} but the " +
          s"artifact was seeded with $t — $role; cast the batch to the seed schema")
    }
  }

  private def withBucket(df: DataFrame, keyCols: Seq[String], buckets: Int): DataFrame =
    df.withColumn("kb", pmod(xxhash64(keyCols.map(col): _*), lit(buckets.toLong)).cast("int"))

  /** The pinned row schema (no `kb` — the bucket is directory layout,
    * not data), so generation scans skip footer-based inference.
    */
  private def pinnedSchema(cfg: Config): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      cfg.allCols.zip(cfg.allTypes).map { case (c, t) => s"`$c` $t" }.mkString(", "))

  /** One row per key: `max_by(full row, (orderCols struct))`. The order
    * struct must be a TOTAL order per key (e.g. (ts, event_id)) or
    * latest-wins is not well-defined — same contract as
    * [[graft.ops.Relational.latestPerKey]], which this mirrors on the
    * bucketed layout.
    */
  private def latestPerKey(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String]): DataFrame = {
    val payload = df.columns.filterNot(keyCols.contains)
    df.groupBy(keyCols.map(col): _*)
      .agg(
        max_by(
          struct(payload.map(col): _*),
          struct(orderCols.map(col): _*)
        ).as("latest")
      )
      .select(keyCols.map(col) ++ payload.map(c => col(s"latest.$c").as(c)): _*)
  }

  // ── generation/manifest mechanics ──────────────────────────────────

  private def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestsPath(root: String) = new Path(s"$root/_manifests")
  private def genName(gen: Long) = f"g$gen%012d"
  private def manifestName(gen: Long) = f"m$gen%012d"
  private def relPath(gen: Long, bucket: Int) = s"data/${genName(gen)}/kb=$bucket"

  /** Refuse to operate on a pre-manifest (rename-swap) artifact — its
    * `latest/` tree and `_commit` protocol are not understood by this
    * layout; [[migrate]] upgrades it in place.
    */
  private def requireManifestLayout(fs: FileSystem, root: String): Unit =
    require(
      !fs.exists(new Path(s"$root/latest")) && !fs.exists(new Path(s"$root/_commit")),
      s"latest-value table at $root uses the legacy rename-swap layout " +
        "(latest/ dirs, _commit marker) — run LatestUpsert.migrate(spark, root) to upgrade " +
        "it in place to the generation-manifest layout")

  /** Highest committed generation, from the manifest listing. None ⇒
    * uninitialized (or interrupted [[init]] — re-run init).
    */
  private[graft] def currentGen(fs: FileSystem, root: String): Option[Long] = {
    val dir = manifestsPath(root)
    if (!fs.exists(dir)) None
    else {
      val gens = fs.listStatus(dir).map(_.getPath.getName).collect {
        case n if n.matches("m\\d{12}") => n.stripPrefix("m").toLong
      }
      if (gens.isEmpty) None else Some(gens.max)
    }
  }

  /** The complete bucket→directory mapping of generation `gen`
    * (root-relative paths).
    */
  private[graft] def readManifest(fs: FileSystem, root: String, gen: Long): Map[Int, String] = {
    val in = fs.open(new Path(manifestsPath(root), manifestName(gen)))
    val s =
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    s.split("\n").iterator.filter(_.nonEmpty).map { line =>
      val Array(b, p) = line.split("\t", 2)
      b.toInt -> p
    }.toMap
  }

  /** Atomic commit point: the manifest is written to a dot-temp (never
    * a candidate for [[currentGen]]) and renamed into place as ONE
    * small file — it appears fully formed or not at all, on any
    * filesystem (see class doc).
    */
  private def publishManifest(fs: FileSystem, root: String, gen: Long, m: Map[Int, String]): Unit = {
    fs.mkdirs(manifestsPath(root))
    val tmp = new Path(manifestsPath(root), s".tmp-${manifestName(gen)}")
    val out = fs.create(tmp, true)
    try out.write(
      m.toSeq.sortBy(_._1).map { case (b, p) => s"$b\t$p" }.mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    require(
      fs.rename(tmp, new Path(manifestsPath(root), manifestName(gen))),
      s"latest-upsert: could not publish manifest $gen at $root (concurrent writer?)")
  }

  /** Write `df` (bucketed rows, `kb` column present) as generation
    * `gen`, one writing task per bucket (`repartition` on the bucket
    * column) so each bucket dir gets one right-sized file set. Returns
    * the buckets present in the written generation.
    *
    * `writeBuckets` is the number of DISTINCT buckets the frame can
    * contain (the planned touched set for a merge; all of them for
    * init) — sizing the exchange to it instead of the table's full
    * bucket count keeps a narrow batch from scheduling mostly-empty
    * write tasks (guide §2: right-size the shuffle). Hash collisions
    * between buckets only reduce write parallelism; the one-file-set-
    * per-bucket invariant is `partitionBy`'s, not the task count's.
    */
  private def writeGeneration(
      spark: SparkSession,
      root: String,
      gen: Long,
      df: DataFrame,
      writeBuckets: Int
  ): Seq[Int] = {
    df.repartition(math.min(math.max(1, writeBuckets), 1 << 12), col("kb"))
      .write
      .mode("overwrite")
      .partitionBy("kb")
      .parquet(s"$root/data/${genName(gen)}")
    val fs = fsOf(spark, root)
    fs.listStatus(new Path(s"$root/data/${genName(gen)}"))
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("kb=") => n.stripPrefix("kb=").toInt }
      .toSeq
  }

  /** Delete everything no retained manifest references: manifests older
    * than `current - retainedManifests + 1`, data dirs (committed-and-
    * superseded OR staged-and-never-committed) outside the retained
    * mapping, and dot-temp manifest remnants. Idempotent; every step is
    * a pure delete of unreferenced state, safe to re-run after a crash
    * at any point.
    */
  private def gc(fs: FileSystem, root: String, current: Long): Unit = {
    val keepGens = (math.max(0L, current - retainedManifests + 1) to current)
      .filter(g => fs.exists(new Path(manifestsPath(root), manifestName(g))))
    val referenced: Set[String] = keepGens.flatMap(g => readManifest(fs, root, g).values).toSet
    // stale + temp manifests
    fs.listStatus(manifestsPath(root)).foreach { st =>
      val n = st.getPath.getName
      val stale = n.matches("m\\d{12}") && n.stripPrefix("m").toLong < keepGens.min
      if (stale || n.startsWith(".tmp-")) fs.delete(st.getPath, false)
    }
    // unreferenced bucket dirs, then empty generation dirs
    val data = new Path(s"$root/data")
    if (fs.exists(data)) fs.listStatus(data).foreach { gen =>
      if (gen.isDirectory) {
        val genRel = s"data/${gen.getPath.getName}"
        fs.listStatus(gen.getPath).foreach { kb =>
          if (kb.getPath.getName.startsWith("kb=") && !referenced.contains(s"$genRel/${kb.getPath.getName}"))
            fs.delete(kb.getPath, true)
        }
        if (!fs.listStatus(gen.getPath).exists(_.getPath.getName.startsWith("kb=")))
          fs.delete(gen.getPath, true)
      }
    }
  }

  /** Finish pending GC and discard uncommitted staged state. With the
    * manifest protocol this is pure garbage collection — there is no
    * roll-forward: an interrupted commit never flipped the manifest, so
    * its staged generation is invisible garbage and the batch replays.
    * Called automatically by [[upsert]]; safe standalone too because it
    * takes the writer lease itself — [[gc]] DELETES unreferenced
    * bucket/generation dirs, and an external `recover` racing a live
    * writer could otherwise delete that writer's staged generation
    * between its `writeGeneration` and `publishManifest` (reentrancy
    * makes the internal upsert/compact/maintain call sites free).
    * Readers never need it.
    */
  def recover(spark: SparkSession, root: String): Unit = {
    val fs = fsOf(spark, root)
    withWriterLock(fs, root) {
      requireManifestLayout(fs, root)
      currentGen(fs, root).foreach(gc(fs, root, _))
    }
  }

  /** The staged merge for one batch: the merge plan, the touched bucket
    * set, the PINNED (locally checkpointed) bucketed batch the plan
    * reads, and the generation/manifest the existing side was resolved
    * against (so [[upsert]] never re-reads them). None when the batch
    * is empty — the pinned frame is already released in that case.
    *
    * One Spark job, not two (guide §1 — the upsert commit sequence is
    * job-floor-bound, not data-bound): the batch is pinned with a LAZY
    * local checkpoint whose FIRST action is the touched-set collect, so
    * a single job both materializes the pinned blocks (every column,
    * bucket included) and returns the touched buckets. The pin's
    * planned == written guarantee is unchanged — the generation write
    * reads the same materialized blocks the collect persisted; the
    * rogue-bucket guard in [[upsert]] stays as the zero-cost backstop.
    * The caller MUST release `pinned` (Checkpoints.release) after the
    * merge is consumed.
    */
  private[graft] case class StagedMerge(
      merged: DataFrame,
      touched: Seq[Int],
      pinned: DataFrame,
      gen: Long,
      manifest: Map[Int, String])

  private[graft] def stagedMergeForBatch(
      spark: SparkSession,
      root: String,
      batch: DataFrame
  ): Option[StagedMerge] = {
    val fs = fsOf(spark, root)
    requireManifestLayout(fs, root)
    val cfg = readConfig(spark, root)
    validateBatch(batch, cfg)
    val pinned = withBucket(batch, cfg.keyCols, cfg.buckets).localCheckpoint(eager = false)
    // bounded driver collect: ≤ `buckets` distinct values by construction;
    // as the checkpoint's first action it also materializes the pin
    val touched = pinned.select("kb").distinct().collect().map(_.getInt(0)).toSeq.sorted
    if (touched.isEmpty) { graft.Checkpoints.release(pinned); None }
    else {
      val gen = currentGen(fs, root).getOrElse(
        throw new IllegalStateException(s"latest-value table at $root has no committed manifest — init first"))
      val manifest = readManifest(fs, root, gen)
      val existingPaths = touched.flatMap(manifest.get).map(p => s"$root/$p")
      val pinnedRows = pinned.drop("kb")
      val existing =
        if (existingPaths.isEmpty) pinnedRows.limit(0) // all-new buckets
        else spark.read.schema(pinnedSchema(cfg)).parquet(existingPaths: _*)
      val merged = withBucket(
        latestPerKey(existing.unionByName(pinnedRows), cfg.keyCols, cfg.orderCols),
        cfg.keyCols, cfg.buckets)
      Some(StagedMerge(merged, touched, pinned, gen, manifest))
    }
  }

  /** Run `f` on the merge PLAN for one batch (pre-materialization) and
    * its touched bucket set — package-visible so the pruning spec can
    * lint, or stage, the exact plan [[upsert]] executes. None when the
    * batch is empty. The existing-side read lists ONLY the touched
    * buckets' current directories — path-level pruning, untouched dirs
    * never appear in the scan. The pinned batch the plan reads is
    * released when `f` returns or throws, so `f` must consume the plan
    * before it returns.
    */
  private[graft] def withMergedForBatch[T](spark: SparkSession, root: String, batch: DataFrame)(
      f: (DataFrame, Seq[Int]) => T
  ): Option[T] =
    stagedMergeForBatch(spark, root, batch).map { sm =>
      try f(sm.merged, sm.touched)
      finally graft.Checkpoints.release(sm.pinned)
    }

  /** Merge one batch of events into the artifact. Key/order columns,
    * their pinned types, and the bucket count come from the sidecar —
    * the caller cannot drift from the layout, and a batch with a
    * drifted schema fails loudly instead of corrupting buckets.
    *
    * `maxFilesPerBucket` > 0 additionally compacts any over-threshold
    * bucket INSIDE this same commit (the due buckets' rows ride the
    * same generation write, their manifest entries flip in the same
    * publish). In-commit, not a follow-up [[maintain]] call, because a
    * second commit per batch would halve the documented reader grace:
    * GC retains [[retainedManifests]] manifests, so a reader resolved
    * just before a two-commit batch would find its generation GC'd
    * MID-batch — with the fold, one batch is one commit, always.
    */
  def upsert(spark: SparkSession, root: String, batch: DataFrame, maxFilesPerBucket: Int = 0): Unit =
    withWriterLock(fsOf(spark, root), root) {
    recover(spark, root) // drop any uncommitted stage, finish pending GC
    // The batch is pinned ONCE inside stagedMergeForBatch (r11 ask #5):
    // the merge evaluates the batch frame twice (touched-set collect,
    // generation write), and a nondeterministic batch (limit over
    // unordered input, rand-derived rows) re-evaluating differently at
    // write time was the class of defect the r11 rogue-bucket guard
    // caught reactively. The local checkpoint makes planned == written
    // BY CONSTRUCTION — both evaluations read the same materialized
    // rows; since r14 the pin is LAZY, so materializing it and
    // collecting the touched set are ONE job, not two (the commit
    // sequence is scheduler-round-trip-bound at gate batch sizes). The
    // guard below stays as a zero-cost backstop.
    stagedMergeForBatch(spark, root, batch) match {
      case Some(StagedMerge(merged, touched, pinned, gen, manifest)) =>
        try {
        val fs = fsOf(spark, root)
        val cfg = readConfig(spark, root)
        val extra =
          if (maxFilesPerBucket <= 0) Seq.empty[Int]
          else bucketFileCounts(spark, root).collect {
            case (b, n) if n > maxFilesPerBucket && !touched.contains(b) => b
          }.toSeq.sorted
        val toWrite =
          if (extra.isEmpty) merged
          else {
            // due buckets are already latest-per-key — pure rewrite,
            // no re-merge; kb recomputed from pinned keys (exact)
            val extraRows = spark.read
              .schema(pinnedSchema(cfg))
              .parquet(extra.map(b => s"$root/${manifest(b)}"): _*)
            merged.unionByName(withBucket(extraRows, cfg.keyCols, cfg.buckets))
          }
        val planned = (touched ++ extra).toSet
        val present = writeGeneration(spark, root, gen + 1, toWrite, planned.size)
        // Backstop to the checkpoint above: publish from the buckets
        // ACTUALLY written, not the planned `touched ++ extra` set. A
        // written bucket OUTSIDE the planned set is the dangerous
        // direction — its existing rows were never read into the
        // merge, so committing it would drop keys — fail loudly
        // instead; a planned bucket that came out empty just keeps its
        // prior manifest entry (correct: nothing changed).
        val rogue = present.filterNot(planned)
        require(
          rogue.isEmpty,
          s"latest-upsert: batch re-evaluated nondeterministically — buckets ${rogue.sorted.mkString(", ")} " +
            "were written but not in the planned touched set, so their existing rows were never merged; " +
            "localCheckpoint/persist the batch (or make it deterministic) and retry")
        publishManifest(fs, root, gen + 1,
          manifest ++ present.map(b => b -> relPath(gen + 1, b))) // ← the commit point
        gc(fs, root, gen + 1)
        } finally graft.Checkpoints.release(pinned)
      case None =>
        // empty batch: nothing to merge — threshold maintenance still
        // runs, as its own (single) commit
        if (maxFilesPerBucket > 0) maintain(spark, root, maxFilesPerBucket)
        ()
    }
  }

  /** The queryable latest-value table: the newest committed generation,
    * read through its manifest. Never observes partial state — the
    * manifest appeared atomically and references only immutable,
    * fully-written directories (see class doc for the reader-grace
    * window vs GC).
    */
  def read(spark: SparkSession, root: String): DataFrame = {
    val fs = fsOf(spark, root)
    requireManifestLayout(fs, root)
    val gen = currentGen(fs, root).getOrElse(
      throw new IllegalStateException(s"latest-value table at $root has no committed manifest — init first"))
    readAt(spark, root, gen) // current table = time travel to the newest generation
  }

  /** The committed generations currently readable — the retention
    * window GC maintains ([[retainedManifests]]), oldest first. Each is
    * a full immutable snapshot of the table at its commit.
    */
  def generations(spark: SparkSession, root: String): Seq[Long] = {
    val fs = fsOf(spark, root)
    requireManifestLayout(fs, root)
    if (!fs.exists(manifestsPath(root))) Seq.empty
    else fs.listStatus(manifestsPath(root)).map(_.getPath.getName).collect {
      case n if n.matches("m\\d{12}") => n.stripPrefix("m").toLong
    }.toSeq.sorted
  }

  /** Time-travel read: the table EXACTLY as generation `gen` committed
    * it. Free by construction — a manifest is an immutable snapshot
    * (complete bucket→dir map over immutable directories), and GC
    * retains the last [[retainedManifests]] of them — so "compare the
    * latest table before/after a batch" needs no copy and no lock.
    * Fails loudly for a generation outside the retention window; raise
    * [[retainedManifests]] for deeper history at the cost of keeping
    * superseded bucket dirs alive.
    */
  def readAt(spark: SparkSession, root: String, gen: Long): DataFrame = {
    val fs = fsOf(spark, root)
    requireManifestLayout(fs, root)
    require(
      fs.exists(new Path(manifestsPath(root), manifestName(gen))),
      s"generation $gen of $root is not in the retention window " +
        s"(readable: ${generations(spark, root).mkString(", ")}) — raise retainedManifests to keep more history")
    val paths = readManifest(fs, root, gen).toSeq.sortBy(_._1).map { case (_, p) => s"$root/$p" }
    spark.read.schema(pinnedSchema(readConfig(spark, root))).parquet(paths: _*)
  }

  /** CDC read over the manifest history: every key whose latest row
    * was ADDED or UPDATED between committed generations `genA` and
    * `genB` (genA < genB, both in the retention window), as genB sees
    * it, with a `change` column (`added` | `updated`). Keys are never
    * deleted from a latest-value table, so added/updated is the whole
    * change surface.
    *
    * Cost ∝ CHANGED buckets, never the keyspace: two manifests are a
    * complete bucket→dir map each, so the buckets whose entries match
    * are bit-identical (dirs are immutable) and are never listed or
    * scanned — only buckets whose dirs differ are read, on both sides.
    * A bucket rewritten without row changes (compaction riders) scans
    * but emits nothing: rows are compared by value, not by location.
    * The comparison is null-safe on the full payload struct, so a
    * payload column that is null on both sides compares equal.
    *
    * `includeBefore = true` appends a `before` column — the genA
    * payload struct (null for `added` rows) — at ZERO extra IO: the
    * before-image is already read from the changed buckets for the
    * comparison. It is what lets a downstream INCREMENTAL consumer
    * subtract the superseded contribution of an updated key (see
    * LatestUpsertSpec's aggregate-refresh example) instead of
    * rescanning generation A.
    */
  def changesBetween(
      spark: SparkSession,
      root: String,
      genA: Long,
      genB: Long,
      includeBefore: Boolean = false
  ): DataFrame = {
    require(genA < genB, s"changesBetween needs genA < genB, got $genA >= $genB")
    val fs = fsOf(spark, root)
    requireManifestLayout(fs, root)
    Seq(genA, genB).foreach { g =>
      require(
        fs.exists(new Path(manifestsPath(root), manifestName(g))),
        s"generation $g of $root is not in the retention window " +
          s"(readable: ${generations(spark, root).mkString(", ")}) — raise retainedManifests to keep more history")
    }
    val cfg = readConfig(spark, root)
    val mA = readManifest(fs, root, genA)
    val mB = readManifest(fs, root, genB)
    val changed = mB.collect { case (b, p) if !mA.get(b).contains(p) => b }.toSeq.sorted
    val payload = cfg.allCols.filterNot(cfg.keyCols.contains)
    val after = {
      val paths = changed.map(b => s"$root/${mB(b)}")
      if (paths.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], pinnedSchema(cfg))
      else spark.read.schema(pinnedSchema(cfg)).parquet(paths: _*)
    }
    val beforePaths = changed.flatMap(mA.get).map(p => s"$root/$p")
    val before =
      if (beforePaths.isEmpty) after.limit(0)
      else spark.read.schema(pinnedSchema(cfg)).parquet(beforePaths: _*)
    val bSide = before
      .select(cfg.keyCols.map(col) :+ struct(payload.map(col): _*).as("_old"): _*)
    val changed0 = after
      .join(bSide, cfg.keyCols, "left")
      .where(col("_old").isNull || !(struct(payload.map(col): _*) <=> col("_old")))
      .withColumn("change", when(col("_old").isNull, lit("added")).otherwise(lit("updated")))
    if (includeBefore)
      changed0.select(cfg.allCols.map(col) ++ Seq(col("change"), col("_old").as("before")): _*)
    else
      changed0.select(cfg.allCols.map(col) :+ col("change"): _*)
  }

  /** Rewrite the CURRENT generation's buckets into a fresh generation
    * with `filesPerBucket` files each, committed through the same
    * atomic manifest publish as [[upsert]] — compaction has no crash
    * window and no reader-visible intermediate state. Steady-state file
    * hygiene is already by construction (one writing task per touched
    * bucket per merge); this is for re-coalescing after
    * `maxRecordsPerFile`-style splits or layout experiments.
    */
  def compact(spark: SparkSession, root: String, filesPerBucket: Int = 1): Unit =
    withWriterLock(fsOf(spark, root), root) {
    recover(spark, root)
    val fs = fsOf(spark, root)
    val gen = currentGen(fs, root).getOrElse(
      throw new IllegalStateException(s"latest-value table at $root has no committed manifest — init first"))
    // the whole table is just "every current-manifest bucket" — one
    // commit machinery ([[compactBuckets]]), not a second copy of it
    compactBuckets(spark, root, readManifest(fs, root, gen).keys.toSeq, filesPerBucket)
  }

  /** Parquet file count per bucket of the CURRENT generation — the
    * input to a compaction policy (cheap: lists only current-manifest
    * dirs, never scans data).
    */
  def bucketFileCounts(spark: SparkSession, root: String): Map[Int, Int] = {
    val fs = fsOf(spark, root)
    val gen = currentGen(fs, root).getOrElse(return Map.empty)
    readManifest(fs, root, gen).map { case (b, p) =>
      b -> fs.listStatus(new Path(s"$root/$p")).count(_.getPath.getName.endsWith(".parquet"))
    }
  }

  /** Rewrite ONLY the named buckets into a fresh generation, carrying
    * every other bucket's manifest entry forward unchanged — the
    * partial form of [[compact]], committed through the same atomic
    * manifest publish (no crash window, no reader-visible intermediate
    * state). Cost ∝ the named buckets, never the keyspace. `kb` is
    * recomputed from the pinned key columns, which reproduces each
    * row's bucket exactly (same hash, same pinned types).
    */
  def compactBuckets(
      spark: SparkSession,
      root: String,
      which: Seq[Int],
      filesPerBucket: Int = 1
  ): Unit = withWriterLock(fsOf(spark, root), root) {
    recover(spark, root)
    val fs = fsOf(spark, root)
    val cfg = readConfig(spark, root)
    val gen = currentGen(fs, root).getOrElse(
      throw new IllegalStateException(s"latest-value table at $root has no committed manifest — init first"))
    val manifest = readManifest(fs, root, gen)
    val target = which.distinct.filter(manifest.contains).sorted
    if (target.isEmpty) return
    val rows = spark.read
      .schema(pinnedSchema(cfg))
      .parquet(target.map(b => s"$root/${manifest(b)}"): _*)
    val bucketed = withBucket(rows, cfg.keyCols, cfg.buckets)
    val salted =
      if (filesPerBucket <= 1) bucketed.repartition(math.min(target.size, 1 << 12), col("kb"))
      else bucketed.repartition(
        math.min(target.size * filesPerBucket, 1 << 12),
        col("kb"),
        pmod(hash(cfg.keyCols.map(col): _*), lit(filesPerBucket))) // murmur3, see compact
    salted.write.mode("overwrite").partitionBy("kb").parquet(s"$root/data/${genName(gen + 1)}")
    val present = fs.listStatus(new Path(s"$root/data/${genName(gen + 1)}"))
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("kb=") => n.stripPrefix("kb=").toInt }
    publishManifest(fs, root, gen + 1, manifest ++ present.map(b => b -> relPath(gen + 1, b)))
    gc(fs, root, gen + 1)
  }

  /** Threshold-policy maintenance: [[compactBuckets]] over exactly the
    * buckets whose parquet file count exceeds `maxFilesPerBucket`.
    * Returns true when a compaction ran. Cheap to call every batch (a
    * listing of ≤ `buckets` dirs when idle; a rewrite of only the
    * over-threshold buckets when due — NEVER the full table, which
    * would put O(keyspace) IO inside the streaming loop this is wired
    * into); use [[compact]] for deliberate whole-table re-layout.
    */
  def maintain(spark: SparkSession, root: String, maxFilesPerBucket: Int = 8): Boolean =
    withWriterLock(fsOf(spark, root), root) {
    val needs = bucketFileCounts(spark, root).collect {
      case (b, n) if n > maxFilesPerBucket => b
    }.toSeq
    if (needs.nonEmpty) compactBuckets(spark, root, needs)
    needs.nonEmpty
  }

  /** Upgrade a legacy artifact in place to the generation-manifest
    * layout: reads the old rename-swap `latest/` tree (rolling its
    * commit protocol forward first if a `_commit` marker is present —
    * the old marker means the old stage was complete, so the staged
    * dirs are authoritative) and both `_config` formats (v1 comma-
    * joined strings, typeless — types are re-derived from the data; v2
    * list columns with key/order types), then re-inits. The old
    * protocol's invariant that makes this safe: at any recoverable
    * point, `latest/kb=b` ∪ `_stage/kb=b` (stage preferred when the
    * marker names b) holds exactly the committed rows of bucket b.
    */
  def migrate(spark: SparkSession, root: String): Unit = {
    val fs = fsOf(spark, root)
    withWriterLock(fs, root) {
    require(
      fs.exists(new Path(s"$root/latest")),
      s"nothing to migrate at $root — no legacy latest/ tree")
    // roll the legacy commit forward: marker present ⇒ stage complete ⇒
    // staged buckets are the truth for the buckets the marker names
    val markerP = new Path(s"$root/_commit")
    if (fs.exists(markerP)) {
      val in = fs.open(markerP)
      val named =
        try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      named.split(",").filter(_.nonEmpty).map(_.toInt).foreach { b =>
        val stg = new Path(s"$root/_stage/kb=$b")
        if (fs.exists(stg)) {
          val cur = new Path(s"$root/latest/kb=$b")
          fs.delete(cur, true)
          require(fs.rename(stg, cur), s"migrate: could not land staged bucket $b at $root")
        }
      }
      fs.delete(markerP, false)
    }
    Seq("_stage", "_oldgen", "_commit.tmp").foreach(d => fs.delete(new Path(s"$root/$d"), true))

    val old = spark.read.parquet(s"$root/latest").drop("kb")
    val cfgDf = spark.read.parquet(s"$root/_config")
    val isV1 = cfgDf.schema.fields.exists(f =>
      f.name == "key_cols" && f.dataType == org.apache.spark.sql.types.StringType)
    val r = cfgDf.collect().head
    val (buckets, keyCols, orderCols) =
      if (isV1)
        (r.getInt(r.fieldIndex("buckets")),
         r.getString(r.fieldIndex("key_cols")).split(",").toSeq,
         r.getString(r.fieldIndex("order_cols")).split(",").toSeq)
      else
        (r.getInt(r.fieldIndex("buckets")),
         r.getSeq[String](r.fieldIndex("key_cols")),
         r.getSeq[String](r.fieldIndex("order_cols")))
    // init rewrites _config at the v3 format (full schema pinned, types
    // derived from the migrated data's actual physical types) and
    // publishes generation 0 from the legacy rows
    val staged = old.localCheckpoint() // init overwrites the dirs `old` reads
    try init(spark, root, staged, keyCols, orderCols, buckets)
    finally graft.Checkpoints.release(staged)
    fs.delete(new Path(s"$root/latest"), true)
    }
  }

  /** Streaming entry: maintain the artifact from a stream via
    * `foreachBatch` — the same merge, so streaming ≡ sequential
    * [[upsert]] calls; an interrupted batch never committed (the
    * manifest is the commit point), so the restarted stream's replay of
    * it converges to the identical end state. `maxFilesPerBucket`
    * ≥ 1 adds per-batch threshold compaction so a long-running stream
    * is self-tending — folded INTO each merge's commit (one commit per
    * batch; a separate follow-up commit would halve the reader grace
    * window, see [[upsert]]); 0 disables it (steady-state hygiene is
    * by construction anyway — see [[compact]]).
    */
  def start(
      source: DataFrame,
      root: String,
      checkpoint: String,
      maxFilesPerBucket: Int = 0
  ): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsert(batch.sparkSession, root, batch, maxFilesPerBucket)
        ()
      }
      .start()
}
