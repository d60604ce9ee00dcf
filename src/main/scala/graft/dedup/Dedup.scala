package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Deduplication suite for training-data pipelines: exact (hash),
  * MinHash+LSH (the 100 TB path), exact n-gram Jaccard (the verifier /
  * small-scale baseline), SimHash (bit-sketch), and embedding-cosine
  * near-dup (see [[graft.similarity.Similarity]] for the kernel).
  *
  * Scale shape:
  *   - exact dedup = one hash aggregation (map-side combinable).
  *   - MinHash+LSH = per-doc signature (scan-local) → explode k/r bands
  *     (k/r× row inflation, tiny rows) → shuffle on (band, key) →
  *     candidate pairs only within same bucket → exact verify on the
  *     candidates. Never O(n²).
  *   - exact Jaccard is O(pairs) and exists to verify LSH candidates and
  *     as the DuckDB-oracle-checkable ground truth at test scale; the
  *     length-band blocking keeps the pair count bounded.
  */
object Dedup {

  /** Word n-gram shingle set of the normalized text (distinct). Texts
    * with fewer than n tokens yield an empty set (note: a bare
    * `sequence(1, len-n+1)` would COUNT DOWN when len < n — Spark's
    * sequence infers a negative step — hence the explicit guard).
    */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextOps.tokens(text)
    when(
      size(toks) >= n,
      array_distinct(
        transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))
        )
      )
    ).otherwise(array().cast("array<string>"))
  }

  /** Exact duplicate groups by content fingerprint: every doc in a group
    * of >1 identical normalized texts, with the group's keeper (min id).
    *
    * Aggregation form, not a window: project the slim (id, fingerprint)
    * pair once, `groupBy(fingerprint)` with map-side partial aggregation
    * (no per-partition sort, no second window pass), then re-join the
    * dup-group stats onto the slim pairs. Only duplicate fingerprints
    * survive the aggregate's filter, so the join's build side is tiny on
    * a mostly-unique corpus and AQE broadcasts it; worst case it is a
    * plain equi-shuffle on a high-cardinality key.
    */
  def exactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // The slim (id, fingerprint) proxy feeds the group aggregate AND the
    // join-back; lazily each consumer re-ran the scan+md5(normalize)
    // subtree (two corpus scans in the d1 before-plan). One checkpoint
    // of proxy rows — text never materializes; released by the caller's
    // sweep / ContextCleaner (the minhashLshPairs precedent).
    val fp = df
      .select(col(idCol), TextOps.fingerprint(col(textCol)).as("fingerprint"))
      .localCheckpoint()
    val groups = fp
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("group_size"))
      .filter(col("group_size") > 1)
      .withColumnRenamed("fingerprint", "g_fingerprint")
    // null-safe (<=>) equi-join: NULL-text docs all fingerprint to NULL,
    // and both the windowed formulation this replaced and the oracle's
    // PARTITION BY fingerprint put them in ONE dup group — a plain
    // equi-join would silently drop them (null != null).
    fp.join(groups, col("fingerprint") <=> col("g_fingerprint"))
      .select(col(idCol), col("keeper_id"), col("fingerprint"), col("group_size"))
  }

  /** Deterministic 60-bit xor constants for the minhash permutation
    * family (splitmix-style, generated host-side so the DuckDB oracle
    * can embed the same literals).
    */
  def xorSeeds(k: Int): Seq[Long] =
    (0 until k).map { i =>
      var z = 0x9e3779b97f4a7c15L * (i + 1)
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      (z ^ (z >>> 31)) & ((1L << 60) - 1)
    }

  /** 60-bit md5-prefix hash per shingle (hash ONCE; the signature then
    * only xors).
    */
  def hashShingles(shingleSet: Column): Column =
    transform(shingleSet, s => conv(substring(md5(s.cast("binary")), 1, 15), 16, 10).cast("long"))

  /** Sorted distinct shingle hashes straight from the text via the
    * native [[graft.expressions.ShingleHashes]] expression — value-equal
    * to `sort_array(hashShingles(shingles(text, n)))` at a fraction of
    * the scan cost.
    */
  def sortedShingleHashes(text: Column, n: Int): Column =
    call_function(graft.expressions.ShingleHashes.FunctionName, TextOps.tokens(text), lit(n))

  /** MinHash signature over pre-hashed shingles: k xor-permutations
    * (`h ^ seed_i` is a bijection of the hash space — the standard cheap
    * min-hash family). An earlier formulation hashed `md5(i|s)` k times
    * per shingle; at k=16 that put md5 on the hot path (16× scan cost)
    * for no recall benefit. xor is also overflow-free, so DuckDB
    * reproduces it exactly.
    */
  def minhashSignature(hashedShingles: Column, k: Int): Column =
    array(xorSeeds(k).map(seed => array_min(transform(hashedShingles, h => h.bitwiseXOR(lit(seed))))): _*)

  /** Native fused variant of [[minhashSignature]] (one two-level loop
    * instead of k interpreted lambda passes); value-identical.
    */
  def minhashSignatureNative(hashedShingles: Column, k: Int)(implicit spark: org.apache.spark.sql.SparkSession): Column =
    graft.expressions.MinHashSignature.column(hashedShingles, xorSeeds(k))

  /** Shared banding stage: (id, sorted shingle hashes) plus the slim
    * (id, band, band_key) rows. Band rows carry ONLY (band, key, id):
    * the shingle sets must not ride through the bands explode / join /
    * dedup shuffles (they are the bulk of the bytes); candidates
    * re-acquire them by id from `hashed`.
    *
    * Note on persistence: `hashed` feeds multiple consumers. With the
    * native ShingleHashes expression the recompute is cheap enough that
    * we deliberately do NOT persist — a cached block per call would
    * leak for the session's lifetime (the returned DataFrame is lazy,
    * so there is no unpersist point). A long-lived service should
    * materialize (id, shh) itself.
    */
  private def hashedSignatures(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"), sortedShingleHashes(col(textCol), n).as("shh"))
      .filter(size(col("shh")) > 0)

  private def bandedSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      k: Int,
      bands: Int
  ): (DataFrame, DataFrame) = {
    val hashed = hashedSignatures(df, idCol, textCol, n)
    (hashed, bandHashed(hashed, k, bands))
  }

  /** The banded-rows leg derived from a `(id, shh)` hashed frame —
    * factored out so a caller that MATERIALIZES the hashed leg
    * (localCheckpoint) can derive banding from the checkpointed rows:
    * banding's lineage otherwise shares the hashed PLAN, and a second
    * materialization re-runs the shingling — the dominant per-row
    * cost — once more.
    */
  private def bandHashed(hashed: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "k must divide into equal bands")
    val r = k / bands
    implicit val spark: org.apache.spark.sql.SparkSession = hashed.sparkSession
    hashed
      .withColumn("sig", minhashSignatureNative(col("shh"), k))
      .select(
        col("id"),
        posexplode(
          transform(
            sequence(lit(0), lit(bands - 1)),
            b => md5(concat_ws(",", slice(col("sig"), b * r + 1, lit(r))).cast("binary"))
          )
        ).as(Seq("band", "band_key"))
      )
  }

  /** [[batchSignatures]] with the hashed leg CHECKPOINTED before the
    * banded leg derives from it: both legs materialize (the gate
    * checkpoints both — each feeds a probe consumer and the append),
    * but the shingling runs ONCE, against [[batchSignatures]] where
    * independently checkpointing the two legs runs it twice (the
    * banded leg's lineage re-shingles). Returns (hashed*, banded) with
    * hashed* already checkpointed; the caller owns the release of both
    * exactly as with [[batchSignatures]].
    */
  def batchSignaturesStaged(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      textCol: String
  ): (DataFrame, DataFrame) = {
    val (n, k, bands) = readMinhashConfig(spark, path)
    // LAZY pin (r14): both callers eagerly checkpoint the derived banded
    // leg immediately, and computing banding computes every hashed
    // partition — so the banded leg's materialization job persists the
    // hashed blocks too, one scheduler job instead of two. Shingling
    // still runs exactly once; later consumers (verify sketches, index
    // append) read the materialized blocks.
    val hashed = batch
      .select(col(idCol).as("id"), sortedShingleHashes(col(textCol), n).as("shh"))
      .filter(size(col("shh")) > 0)
      .localCheckpoint(eager = false)
    (hashed, bandHashed(hashed, k, bands))
  }

  private def verifyPairs(candidates: DataFrame, hashedA: DataFrame, hashedB: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(hashedA.select(col("id").as("id_a"), col("shh").as("sh_a")), Seq("id_a"))
      .join(hashedB.select(col("id").as("id_b"), col("shh").as("sh_b")), Seq("id_b"))
      .withColumn(
        "jaccard",
        // thresholded form: merge early-exits once the pair provably
        // can't reach `threshold` (null, dropped by the filter below);
        // exact values for every surviving pair — oracle unchanged
        call_function(graft.expressions.SortedJaccard.FunctionName, col("sh_a"), col("sh_b"), lit(threshold))
      )
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** MinHash + LSH banding near-dup pairs.
    *
    * Pipeline: shingle → k minhashes → r-wide bands → md5 band key →
    * self-join on (band_index, band_key) → distinct candidate pairs →
    * exact Jaccard verify ≥ `threshold`.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.3
  ): DataFrame = {
    // Both legs are materialized: the banded rows feed BOTH sides of the
    // candidate self-join and the sketches feed BOTH sides of the verify
    // join, so the lazy form evaluated the shingle+minhash pipeline —
    // the dominant per-row cost — four times per call (the r13 d2
    // before-plan shows four parquet scans of the corpus). Shingling
    // runs once into the hashed checkpoint; banding (minhash signature +
    // band md5) runs once from those cached rows into its own slim
    // (id, band, band_key) checkpoint. Blocks are released by the
    // caller's storage sweep / plan-leaf release / ContextCleaner — the
    // connectedComponents precedent. At 100 TB these two frames are
    // exactly what [[writeMinhashIndex]] persists to the lake.
    val hashed = hashedSignatures(df, idCol, textCol, n).localCheckpoint()
    val banded = bandHashed(hashed, k, bands).localCheckpoint()
    val a = banded.select(col("band"), col("band_key"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("band_key"), col("id").as("id_b"))
    val candidates = a
      .join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    verifyPairs(candidates, hashed, hashed, threshold)
  }

  /** Test-set decontamination pairs (bipartite LSH): corpus docs whose
    * shingle-set Jaccard with ANY benchmark doc ≥ `threshold` — the
    * "did a benchmark item leak into the training set" sweep every
    * training-data pipeline runs before shipping. Same banding as
    * [[minhashLshPairs]] but the band join is corpus×benchmark (no
    * `id_a < id_b`: the sides are different relations, a corpus doc may
    * legitimately share an id value with a benchmark doc).
    *
    * Returns (id_a = corpus id, id_b = benchmark id, jaccard). At
    * 100 TB the benchmark side is tiny (benchmarks are), so its banded
    * rows broadcast and the corpus never shuffles.
    */
  def crossLshPairs(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.3
  ): DataFrame = {
    // Same staging as [[minhashLshPairs]]: each side's sketches feed
    // both its banded derivation and the verify join, so the lazy form
    // shingled each relation twice (the r13 d7 before-plan shows four
    // scans). One shingling per side into a checkpoint; banding derives
    // from the cached rows (the benchmark side is tiny by contract, the
    // corpus side's checkpoint is the price of halving the dominant
    // scan-local cost — the same frame writeMinhashIndex would persist).
    val hashedC = hashedSignatures(corpus, idCol, textCol, n).localCheckpoint()
    val hashedB = hashedSignatures(benchmark, idCol, textCol, n).localCheckpoint()
    val candidates = bandHashed(hashedC, k, bands)
      .select(col("band"), col("band_key"), col("id").as("id_a"))
      .join(
        broadcast(bandHashed(hashedB, k, bands).select(col("band"), col("band_key"), col("id").as("id_b"))),
        Seq("band", "band_key"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    verifyPairs(candidates, hashedC, hashedB, threshold)
  }

  /** Remove contaminated corpus rows: left-anti on the flagged ids. */
  def decontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.3
  ): DataFrame = {
    val flagged = crossLshPairs(corpus, benchmark, idCol, textCol, n, k, bands, threshold)
      .select(col("id_a").as(idCol)).distinct()
    corpus.join(flagged, Seq(idCol), "left_anti")
  }

  /** Exact pairwise n-gram Jaccard with length-band blocking: only pairs
    * whose char lengths differ by ≤ `lenBandRel` (relative) are compared
    * — a standard dedup blocking rule that keeps the exact comparison
    * from being O(n²) on pathological data while remaining
    * oracle-expressible.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      lenCol: String,
      n: Int = 3,
      threshold: Double = 0.3,
      lenBandRel: Double = 0.15
  ): DataFrame = {
    // Shingles are compared as SORTED 60-bit hashes via the codegen'd
    // merge-Jaccard expression: |∩|/|∪| is unchanged (md5-prefix
    // collisions negligible), but each candidate pair costs one O(n+m)
    // merge instead of hash-set intersect + union allocations. The
    // native ShingleHashes expression produces the sorted hash set in
    // one pass over the tokens.
    val s = df.select(
      col(idCol).as("id"),
      col(lenCol).as("len"),
      sortedShingleHashes(col(textCol), n).as("sh")
    )
    // Length blocking as an EQUI join: log-scale length buckets, the
    // probe side exploding ±2 neighbor buckets. A plain range condition
    // would plan as a nested-loop join (O(n²) condition evaluations — a
    // non-starter at scale); bucketing turns it into a hash/sort-merge
    // join, and the exact band predicate still applies afterwards.
    // ±2 covers the worst-case floor straddle of the 1/(1−r) ratio.
    val logBase = math.log(1.0 + lenBandRel)
    val withBucket = s.withColumn("bucket", floor(log(col("len").cast("double")) / lit(logBase)).cast("long"))
    val a = withBucket.select(
      col("id").as("id_a"),
      col("len").as("len_a"),
      col("sh").as("sh_a"),
      explode(array((-2 to 2).map(d => col("bucket") + d): _*)).as("bucket")
    )
    val b = withBucket.select(col("id").as("id_b"), col("len").as("len_b"), col("sh").as("sh_b"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(
        col("id_a") < col("id_b") &&
          abs(col("len_a") - col("len_b")).cast("double") <= lit(lenBandRel) * greatest(col("len_a"), col("len_b"))
      )
      .withColumn(
        "jaccard",
        // thresholded form: merge early-exits once the pair provably
        // can't reach `threshold` (null, dropped by the filter below);
        // exact values for every surviving pair — oracle unchanged
        call_function(graft.expressions.SortedJaccard.FunctionName, col("sh_a"), col("sh_b"), lit(threshold))
      )
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** 60-bit SimHash + candidate pairs by 15-bit chunk match + hamming
    * verification ≤ `maxHamming` (pigeonhole: hamming ≤ 3 ⇒ at least one
    * of 4 chunks identical).
    *
    * Token hash = first 15 hex chars of md5 (60 bits, fits a signed
    * long); bit b of the sketch is the sign of Σ_tokens(±1). The sketch
    * is computed scan-locally per row (no shuffle); only the tiny
    * (chunk, id, sim) projection shuffles for the bucket join.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3): DataFrame = {
    val s = df
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("toks"))
      .withColumn("hs", expr("transform(toks, t -> cast(conv(substring(md5(cast(t as binary)), 1, 15), 16, 10) as bigint))"))
      .withColumn("sim", call_function(graft.expressions.Simhash60.FunctionName, col("hs")))
      .select("id", "sim")
    val chunked = s.select(
      col("id"),
      col("sim"),
      posexplode(expr("transform(sequence(0, 3), c -> shiftright(sim, c * 15) & 32767)")).as(Seq("chunk", "chunk_val"))
    )
    val a = chunked.select(col("chunk"), col("chunk_val"), col("id").as("id_a"), col("sim").as("sim_a"))
    val b = chunked.select(col("chunk"), col("chunk_val"), col("id").as("id_b"), col("sim").as("sim_b"))
    a.join(b, Seq("chunk", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Near-dup CLUSTER RESOLUTION: connected components over a pair list
    * (the step after any pairwise dedup — d2/d3/d4/d6 emit pairs; a
    * pipeline keeps ONE document per component). Labels every node that
    * appears in a pair with its component = the MINIMUM id reachable
    * from it (so the label doubles as the canonical keeper id), plus the
    * component size. Nodes in no pair are trivially their own keeper and
    * are not emitted.
    *
    * Algorithm, size-adaptive (what production graph pipelines do):
    *
    *   - edge count ≤ `driverEdgeBound` (default 2²⁰ ≈ 1M edges —
    *     ~65 MB transient driver heap all-in: ~32 MB of specialized
    *     edge tuples plus primitive node/parent/size arrays; see the
    *     sizing note at the collect): DRIVER-SIDE UNION-FIND. A near-dup
    *     pair graph is tiny relative to its corpus — pairs are the rare
    *     output of a blocked similarity join — and a bounded union-find
    *     beats ~6 Spark jobs per distributed round even on a real
    *     cluster. This is a BOUNDED model-state collect (the
    *     kmeans-centroid class), policed by the explicit bound.
    *   - above the bound: min-label propagation with POINTER JUMPING
    *     (each round also replaces a node's label by its label's
    *     label), which halves label-chain depth per round — O(log n)
    *     rounds even on path graphs, each round a pair of equi-joins +
    *     one aggregation. The convergence test is a driver-side
    *     early-exit probe (`isEmpty`), not a data collect. Each round's
    *     result is eagerly local-checkpointed (truncating the otherwise
    *     exponentially-growing logical plan) and the PREVIOUS round's
    *     blocks are released once the probe no longer needs them, so
    *     both plan size and storage stay constant across rounds.
    *
    * Both paths produce the identical labeling (min is order-free;
    * DedupSpec's random-graph property test pins distributed ≡
    * union-find). Pass `driverEdgeBound = 0` to force the distributed
    * path.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 25,
      driverEdgeBound: Long = 1L << 20
  ): DataFrame = {
    // materialize the slim pair projection ONCE before the symmetric
    // union: union branches share no common-subexpression elimination,
    // so without this the whole upstream pair pipeline (for d11: the
    // full shingle→minhash→band→join LSH cascade) would execute TWICE —
    // and a cache-evicted persist could re-run it mid-iteration.
    // localCheckpoint also cuts the upstream lineage out of every
    // round's plan.
    val base = pairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .localCheckpoint()
    // the count is free — base is already materialized — and decides
    // the path; the collect below is bounded by driverEdgeBound
    if (base.count() <= driverEdgeBound) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val edgeArr = base.as[(Long, Long)].collect()
      graft.Checkpoints.release(base)
      // PRIMITIVE storage end-to-end — no boxed maps. Driver heap at the
      // 2²⁰-edge default bound: edge tuples ~32 MB (specialized Tuple2
      // objects), sorted node array ≤ 2M longs = 16 MB, int parent/size
      // arrays 8 MB each — ~65 MB total, transient. (A boxed
      // HashMap[Long, Long] over 2M nodes would cost several× that in
      // entry objects alone — the earlier sizing note undercounted it.)
      val nodes: Array[Long] = {
        val all = new Array[Long](edgeArr.length * 2)
        var i = 0
        while (i < edgeArr.length) {
          all(2 * i) = edgeArr(i)._1; all(2 * i + 1) = edgeArr(i)._2; i += 1
        }
        java.util.Arrays.sort(all)
        // in-place dedup of the sorted array
        var w = 0
        i = 0
        while (i < all.length) {
          if (w == 0 || all(i) != all(w - 1)) { all(w) = all(i); w += 1 }
          i += 1
        }
        java.util.Arrays.copyOfRange(all, 0, w)
      }
      def idx(x: Long): Int = java.util.Arrays.binarySearch(nodes, x)
      val parent = Array.tabulate(nodes.length)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val next = parent(c); parent(c) = r; c = next }
        r
      }
      edgeArr.foreach { case (a, b) =>
        val (ra, rb) = (find(idx(a)), find(idx(b)))
        // union toward the SMALLER index = smaller id (nodes is sorted),
        // so a root's own id IS its component's canonical min label
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val size = new Array[Long](nodes.length)
      var i = 0
      while (i < nodes.length) { size(find(i)) += 1L; i += 1 }
      val rows = nodes.indices.map { j =>
        val r = find(j)
        (nodes(j), nodes(r), size(r))
      }
      return rows.toDF("id", "component", "cluster_size")
    }
    // symmetric edge list; duplicates are harmless under min-aggregation,
    // so no distinct. Derived per-use from the checkpointed base (a
    // cached-block read + projection) rather than persisted separately:
    // persisting the union would hold BOTH orientations in storage — 2×
    // the blocks for no saved compute.
    val edges = base
      .union(base.select(col("dst").as("src"), col("src").as("dst")))
    // round 0 folded into init: label = min(id, min neighbor) — every
    // node appears as src of the symmetric list.
    // localCheckpoint (NOT persist): each round's self-join doubles the
    // LOGICAL plan, so lineage grows exponentially with rounds — persist
    // caches data but keeps the plan, and by ~8 rounds analysis/explain
    // OOMs. Checkpointing truncates the plan to the materialized RDD,
    // keeping every round's plan constant-size (found by the
    // random-graph property test; the pattern any iterative DataFrame
    // algorithm needs).
    var labels = edges
      .groupBy(col("src"))
      .agg(min(col("dst")).as("mn"))
      .select(col("src").as("id"), least(col("src"), col("mn")).as("label"))
      .localCheckpoint()
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // 1. neighbor-min: label := min(label, min over neighbors' labels)
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("nbr_label")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("nbr_label")).as("min_nbr"))
      // checkpointed: it feeds BOTH sides of the pointer-jump self-join —
      // otherwise the dominant edges-join-aggregate would execute twice
      // per round (and its plan would ride both subtrees)
      val stepped = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), least(col("label"), coalesce(col("min_nbr"), col("label"))).as("label"))
        .localCheckpoint()
      // 2. pointer jump: label := label(label) — halves chain depth
      val next = stepped
        .join(stepped.select(col("id").as("label"), col("label").as("label2")), Seq("label"), "left")
        .select(col("id"), coalesce(col("label2"), col("label")).as("label"))
        .localCheckpoint()
      // early-exit probe: any changed label at all?
      done = next
        .join(labels.select(col("id"), col("label").as("old")), Seq("id"))
        .filter(col("label") =!= col("old"))
        .isEmpty
      // the probe was the last reader of the previous round's blocks
      // (and of the intra-round `stepped`): release them — without this,
      // checkpointed label sets accumulate 2× per round in executor
      // storage. Via Checkpoints.release, NOT Dataset.unpersist (a
      // NO-OP on checkpointed frames — checkpoint RDDs bypass the
      // CacheManager; round 9 finding). Releasing a dead local
      // checkpoint is safe; only live ones must be kept (their lineage
      // is truncated).
      graft.Checkpoints.release(stepped)
      graft.Checkpoints.release(labels)
      labels = next
      iter += 1
    }
    graft.Checkpoints.release(base)
    require(done, s"connectedComponents did not converge in $maxIter pointer-jumping rounds")
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels
      .join(sizes, Seq("label"))
      .select(col("id"), col("label").as("component"), col("cluster_size"))
  }

  /** The corpus filter a dedup pipeline actually ships: drop every
    * cluster member EXCEPT the keeper (its component label = the
    * cluster's min id), keep all unpaired documents untouched. A
    * left-anti join against the slim non-keeper id list — the corpus
    * never shuffles on content, only on the (tiny) drop list's key.
    */
  def keepersOnly(df: DataFrame, idCol: String, components: DataFrame): DataFrame =
    df.join(
      components.filter(col("id") =!= col("component")).select(col("id").as(idCol)),
      Seq(idCol),
      "left_anti"
    )

  // --- Incremental dedup: the materialized MinHash index -------------
  //
  // A 100 TB training corpus is not deduplicated once — it GROWS
  // (daily crawl increments), and re-running the full self-join per
  // increment re-pays the dominant costs: re-scanning/shingling the
  // entire text corpus and re-shuffling its banded rows. The index
  // materializes exactly the two intermediates [[minhashLshPairs]]
  // computes per run — the slim banded rows and the sorted shingle-hash
  // sketches — so an increment costs one columnar scan of slim index
  // rows plus work proportional to the BATCH, never a corpus re-scan of
  // text and never a corpus-side shuffle (the batch side broadcasts).
  // Same materialize-the-promise move as `Similarity.writeIvfIndex` /
  // `writeLshIndex`.

  /** Persist the MinHash-LSH dedup index for `df` under `path`:
    * `path/bands` = (id, band_key, band) partitioned by band (slim rows
    * — the text itself never enters the index), `path/sketches` =
    * (id, shh) sorted shingle hashes for exact-Jaccard verification,
    * `path/_config` = (n, k, bands) sidecar — the xor-seed family is a
    * pure function of k ([[xorSeeds]]), so the sidecar fully determines
    * the signature scheme and probes can never mix configs.
    *
    * Storage note: `sketches` is the bulk (it scales with distinct
    * shingles, i.e. with the text); it is touched only to verify
    * candidates, and the candidate-id join prunes it via AQE/broadcast
    * on the (small) candidate list.
    */
  /** Deterministic hash sub-buckets for the two minhash-index legs —
    * single definitions shared by write, append, and probe so pruning
    * can never drift from the layout (the [[fpBucketCol]] discipline).
    */
  private[graft] def keyBucketCol(bandKey: Column, buckets: Int): Column =
    pmod(hash(bandKey), lit(buckets))
  private[graft] def idBucketCol(id: Column, buckets: Int): Column =
    pmod(hash(id), lit(buckets))

  def writeMinhashIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      n: Int = 3,
      k: Int = 16,
      bands: Int = 8,
      keyBuckets: Int = 0
  ): Unit = {
    // default: derive the sub-bucket count from the BANDED row count
    // (docs × bands), the leg the buckets actually partition
    val keyBucketsR = if (keyBuckets > 0) keyBuckets else derivedBuckets(df.count() * bands)
    val (hashed, banded) = bandedSignatures(df, idCol, textCol, n, k, bands)
    // both legs land PARTITIONED BY a hash sub-bucket so every per-batch
    // probe ([[incrementalLshPairsPre]]) prunes its reads to the batch's
    // touched directories: bands by a bucket of the band key (the probe
    // joins on band_key), sketches by a bucket of the id (the verify
    // joins on candidate ids). At 100 TB size keyBuckets so each
    // directory is a healthy scan unit (~leg_bytes / 128 MB); the
    // default keeps test-scale file counts sane.
    // repartition BY the partition columns before the dynamic write:
    // without it every task writes a file into every leaf directory it
    // sees (tasks × leafs tiny files — measured 5× slower index builds);
    // with it each leaf is written by exactly one task → one file per
    // filled leaf, one slim-row shuffle
    banded
      .withColumn("key_bucket", keyBucketCol(col("band_key"), keyBucketsR))
      .repartition(col("band"), col("key_bucket"))
      .write.mode("overwrite").partitionBy("band", "key_bucket").parquet(s"$path/bands")
    hashed
      .withColumn("id_bucket", idBucketCol(col("id"), keyBucketsR))
      .repartition(col("id_bucket"))
      .write.mode("overwrite").partitionBy("id_bucket").parquet(s"$path/sketches")
    val spark = df.sparkSession
    import spark.implicits._
    Seq((n, k, bands, keyBucketsR))
      .toDF("n", "k", "bands", "key_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_config")
  }

  /** (n, k, bands) recorded by [[writeMinhashIndex]]. */
  def readMinhashConfig(spark: org.apache.spark.sql.SparkSession, path: String): (Int, Int, Int) = {
    val r = spark.read.parquet(s"$path/_config").select("n", "k", "bands").collect().head
    (r.getInt(0), r.getInt(1), r.getInt(2))
  }

  /** The sub-bucket count recorded by [[writeMinhashIndex]]. */
  def readMinhashKeyBuckets(spark: org.apache.spark.sql.SparkSession, path: String): Int =
    spark.read.parquet(s"$path/_config").select("key_buckets").collect().head.getInt(0)

  /** Near-dup pairs an increment introduces against an indexed corpus:
    * every (id_a < id_b, jaccard ≥ threshold) pair with AT LEAST ONE
    * side in `batch` — batch×corpus pairs via the index plus
    * batch-internal pairs — under the index's recorded (n, k, bands).
    * Equals `minhashLshPairs(corpus ∪ batch)` restricted to pairs
    * touching the batch (IncrementalDedupSpec pins the equivalence),
    * because banding is per-document and the index stores the corpus
    * side of exactly the joins the batch formulation runs.
    *
    * Scale shape: the batch's banded rows BROADCAST into the index
    * scan, so the corpus side never shuffles; the verify stage unions
    * the corpus sketch table with the batch's freshly computed sketches
    * and touches only candidate ids. Caller contract: ids are unique
    * across corpus ∪ batch (re-submitting an indexed id yields the
    * degenerate self-pair, which the id_a < id_b filter drops).
    *
    * Lifetime: the returned pairs read two pins, the batch's hashed rows
    * and the candidate pairs. Once the pairs are consumed, the caller
    * releases both with `Checkpoints.release(pairs)` (the plan's leaves).
    */
  def incrementalLshPairs(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.3
  ): DataFrame = {
    // Shingle the batch ONCE (the d2/gate single-shingling pattern): the
    // hashed (id, shh) leg is checkpointed and banding derives from the
    // cached rows; the banded leg is checkpointed too because FOUR
    // consumers read it (touched-key collect, the cross join's broadcast
    // side, both intra-join sides) — un-staged, the lazy plan re-ran the
    // shingle+minhash pipeline once per consumer. Both checkpoints are
    // slim proxy rows (ids, hashes), never document text. The eager
    // candidate checkpoint is the banded pin's last reader, so the pin
    // is released before returning.
    val (hashedB, bandedB) = batchSignaturesStaged(spark, path, batch, idCol, textCol)
    val banded = bandedB.localCheckpoint()
    val pairs = incrementalLshPairsPre(spark, path, hashedB, banded, threshold)
    graft.Checkpoints.release(banded)
    pairs
  }

  /** The batch's (sketches, banded rows) under the index's recorded
    * config — exposed so a caller that both PROBES and APPENDS (the
    * ingest gate) computes them once; shingling the batch is the gate's
    * dominant per-row cost and paying it twice doubles ingest CPU at
    * scale. Columns match the index layout: `(id, shh)` / `(id, band,
    * band_key)`.
    */
  def batchSignatures(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      textCol: String
  ): (DataFrame, DataFrame) = {
    val (n, k, bands) = readMinhashConfig(spark, path)
    bandedSignatures(batch, idCol, textCol, n, k, bands)
  }

  /** [[incrementalLshPairs]] with the batch signatures precomputed by
    * [[batchSignatures]] (same semantics; no re-shingling).
    */
  def incrementalLshPairsPre(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      hashedB: DataFrame,
      bandedB: DataFrame,
      threshold: Double = 0.3
  ): DataFrame = {
    val keyBuckets = readMinhashKeyBuckets(spark, path)
    // BOTH per-batch index reads are partition-pruned to the batch's
    // touched sub-buckets (bounded collects ≤ keyBuckets ints rendered
    // as isin literals — the semantic gate's touched-cell move):
    //  1. the bands leg to the buckets of the batch's band keys — a
    //     corpus banded row can only collide with the batch inside one
    //     of those directories;
    //  2. the sketches leg to the buckets of the candidate ids — the
    //     verify join can only need those directories.
    // At a 100 TB corpus this turns "scan every banded row + every
    // sketch per batch" into reads proportional to the batch's key
    // spread; a production index sizes keyBuckets so untouched
    // directories dominate for latency-sized batches.
    val corpusBanded = prunedBandsLeg(spark, path, bandedB, keyBuckets)
    val cross = corpusBanded
      .withColumnRenamed("id", "id_x")
      .join(broadcast(bandedB.select(col("band"), col("band_key"), col("id").as("id_y"))), Seq("band", "band_key"))
      .select(least(col("id_x"), col("id_y")).as("id_a"), greatest(col("id_x"), col("id_y")).as("id_b"))
    val intra = bandedB
      .select(col("band"), col("band_key"), col("id").as("id_a"))
      .join(bandedB.select(col("band"), col("band_key"), col("id").as("id_b")), Seq("band", "band_key"))
      .select("id_a", "id_b")
    // checkpointed: candidates feed the touched-id-bucket collect AND
    // both sides of the verify join — unchecked, the banded join would
    // execute once per consumer
    val candidates = cross
      .unionByName(intra)
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .localCheckpoint()
    val sketches = prunedSketchesLeg(spark, path, candidates, keyBuckets).unionByName(hashedB)
    verifyPairs(candidates, sketches, sketches, threshold)
  }

  /** The bands leg pruned to the batch's touched key buckets — factored
    * out of [[incrementalLshPairsPre]] so the pruning is plan-pinnable
    * on exactly the DataFrame the probe consumes (the candidate
    * checkpoint hides the scan from the final probe plan).
    */
  private[graft] def prunedBandsLeg(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      bandedB: DataFrame,
      keyBuckets: Int
  ): DataFrame = {
    val touchedKeys = bandedB
      .select(keyBucketCol(col("band_key"), keyBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).sorted
    if (touchedKeys.isEmpty) spark.read.parquet(s"$path/bands").limit(0).select("band", "band_key", "id")
    else
      spark.read.parquet(s"$path/bands")
        .filter(col("key_bucket").isin(touchedKeys.toSeq: _*))
        .select("band", "band_key", "id")
  }

  /** The sketches leg pruned to the candidate ids' touched id buckets
    * (same factoring rationale as [[prunedBandsLeg]]).
    */
  private[graft] def prunedSketchesLeg(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      candidates: DataFrame,
      keyBuckets: Int
  ): DataFrame = {
    val touchedIds = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .select(idBucketCol(col("id"), keyBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).sorted
    if (touchedIds.isEmpty) spark.read.parquet(s"$path/sketches").limit(0).select("id", "shh")
    else
      spark.read.parquet(s"$path/sketches")
        .filter(col("id_bucket").isin(touchedIds.toSeq: _*))
        .select("id", "shh")
  }

  /** Fold an increment into the index (after the caller has dropped the
    * batch rows it rejects): dynamic-partition append of the batch's
    * banded rows plus its sketches, under the index's own config.
    *
    * Resolves any interrupted compaction leaf swap FIRST (the writer
    * invariant [[graft.io.Compaction.recoverLeaf]] depends on): an
    * append that recreated a mid-swap leaf would make the next
    * recovery read the recreated leaf as authoritative and GC the
    * complete hidden tmp still holding that leaf's pre-crash rows.
    */
  def appendToMinhashIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      textCol: String
  ): Unit = {
    graft.io.Compaction.recoverPartitioned(spark, s"$path/bands")
    graft.io.Compaction.recoverPartitioned(spark, s"$path/sketches")
    val (hashed, banded) = batchSignatures(spark, path, batch, idCol, textCol)
    appendToMinhashIndexPre(path, hashed, banded)
  }

  /** [[appendToMinhashIndex]] with signatures precomputed by
    * [[batchSignatures]] (the ingest gate filters its probe signatures
    * to the accepted ids and appends those — never shingling twice).
    * Sub-buckets are derived here under the index's own recorded
    * config, so an append can never drift the bucketed layout.
    *
    * Contract: the CALLER owns crash recovery
    * ([[graft.streaming.DedupIngest.start]] recovers before its first
    * batch and each maintenance walk recovers again) — this form skips
    * the per-call recovery walk the convenience form pays.
    */
  def appendToMinhashIndexPre(path: String, hashed: DataFrame, banded: DataFrame): Unit = {
    val keyBuckets = readMinhashKeyBuckets(banded.sparkSession, path)
    // same one-writer-per-leaf repartition as the initial write — an
    // append adds at most one file per touched leaf per increment
    banded
      .withColumn("key_bucket", keyBucketCol(col("band_key"), keyBuckets))
      .repartition(col("band"), col("key_bucket"))
      .write.mode("append").partitionBy("band", "key_bucket").parquet(s"$path/bands")
    hashed
      .withColumn("id_bucket", idBucketCol(col("id"), keyBuckets))
      .repartition(col("id_bucket"))
      .write.mode("append").partitionBy("id_bucket").parquet(s"$path/sketches")
  }

  /** Persist the exact-dedup fingerprint set (id dropped — novelty only
    * needs the distinct fingerprints; NULL text fingerprints to NULL and
    * is kept, so a NULL-text increment row is correctly non-novel
    * against a corpus that has ever seen one).
    */
  /** Default sub-bucket count for a bucketed index leg, derived from
    * the live row count (the [[graft.similarity.Similarity.lshConfigFor]]
    * discipline): small corpora get FEW buckets — the per-read
    * directory-listing and small-file overhead is pure cost where every
    * batch touches every bucket anyway — and large corpora get more, so
    * the pruned fraction stays useful and each leaf stays a healthy
    * scan unit (~50k rows/bucket here; a production pin targets
    * leg_bytes / 128 MB). Recorded in the index `_config`, so appends
    * and probes can never drift from the build's choice.
    */
  private def derivedBuckets(n: Long): Int =
    math.max(16, math.min(4096, math.ceil(n / 50000.0).toInt))

  /** The deterministic hash bucket a fingerprint's index row lives in —
    * ONE definition shared by write, append, and the [[novelOnly]]
    * probe, so the probe's partition pruning can never drift from the
    * layout. `hash(NULL)` is the seed constant, so NULL-text
    * fingerprints land in one deterministic bucket and the null-safe
    * `<=>` match still finds them under pruning.
    */
  private[graft] def fpBucketCol(fp: Column, buckets: Int): Column =
    pmod(hash(fp), lit(buckets))

  /** Bucket count recorded in a fingerprint index's `_config` sidecar. */
  def readFingerprintBuckets(spark: org.apache.spark.sql.SparkSession, path: String): Int =
    spark.read.parquet(s"$path/_config").select("buckets").collect().head.getInt(0)

  /** Persist the fingerprint set PARTITIONED BY a hash bucket of the
    * fingerprint, with the bucket count as a `_config` sidecar: a probe
    * batch touches ≤ |batch| buckets, so [[novelOnly]] prunes its index
    * read to those directories instead of sweeping every fingerprint
    * ever ingested — the same touched-cell move as the semantic gate's
    * replay guard. `buckets` sizes the trade: at 100 TB pick
    * ~corpus_fingerprint_bytes / 128 MB so each bucket directory is one
    * healthy scan unit; the default keeps test-scale file counts sane.
    */
  def writeFingerprintIndex(df: DataFrame, textCol: String, path: String, buckets: Int = 0): Unit = {
    val bucketsR = if (buckets > 0) buckets else derivedBuckets(df.count())
    df.select(TextOps.fingerprint(col(textCol)).as("fingerprint"))
      .dropDuplicates("fingerprint")
      .withColumn("fp_bucket", fpBucketCol(col("fingerprint"), bucketsR))
      .repartition(col("fp_bucket")) // one writer per leaf (see bands note)
      .write
      .mode("overwrite")
      .partitionBy("fp_bucket")
      .parquet(path)
    val spark = df.sparkSession
    import spark.implicits._
    Seq(bucketsR).toDF("buckets").coalesce(1).write.mode("overwrite").parquet(s"$path/_config")
  }

  /** Fold an increment's fingerprints into the index, bucketed under
    * the index's own recorded config (drift-proof, like the minhash
    * config). The caller owns distinctness across increments (rows
    * already gated by [[novelOnly]] are novel by definition);
    * duplicates would not break [[novelOnly]] (an anti-join is
    * insensitive to right-side multiplicity), only waste index bytes.
    */
  def appendToFingerprintIndex(batch: DataFrame, textCol: String, path: String, recoverFirst: Boolean = true): Unit = {
    // writer invariant: resolve any interrupted leaf swap before
    // writing (see appendToMinhashIndex's doc); one listing walk,
    // the same order of FS round-trips the append's own commit pays.
    // `recoverFirst = false` is the caller-owns-recovery contract the
    // `*Pre` forms document — the ingest gate recovers at stream start
    // and at every maintenance walk, and skips paying the walk (real
    // listing latency on an object store) again per batch.
    if (recoverFirst) graft.io.Compaction.recoverPartitioned(batch.sparkSession, path)
    val buckets = readFingerprintBuckets(batch.sparkSession, path)
    batch
      .select(TextOps.fingerprint(col(textCol)).as("fingerprint"))
      .dropDuplicates("fingerprint")
      .withColumn("fp_bucket", fpBucketCol(col("fingerprint"), buckets))
      .repartition(col("fp_bucket")) // one writer per leaf (see bands note)
      .write
      .mode("append")
      .partitionBy("fp_bucket")
      .parquet(path)
  }

  /** Batch rows whose normalized-text fingerprint the indexed corpus has
    * never seen — the incremental form of [[exactDuplicates]]'s filter.
    * Null-safe anti-join (`<=>`, matching [[exactDuplicates]] and the
    * DuckDB `IS NOT DISTINCT FROM` oracle). The index read is
    * partition-pruned to the batch's TOUCHED fingerprint buckets (a
    * bounded collect, ≤ min(|batch|, buckets) ints rendered as an isin
    * literal): at 100 TB the guard reads the batch's bucket directories'
    * slim fingerprint columns, never the full index — the rest is one
    * shuffle of slim rows on each side, and a bloom-filter pre-pass
    * over the batch would cut that further.
    */
  def novelOnly(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      textCol: String
  ): DataFrame = {
    val buckets = readFingerprintBuckets(spark, path)
    val touched = batch
      .select(fpBucketCol(TextOps.fingerprint(col(textCol)), buckets).as("b"))
      .distinct()
      .collect()
      .map(_.getInt(0))
      .sorted
    if (touched.isEmpty) return batch // empty batch: nothing to gate
    val indexed = spark.read.parquet(path).filter(col("fp_bucket").isin(touched.toSeq: _*))
    batch.join(
      indexed,
      TextOps.fingerprint(batch(textCol)) <=> indexed("fingerprint"),
      "left_anti"
    )
  }

  /** [[novelOnly]] over a batch that already CARRIES its fingerprint in
    * `fpCol` (the ingest gate computes it for the within-batch exact
    * dedup anyway): the touched-bucket collect and the anti-join probe
    * reuse the column instead of re-evaluating md5(normalize(text)) in
    * two more subtrees. Same fingerprint definition
    * ([[TextOps.fingerprint]]), same null-safe `<=>` match, same pruned
    * index read — identical accepted set.
    */
  def novelOnlyPre(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      fpCol: String
  ): DataFrame = {
    val buckets = readFingerprintBuckets(spark, path)
    val touched = batch
      .select(fpBucketCol(col(fpCol), buckets).as("b"))
      .distinct()
      .collect()
      .map(_.getInt(0))
      .sorted
    if (touched.isEmpty) return batch // empty batch: nothing to gate
    val indexed = spark.read.parquet(path).filter(col("fp_bucket").isin(touched.toSeq: _*))
    batch.join(
      indexed,
      batch(fpCol) <=> indexed("fingerprint"),
      "left_anti"
    )
  }
}
