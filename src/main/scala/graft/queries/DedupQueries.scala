package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.io.Tables
import graft.similarity.Similarity
import graft.streaming.{DedupIngest, SemDedupIngest}
import graft.text.TextOps

import graft.queries.AnnQueries.{D10Cos, cosSql, dArr, n3FittedCentroids}
import graft.queries.Oracle.{Fitted, Sql}
import graft.queries.Scratch.{indexScratch, seedOnce, tableStamp}

/** Text dedup and ingest queries: exact, MinHash-LSH, SimHash and
  * n-gram Jaccard near-dup pairs, cluster resolution, decontamination,
  * incremental probes against materialized indexes (d9, d9b) and the two
  * ingest-gate end states (d13 over text, d14 over embeddings). Every
  * MinHash oracle shares the d2 pair CTEs ([[d2PairsCtes]]), built from
  * the engine's own xor seeds.
  */
object DedupQueries {

  /** Exact dedup by content hash. The test corpus has no natural exact
    * dups, so the query dedups the corpus unioned with an id-shifted
    * copy of itself — every doc forms a group of 2 with a keeper.
    */
  def d1ExactDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val copies = docs.select(($"doc_id" + 1000000L).as("doc_id"), $"text")
    Dedup
      .exactDuplicates(docs.unionByName(copies), "doc_id", "text")
      .orderBy("doc_id")
  }

  /** MinHash (k=16) + LSH banding (8 bands × 2 rows) near-dup pairs,
    * verified with exact 3-gram Jaccard ≥ 0.3.
    */
  def d2MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup
      .minhashLshPairs(Tables.documents(spark, dir), "doc_id", "text", n = 3, k = 16, bands = 8, threshold = 0.3)
      .orderBy("id_a", "id_b")

  /** d8 — near-dup cluster resolution: connected components over the d2
    * pair list (pointer-jumping min-label propagation); component =
    * minimum doc id of the cluster = the canonical keeper.
    */
  def d8Components(spark: SparkSession, dir: String): DataFrame =
    Dedup
      .connectedComponents(
        Dedup.minhashLshPairs(Tables.documents(spark, dir), "doc_id", "text", n = 3, k = 16, bands = 8, threshold = 0.3),
        "id_a",
        "id_b"
      )
      .orderBy("component", "id")

  /** d8b — the deduplicated corpus itself: every document except
    * non-keeper near-dup cluster members (keeper = cluster min id).
    */
  def d8bDedupFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val clusters = Dedup.connectedComponents(
      Dedup.minhashLshPairs(docs, "doc_id", "text", n = 3, k = 16, bands = 8, threshold = 0.3),
      "id_a",
      "id_b"
    )
    Dedup
      .keepersOnly(docs, "doc_id", clusters)
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  /** d9 — incremental near-dup dedup against the materialized MinHash
    * index ([[graft.dedup.Dedup.writeMinhashIndex]]): corpus =
    * documents with doc_id % 3 != 0 (indexed), increment batch =
    * doc_id % 3 == 0; result = every near-dup pair the increment
    * introduces (batch×corpus via the index plus batch-internal) —
    * semantically the d2 pair list restricted to pairs touching the
    * batch, which is exactly what the oracle recomputes. The index
    * build is INSIDE the query on purpose: the bench measures the real
    * end-to-end increment flow (build + probe), and correctness only
    * sees the output surface.
    */
  def d9IncrementalMinhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val path = indexScratch("d9_minhash", dir)
    // pure probe (no appends) against a deterministic index — the build
    // is shared across unchanged-data runs (seedOnce), so bench reps
    // time the INCREMENT's probe, not a corpus re-index
    seedOnce(spark, path, s"d9 v2 ${tableStamp(spark, s"$dir/documents.parquet")}") {
      Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", path, n = 3, k = 16, bands = 8)
    }
    Dedup
      .incrementalLshPairs(spark, path, docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", threshold = 0.3)
      .orderBy("id_a", "id_b")
  }

  /** d9b — incremental EXACT dedup: batch rows (doc_id % 3 == 0) whose
    * normalized-text fingerprint the indexed corpus (doc_id % 3 != 0)
    * has never seen. Null-safe: a NULL-text batch row is non-novel
    * because the corpus contains NULL-text docs.
    */
  def d9bNovelFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val path = indexScratch("d9b_fingerprints", dir)
    seedOnce(spark, path, s"d9b v2 ${tableStamp(spark, s"$dir/documents.parquet")}") {
      Dedup.writeFingerprintIndex(docs.filter(col("doc_id") % 3 =!= 0), "text", path)
    }
    Dedup
      .novelOnly(spark, path, docs.filter(col("doc_id") % 3 === 0), "text")
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  /** d13 — the streaming dedup-ingest END-STATE: seed the corpus + both
    * indexes with the doc_id%3==1 documents, then gate the %3==2 and
    * %3==0 batches through [[graft.streaming.DedupIngest.ingestBatch]]
    * IN THAT ORDER (the exact frames DedupIngestSpec feeds the
    * `foreachBatch` stream — spec-pinned stream ≡ sequential), and
    * return the final corpus. The DuckDB oracle recomputes the same
    * sequential gate: per batch, within-batch exact keeper → exact
    * novelty vs accepted fingerprints → near-dup components over the
    * pair graph restricted to (batch ∪ accepted) touching the batch,
    * corpus anchors win, min batch id keeps. Scratch: the SEED build is
    * shared across runs on unchanged testdata ([[Scratch.seedOnce]]
    * — keyed to the documents table's FS content stamp); the two gated
    * batches re-run EVERY time, and the gate's replay idempotence
    * (DedupIngestSpec) makes the end state identical whether they run
    * against a fresh seed or an already-ingested corpus — the appends
    * are the one non-idempotent step and the guards turn replays of
    * them into no-ops.
    */
  def d13IngestCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"), col("text"))
    val root = indexScratch("d13_ingest", dir)
    val seed = docs.filter(col("doc_id") % 3 === 1)
    val corpusOut = s"$root/corpus"
    // v2: bucketed fingerprint/minhash index layout (stale v1 scratch
    // lacks the partition columns and must rebuild)
    val stamp = s"d13 v2 ${tableStamp(spark, s"$dir/documents.parquet")}"
    seedOnce(spark, root, stamp) {
      DedupIngest.initIndexes(seed, "doc_id", "text", s"$root/idx")
      seed.write.mode("overwrite").parquet(corpusOut)
    }
    DedupIngest.ingestBatch(spark, s"$root/idx", corpusOut, docs.filter(col("doc_id") % 3 === 2), "doc_id", "text")
    DedupIngest.ingestBatch(spark, s"$root/idx", corpusOut, docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
    spark.read.parquet(corpusOut).select("doc_id", "source").orderBy("doc_id")
  }

  /** d14 — the SEMANTIC ingest END-STATE: seed the IVF index with the
    * vec_id%3==1 embeddings under the n3 fitted model (k=16 — the
    * d10/d12 pin), then gate the %3==2 and %3==0 batches through
    * [[graft.streaming.SemDedupIngest.ingestBatch]] IN THAT ORDER and
    * return the final index contents (id, cell). The fitted oracle
    * recomputes the sequential gate relationally: cell assignment from
    * the centroid literals, within-cell cosine pairs, two unrolled
    * recursive closures with corpus-seniority anchoring — the d13
    * construction in embedding space. Scratch: seed index shared across
    * runs on unchanged testdata ([[Scratch.seedOnce]], the d13
    * note); the two gated batches re-run every time and the id guard
    * (SemDedupIngestSpec replay test) keeps the end state identical.
    */
  def d14SemIngest(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val root = indexScratch("d14_sem_ingest", dir)
    val stamp = s"d14 v1 ${tableStamp(spark, s"$dir/embeddings.parquet")}"
    seedOnce(spark, root, stamp) {
      Similarity.writeIvfIndex(
        emb.filter(col("vec_id") % 3 === 1), "vec_id", "embedding", root,
        nCentroids = 16, centroidModel = Some(n3FittedCentroids(spark, dir)))
    }
    SemDedupIngest.ingestBatch(spark, root, emb.filter(col("vec_id") % 3 === 2), "vec_id", "embedding", D10Cos)
    SemDedupIngest.ingestBatch(spark, root, emb.filter(col("vec_id") % 3 === 0), "vec_id", "embedding", D10Cos)
    spark.read
      .parquet(root)
      .select(col("id").as("vec_id"), col("cell").cast("int").as("cell"))
      .orderBy("vec_id")
  }

  /** d11 — leakage-safe train/val/test split: the x9 hash rule applied
    * to the near-dup GROUP key (d8's components) instead of the doc id,
    * so a near-copy of a training document can never land in eval.
    * Singletons keep their x9 assignment bit-for-bit.
    */
  def d11SafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    TextOps
      .assignSplitLeakageSafe(
        docs.select($"doc_id", $"source"),
        "doc_id",
        Dedup.minhashLshPairs(docs, "doc_id", "text", n = 3, k = 16, bands = 8, threshold = 0.3),
        seed = 7L
      )
      .select("doc_id", "source", "group_key", "split")
      .orderBy("doc_id")
  }

  /** 60-bit SimHash near-dup pairs (hamming ≤ 20 over synthetic docs —
    * wide threshold so the operator produces work on this corpus).
    */
  def d3Simhash(spark: SparkSession, dir: String): DataFrame =
    Dedup
      .simhashPairs(Tables.documents(spark, dir), "doc_id", "text", maxHamming = 20)
      .orderBy("id_a", "id_b")

  /** Exact n-gram Jaccard near-dup pairs with length-band blocking. */
  def d4NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup
      .ngramJaccardPairs(Tables.documents(spark, dir), "doc_id", "text", "n_chars", n = 3, threshold = 0.3)
      .orderBy("id_a", "id_b")

  /** D7 — test-set decontamination: bipartite MinHash-LSH between a
    * synthetic corpus/benchmark split of `documents` (every 5th doc is
    * the "benchmark"); emitted pairs are benchmark items that leaked
    * into the corpus at Jaccard ≥ 0.3. Benchmark side broadcast.
    */
  def d7Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup
      .crossLshPairs(
        docs.filter(pmod($"doc_id", lit(5)) =!= 0),
        docs.filter(pmod($"doc_id", lit(5)) === 0),
        "doc_id", "text"
      )
      .orderBy("id_a", "id_b")
  }

  // Shared CTE chain producing the d2 MinHash+LSH verified pair list
  // (ends with CTE `pairs`); d2 filters it, d8 runs a recursive closure
  // over it. xor-permutation minhash: same seed constants as
  // Dedup.xorSeeds.
  private val d2PairsCtes: String = {
    val sigExprs = graft.dedup.Dedup
      .xorSeeds(16)
      .map(s => s"list_min(list_transform(hs, h -> xor(h, $s)))")
      .mkString("[", ", ", "]")
    s"""base AS (
       |  SELECT doc_id AS id,
       |    list_distinct(list_transform(range(1, greatest(len(toks)-2, 0)+1), i -> array_to_string(toks[i:i+2], ' '))) AS sh
       |  FROM (SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks FROM documents)),
       |filt AS (SELECT * FROM base WHERE len(sh) > 0),
       |hashed AS (SELECT id, sh, list_transform(sh, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs FROM filt),
       |sig AS (SELECT id, $sigExprs AS sig FROM hashed),
       |banded AS (
       |  SELECT id, b.band, md5(array_to_string(sig[b.band*2+1:b.band*2+2], ',')) AS band_key
       |  FROM sig, (SELECT unnest(range(0, 8)) AS band) b),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
       |pairs AS (
       |  SELECT c.id_a, c.id_b,
       |    len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(list_concat(sa.sh, sb.sh)))::DOUBLE AS jaccard
       |  FROM cand c JOIN filt sa ON sa.id = c.id_a JOIN filt sb ON sb.id = c.id_b)""".stripMargin
  }

  /** D14 — the semantic ingest end-state over the fitted-centroid
    * literals: the d10 `assigned`/`p` CTEs (identical argmax tie-break
    * and cosine) feed the d13 sequential-gate construction — seed =
    * vec_id%3=1, two gated batches (%3=2 then %3=0) each resolved by a
    * recursive closure over the pair graph restricted to
    * (batch ∪ accepted) touching the batch, corpus anchors win, min
    * batch id keeps. No exact-novelty stage: the semantic gate's replay
    * guard is id-identity, a no-op on distinct ids.
    */
  private def d14SemIngestSql(centroids: Array[Array[Double]]): String = {
    val centValues = centroids.zipWithIndex
      .map { case (c, i) => s"($i, ${dArr(c)})" }
      .mkString(", ")
    s"""WITH RECURSIVE cents AS (
       |  SELECT * FROM (VALUES $centValues) AS t(cell, cvec)),
       |scored AS (
       |  SELECT e.vec_id AS id, c.cell,
       |    list_reduce(
       |      list_prepend(0.0, list_transform(generate_series(1, 64),
       |        i -> CAST(e.embedding[i] AS DOUBLE) * c.cvec[i])),
       |      (acc, x) -> acc + x) AS score
       |  FROM embeddings e CROSS JOIN cents c),
       |assigned AS (
       |  SELECT id, cell FROM (
       |    SELECT id, cell, row_number() OVER (PARTITION BY id ORDER BY score DESC, cell DESC) AS rn
       |    FROM scored) t WHERE rn = 1),
       |ev AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |p AS (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.id < b.id
       |  JOIN ev ea ON ea.vec_id = a.id JOIN ev eb ON eb.vec_id = b.id
       |  WHERE ${cosSql("ea.v", "eb.v")} >= ${D10Cos}),
       |sym AS (SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b, id_a FROM p),
       |seed AS (SELECT vec_id AS id FROM embeddings WHERE vec_id % 3 = 1),
       |n2 AS (SELECT vec_id AS id FROM embeddings WHERE vec_id % 3 = 2),
       |u2 AS (SELECT id FROM n2 UNION SELECT id FROM seed),
       |ed2 AS (SELECT src, dst FROM sym
       |  WHERE (src IN (SELECT id FROM n2) OR dst IN (SELECT id FROM n2))
       |    AND src IN (SELECT id FROM u2) AND dst IN (SELECT id FROM u2)),
       |r2(id, r) AS (
       |  SELECT id, id FROM u2
       |  UNION
       |  SELECT e2.dst, r2.r FROM ed2 e2 JOIN r2 ON r2.id = e2.src),
       |c2 AS (SELECT id, min(r) AS component FROM r2 GROUP BY id),
       |g2 AS (SELECT component,
       |    max(CASE WHEN id NOT IN (SELECT id FROM n2) THEN 1 ELSE 0 END) AS has_indexed,
       |    min(CASE WHEN id IN (SELECT id FROM n2) THEN id END) AS min_batch
       |  FROM c2 GROUP BY component),
       |acc2 AS (
       |  SELECT n.id FROM n2 n
       |  JOIN c2 ON c2.id = n.id
       |  JOIN g2 ON g2.component = c2.component
       |  WHERE g2.has_indexed = 0 AND n.id = g2.min_batch),
       |n0 AS (SELECT vec_id AS id FROM embeddings WHERE vec_id % 3 = 0),
       |u0 AS (SELECT id FROM n0 UNION SELECT id FROM seed UNION SELECT id FROM acc2),
       |ed0 AS (SELECT src, dst FROM sym
       |  WHERE (src IN (SELECT id FROM n0) OR dst IN (SELECT id FROM n0))
       |    AND src IN (SELECT id FROM u0) AND dst IN (SELECT id FROM u0)),
       |r0(id, r) AS (
       |  SELECT id, id FROM u0
       |  UNION
       |  SELECT e0.dst, r0.r FROM ed0 e0 JOIN r0 ON r0.id = e0.src),
       |c0 AS (SELECT id, min(r) AS component FROM r0 GROUP BY id),
       |g0 AS (SELECT component,
       |    max(CASE WHEN id NOT IN (SELECT id FROM n0) THEN 1 ELSE 0 END) AS has_indexed,
       |    min(CASE WHEN id IN (SELECT id FROM n0) THEN id END) AS min_batch
       |  FROM c0 GROUP BY component),
       |acc0 AS (
       |  SELECT n.id FROM n0 n
       |  JOIN c0 ON c0.id = n.id
       |  JOIN g0 ON g0.component = c0.component
       |  WHERE g0.has_indexed = 0 AND n.id = g0.min_batch),
       |fin AS (SELECT id FROM seed UNION ALL SELECT id FROM acc2 UNION ALL SELECT id FROM acc0)
       |SELECT f.id AS vec_id, CAST(a.cell AS INTEGER) AS cell
       |FROM fin f JOIN assigned a ON a.id = f.id
       |ORDER BY vec_id""".stripMargin
  }

  val defs: List[QueryDef] = List(
    QueryDef("d1_exact_dedup", d1ExactDedup, Sql(
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |fp AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint FROM all_docs),
        |g AS (SELECT *, min(doc_id) OVER (PARTITION BY fingerprint) AS keeper_id,
        |              count(*) OVER (PARTITION BY fingerprint) AS group_size FROM fp)
        |SELECT doc_id, keeper_id, fingerprint, CAST(group_size AS BIGINT) AS group_size
        |FROM g WHERE group_size > 1 ORDER BY doc_id""".stripMargin)),
    QueryDef("d2_minhash_lsh", d2MinhashLsh, Sql(
      s"""WITH $d2PairsCtes
         |SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.3 ORDER BY id_a, id_b""".stripMargin)),
    // D8 — connected components over the SAME pair CTEs via a recursive
    // closure: reach(id, r) reaches every label r in id's component;
    // min(r) is the component = canonical keeper id. UNION (not UNION
    // ALL) dedups rows, so the recursion terminates at the closure.
    QueryDef("d8_components", d8Components, Sql(
      s"""WITH RECURSIVE $d2PairsCtes,
         |thresholded AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.3),
         |nodes AS (SELECT id_a AS id FROM thresholded UNION SELECT id_b FROM thresholded),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM thresholded
         |          UNION SELECT id_b, id_a FROM thresholded),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.dst, reach.r FROM edges e JOIN reach ON reach.id = e.src),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |csize AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size FROM comp GROUP BY component)
         |SELECT c.id, c.component, s.cluster_size
         |FROM comp c JOIN csize s USING (component)
         |ORDER BY c.component, c.id""".stripMargin)),
    // D8b — the deduplicated corpus: documents minus non-keeper cluster
    // members, derived from the same recursive closure.
    QueryDef("d8b_dedup_filter", d8bDedupFilter, Sql(
      s"""WITH RECURSIVE $d2PairsCtes,
         |thresholded AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.3),
         |nodes AS (SELECT id_a AS id FROM thresholded UNION SELECT id_b FROM thresholded),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM thresholded
         |          UNION SELECT id_b, id_a FROM thresholded),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.dst, reach.r FROM edges e JOIN reach ON reach.id = e.src),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
         |SELECT doc_id, source FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> component)
         |ORDER BY doc_id""".stripMargin)),
    // D9 — the incremental-index result is BY CONSTRUCTION the full
    // pair list restricted to pairs touching the increment (doc_id%3=0)
    // — the oracle states that contract directly over the same CTEs.
    QueryDef("d9_incremental_minhash", d9IncrementalMinhash, Sql(
      s"""WITH $d2PairsCtes
         |SELECT id_a, id_b, jaccard FROM pairs
         |WHERE jaccard >= 0.3 AND (id_a % 3 = 0 OR id_b % 3 = 0)
         |ORDER BY id_a, id_b""".stripMargin)),
    // D9b — incremental exact-novelty; IS NOT DISTINCT FROM mirrors the
    // Spark <=> anti-join (NULL text is non-novel vs a corpus NULL).
    QueryDef("d9b_novel_filter", d9bNovelFilter, Sql(
      """WITH fp AS (
        |  SELECT doc_id, source,
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
        |  FROM documents)
        |SELECT b.doc_id, b.source FROM fp b
        |WHERE b.doc_id % 3 = 0
        |  AND NOT EXISTS (SELECT 1 FROM fp c
        |                  WHERE c.doc_id % 3 <> 0 AND c.f IS NOT DISTINCT FROM b.f)
        |ORDER BY doc_id""".stripMargin)),
    // D13 — the sequential ingest gate restated batch by batch: seed =
    // doc_id%3=1 (indexed ungated), then each gated batch (%3=2, then
    // %3=0) is within-batch exact-keepered, fingerprint-novelty-checked
    // against everything accepted so far, and cluster-resolved over the
    // SAME global pair CTEs restricted to (batch ∪ accepted) pairs
    // touching the batch — a corpus anchor in the cluster drops the
    // whole batch side, else the min batch id keeps. Two unrolled
    // recursive closures = the two ingestBatch calls.
    QueryDef("d13_ingest_corpus", d13IngestCorpus, Sql(
      s"""WITH RECURSIVE $d2PairsCtes,
         |p AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.3),
         |sym AS (SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b, id_a FROM p),
         |fpd AS (SELECT doc_id, source, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f FROM documents),
         |seed AS (SELECT doc_id, source, f FROM fpd WHERE doc_id % 3 = 1),
         |e2 AS (
         |  SELECT doc_id, source, f FROM (
         |    SELECT b.*, min(doc_id) OVER (PARTITION BY f) AS kid
         |    FROM (SELECT * FROM fpd WHERE doc_id % 3 = 2) b)
         |  WHERE doc_id = kid),
         |n2 AS (SELECT e.* FROM e2 e
         |  WHERE NOT EXISTS (SELECT 1 FROM seed s WHERE s.f IS NOT DISTINCT FROM e.f)),
         |u2 AS (SELECT doc_id FROM n2 UNION SELECT doc_id FROM seed),
         |ed2 AS (SELECT src, dst FROM sym
         |  WHERE (src IN (SELECT doc_id FROM n2) OR dst IN (SELECT doc_id FROM n2))
         |    AND src IN (SELECT doc_id FROM u2) AND dst IN (SELECT doc_id FROM u2)),
         |r2(id, r) AS (
         |  SELECT doc_id, doc_id FROM u2
         |  UNION
         |  SELECT e.dst, r2.r FROM ed2 e JOIN r2 ON r2.id = e.src),
         |c2 AS (SELECT id, min(r) AS component FROM r2 GROUP BY id),
         |g2 AS (SELECT component,
         |    max(CASE WHEN id NOT IN (SELECT doc_id FROM n2) THEN 1 ELSE 0 END) AS has_indexed,
         |    min(CASE WHEN id IN (SELECT doc_id FROM n2) THEN id END) AS min_batch
         |  FROM c2 GROUP BY component),
         |acc2 AS (
         |  SELECT n.doc_id, n.source, n.f FROM n2 n
         |  JOIN c2 ON c2.id = n.doc_id
         |  JOIN g2 ON g2.component = c2.component
         |  WHERE g2.has_indexed = 0 AND n.doc_id = g2.min_batch),
         |e0 AS (
         |  SELECT doc_id, source, f FROM (
         |    SELECT b.*, min(doc_id) OVER (PARTITION BY f) AS kid
         |    FROM (SELECT * FROM fpd WHERE doc_id % 3 = 0) b)
         |  WHERE doc_id = kid),
         |af AS (SELECT f FROM seed UNION ALL SELECT f FROM acc2),
         |n0 AS (SELECT e.* FROM e0 e
         |  WHERE NOT EXISTS (SELECT 1 FROM af s WHERE s.f IS NOT DISTINCT FROM e.f)),
         |u0 AS (SELECT doc_id FROM n0 UNION SELECT doc_id FROM seed UNION SELECT doc_id FROM acc2),
         |ed0 AS (SELECT src, dst FROM sym
         |  WHERE (src IN (SELECT doc_id FROM n0) OR dst IN (SELECT doc_id FROM n0))
         |    AND src IN (SELECT doc_id FROM u0) AND dst IN (SELECT doc_id FROM u0)),
         |r0(id, r) AS (
         |  SELECT doc_id, doc_id FROM u0
         |  UNION
         |  SELECT e.dst, r0.r FROM ed0 e JOIN r0 ON r0.id = e.src),
         |c0 AS (SELECT id, min(r) AS component FROM r0 GROUP BY id),
         |g0 AS (SELECT component,
         |    max(CASE WHEN id NOT IN (SELECT doc_id FROM n0) THEN 1 ELSE 0 END) AS has_indexed,
         |    min(CASE WHEN id IN (SELECT doc_id FROM n0) THEN id END) AS min_batch
         |  FROM c0 GROUP BY component),
         |acc0 AS (
         |  SELECT n.doc_id, n.source FROM n0 n
         |  JOIN c0 ON c0.id = n.doc_id
         |  JOIN g0 ON g0.component = c0.component
         |  WHERE g0.has_indexed = 0 AND n.doc_id = g0.min_batch)
         |SELECT doc_id, source FROM seed
         |UNION ALL SELECT doc_id, source FROM acc2
         |UNION ALL SELECT doc_id, source FROM acc0
         |ORDER BY doc_id""".stripMargin)),
    QueryDef("d14_sem_ingest", d14SemIngest, Fitted(f => d14SemIngestSql(f.centroids))),
    // D11 — the d8 component machinery verbatim, its labels COALESCEd
    // with the doc's own id into a group key, then the x9 threshold
    // rule on that key: the oracle literally states "x9 over group
    // keys", which is the operator's whole contract.
    QueryDef("d11_safe_split", d11SafeSplit, Sql(
      s"""WITH RECURSIVE $d2PairsCtes,
         |thresholded AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.3),
         |nodes AS (SELECT id_a AS id FROM thresholded UNION SELECT id_b FROM thresholded),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM thresholded
         |          UNION SELECT id_b, id_a FROM thresholded),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.dst, reach.r FROM edges e JOIN reach ON reach.id = e.src),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |keyed AS (
         |  SELECT d.doc_id, d.source, COALESCE(c.component, d.doc_id) AS group_key
         |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
         |SELECT doc_id, source, group_key,
         |  CASE WHEN u < CAST(0.8 AS DOUBLE) THEN 'train'
         |       WHEN u < CAST(0.9 AS DOUBLE) THEN 'validation'
         |       ELSE 'test' END AS split
         |FROM (SELECT *,
         |        CAST(('0x' || substr(md5('7:' || CAST(group_key AS VARCHAR)), 1, 13))::BIGINT AS DOUBLE)
         |          / CAST(4503599627370496 AS DOUBLE) AS u
         |      FROM keyed)
         |ORDER BY doc_id""".stripMargin)),
    // simhash: the hex→int64 conversion DuckDB v1.0.0 lacks via conv()
    // is expressed with the ('0x'||hex)::BIGINT cast; the 60-bit sketch
    // is a nested list_reduce replicating Simhash60's sign-sum exactly.
    QueryDef("d3_simhash", d3Simhash, Sql(
      """WITH toks AS (
        |  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ts
        |  FROM documents),
        |hs AS (
        |  SELECT doc_id, list_transform(ts, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hl FROM toks),
        |sk AS (
        |  SELECT doc_id,
        |    list_reduce(list_transform(range(0, 60), b ->
        |      CASE WHEN list_reduce(list_transform(hl, h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END), (x,y) -> x+y) > 0
        |           THEN (1::BIGINT << b) ELSE 0::BIGINT END), (x,y) -> x+y) AS sim
        |  FROM hs),
        |chunked AS (
        |  SELECT doc_id, sim, c AS chunk, (sim >> (15*c)) & 32767 AS chunk_val
        |  FROM sk, unnest([0,1,2,3]) AS u(c))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
        |FROM chunked a JOIN chunked b ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
        |GROUP BY 1, 2, 3
        |HAVING hamming <= 20
        |ORDER BY id_a, id_b""".stripMargin)),
    QueryDef("d4_ngram_jaccard", d4NgramJaccard, Sql(
      """WITH s AS (
        |  SELECT doc_id AS id, n_chars AS len,
        |    list_distinct(list_transform(range(1, greatest(len(toks)-2, 0)+1), i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, n_chars, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks FROM documents))
        |SELECT a.id AS id_a, b.id AS id_b,
        |  len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE AS jaccard
        |FROM s a JOIN s b ON a.id < b.id AND abs(a.len - b.len)::DOUBLE <= 0.15 * greatest(a.len, b.len)
        |WHERE len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE >= 0.3
        |ORDER BY id_a, id_b""".stripMargin)),
    QueryDef("d7_decontaminate", d7Decontaminate, Sql({
      val sigExprs = graft.dedup.Dedup
        .xorSeeds(16)
        .map(s => s"list_min(list_transform(hs, h -> xor(h, $s)))")
        .mkString("[", ", ", "]")
      s"""WITH base AS (
         |  SELECT doc_id AS id,
         |    list_distinct(list_transform(range(1, greatest(len(toks)-2, 0)+1), i -> array_to_string(toks[i:i+2], ' '))) AS sh
         |  FROM (SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks FROM documents)),
         |filt AS (SELECT * FROM base WHERE len(sh) > 0),
         |hashed AS (SELECT id, sh, list_transform(sh, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs FROM filt),
         |sig AS (SELECT id, $sigExprs AS sig FROM hashed),
         |banded AS (
         |  SELECT id, b.band, md5(array_to_string(sig[b.band*2+1:b.band*2+2], ',')) AS band_key
         |  FROM sig, (SELECT unnest(range(0, 8)) AS band) b),
         |cand AS (
         |  SELECT DISTINCT c.id AS id_a, bm.id AS id_b
         |  FROM (SELECT * FROM banded WHERE id % 5 <> 0) c
         |  JOIN (SELECT * FROM banded WHERE id % 5 = 0) bm
         |    ON c.band = bm.band AND c.band_key = bm.band_key),
         |pairs AS (
         |  SELECT cd.id_a, cd.id_b,
         |    len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(list_concat(sa.sh, sb.sh)))::DOUBLE AS jaccard
         |  FROM cand cd JOIN filt sa ON sa.id = cd.id_a JOIN filt sb ON sb.id = cd.id_b)
         |SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.3 ORDER BY id_a, id_b""".stripMargin
    }))
  )
}
