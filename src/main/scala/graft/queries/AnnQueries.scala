package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.similarity.Similarity

import graft.queries.Oracle.{Fitted, Sql}
import graft.queries.Scratch.{indexScratch, seedOnce, tableStamp}

/** Embedding queries: exact and LSH near-dup pairs, bucket and cell
  * assignment, the ANN top-k family (brute force, LSH, IVF, PQ, IVF-PQ,
  * int8) and semantic dedup (d10, d12). Seeded hyperplanes and fitted
  * models reach the oracle as SQL literals that parse back to the
  * identical binary64 values; the fitted ones render at dump time from
  * one [[Fits]] holder.
  */
object AnnQueries {

  // d10/d12/d14 share d5/d6's cosine regime: 0.4 is where this
  // synthetic corpus has planted near-dups.
  private[queries] val D10Cos: Double = 0.4

  /** d12 — SEMANTIC test-set decontamination: bipartite SemDeDup
    * between a corpus/benchmark split of `embeddings` (every 5th vec is
    * the "benchmark", d7's split convention) — the paraphrase leak that
    * text-Jaccard d7 cannot see. Same fitted model and k=16 pin as
    * d10/n3; benchmark side broadcasts.
    */
  def d12SemDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity
      .crossSemDedupPairs(
        emb.filter(pmod($"vec_id", lit(5)) =!= 0),
        emb.filter(pmod($"vec_id", lit(5)) === 0),
        "vec_id", "embedding",
        threshold = D10Cos,
        nClusters = 16,
        centroidModel = Some(n3FittedCentroids(spark, dir))
      )
      .orderBy("corpus_id", "bench_id")
  }

  /** d10 — SemDeDup semantic near-dup pairs: k-means cells (the SAME
    * fitted model as n3 — one fit, two consumers) bound the exact
    * cosine pair search to within-cell. End-to-end fitted oracle: the
    * dump-time centroid literals reproduce cell assignment in DuckDB,
    * the pair join + cosine are pure relational algebra over them.
    */
  def d10Semdedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity
      .semDedupPairs(
        emb, "vec_id", "embedding",
        threshold = D10Cos,
        nClusters = 16,
        centroidModel = Some(n3FittedCentroids(spark, dir))
      )
      .orderBy("id_a", "id_b")
  }

  /** Embedding-cosine near-dup pairs — the exact O(n²) VERIFIER, kept
    * as the oracle-checkable ground truth at test scale only. The scale
    * path is [[d6EmbedLshPairs]]; do not run this form on a large corpus
    * (the all-pairs join is quadratic by construction). Threshold set to
    * the corpus's actual similarity regime.
    */
  def d5EmbedNeardup(spark: SparkSession, dir: String): DataFrame =
    Similarity
      .cosineNearDupPairs(Tables.embeddings(spark, dir), "vec_id", "embedding", 0.4)
      .orderBy("id_a", "id_b")

  /** D6 — the 100 TB embedding near-dup path: banded sign-LSH candidate
    * pairs + exact cosine verify (see `Similarity.lshNearDupPairs` for
    * the recall math). SimilaritySpec proves ≥95% recall vs the
    * oracle-checked d5 on the same corpus.
    */
  def d6EmbedLshPairs(spark: SparkSession, dir: String): DataFrame =
    Similarity
      // EXPLICIT pin (bits=2, tables=8): the d6_buckets oracle bakes this
      // config's hyperplanes as SQL literals, so it must not float with
      // the corpus. The operator's default path now derives a scale-safe
      // config from (count, threshold) via lshConfigFor — the quadratic
      // small-config can only happen by a pin like this one.
      .lshNearDupPairs(Tables.embeddings(spark, dir), "vec_id", "embedding", 0.4, bits = 2, tables = 8)
      .orderBy("id_a", "id_b")

  /** The d6 BLOCKING step alone — seeded sign-LSH bucket assignment at
    * d6's exact configuration (bits=2, tables=8, seed=42, corpus
    * dim=64). Oracle-checkable because the hyperplanes are exported as
    * SQL literals: DuckDB recomputes every bucket bit from the same
    * planes, pinning the candidate generation the d6/n2 scale path
    * rides; the end-metric recall stays covered by SimilaritySpec.
    */
  def d6Buckets(spark: SparkSession, dir: String): DataFrame =
    Similarity
      .bucketAssignments(Tables.embeddings(spark, dir), "vec_id", "embedding",
        bits = 2, tables = 8, seed = 42L, dim = 64)
      .orderBy("tbl", "bucket", "id")

  /** The n2 BLOCKING step alone — the same hyperplane-literal pin as
    * [[d6Buckets]] at n2's configuration (bits=4, tables=6, seed=42).
    */
  def n2Buckets(spark: SparkSession, dir: String): DataFrame =
    Similarity
      .bucketAssignments(Tables.embeddings(spark, dir), "vec_id", "embedding",
        bits = 4, tables = 6, seed = 42L, dim = 64)
      .orderBy("tbl", "bucket", "id")

  /** The n3/IVF BLOCKING step alone — nearest-centroid cell assignment
    * under the deterministic id-fallback centroid set (first 16 corpus
    * vectors by id), which is pure relational algebra and so
    * hash-checkable: DuckDB recomputes every centroid dot with the same
    * left-to-right fold and the same (score, cell) tie-break. The n3
    * query itself runs the SAME machinery with the k-means-fitted model
    * (Scala-side state; recall spec covers the end metric).
    */
  def n3Cells(spark: SparkSession, dir: String): DataFrame =
    Similarity
      .cellAssignments(Tables.embeddings(spark, dir), "vec_id", "embedding", nCentroids = 16)
      .orderBy("id")

  /** Brute-force cosine top-5 for the first 10 vectors as queries. */
  def n1AnnBrute(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity
      .bruteForceTopK(emb, "vec_id", "embedding", emb.filter($"vec_id" < 10), 5)
      .orderBy("query_id", "nbr_id")
  }

  /** Multi-table sign-LSH ANN top-5 (6 tables × 4 bits). */
  def n2AnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity
      .lshTopK(emb, "vec_id", "embedding", emb.filter($"vec_id" < 10), 5, bits = 4, tables = 6)
      .orderBy("query_id", "nbr_id")
  }

  /** The n3 fitted model, shared VERBATIM between the query and its
    * dump-time oracle rendering ([[Fits]]): deterministic,
    * so both fits produce identical binary64 centroids.
    */
  def n3FittedCentroids(spark: SparkSession, dir: String): Array[Array[Double]] =
    Similarity.kmeansCentroids(Tables.embeddings(spark, dir), "vec_id", "embedding", k = 16)

  def n5FittedPq(spark: SparkSession, dir: String): Array[Array[Array[Double]]] =
    Similarity.pqSubCentroids(Tables.embeddings(spark, dir), "vec_id", "embedding")

  /** n5 — product-quantization ANN top-5 by asymmetric distance: 8
    * subspaces × 16 euclidean sub-centroids (fitted, bounded sample),
    * codes via the native augmented-dot argmax, ADC from the literal
    * codebook. End-to-end fitted oracle: the augmented codebook renders
    * as literals, DuckDB re-derives codes and re-folds the per-subspace
    * distances in the same order.
    */
  def n5AnnPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity
      .pqTopK(emb, "vec_id", "embedding", emb.filter($"vec_id" < 10), 5, n5FittedPq(spark, dir))
      .orderBy("query_id", "nbr_id")
  }

  /** IVF-quantized ANN top-5 (16 cells, 6 probes) with a k-means model
    * fitted on a bounded deterministic sample (`kmeansCentroids`).
    */
  def n3AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val model = n3FittedCentroids(spark, dir)
    Similarity
      .ivfTopK(emb, "vec_id", "embedding", emb.filter($"vec_id" < 10), 5, nCentroids = 16, nProbe = 6, centroidModel = Some(model))
      .orderBy("query_id", "nbr_id")
  }

  /** ivfpq — the FULL IVF-PQ serving path against the materialized
    * index artifact ([[Similarity.writeIvfPqIndex]]): partition-pruned
    * probe of the 6 best cells per query → ADC over the stored codes
    * (column-pruned — full vectors unread in stage 1) → exact cosine
    * re-rank of the 50-deep shortlist → top-5. Both frozen models are
    * the fitted ones n3/n5 already pin (coarse k-means cells, 8×16 PQ
    * sub-centroids), so the oracle renders BOTH as literals and
    * re-derives cells, codes, ADC shortlist, and re-rank relationally —
    * the direct CORRECTNESS row for the indexed probe (SimilaritySpec
    * covers its equivalence to the flat twin). Index build shared across reps via [[Scratch.seedOnce]]
    * (the write is a pure overwrite of deterministic content, so
    * rebuild-vs-reuse cannot change the result).
    */
  def ivfpqTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val root = indexScratch("ivfpq", dir)
    val stamp = s"ivfpq v1 ${tableStamp(spark, s"$dir/embeddings.parquet")}"
    seedOnce(spark, root, stamp) {
      Similarity.writeIvfPqIndex(
        emb, "vec_id", "embedding", root,
        nCentroids = 16, m = 8, ks = 16,
        centroidModel = Some(n3FittedCentroids(spark, dir)),
        pqModel = Some(n5FittedPq(spark, dir)))
    }
    Similarity
      .ivfPqTopKIndexed(spark, root, emb.filter($"vec_id" < 10), "vec_id", "embedding",
        k = 5, nProbe = 6, shortlist = 50)
      .orderBy("query_id", "nbr_id")
  }

  /** Int8-quantized brute-force ANN top-5: the memory-bound scan path
    * (4× smaller corpus bytes). Fully SQL-expressible — the DuckDB
    * oracle replicates quantize (floor(x/scale + 0.5)) and the integer
    * cosine bit-for-bit.
    */
  def n4AnnQuantized(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity
      .quantizedTopK(emb, "vec_id", "embedding", emb.filter($"vec_id" < 10), 5)
      .orderBy("query_id", "nbr_id")
  }

  // D6-buckets — sign-LSH bucket assignment recomputed from the SAME
  // seeded hyperplanes, exported as SQL literals (Double.toString is
  // shortest-round-trip, so DuckDB parses back the identical binary64).
  // Each plane's dot product is an explicit 64-term left-associative
  // sum — the evaluation order of the native DotProduct expression —
  // and each float element casts to DOUBLE exactly on both engines.
  private def bucketsUnion(bits: Int, tables: Int, seed: Long): String = {
    val planes = graft.similarity.Similarity.tablePlanes(bits, tables, dim = 64, seed = seed)
    def dotSql(plane: Array[Double]): String =
      plane.zipWithIndex
        .map { case (c, i) => s"CAST(embedding[${i + 1}] AS DOUBLE)*($c)" }
        .mkString(" + ")
    val perTable = planes.zipWithIndex.map { case (ps, t) =>
      val bucket = ps.zipWithIndex
        .map { case (p, b) => s"CASE WHEN (${dotSql(p)}) > 0.0 THEN ${1L << b} ELSE 0 END" }
        .mkString(" + ")
      s"SELECT CAST($t AS INTEGER) AS tbl, CAST($bucket AS BIGINT) AS bucket, vec_id AS id FROM embeddings"
    }
    perTable.mkString("", "\nUNION ALL\n", "")
  }

  private val d6BucketsSql: String = bucketsUnion(bits = 2, tables = 8, seed = 42L) + "\nORDER BY tbl, bucket, id"

  private val n2BucketsSql: String = bucketsUnion(bits = 4, tables = 6, seed = 42L) + "\nORDER BY tbl, bucket, id"

  // The exact-cosine SQL of the d5/n1 oracles (list_reduce left fold =
  // the native DotProduct loop order; norms recomputed per side exactly
  // like Similarity.norm = sqrt(dot(v,v))).
  private[queries] def cosSql(a: String, b: String): String = {
    def dot(x: String, y: String): String =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> $x[i] * $y[i])), (acc, x) -> acc + x)"
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
  }

  // D6 — the FULL sign-LSH near-dup pair pipeline: bucket assignment
  // from the exported hyperplane literals (the d6_buckets pin) →
  // distinct same-(table,bucket) candidate pairs (id_a < id_b) → exact
  // cosine verify ≥ 0.4 (the d5 formula). Every stage is relational
  // over the seeded model, so the whole scale path hash-checks, not
  // just its blocking step.
  private val d6PairsSql: String =
    s"""WITH b AS (
       |${bucketsUnion(bits = 2, tables = 8, seed = 42L)}),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b2.id AS id_b
       |  FROM b a JOIN b b2 ON a.tbl = b2.tbl AND a.bucket = b2.bucket AND a.id < b2.id),
       |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |p AS (
       |  SELECT c.id_a, c.id_b, ${cosSql("va.v", "vb.v")} AS cos
       |  FROM cand c JOIN e va ON va.vec_id = c.id_a JOIN e vb ON vb.vec_id = c.id_b)
       |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin

  // N2 — the FULL multi-table LSH ANN pipeline: same bucket literals at
  // n2's configuration, query side = vec_id < 10, candidates from ANY
  // shared (table, bucket) excluding self, exact cosine re-rank, top-5
  // per query with the (cos DESC, nbr_id) tie-break of the n1 oracle.
  private val n2TopKSql: String =
    s"""WITH b AS (
       |${bucketsUnion(bits = 4, tables = 6, seed = 42L)}),
       |qb AS (SELECT * FROM b WHERE id < 10),
       |cand AS (
       |  SELECT DISTINCT qb.id AS query_id, b.id AS nbr_id
       |  FROM qb JOIN b ON qb.tbl = b.tbl AND qb.bucket = b.bucket AND b.id <> qb.id),
       |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |scored AS (
       |  SELECT c.query_id, c.nbr_id, ${cosSql("q.v", "n.v")} AS cos
       |  FROM cand c JOIN e q ON q.vec_id = c.query_id JOIN e n ON n.vec_id = c.nbr_id)
       |SELECT query_id, nbr_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id) AS rn FROM scored) t
       |WHERE rn <= 5 ORDER BY query_id, nbr_id""".stripMargin

  /** Render a double array as a DuckDB list of STRING-PARSED doubles:
    * a bare numeric literal like `0.021083015560482938` types as
    * DECIMAL(19,18) (int128-backed), and DuckDB's decimal→double
    * conversion double-rounds — measured 1-ulp off for ~95% of fitted
    * centroid components, which broke n5's adist hash (n3/d10/d12 were
    * immune only because their literals feed a discrete argmax).
    * `'…'::DOUBLE` string-parses with correct rounding: all 1152 PQ
    * codebook values round-trip bit-exactly.
    */
  private[queries] def dArr(c: Array[Double]): String =
    c.map(x => s"'$x'::DOUBLE").mkString("[", ", ", "]")

  // N3 — the FULL IVF ANN pipeline, rendered at dump time with the
  // FITTED k-means centroids exported as DOUBLE list literals
  // (Double.toString is shortest-round-trip, so DuckDB parses back the
  // identical binary64 — the d6/n2 hyperplane precedent). Stages mirror
  // Similarity.ivfTopK exactly: nearest-centroid assignment per corpus
  // vector (argmax tie-break (score DESC, cell DESC) = Spark's
  // array_max over (score, cell) structs), each query (vec_id < 10)
  // probes its 6 best cells (reverse(array_sort) = the same tie-break;
  // a corpus vector lives in exactly one cell and probe cells are
  // distinct, so the cell equi-join yields no duplicate candidates and
  // needs no DISTINCT — same as the Spark join), exact cosine re-rank
  // (the d5/n1 formula), top-5 per query with the (cos DESC, nbr_id)
  // tie-break of the n1 oracle.
  private def n3IvfSql(centroids: Array[Array[Double]]): String = {
    val centValues = centroids.zipWithIndex
      .map { case (c, i) => s"($i, ${dArr(c)})" }
      .mkString(", ")
    s"""WITH cents AS (
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
       |probes AS (
       |  SELECT id AS query_id, cell FROM (
       |    SELECT id, cell, row_number() OVER (PARTITION BY id ORDER BY score DESC, cell DESC) AS rn
       |    FROM scored WHERE id < 10) t WHERE rn <= 6),
       |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |cand AS (
       |  SELECT p.query_id, a.id AS nbr_id
       |  FROM probes p JOIN assigned a ON a.cell = p.cell AND a.id <> p.query_id),
       |reranked AS (
       |  SELECT c.query_id, c.nbr_id, ${cosSql("q.v", "n.v")} AS cos
       |  FROM cand c JOIN e q ON q.vec_id = c.query_id JOIN e n ON n.vec_id = c.nbr_id)
       |SELECT query_id, nbr_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id) AS rn FROM reranked) t
       |WHERE rn <= 5 ORDER BY query_id, nbr_id""".stripMargin
  }

  /** D10 — SemDeDup over the fitted-centroid literals: the n3 assigned
    * CTE (identical argmax + tie-break) feeds a within-cell self-join;
    * cosine is the d5 formula. Exact restriction semantics — the oracle
    * computes the SAME within-cell pair set, so recall-vs-d5 is a
    * property of the operator, not a hash hazard.
    */
  private def d10SemdedupSql(centroids: Array[Array[Double]]): String = {
    val centValues = centroids.zipWithIndex
      .map { case (c, i) => s"($i, ${dArr(c)})" }
      .mkString(", ")
    s"""WITH cents AS (
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
       |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |p AS (
       |  SELECT a.id AS id_a, b.id AS id_b, CAST(a.cell AS INTEGER) AS cell,
       |    ${cosSql("ea.v", "eb.v")} AS cos
       |  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.id < b.id
       |  JOIN e ea ON ea.vec_id = a.id JOIN e eb ON eb.vec_id = b.id)
       |SELECT id_a, id_b, cell, cos FROM p
       |WHERE cos >= ${D10Cos}
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** N5 — PQ ANN over the AUGMENTED codebook literals: codes re-derived
    * per (id, subspace) by the same score-DESC/c-DESC argmax the other
    * fitted oracles pin; ADC folds the per-subspace squared distances
    * in subspace order from 0.0 — associating exactly like the Spark
    * side's (lit(0.0) +: dists).reduce(_ + _). Sub-centroids are
    * sliced back out of the same augmented arrays both readers share.
    */
  private def n5PqSql(aug: Array[Array[Array[Double]]]): String = {
    val values = (for {
      s <- aug.indices
      c <- aug(s).indices
    } yield s"($s, $c, ${dArr(aug(s)(c))})").mkString(", ")
    def dot8(a: String, b: String): String =
      s"list_reduce(list_prepend(0.0, list_transform(generate_series(1, 8), i -> $a[i] * $b[i])), (acc, y) -> acc + y)"
    s"""WITH pq AS (
       |  SELECT * FROM (VALUES $values) AS t(s, c, cvec)),
       |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |xs AS (
       |  SELECT e.vec_id AS id, sub.s,
       |    list_append(e.v[sub.s*8+1 : sub.s*8+8], 1.0) AS xv
       |  FROM e CROSS JOIN (SELECT DISTINCT s FROM pq) sub),
       |scored AS (
       |  SELECT x.id, x.s, p.c,
       |    list_reduce(list_prepend(0.0, list_transform(generate_series(1, 9), i -> x.xv[i] * p.cvec[i])), (acc, y) -> acc + y) AS score
       |  FROM xs x JOIN pq p ON p.s = x.s),
       |codes AS (
       |  SELECT id, s, c FROM (
       |    SELECT id, s, c, row_number() OVER (PARTITION BY id, s ORDER BY score DESC, c DESC) AS rn
       |    FROM scored) t WHERE rn = 1),
       |cand AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id
       |  FROM e q CROSS JOIN e c
       |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
       |terms AS (
       |  SELECT cd.query_id, cd.nbr_id, k.s,
       |    (${dot8("q.v[k.s*8+1 : k.s*8+8]", "q.v[k.s*8+1 : k.s*8+8]")}
       |      - 2.0 * ${dot8("q.v[k.s*8+1 : k.s*8+8]", "p.cvec[1:8]")})
       |      + ${dot8("p.cvec[1:8]", "p.cvec[1:8]")} AS term
       |  FROM cand cd
       |  JOIN codes k ON k.id = cd.nbr_id
       |  JOIN pq p ON p.s = k.s AND p.c = k.c
       |  JOIN e q ON q.vec_id = cd.query_id),
       |adist AS (
       |  SELECT query_id, nbr_id,
       |    list_reduce(list_prepend(0.0, list(term ORDER BY s)), (acc, y) -> acc + y) AS adist
       |  FROM terms GROUP BY query_id, nbr_id)
       |SELECT query_id, nbr_id, adist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, nbr_id ASC) AS rn
       |  FROM adist) t
       |WHERE rn <= 5 ORDER BY query_id, nbr_id""".stripMargin
  }

  /** ivfpq — the full two-stage IVF-PQ probe from BOTH fitted models as
    * literals: the n3 `cents/scored/assigned/probes` CTEs (cell
    * assignment + 6-cell probe, identical argmax tie-breaks) compose
    * with the n5 code-derivation and ADC CTEs, then a 50-deep ADC
    * shortlist per query (adist ASC, nbr_id ASC — the exact
    * `topKPerGroup` ordering, so boundary ties cannot diverge) is
    * exact-cosine re-ranked to top-5 (cos DESC, nbr_id — the n1/n3
    * ordering).
    */
  private def ivfpqTopKSql(centroids: Array[Array[Double]], aug: Array[Array[Array[Double]]]): String = {
    val centValues = centroids.zipWithIndex
      .map { case (c, i) => s"($i, ${dArr(c)})" }
      .mkString(", ")
    val pqValues = (for {
      s <- aug.indices
      c <- aug(s).indices
    } yield s"($s, $c, ${dArr(aug(s)(c))})").mkString(", ")
    def dot8(a: String, b: String): String =
      s"list_reduce(list_prepend(0.0, list_transform(generate_series(1, 8), i -> $a[i] * $b[i])), (acc, y) -> acc + y)"
    s"""WITH cents AS (
       |  SELECT * FROM (VALUES $centValues) AS t(cell, cvec)),
       |cellscored AS (
       |  SELECT e.vec_id AS id, c.cell,
       |    list_reduce(
       |      list_prepend(0.0, list_transform(generate_series(1, 64),
       |        i -> CAST(e.embedding[i] AS DOUBLE) * c.cvec[i])),
       |      (acc, x) -> acc + x) AS score
       |  FROM embeddings e CROSS JOIN cents c),
       |assigned AS (
       |  SELECT id, cell FROM (
       |    SELECT id, cell, row_number() OVER (PARTITION BY id ORDER BY score DESC, cell DESC) AS rn
       |    FROM cellscored) t WHERE rn = 1),
       |probes AS (
       |  SELECT id AS query_id, cell FROM (
       |    SELECT id, cell, row_number() OVER (PARTITION BY id ORDER BY score DESC, cell DESC) AS rn
       |    FROM cellscored WHERE id < 10) t WHERE rn <= 6),
       |pq AS (
       |  SELECT * FROM (VALUES $pqValues) AS t(s, c, cvec)),
       |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |xs AS (
       |  SELECT e.vec_id AS id, sub.s,
       |    list_append(e.v[sub.s*8+1 : sub.s*8+8], 1.0) AS xv
       |  FROM e CROSS JOIN (SELECT DISTINCT s FROM pq) sub),
       |pqscored AS (
       |  SELECT x.id, x.s, p.c,
       |    list_reduce(list_prepend(0.0, list_transform(generate_series(1, 9), i -> x.xv[i] * p.cvec[i])), (acc, y) -> acc + y) AS score
       |  FROM xs x JOIN pq p ON p.s = x.s),
       |codes AS (
       |  SELECT id, s, c FROM (
       |    SELECT id, s, c, row_number() OVER (PARTITION BY id, s ORDER BY score DESC, c DESC) AS rn
       |    FROM pqscored) t WHERE rn = 1),
       |cand AS (
       |  SELECT p.query_id, a.id AS nbr_id
       |  FROM probes p JOIN assigned a ON a.cell = p.cell AND a.id <> p.query_id),
       |terms AS (
       |  SELECT cd.query_id, cd.nbr_id, k.s,
       |    (${dot8("q.v[k.s*8+1 : k.s*8+8]", "q.v[k.s*8+1 : k.s*8+8]")}
       |      - 2.0 * ${dot8("q.v[k.s*8+1 : k.s*8+8]", "p.cvec[1:8]")})
       |      + ${dot8("p.cvec[1:8]", "p.cvec[1:8]")} AS term
       |  FROM cand cd
       |  JOIN codes k ON k.id = cd.nbr_id
       |  JOIN pq p ON p.s = k.s AND p.c = k.c
       |  JOIN e q ON q.vec_id = cd.query_id),
       |adist AS (
       |  SELECT query_id, nbr_id,
       |    list_reduce(list_prepend(0.0, list(term ORDER BY s)), (acc, y) -> acc + y) AS adist
       |  FROM terms GROUP BY query_id, nbr_id),
       |shortlist AS (
       |  SELECT query_id, nbr_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, nbr_id ASC) AS rn
       |    FROM adist) t WHERE rn <= 50),
       |reranked AS (
       |  SELECT s.query_id, s.nbr_id, ${cosSql("q.v", "n.v")} AS cos
       |  FROM shortlist s JOIN e q ON q.vec_id = s.query_id JOIN e n ON n.vec_id = s.nbr_id)
       |SELECT query_id, nbr_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id) AS rn
       |  FROM reranked) t
       |WHERE rn <= 5 ORDER BY query_id, nbr_id""".stripMargin
  }

  /** D12 — bipartite d10: the same assigned CTE, corpus side
    * (vec_id % 5 ≠ 0) joined to benchmark side (vec_id % 5 = 0) on
    * cell, exact cosine ≥ threshold.
    */
  private def d12SemDecontaminateSql(centroids: Array[Array[Double]]): String = {
    val centValues = centroids.zipWithIndex
      .map { case (c, i) => s"($i, ${dArr(c)})" }
      .mkString(", ")
    s"""WITH cents AS (
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
       |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |p AS (
       |  SELECT a.id AS corpus_id, b.id AS bench_id, CAST(a.cell AS INTEGER) AS cell,
       |    ${cosSql("ea.v", "eb.v")} AS cos
       |  FROM assigned a JOIN assigned b ON a.cell = b.cell
       |  JOIN e ea ON ea.vec_id = a.id JOIN e eb ON eb.vec_id = b.id
       |  WHERE a.id % 5 <> 0 AND b.id % 5 = 0)
       |SELECT corpus_id, bench_id, cell, cos FROM p
       |WHERE cos >= ${D10Cos}
       |ORDER BY corpus_id, bench_id""".stripMargin
  }

  // N3-cells — nearest-centroid assignment under the id-fallback
  // centroid set. The centroids are corpus rows, so no literals are
  // needed: the dot product folds element products left-to-right
  // (list_reduce over an ordered product list = the native DotProduct
  // loop) and the argmax tie-breaks on (score, cell) like Spark's
  // array_max over (score, cell) structs.
  private val n3CellsSql: String =
    """WITH cents AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cvec
      |  FROM embeddings ORDER BY vec_id LIMIT 16),
      |scored AS (
      |  SELECT e.vec_id AS id, c.cell,
      |    list_reduce(
      |      list_prepend(0.0, list_transform(generate_series(1, 64),
      |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE))),
      |      (acc, x) -> acc + x) AS score
      |  FROM embeddings e CROSS JOIN cents c),
      |best AS (
      |  SELECT id, cell,
      |    row_number() OVER (PARTITION BY id ORDER BY score DESC, cell DESC) AS rn
      |  FROM scored)
      |SELECT id, CAST(cell AS INTEGER) AS cell FROM best WHERE rn = 1 ORDER BY id""".stripMargin

  val defs: List[QueryDef] = List(
    QueryDef("d12_sem_decontaminate", d12SemDecontaminate, Fitted(f => d12SemDecontaminateSql(f.centroids))),
    QueryDef("d10_semdedup", d10Semdedup, Fitted(f => d10SemdedupSql(f.centroids))),
    QueryDef("d5_embed_neardup", d5EmbedNeardup, Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> a.v[i] * b.v[i])), (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> a.v[i] * a.v[i])), (acc, x) -> acc + x))
        |       * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> b.v[i] * b.v[i])), (acc, x) -> acc + x))) AS cos
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin)),
    QueryDef("d6_embed_lsh_pairs", d6EmbedLshPairs, Sql(d6PairsSql)),
    QueryDef("d6_buckets", d6Buckets, Sql(d6BucketsSql)),
    QueryDef("n2_buckets", n2Buckets, Sql(n2BucketsSql)),
    QueryDef("n3_cells", n3Cells, Sql(n3CellsSql)),
    QueryDef("n1_ann_brute", n1AnnBrute, Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS nbr_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> q.qv[i] * e.v[i])), (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> q.qv[i] * q.qv[i])), (acc, x) -> acc + x))
        |       * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> e.v[i] * e.v[i])), (acc, x) -> acc + x))) AS cos
        |  FROM q JOIN e ON e.vec_id <> q.query_id)
        |SELECT query_id, nbr_id, cos FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id) AS rn FROM scored) t
        |WHERE rn <= 5 ORDER BY query_id, nbr_id""".stripMargin)),
    QueryDef("n2_ann_lsh", n2AnnLsh, Sql(n2TopKSql)),
    QueryDef("n5_ann_pq", n5AnnPq, Fitted(f => n5PqSql(f.pqAugmented))),
    QueryDef("n3_ann_ivf", n3AnnIvf, Fitted(f => n3IvfSql(f.centroids))),
    QueryDef("ivfpq_topk", ivfpqTopK, Fitted(f => ivfpqTopKSql(f.centroids, f.pqAugmented))),
    QueryDef("n4_ann_quantized", n4AnnQuantized, Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS sc FROM e),
        |qz AS (SELECT vec_id,
        |         list_transform(v, x -> CASE WHEN sc = 0.0 THEN 0.0 ELSE floor(x / sc + 0.5) END) AS qd
        |       FROM s),
        |n AS (SELECT vec_id, qd,
        |        sqrt(list_reduce(list_prepend(0.0, list_transform(qd, x -> x * x)), (a, b) -> a + b)) AS qn
        |      FROM qz),
        |q AS (SELECT vec_id AS query_id, qd AS qv, qn AS qnm FROM n WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.query_id, n.vec_id AS nbr_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> q.qv[i] * n.qd[i])), (a, b) -> a + b)
        |      / (q.qnm * n.qn) AS qcos
        |  FROM q JOIN n ON n.vec_id <> q.query_id)
        |SELECT query_id, nbr_id, qcos FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY qcos DESC, nbr_id) AS rn FROM scored) t
        |WHERE rn <= 5 ORDER BY query_id, nbr_id""".stripMargin))
  )
}

/** The fitted models the [[Oracle.Fitted]] oracles render from, each
  * fitted on first use and at most once per holder: one holder per dump
  * keeps the dump at one k-means fit and one PQ fit, however many
  * oracles read them. The fits are deterministic, so these are the same
  * binary64 values the queries fit.
  */
final class Fits(spark: SparkSession, dir: String) {
  lazy val centroids: Array[Array[Double]] = AnnQueries.n3FittedCentroids(spark, dir)
  lazy val pqAugmented: Array[Array[Array[Double]]] =
    Similarity.pqAugmented(AnnQueries.n5FittedPq(spark, dir))
}
