package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.io.Tables
import graft.text.TextOps

import graft.queries.Oracle.Sql

/** Text-pipeline queries over `documents`: statistics, quality rules,
  * chunking, packing, shuffles and splits, sampling, n-gram
  * decontamination and mining, span dedup, and the whole cleaning
  * pipeline as one query (x21). A parameter a query shares with its
  * oracle is defined once, so the two sides cannot drift.
  */
object TextQueries {

  // Parameters shared verbatim between a query and its oracle SQL.
  private val X10MinCount: Long = 500L
  private val X11Seed: Long = 13L
  private val X11Quota: Int = 20
  private val X12SpanWidth: Int = 13
  private val X12MaxDupFrac: Double = 0.3
  // x15: a FIXED total token budget — binds at every sf (admits ~1/3 of
  // sf0.01's docs, ~3% of sf0.1's), so the cap is exercised wherever
  // the oracle is checked
  private val X15Budget: Long = 10000L
  private val X15Seed: Long = 7L
  private val X16Seed: Long = 11L
  // x18: the bloom gate's false-positive rate — result-invisible (the
  // exact verify removes FPs; x18 shares x17's oracle), so the value
  // only shapes the survivor stream
  private val X18Fpp: Double = 0.01
  // x19: shorter windows than x12/x13's dedup spans — a boilerplate
  // MINER wants the phrase, not the whole duplicated passage; 8 tokens
  // is the scale where scraper chrome repeats
  private val X19GramWidth: Int = 8
  private val X19MinDocs: Long = 2L
  private val X19TopK: Int = 100

  /** Text analysis (training-data pipeline): token counts, word-piece
    * counts, punctuation ratio, stopword hits, composite quality score —
    * all codegen'd column expressions at scan speed.
    */
  def x1TextStats(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(
        $"doc_id",
        TextOps.tokenCount($"text").cast("long").as("n_tokens"),
        TextOps.wordPieceCount($"text").cast("long").as("n_pieces"),
        TextOps.punctRatio($"text").as("punct_ratio"),
        TextOps.stopwordCount($"text").cast("long").as("stop_cnt"),
        TextOps.qualityScore($"text").as("quality")
      )
      .orderBy("doc_id")

  /** X2 — Gopher-rule quality metrics + keep flag per document
    * (`TextOps.gopherQuality`); the bigram-mode aggregation makes this
    * the repetition-filter shape of a real training-data sweep.
    */
  def x2QualityGopher(spark: SparkSession, dir: String): DataFrame =
    TextOps
      .gopherQuality(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** X6 — token-window chunking (40-token chunks, 10 overlap): one row
    * per chunk with its index and token count — the context-window
    * preparation sweep.
    */
  def x6Chunking(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select($"doc_id", posexplode(TextOps.chunkTokens($"text", 40, 10)).as(Seq("chunk_idx", "chunk_text")))
      .select(
        $"doc_id",
        $"chunk_idx",
        $"chunk_text",
        size(split($"chunk_text", " ")).cast("long").as("n_tokens")
      )
      .orderBy("doc_id", "chunk_idx")

  /** X7 — per-shard sequence packing: documents ordered by id within
    * each source shard, assigned to 2048-token bins by running prefix
    * sum.
    */
  def x7Packing(spark: SparkSession, dir: String): DataFrame =
    TextOps
      .packIntoBins(
        Tables
          .documents(spark, dir)
          .select($"doc_id", $"source", TextOps.tokenCount($"text").cast("long").as("n_tokens")),
        shardCol = "source",
        orderCol = "doc_id",
        tokenCountCol = "n_tokens",
        budget = 2048
      )
      .select("source", "doc_id", "n_tokens", "bin_id")
      .orderBy("source", "doc_id")

  /** X7b — exact sequential (first-fit) packing: the overflow-free rule,
    * fold-based (see [[graft.text.TextOps.packFirstFitExact]]). Same
    * derivation as x7 so the two rules are directly comparable.
    */
  def x7bPackingExact(spark: SparkSession, dir: String): DataFrame =
    TextOps
      .packFirstFitExact(
        Tables
          .documents(spark, dir)
          .select($"doc_id", $"source", TextOps.tokenCount($"text").cast("long").as("n_tokens")),
        shardCol = "source",
        orderCol = "doc_id",
        tokenCountCol = "n_tokens",
        budget = 2048
      )
      .select("source", "doc_id", "n_tokens", "bin_id")
      .orderBy("source", "doc_id")

  /** x14 — packed-sequence materialization: x7b's exact first-fit bins
    * rendered into the training sequences a packed-corpus writer ships
    * (normalized text, single-space separator, so each sequence
    * tokenizes back to exactly `seq_tokens`).
    */
  def x14PackSequences(spark: SparkSession, dir: String): DataFrame = {
    val packed = TextOps.packFirstFitExact(
      Tables
        .documents(spark, dir)
        // materializeSequences requires null/empty text dropped upstream
        // (a null doc would inject size(NULL) = -1 token counts into bin
        // fill under the non-ANSI session config); same WHERE in the
        // oracle CTE
        .filter($"text".isNotNull)
        .select(
          $"doc_id",
          $"source",
          TextOps.normalize($"text").as("norm"),
          TextOps.tokenCount($"text").cast("long").as("n_tokens")
        ),
      shardCol = "source",
      orderCol = "doc_id",
      tokenCountCol = "n_tokens",
      budget = 2048
    )
    TextOps
      .materializeSequences(packed, "source", "bin_id", "doc_id", "norm", "n_tokens")
      .orderBy("source", "bin_id")
  }

  /** X8 — deterministic epoch shuffle: seeded md5 permutation into 8
    * shards with reproducible within-shard order.
    */
  def x8EpochShuffle(spark: SparkSession, dir: String): DataFrame =
    TextOps
      .shuffleShards(
        Tables.documents(spark, dir).select($"doc_id", $"source"),
        idCol = "doc_id",
        seed = 42L,
        numShards = 8
      )
      .select("doc_id", "source", "shard", "pos")
      .orderBy("shard", "pos")

  /** X9 — seeded train/validation/test split assignment (80/10/10). */
  def x9Split(spark: SparkSession, dir: String): DataFrame =
    TextOps
      .assignSplit(
        Tables.documents(spark, dir).select($"doc_id", $"source"),
        idCol = "doc_id",
        seed = 7L
      )
      .select("doc_id", "source", "split")
      .orderBy("doc_id")

  /** x11 — deterministic stratified eval-set sampling: exactly 20 docs
    * per source, ranked by seeded md5 (engine-portable, reproducible).
    */
  def x11EvalSample(spark: SparkSession, dir: String): DataFrame =
    TextOps
      .sampleStratified(
        Tables.documents(spark, dir).select($"doc_id", $"source"),
        idCol = "doc_id",
        strataCol = "source",
        quota = X11Quota,
        seed = X11Seed
      )
      .orderBy("source", "doc_id")

  /** x17 — exact 13-gram decontamination (the GPT-3 App. C literal-
    * leakage rule; see [[graft.text.TextOps.exactNgramDecontaminate]]).
    * Same mod-5 corpus/benchmark split as d7 so the two decontamination
    * rules — near-dup LSH there, literal n-gram overlap here — describe
    * the same leakage surface, and the same window width as x12/x13 so
    * all three n-gram rules share one blocking unit.
    */
  def x17ExactDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    TextOps
      .exactNgramDecontaminate(
        docs.filter(pmod($"doc_id", lit(5)) =!= 0),
        docs.filter(pmod($"doc_id", lit(5)) === 0),
        "doc_id",
        "text",
        n = X12SpanWidth
      )
      .orderBy("doc_id")
  }

  /** x18 — the SAME decontamination contract as x17, gated by a Bloom
    * sketch instead of a broadcast hash relation (the non-broadcastable-
    * benchmark regime; see
    * [[graft.text.TextOps.exactNgramDecontaminateBloom]]). The sketch is
    * result-invisible — no false negatives, exact verify removes false
    * positives — so this query's oracle is x17's SQL verbatim.
    */
  def x18BloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    TextOps
      .exactNgramDecontaminateBloom(
        docs.filter(pmod($"doc_id", lit(5)) =!= 0),
        docs.filter(pmod($"doc_id", lit(5)) === 0),
        "doc_id",
        "text",
        n = X12SpanWidth,
        fpp = X18Fpp
      )
      .orderBy("doc_id")
  }

  /** x19 — frequent n-gram mining (the boilerplate detector; see
    * [[graft.text.TextOps.frequentNgrams]]). The synthetic corpus's
    * injected near-dups repeat 8-token phrases across documents
    * (1000+ qualifying grams at sf0.001), so the top-100 cut genuinely
    * selects.
    */
  def x19FrequentNgrams(spark: SparkSession, dir: String): DataFrame =
    TextOps
      .frequentNgrams(
        Tables.documents(spark, dir),
        "doc_id",
        "text",
        n = X19GramWidth,
        minDocs = X19MinDocs,
        topK = X19TopK
      )

  /** x19b — the count-min-gated heavy-hitter miner for the regime
    * x19's scale note declares past exact reach (the unique gram tail
    * dominates the shuffle): sketch pass + gated exact pass, result
    * identical to x19 by construction ([[TextOps.frequentNgramsSketched]]),
    * sharing x19's oracle verbatim.
    */
  def x19bFrequentNgramsCms(spark: SparkSession, dir: String): DataFrame =
    TextOps
      .frequentNgramsSketched(
        Tables.documents(spark, dir),
        "doc_id",
        "text",
        n = X19GramWidth,
        minDocs = X19MinDocs,
        topK = X19TopK
      )

  /** x21 — the FULL cleaning pipeline as ONE oracled query: the
    * PipelineE2ESpec user journey (redact → Gopher quality filter →
    * exact dedup → near-dup cluster resolution → benchmark
    * decontamination → dup-span flag → span-level strip → token-window
    * chunking) composed end-to-end over the real corpus, hash-compared
    * against a single DuckDB statement that restates every stage over
    * the PREVIOUS stage's relation. Each stage is individually
    * hash-green (x5/x2/d1/d2+d8/d7/x12/x13/x6); what only THIS query
    * verifies is the COUPLING — that each operator consumes exactly
    * what the previous one produced (filtered ids, rebuilt text,
    * re-tokenization idempotence), the class of bug no single-stage
    * oracle can see. Constants match the E2E spec: LSH defaults at
    * jaccard ≥ 0.3, benchmark slice doc_id%101, span width 13 with
    * dup-span bar 0.5, 40-token chunks with 10 overlap.
    */
  def x21PipelineSweep(spark: SparkSession, dir: String): DataFrame = {
    val docsAll = Tables.documents(spark, dir)
    val docs = docsAll.filter($"text".isNotNull)
    // Stage boundaries are localCheckpoint'ed: every stage feeds TWO+
    // consumers (its filter computation and the carry-forward join), and
    // without the checkpoint each consumer re-executes the ENTIRE
    // upstream pipeline — measured 40 s vs ~8 s at sf0.1. Each stage's
    // EAGER checkpoint makes its predecessor's blocks dead (lineage is
    // severed), so stage k-1 is released as soon as stage k lands —
    // live storage is ONE shrinking stage, not six. Only the LAST
    // checkpoint survives the
    // call: the returned lazy plan reads it. At 100 TB the same
    // boundaries are parquet materializations between pipeline jobs.
    // 1. redact (projection; a no-op on PII-free rows by construction)
    val redacted = docs.select($"doc_id", TextOps.redactPii($"text").as("text")).localCheckpoint()
    // 2. Gopher quality gate (defaults)
    val kept = redacted.join(
      TextOps.gopherQuality(redacted, "doc_id", "text").filter($"keep_doc").select("doc_id"),
      Seq("doc_id")).localCheckpoint()
    graft.Checkpoints.release(redacted)
    // 3. exact dedup: drop non-keeper group members
    val exactDeduped = kept.join(
      Dedup.exactDuplicates(kept, "doc_id", "text")
        .filter($"doc_id" =!= $"keeper_id").select("doc_id"),
      Seq("doc_id"), "left_anti").localCheckpoint()
    graft.Checkpoints.release(kept)
    // 4. near-dup cluster resolution (components keeper, min id);
    // releasing the PRE-checkpoint frame frees every dead leaf at once:
    // exactDeduped AND the components run's final label checkpoint
    val nd0 = Dedup.keepersOnly(
      exactDeduped, "doc_id",
      Dedup.connectedComponents(
        Dedup.minhashLshPairs(exactDeduped, "doc_id", "text"), "id_a", "id_b"))
    val nearDeduped = nd0.localCheckpoint()
    graft.Checkpoints.release(nd0)
    // 5. decontaminate vs the raw benchmark slice
    val clean = Dedup.decontaminate(
      nearDeduped,
      docsAll.filter(pmod($"doc_id", lit(101)) === 0).select("doc_id", "text"),
      "doc_id", "text").localCheckpoint()
    graft.Checkpoints.release(nearDeduped)
    // 6a. dup-span coverage flag; 6b. strip repeated spans, drop emptied docs
    val unflagged = clean.join(
      TextOps.dupSpanStats(clean, "doc_id", "text", n = X12SpanWidth, maxDupSpanFrac = 0.5)
        .filter($"keep_doc").select("doc_id"),
      Seq("doc_id")).localCheckpoint()
    graft.Checkpoints.release(clean)
    val despanned = unflagged
      .drop("text")
      .join(
        TextOps.dedupSpansExact(unflagged, "doc_id", "text", n = X12SpanWidth)
          .select($"doc_id", $"clean_text".as("text")),
        Seq("doc_id"))
      .filter(length($"text") > 0)
    // 7. chunk to 40-token windows, 10 overlap
    despanned
      .select($"doc_id", posexplode(TextOps.chunkTokens($"text", 40, 10)).as(Seq("chunk_idx", "chunk_text")))
      .select(
        $"doc_id",
        $"chunk_idx",
        $"chunk_text",
        size(split($"chunk_text", " ")).cast("long").as("n_tokens")
      )
      .orderBy("doc_id", "chunk_idx")
  }

  /** x12 — duplicate-span coverage (the Gopher/RefinedWeb dup-n-gram
    * repetition rule at token granularity; see
    * [[graft.text.TextOps.dupSpanStats]]). The synthetic corpus's
    * injected near-dups give the 13-token windows real cross-document
    * repeats, so both branches of the threshold are exercised.
    */
  def x12DupSpans(spark: SparkSession, dir: String): DataFrame =
    TextOps
      .dupSpanStats(
        Tables.documents(spark, dir),
        "doc_id",
        "text",
        n = X12SpanWidth,
        maxDupSpanFrac = X12MaxDupFrac
      )
      .orderBy("doc_id")

  /** x13 — exact span dedup with first-occurrence retention (the
    * RefinedWeb exact-substring rule at token-window granularity; see
    * [[graft.text.TextOps.dedupSpansExact]]). Same window width as x12
    * so the two rules describe the same repetition surface.
    */
  def x13SpanDedup(spark: SparkSession, dir: String): DataFrame =
    TextOps
      .dedupSpansExact(Tables.documents(spark, dir), "doc_id", "text", n = X12SpanWidth)
      .orderBy("doc_id")

  /** x10 — corpus-frequency document scoring (the LM-filter shape with
    * exact integer internals; see
    * [[graft.text.TextOps.corpusFrequencyStats]]).
    */
  def x10CorpusFreq(spark: SparkSession, dir: String): DataFrame =
    // minCount 500: the synthetic corpus has a tiny dense vocabulary
    // (31 tokens, counts 26..964 at sf0.01), so a realistic threshold
    // would leave oov_frac identically 0 — 500 makes the driver check
    // exercise BOTH branches of the OOV rule
    TextOps
      .corpusFrequencyStats(Tables.documents(spark, dir), "doc_id", "text", minCount = X10MinCount)
      .orderBy("doc_id")

  /** Language-ID heuristic: argmax of per-language marker-token hits. */
  def x3LangId(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Tables
      .documents(spark, dir)
      .select(
        $"doc_id",
        $"lang",
        TextOps.langIdHeuristicNative($"text").as("lang_pred")
      )
      .orderBy("doc_id")
  }

  /** Content fingerprint (rolling-identity hash of normalized text). */
  def x4Fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select($"doc_id", graft.text.TextOps.fingerprint($"text").as("fingerprint"))
      .orderBy("doc_id")

  /** x16 — quality-proportional sampling: each document admitted with
    * probability = its UNIQUE-word fraction (1 − the x2 gopher
    * dup_word_frac, which spans 0–0.7 on this corpus — repetitive
    * documents survive in proportion to quality instead of dying at a
    * hard cutoff), decided by the x9 seeded md5-uniform. Both halves
    * are restatements of hash-green machinery: the metric is rounded
    * 6dp on both engines before the 1−x complement, so the threshold
    * compare is bit-stable.
    */
  def x16QualitySample(spark: SparkSession, dir: String): DataFrame =
    TextOps
      .sampleByQuality(
        TextOps
          .gopherQuality(Tables.documents(spark, dir), "doc_id", "text")
          .select($"doc_id", (lit(1.0) - $"dup_word_frac").as("uniq_word_frac")),
        "doc_id", "uniq_word_frac", seed = X16Seed
      )
      .orderBy("doc_id")

  /** x5 — PII/URL redaction (the standard pre-training scrub). The
    * synthetic corpus carries no natural PII, so the query plants a
    * deterministic email + URL + long digit run per document (derived
    * from doc_id — relationally expressible, so the oracle plants the
    * identical text) and redacts; the hash compare then proves all
    * three regex rules produce identical output across engines,
    * including the URL rule's trailing-punctuation carve-out.
    */
  def x5RedactPii(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(
        $"doc_id",
        TextOps.redactPii(
          concat(
            $"text",
            lit(" contact user"), $"doc_id".cast("string"),
            lit("@mail.example.com or (https://site"), $"doc_id".cast("string"),
            lit(".example.org/path). acct 1234567"), $"doc_id".cast("string")
          )
        ).as("clean_text")
      )
      .orderBy("doc_id")

  /** x15 — token-budget mixture sampling: domain weights derived from
    * the source NAME (digits % 3 + 1 — relationally expressible so the
    * oracle recomputes them), integer-exact budget split over a fixed
    * total, strict seeded-hash admission. The distinct-domain collect
    * is bounded model state (the kmeans-precedent class).
    */
  def x15TokenBudgetMix(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables
      .documents(spark, dir)
      .select($"doc_id", $"source", TextOps.tokenCount($"text").cast("long").as("n_tokens"))
    val domains = base.select("source").distinct().collect().map(_.getString(0))
    val weights = domains
      .map(d => d -> ("""\d+""".r.findFirstIn(d).getOrElse("0").toLong % 3 + 1))
      .toMap
    TextOps
      .sampleTokenBudget(
        base, "doc_id", "source", "n_tokens",
        TextOps.mixtureBudgets(weights, X15Budget),
        seed = X15Seed
      )
      .select("doc_id", "source", "n_tokens", "cum_tokens")
      .orderBy("doc_id")
  }

  /** x17/x18 shared contract — exact n-gram decontamination. Integer
    * counts plus ONE final double division (hit_frac): bit-identical on
    * both engines. Window CTE mirrors x13's. x18's bloom gate is
    * result-invisible, so both queries hash against this one statement.
    */
  private val x17Sql: String = {
    val n = X12SpanWidth
    s"""WITH base AS (
       |  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |spans AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) >= $n
       |      THEN list_transform(range(1, len(toks) - $n + 2), i -> md5(array_to_string(toks[i:i+${n - 1}], ' ')))
       |      ELSE []::VARCHAR[] END AS ws
       |  FROM base),
       |bench AS (SELECT DISTINCT unnest(ws) AS span FROM spans WHERE doc_id % 5 = 0),
       |occ AS (SELECT doc_id, unnest(ws) AS span FROM spans WHERE doc_id % 5 <> 0),
       |hits AS (
       |  SELECT o.doc_id,
       |    CAST(count(*) AS BIGINT) AS n_hit_spans,
       |    CAST(count(DISTINCT o.span) AS BIGINT) AS n_grams_hit
       |  FROM occ o JOIN bench USING (span) GROUP BY o.doc_id),
       |stats AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_spans FROM spans WHERE doc_id % 5 <> 0)
       |SELECT s.doc_id, s.n_spans, h.n_hit_spans, h.n_grams_hit,
       |  CAST(h.n_hit_spans AS DOUBLE) / CAST(s.n_spans AS DOUBLE) AS hit_frac
       |FROM stats s JOIN hits h USING (doc_id)
       |WHERE h.n_hit_spans >= 1
       |ORDER BY doc_id""".stripMargin
  }

  // x19 — integer-exact counts; (n_docs DESC, n_occurrences DESC,
  // gram) is a TOTAL order (gram is the group key), so the LIMIT cut
  // is deterministic on both engines. Shared verbatim by x19b (the
  // count-min gate is result-invisible by construction).
  private val x19Sql: String = {
    val n = X19GramWidth
    s"""WITH base AS (
       |  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |grams AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(toks) >= $n
       |      THEN list_transform(range(1, len(toks) - $n + 2), i -> array_to_string(toks[i:i+${n - 1}], ' '))
       |      ELSE []::VARCHAR[] END) AS gram
       |  FROM base)
       |SELECT gram,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_occurrences
       |FROM grams
       |GROUP BY gram
       |HAVING count(DISTINCT doc_id) >= ${X19MinDocs}
       |ORDER BY n_docs DESC, n_occurrences DESC, gram
       |LIMIT ${X19TopK}""".stripMargin
  }

  /** x21 — the whole cleaning pipeline in ONE statement: every stage's
    * committed oracle machinery (x5 redact chain, x2 quality rule, d1
    * fingerprint keeper, d2 banding + d8 recursive closure, d7
    * bipartite decontamination, x12 span flag, x13 first-occurrence
    * strip, x6 chunking) re-stated over the PREVIOUS stage's relation
    * instead of `documents`. The minhash signature machinery is
    * instantiated twice (stage-4 self-pairs over the exact-deduped
    * corpus; stage-5 benchmark side) with the same 16 xor seeds /
    * 8 bands the engine uses. Every CTE read more than once is
    * `AS MATERIALIZED`: DuckDB otherwise inlines each reference, re-runs
    * the MinHash chain and the recursion per reader, and runs out of
    * memory.
    */
  private val x21Sql: String = {
    val n = X12SpanWidth
    val sigExprs = graft.dedup.Dedup
      .xorSeeds(16)
      .map(s => s"list_min(list_transform(hs, h -> xor(h, $s)))")
      .mkString("[", ", ", "]")
    s"""WITH RECURSIVE
       |raw AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
       |red AS (
       |  SELECT doc_id,
       |    regexp_replace(
       |      regexp_replace(
       |        regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
       |        '(?i)\\bhttps?://[^\\s]*[^\\s).,;:!?]', '<URL>', 'g'),
       |      '\\b\\d{7,}\\b', '<NUM>', 'g') AS text
       |  FROM raw),
       |qt AS MATERIALIZED (
       |  SELECT doc_id, text,
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,
       |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |  FROM red),
       |qb AS (
       |  SELECT doc_id, toks,
       |    CAST(len(toks) AS BIGINT) AS n_words,
       |    round((length(norm) - (len(toks) - 1))::DOUBLE / len(toks), 6) AS mean_word_len,
       |    round(1.0 - len(list_distinct(toks))::DOUBLE / len(toks), 6) AS dup_word_frac
       |  FROM qt WHERE len(toks) > 0),
       |qbg AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS bigram
       |        FROM qt, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS u(i)),
       |qbgc AS (SELECT doc_id, bigram, count(*) AS c FROM qbg GROUP BY 1, 2),
       |qtopb AS (SELECT doc_id, max(c) AS max_c FROM qbgc GROUP BY 1),
       |qkeep AS (
       |  SELECT qb.doc_id FROM qb LEFT JOIN qtopb USING (doc_id)
       |  WHERE n_words >= 20 AND mean_word_len BETWEEN 3.0 AND 10.0
       |    AND dup_word_frac < 0.6
       |    AND round(coalesce(max_c, 0) * 2.0 / n_words, 6) < 0.2),
       |kept AS MATERIALIZED (SELECT qt.* FROM qt JOIN qkeep USING (doc_id)),
       |ekeep AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(norm)) AS k FROM kept)
       |  WHERE doc_id = k),
       |ex AS MATERIALIZED (SELECT kept.* FROM kept JOIN ekeep USING (doc_id)),
       |m4base AS (
       |  SELECT doc_id AS id,
       |    list_distinct(list_transform(range(1, greatest(len(toks)-2, 0)+1), i -> array_to_string(toks[i:i+2], ' '))) AS sh
       |  FROM ex),
       |m4filt AS MATERIALIZED (SELECT * FROM m4base WHERE len(sh) > 0),
       |m4hashed AS (SELECT id, sh, list_transform(sh, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs FROM m4filt),
       |m4sig AS (SELECT id, $sigExprs AS sig FROM m4hashed),
       |m4banded AS MATERIALIZED (
       |  SELECT id, b.band, md5(array_to_string(sig[b.band*2+1:b.band*2+2], ',')) AS band_key
       |  FROM m4sig, (SELECT unnest(range(0, 8)) AS band) b),
       |m4cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM m4banded a JOIN m4banded b ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
       |m4pairs AS (
       |  SELECT c.id_a, c.id_b,
       |    len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(list_concat(sa.sh, sb.sh)))::DOUBLE AS jaccard
       |  FROM m4cand c JOIN m4filt sa ON sa.id = c.id_a JOIN m4filt sb ON sb.id = c.id_b),
       |th AS MATERIALIZED (SELECT id_a, id_b FROM m4pairs WHERE jaccard >= 0.3),
       |nodes AS (SELECT id_a AS id FROM th UNION SELECT id_b FROM th),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM th UNION SELECT id_b, id_a FROM th),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.dst, reach.r FROM edges e JOIN reach ON reach.id = e.src),
       |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
       |nd AS MATERIALIZED (SELECT ex.* FROM ex WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> component)),
       |bbase AS (
       |  SELECT doc_id AS id,
       |    list_distinct(list_transform(range(1, greatest(len(toks)-2, 0)+1), i -> array_to_string(toks[i:i+2], ' '))) AS sh
       |  FROM (SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |        FROM documents WHERE doc_id % 101 = 0)),
       |bfilt AS MATERIALIZED (SELECT * FROM bbase WHERE len(sh) > 0),
       |bhashed AS (SELECT id, sh, list_transform(sh, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs FROM bfilt),
       |bsig AS (SELECT id, $sigExprs AS sig FROM bhashed),
       |bbanded AS (
       |  SELECT id, b.band, md5(array_to_string(sig[b.band*2+1:b.band*2+2], ',')) AS band_key
       |  FROM bsig, (SELECT unnest(range(0, 8)) AS band) b),
       |xcand AS (
       |  SELECT DISTINCT c.id AS id_a, bm.id AS id_b
       |  FROM (SELECT m4banded.* FROM m4banded JOIN nd ON nd.doc_id = m4banded.id) c
       |  JOIN bbanded bm ON c.band = bm.band AND c.band_key = bm.band_key),
       |xpairs AS (
       |  SELECT cd.id_a, cd.id_b,
       |    len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(list_concat(sa.sh, sb.sh)))::DOUBLE AS jaccard
       |  FROM xcand cd JOIN m4filt sa ON sa.id = cd.id_a JOIN bfilt sb ON sb.id = cd.id_b),
       |cl AS (
       |  SELECT nd.* FROM nd
       |  WHERE doc_id NOT IN (SELECT DISTINCT id_a FROM xpairs WHERE jaccard >= 0.3)),
       |sp AS MATERIALIZED (
       |  SELECT doc_id, toks,
       |    CASE WHEN len(toks) >= $n
       |      THEN list_transform(range(1, len(toks) - $n + 2), i -> md5(array_to_string(toks[i:i+${n - 1}], ' ')))
       |      ELSE []::VARCHAR[] END AS ws
       |  FROM cl),
       |expl AS MATERIALIZED (SELECT doc_id, unnest(ws) AS span FROM sp),
       |dup AS (SELECT span FROM (SELECT span, count(*) AS c FROM expl GROUP BY span) t WHERE c > 1),
       |sstats AS (
       |  SELECT e.doc_id,
       |    CAST(count(*) AS BIGINT) AS n_spans,
       |    CAST(sum(CASE WHEN d.span IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
       |  FROM expl e LEFT JOIN dup d USING (span) GROUP BY e.doc_id),
       |keep6 AS (
       |  SELECT sp.doc_id FROM sp LEFT JOIN sstats s USING (doc_id)
       |  WHERE (CASE WHEN coalesce(s.n_spans, 0) > 0
       |    THEN CAST(s.n_dup_spans AS DOUBLE) / CAST(s.n_spans AS DOUBLE) ELSE 0.0 END) < 0.5),
       |uf AS MATERIALIZED (SELECT sp.doc_id, sp.toks, sp.ws FROM sp JOIN keep6 USING (doc_id)),
       |occ6 AS (
       |  SELECT doc_id, u.pos, ws[u.pos] AS span
       |  FROM uf, (SELECT unnest(range(1, len(ws) + 1)) AS pos) u),
       |rmv6 AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos,
       |      row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
       |    FROM occ6) t
       |  WHERE rn > 1),
       |st6 AS (SELECT doc_id, list(pos ORDER BY pos) AS st FROM rmv6 GROUP BY doc_id),
       |nz AS (
       |  SELECT doc_id, coalesce(array_to_string(ct, ' '), '') AS text FROM (
       |    SELECT w.doc_id,
       |      list_transform(
       |        list_filter(range(1, len(w.toks) + 1),
       |          p -> len(list_filter(coalesce(s.st, []::BIGINT[]), x -> p >= x AND p < x + $n)) = 0),
       |        p -> w.toks[p]) AS ct
       |    FROM uf w LEFT JOIN st6 s USING (doc_id))
       |  WHERE length(coalesce(array_to_string(ct, ' '), '')) > 0),
       |ct7 AS (SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks FROM nz),
       |ch AS (
       |  SELECT doc_id, u.i AS start_i,
       |    array_to_string(toks[u.i:u.i+39], ' ') AS chunk_text
       |  FROM ct7, unnest(range(1, greatest(len(toks) - 10, 1) + 1, 30)) AS u(i))
       |SELECT doc_id,
       |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_i) - 1 AS INTEGER) AS chunk_idx,
       |  chunk_text,
       |  CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS n_tokens
       |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin
  }

  val defs: List[QueryDef] = List(
    QueryDef("x1_text_stats", x1TextStats, Sql(
      """WITH n AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm FROM documents),
        |t AS (
        |  SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM n),
        |s AS (
        |  SELECT doc_id, norm, toks,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_pieces,
        |    length(regexp_replace(norm, '[^.!?,;:]', '', 'g'))::DOUBLE / length(norm) AS punct_ratio,
        |    CAST(len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','on','for','with','as','at','by'], x))) AS BIGINT) AS stop_cnt
        |  FROM t)
        |SELECT doc_id, n_tokens, n_pieces, punct_ratio, stop_cnt,
        |  0.4 * (stop_cnt::DOUBLE / n_tokens::DOUBLE)
        |  + 0.3 * (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END)
        |  + 0.3 * (CASE WHEN length(norm)::DOUBLE / n_tokens::DOUBLE >= 3.0 AND length(norm)::DOUBLE / n_tokens::DOUBLE <= 12.0 THEN 1.0 ELSE 0.0 END)
        |  - punct_ratio AS quality
        |FROM s ORDER BY doc_id""".stripMargin)),
    QueryDef("x2_quality_gopher", x2QualityGopher, Sql(
      """WITH t AS (
        |  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks,
        |         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, toks,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    round((length(norm) - (len(toks) - 1))::DOUBLE / len(toks), 6) AS mean_word_len,
        |    round(1.0 - len(list_distinct(toks))::DOUBLE / len(toks), 6) AS dup_word_frac,
        |    round(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))::DOUBLE / len(toks), 6) AS alpha_frac
        |  FROM t WHERE len(toks) > 0),
        |bg AS (
        |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS bigram
        |  FROM t, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS u(i)),
        |bgc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
        |topb AS (SELECT doc_id, max(c) AS max_c FROM bgc GROUP BY 1)
        |SELECT b.doc_id, n_words, mean_word_len, dup_word_frac, alpha_frac,
        |  round(coalesce(max_c, 0) * 2.0 / n_words, 6) AS top_bigram_frac,
        |  (n_words >= 20 AND mean_word_len BETWEEN 3.0 AND 10.0
        |   AND dup_word_frac < 0.6
        |   AND round(coalesce(max_c, 0) * 2.0 / n_words, 6) < 0.2) AS keep_doc
        |FROM b LEFT JOIN topb ON b.doc_id = topb.doc_id
        |ORDER BY b.doc_id""".stripMargin)),
    QueryDef("x6_chunking", x6Chunking, Sql(
      """WITH t AS (
        |  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (
        |  SELECT doc_id, u.i AS start_i,
        |    array_to_string(toks[u.i:u.i+39], ' ') AS chunk_text
        |  FROM t, unnest(range(1, greatest(len(toks) - 10, 1) + 1, 30)) AS u(i))
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_i) - 1 AS INTEGER) AS chunk_idx,
        |  chunk_text,
        |  CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS n_tokens
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)),
    QueryDef("x7_packing", x7Packing, Sql(
      """WITH t AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT source, doc_id, n_tokens,
        |  CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::DOUBLE / 2048) AS BIGINT) AS bin_id
        |FROM t ORDER BY source, doc_id""".stripMargin)),
    // X7b — the sequential first-fit fold as a recursive CTE: one
    // iteration per in-shard position, every shard advances in lockstep,
    // so total work is O(rows) (a list_reduce can only return the FINAL
    // state — per-row bin assignments need the recursion). NULL token
    // counts fold as 0 (matching the engine) but pass through the output
    // column unchanged.
    QueryDef("x7b_packing", x7bPackingExact, Sql(
      """WITH RECURSIVE t AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_tokens,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents),
        |rec AS (
        |  SELECT source, rn, doc_id, n_tokens, CAST(0 AS BIGINT) AS bin_id,
        |    coalesce(n_tokens, 0) AS fill
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT d.source, d.rn, d.doc_id, d.n_tokens,
        |    CASE WHEN r.fill > 0 AND r.fill + coalesce(d.n_tokens, 0) > 2048
        |         THEN r.bin_id + 1 ELSE r.bin_id END,
        |    CASE WHEN r.fill > 0 AND r.fill + coalesce(d.n_tokens, 0) > 2048
        |         THEN coalesce(d.n_tokens, 0) ELSE r.fill + coalesce(d.n_tokens, 0) END
        |  FROM rec r JOIN t d ON d.source = r.source AND d.rn = r.rn + 1)
        |SELECT source, doc_id, n_tokens, bin_id FROM rec ORDER BY source, doc_id""".stripMargin)),
    // X14 — the x7b recursive first-fit CTE, aggregated into packed
    // sequences: list(norm ORDER BY doc_id) concatenation matches the
    // engine's sort_array(collect_list(struct(doc_id, norm))) order
    // (doc_id is unique per shard).
    QueryDef("x14_pack_sequences", x14PackSequences, Sql(
      """WITH RECURSIVE t AS (
        |  SELECT source, doc_id,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm,
        |    CAST(len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_tokens,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents WHERE text IS NOT NULL),
        |rec AS (
        |  SELECT source, rn, doc_id, norm, n_tokens, CAST(0 AS BIGINT) AS bin_id,
        |    coalesce(n_tokens, 0) AS fill
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT d.source, d.rn, d.doc_id, d.norm, d.n_tokens,
        |    CASE WHEN r.fill > 0 AND r.fill + coalesce(d.n_tokens, 0) > 2048
        |         THEN r.bin_id + 1 ELSE r.bin_id END,
        |    CASE WHEN r.fill > 0 AND r.fill + coalesce(d.n_tokens, 0) > 2048
        |         THEN coalesce(d.n_tokens, 0) ELSE r.fill + coalesce(d.n_tokens, 0) END
        |  FROM rec r JOIN t d ON d.source = r.source AND d.rn = r.rn + 1)
        |SELECT source, bin_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
        |  coalesce(array_to_string(list(norm ORDER BY doc_id), ' '), '') AS seq_text
        |FROM rec GROUP BY source, bin_id ORDER BY source, bin_id""".stripMargin)),
    // X8 — the md5 60-bit key: hex-literal cast (DuckDB has no conv());
    // % stays pmod-compatible because the key is non-negative.
    QueryDef("x8_epoch_shuffle", x8EpochShuffle, Sql(
      """WITH k AS (
        |  SELECT doc_id, source, md5('42:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |s AS (SELECT doc_id, source, h,
        |        ('0x' || substr(h, 1, 15))::BIGINT % 8 AS shard FROM k)
        |SELECT doc_id, source, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin)),
    // X9 — 52-bit uniform deviate, exact in a double on both engines.
    QueryDef("x9_split", x9Split, Sql(
      """SELECT doc_id, source,
        |  CASE WHEN u < CAST(0.8 AS DOUBLE) THEN 'train'
        |       WHEN u < CAST(0.9 AS DOUBLE) THEN 'validation'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id, source,
        |        CAST(('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS DOUBLE)
        |          / CAST(4503599627370496 AS DOUBLE) AS u
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin)),
    QueryDef("x11_eval_sample", x11EvalSample, Sql(
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |                       ORDER BY md5('${X11Seed}:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
         |  FROM documents) t
         |WHERE rk <= ${X11Quota} ORDER BY source, doc_id""".stripMargin)),
    // x17 — integer counts plus ONE final double division (hit_frac):
    // bit-identical on both engines. Window CTE mirrors x13's.
    QueryDef("x17_exact_decontaminate", x17ExactDecontaminate, Sql(x17Sql)),
    // x18 — the bloom-gated variant computes the IDENTICAL result (the
    // sketch only over-admits and the exact verify removes every false
    // positive), so its oracle IS x17's SQL: same contract, different
    // physical gate.
    QueryDef("x18_bloom_decontaminate", x18BloomDecontaminate, Sql(x17Sql)),
    QueryDef("x19_frequent_ngrams", x19FrequentNgrams, Sql(x19Sql)),
    // x19b — the count-min-gated twin SHARES x19's oracle verbatim: the
    // sketch only over-admits and the exact second pass removes every
    // false positive, so the sketch is result-invisible (the x18
    // bloom-gate precedent with a counting sketch).
    QueryDef("x19b_frequent_ngrams_cms", x19bFrequentNgramsCms, Sql(x19Sql)),
    // x19 — integer-exact counts; (n_docs DESC, n_occurrences DESC,
    // gram) is a TOTAL order (gram is the group key), so the LIMIT cut
    // is deterministic on both engines.
    // x21 — the composed-pipeline contract (see the x21Sql scaladoc):
    // stage coupling is the thing under test.
    QueryDef("x21_pipeline_sweep", x21PipelineSweep, Sql(x21Sql)),
    // x12 — integer window counts, one final double division (the x10
    // discipline); md5 span fingerprints are engine-portable. Zero-window
    // docs (< n tokens) surface via the LEFT JOIN with fraction 0.
    QueryDef("x12_dup_spans", x12DupSpans, Sql({
      val n = X12SpanWidth
      s"""WITH base AS (
         |  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |spans AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) >= $n
         |      THEN list_transform(range(1, len(toks) - $n + 2), i -> md5(array_to_string(toks[i:i+${n - 1}], ' ')))
         |      ELSE []::VARCHAR[] END AS ws
         |  FROM base),
         |expl AS (SELECT doc_id, unnest(ws) AS span FROM spans),
         |dup AS (SELECT span FROM (SELECT span, count(*) AS c FROM expl GROUP BY span) t WHERE c > 1),
         |stats AS (
         |  SELECT e.doc_id,
         |    CAST(count(*) AS BIGINT) AS n_spans,
         |    CAST(sum(CASE WHEN d.span IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
         |  FROM expl e LEFT JOIN dup d USING (span) GROUP BY e.doc_id)
         |SELECT b.doc_id,
         |  coalesce(s.n_spans, 0) AS n_spans,
         |  coalesce(s.n_dup_spans, 0) AS n_dup_spans,
         |  CASE WHEN coalesce(s.n_spans, 0) > 0
         |    THEN CAST(s.n_dup_spans AS DOUBLE) / CAST(s.n_spans AS DOUBLE) ELSE 0.0 END AS dup_span_frac,
         |  (CASE WHEN coalesce(s.n_spans, 0) > 0
         |    THEN CAST(s.n_dup_spans AS DOUBLE) / CAST(s.n_spans AS DOUBLE) ELSE 0.0 END) < ${X12MaxDupFrac} AS keep_doc
         |FROM base b LEFT JOIN stats s USING (doc_id)
         |ORDER BY b.doc_id""".stripMargin
    })),
    // x13 — the oracle recomputes first-occurrence retention with a
    // row_number window (values identical to the engine's min-struct
    // aggregate: (doc_id, pos) is a total order) and reconstructs the
    // text with the same positional coverage rule. coalesce on the
    // final join: DuckDB's array_to_string([]) is NULL where Spark's
    // concat_ws over an empty array is '' (the fully-removed-doc case).
    QueryDef("x13_span_dedup", x13SpanDedup, Sql({
      val n = X12SpanWidth
      s"""WITH base AS (
         |  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |spans AS (
         |  SELECT doc_id, toks,
         |    CASE WHEN len(toks) >= $n
         |      THEN list_transform(range(1, len(toks) - $n + 2), i -> md5(array_to_string(toks[i:i+${n - 1}], ' ')))
         |      ELSE []::VARCHAR[] END AS ws
         |  FROM base),
         |occ AS (
         |  SELECT doc_id, u.pos, ws[u.pos] AS span
         |  FROM spans, (SELECT unnest(range(1, len(ws) + 1)) AS pos) u),
         |rmv AS (
         |  SELECT doc_id, pos FROM (
         |    SELECT doc_id, pos,
         |      row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
         |    FROM occ) t
         |  WHERE rn > 1),
         |starts AS (SELECT doc_id, list(pos ORDER BY pos) AS st FROM rmv GROUP BY doc_id),
         |clean AS (
         |  SELECT b.doc_id, b.toks,
         |    list_transform(
         |      list_filter(range(1, len(b.toks) + 1),
         |        p -> len(list_filter(coalesce(s.st, []::BIGINT[]), x -> p >= x AND p < x + $n)) = 0),
         |      p -> b.toks[p]) AS ct
         |  FROM base b LEFT JOIN starts s USING (doc_id))
         |SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(toks) - len(ct) AS BIGINT) AS n_removed,
         |  coalesce(array_to_string(ct, ' '), '') AS clean_text
         |FROM clean ORDER BY doc_id""".stripMargin
    })),
    // x10 — integer-exact internals (counts, sums), ONE final double
    // division per output column: both engines produce identical bits
    // with no float-order concerns.
    QueryDef("x10_corpus_freq", x10CorpusFreq, Sql(
      s"""WITH nrm AS (
         |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
         |  FROM documents WHERE text IS NOT NULL),
         |tk AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS tok FROM nrm),
         |vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS tok_count FROM tk GROUP BY tok),
         |tot AS (SELECT CAST(sum(tok_count) AS BIGINT) AS corpus_tokens FROM vocab),
         |per_doc AS (
         |  SELECT t.doc_id,
         |    CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(v.tok_count) AS BIGINT) AS freq_sum,
         |    CAST(sum(CASE WHEN v.tok_count < ${X10MinCount} THEN 1 ELSE 0 END) AS BIGINT) AS oov_count
         |  FROM tk t JOIN vocab v USING (tok)
         |  GROUP BY t.doc_id)
        |SELECT doc_id, n_tokens,
        |  CAST(freq_sum AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * CAST(corpus_tokens AS DOUBLE)) AS mean_token_freq,
        |  CAST(oov_count AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS oov_frac
        |FROM per_doc, tot
        |ORDER BY doc_id""".stripMargin)),
    QueryDef("x3_lang_id", x3LangId, Sql(
      """WITH t AS (
        |  SELECT doc_id, lang, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(toks, x -> list_contains(['der','die','das','und','nicht','ist','ein','mit'], x))) AS s_de,
        |    len(list_filter(toks, x -> list_contains(['the','and','of','to','is','in','that','it'], x))) AS s_en,
        |    len(list_filter(toks, x -> list_contains(['el','la','los','las','que','de','y','es'], x))) AS s_es,
        |    len(list_filter(toks, x -> list_contains(['le','la','les','et','que','des','est','un'], x))) AS s_fr,
        |    len(list_filter(toks, x -> list_contains(['de','shi','le','zai','you','wo','ta','men'], x))) AS s_zh
        |  FROM t)
        |SELECT doc_id, lang,
        |  CASE WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
        |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
        |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
        |       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
        |       ELSE 'zh' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin)),
    QueryDef("x4_fingerprint", x4Fingerprint, Sql(
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // X16 — the x2 dup_word_frac CTE (same 6dp rounding) complemented
    // to the unique-word fraction and thresholded by the x9 seeded
    // uniform: admit iff u < score. Both halves are verbatim
    // restatements of already-hash-green machinery.
    QueryDef("x16_quality_sample", x16QualitySample, Sql(
      s"""WITH t AS (
         |  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
         |  FROM documents),
         |b AS (
         |  SELECT doc_id,
         |    CAST(1.0 AS DOUBLE) - round(1.0 - len(list_distinct(toks))::DOUBLE / len(toks), 6) AS uniq_word_frac
         |  FROM t WHERE len(toks) > 0),
         |uu AS (
         |  SELECT doc_id, uniq_word_frac,
         |    CAST(('0x' || substr(md5('${X16Seed}:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS DOUBLE)
         |      / CAST(4503599627370496 AS DOUBLE) AS u
         |  FROM b)
         |SELECT doc_id, uniq_word_frac FROM uu WHERE u < uniq_word_frac
         |ORDER BY doc_id""".stripMargin)),
    // X5 — the same planted-PII construction and the same three regexes
    // in the same order (email → URL → digit run), each with the 'g'
    // flag (DuckDB replaces first-match-only by default; Spark's
    // regexp_replace is always global).
    QueryDef("x5_redact_pii", x5RedactPii, Sql(
      """WITH planted AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |         || '@mail.example.com or (https://site' || CAST(doc_id AS VARCHAR)
        |         || '.example.org/path). acct 1234567' || CAST(doc_id AS VARCHAR) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '(?i)\bhttps?://[^\s]*[^\s).,;:!?]', '<URL>', 'g'),
        |    '\b\d{7,}\b', '<NUM>', 'g') AS clean_text
        |FROM planted ORDER BY doc_id""".stripMargin)),
    // X15 — the whole mixture policy restated relationally: weights
    // from the source name, integer floor-division budget split (//),
    // seeded-md5 admission order, strict prefix-sum cap. NULL token
    // counts cost 0 (COALESCE) but stay NULL in the output, same as
    // the engine.
    QueryDef("x15_token_budget_mix", x15TokenBudgetMix, Sql(
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |w AS (SELECT DISTINCT source,
         |        (CAST(regexp_extract(source, '(\\d+)', 1) AS BIGINT) % 3) + 1 AS wt
         |      FROM t),
         |tot AS (SELECT sum(wt) AS wsum FROM w),
         |b AS (SELECT source, CAST((wt * ${X15Budget}) // wsum AS BIGINT) AS budget FROM w, tot),
         |c AS (
         |  SELECT doc_id, source, n_tokens,
         |    sum(coalesce(n_tokens, 0)) OVER (
         |      PARTITION BY source
         |      ORDER BY md5('${X15Seed}:' || CAST(doc_id AS VARCHAR)), doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT c.doc_id, c.source, c.n_tokens, CAST(c.cum AS BIGINT) AS cum_tokens
         |FROM c JOIN b ON b.source = c.source
         |WHERE c.cum <= b.budget
         |ORDER BY c.doc_id""".stripMargin))
  )
}
