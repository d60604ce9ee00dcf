package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * normalization, token counting, quality scoring, language ID and
  * document fingerprinting. All pure column expressions (whole-stage
  * codegen, no UDFs) so they run at full scan speed on 100 TB and push
  * down through Catalyst.
  *
  * Determinism contract: every expression has a DuckDB-expressible twin
  * (same normalization, same split, same regex class patterns) so the
  * driver's oracle can hash-match the outputs.
  */
object TextOps {

  /** Canonical normalization: trim, lowercase, collapse whitespace runs
    * to single spaces. All downstream ops (tokens, fingerprints,
    * shingles) run over this form.
    */
  def normalize(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Whitespace tokens of the normalized text. Split on the single space
    * the normalization guarantees — avoids engine-specific regex-split
    * edge cases.
    */
  def tokens(text: Column): Column = split(normalize(text), " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish word-piece count: runs of letters, runs of digits, or single
    * non-alphanumeric marks (a common pre-tokenizer shape).
    */
  def wordPieceCount(text: Column): Column =
    size(regexp_extract_all(normalize(text), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))

  /** Ratio of punctuation characters to total characters. */
  def punctRatio(text: Column): Column = {
    val n = normalize(text)
    length(regexp_replace(n, "[^.!?,;:]", "")).cast("double") / length(n)
  }

  /** Common-English stopword hit count over tokens (quality signal). */
  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "on", "for", "with", "as", "at", "by")

  def stopwordCount(text: Column, stopwords: Seq[String] = EnglishStopwords): Column = {
    val set = array(stopwords.map(lit): _*)
    size(filter(tokens(text), t => array_contains(set, t)))
  }

  /** Composite quality score in [0,1]-ish: rewards stopword presence and
    * moderate token length, penalizes punctuation density. Deliberately
    * simple arithmetic (fixed evaluation order) for oracle parity.
    */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val stopRatio = stopwordCount(text).cast("double") / nTok
    val avgTokLen = length(normalize(text)).cast("double") / nTok
    val lenOk = when(nTok >= 10 && nTok <= 100000, lit(1.0)).otherwise(lit(0.0))
    lit(0.4) * stopRatio + lit(0.3) * lenOk + lit(0.3) * when(avgTokLen >= 3.0 && avgTokLen <= 12.0, lit(1.0)).otherwise(lit(0.0)) - punctRatio(text)
  }

  /** Marker stopwords per language for the n-gram/stopword language-ID
    * heuristic. Tiny on purpose: the operator shape (scored argmax over
    * per-language token-set hits) is what a real pipeline runs with a
    * bigger table; thresholds/sets are configuration.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ein", "mit"),
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "es" -> Seq("el", "la", "los", "las", "que", "de", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "que", "des", "est", "un"),
    "zh" -> Seq("de", "shi", "le", "zai", "you", "wo", "ta", "men")
  )

  /** Heuristic language ID: argmax of marker-set hits, ties resolved in
    * declared language order (deterministic).
    */
  def langIdHeuristic(text: Column): Column = {
    val toks = tokens(text)
    val scores = LangMarkers.map { case (langName, markers) =>
      val set = array(markers.map(lit): _*)
      langName -> size(filter(toks, t => array_contains(set, t)))
    }
    val best = greatest(scores.map(_._2): _*)
    scores.foldLeft(lit(null).cast("string")) { case (acc, (langName, s)) =>
      when(acc.isNotNull, acc).otherwise(when(s === best, lit(langName)))
    }
  }

  /** Native one-pass twin of [[langIdHeuristic]]
    * ([[graft.expressions.MarkerArgmax]]): value-identical (same
    * counts, same declared-order tie-break) at ~1 token scan instead of
    * one interpreted lambda pass per language.
    */
  def langIdHeuristicNative(text: Column)(implicit spark: org.apache.spark.sql.SparkSession): Column =
    graft.expressions.MarkerArgmax.column(tokens(text), LangMarkers)

  /** Domain mixing: per-source sampling fractions (the data-mixture
    * weights of a training run), seeded for reproducibility. Thin
    * wrapper over `stat.sampleBy` (stratified Bernoulli, scan-local, no
    * shuffle); sources absent from `weights` are dropped — an explicit
    * mixture is also an allowlist.
    */
  def sampleMixture(
      df: org.apache.spark.sql.DataFrame,
      sourceCol: String,
      weights: Map[String, Double],
      seed: Long
  ): org.apache.spark.sql.DataFrame = {
    require(weights.values.forall(w => w >= 0.0 && w <= 1.0), s"fractions must be in [0,1]: $weights")
    df.stat.sampleBy(sourceCol, weights, seed)
  }

  /** Token-window chunking for training (context-window preparation):
    * overlapping chunks of `chunkSize` tokens at stride
    * `chunkSize − overlap`; the final chunk may be short. One row in,
    * array of chunk strings out — explode downstream. Scan-local.
    */
  def chunkTokens(text: Column, chunkSize: Int, overlap: Int): Column = {
    require(chunkSize > overlap && overlap >= 0, s"need chunkSize > overlap >= 0, got $chunkSize/$overlap")
    val stride = chunkSize - overlap
    // tokens bind via bindOnce: referenced directly, the token-split
    // expression lands inside the per-chunk lambda and re-tokenizes the
    // whole document once per chunk.
    // NULL text must yield a NULL array (posexplode then drops the doc,
    // matching the oracle's WHERE text IS NOT NULL). Unguarded,
    // greatest(null − overlap, 1) = 1 (greatest SKIPS nulls) and
    // concat_ws(null slice) = "" would emit one spurious empty chunk.
    graft.functions.Functions.bindOnce(tokens(text)) { ts =>
      when(
        ts.isNotNull,
        transform(
          sequence(lit(1), greatest(size(ts) - overlap, lit(1)), lit(stride)),
          i => concat_ws(" ", slice(ts, i, lit(chunkSize)))
        )
      )
    }
  }

  /** Per-shard sequence packing: assign documents (ordered by `orderCol`
    * within each `shardCol` group) to contiguous token-budget bins via a
    * running prefix sum — the "pack documents into fixed context
    * windows" step. `bin = floor(prefix_before / budget)`: a document
    * straddling a bin boundary stays in the earlier bin (budget
    * overflow at boundaries), which keeps the rule a pure window
    * expression — exact first-fit would be an order-sensitive stateful
    * fold with no distributed formulation beyond this per-shard shape
    * anyway. One shuffle on the shard key.
    */
  def packIntoBins(
      df: org.apache.spark.sql.DataFrame,
      shardCol: String,
      orderCol: String,
      tokenCountCol: String,
      budget: Int
  ): org.apache.spark.sql.DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol))
      .orderBy(col(orderCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.withColumn(
      "bin_id",
      floor(coalesce(sum(col(tokenCountCol)).over(w), lit(0L)).cast("double") / budget).cast("long")
    )
  }

  /** Deterministic epoch shuffle + shard assignment (the "global shuffle"
    * step of a training run): each document hashes to a 60-bit key from
    * `md5(seed:id)`, the key's residue picks the output shard, and the
    * key ordering defines the within-shard read order. Seeded → the
    * epoch permutation is reproducible across runs and resumable
    * mid-epoch; changing the seed reshuffles. One shuffle on the shard
    * residue (the unavoidable data movement of a global shuffle); the
    * window sort streams per shard. md5 keeps the permutation
    * engine-portable (any system reproduces the same epoch order).
    */
  def shuffleShards(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      seed: Long,
      numShards: Int
  ): org.apache.spark.sql.DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
      .orderBy(col("__h"), col(idCol))
    df.withColumn("__h", md5(concat(lit(s"$seed:"), col(idCol).cast("string"))))
      .withColumn("shard", pmod(expr("conv(substring(__h, 1, 15), 16, 10)").cast("long"), lit(numShards)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("__h")
  }

  /** Seeded train/validation/test split: a uniform deviate in [0,1) from
    * the top 13 hex digits of `md5(seed:id)` (52 bits — exact in a
    * double), thresholded into labels. Deterministic per (seed, id):
    * membership survives reruns, corpus growth, and engine swaps — the
    * property a leakage-free split needs. Scan-local, no shuffle; the
    * hash is uniform within every stratum, so per-source proportions
    * track the global fractions without explicit stratification.
    */
  def assignSplit(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      seed: Long,
      trainFrac: Double = 0.8,
      validationFrac: Double = 0.1
  ): org.apache.spark.sql.DataFrame = {
    require(trainFrac >= 0 && validationFrac >= 0 && trainFrac + validationFrac <= 1.0,
      s"fractions must be non-negative and sum ≤ 1: $trainFrac/$validationFrac")
    val u = expr(s"conv(substring(md5(concat('$seed:', cast($idCol as string))), 1, 13), 16, 10)")
      .cast("double") / lit(4503599627370496.0) // 16^13 = 2^52
    df.withColumn(
      "split",
      when(u < trainFrac, "train")
        .when(u < trainFrac + validationFrac, "validation")
        .otherwise("test")
    )
  }

  /** Quality-proportional (soft) sampling — the probabilistic
    * alternative to a hard quality cutoff (the shape modern curation
    * pipelines use when a binary filter throws away too much borderline
    * data): each document is admitted with probability equal to its
    * quality score in [0,1], decided by the SAME seeded 52-bit
    * md5-uniform as [[assignSplit]] — deterministic per (seed, id), so
    * the sample survives reruns, corpus growth, and engine swaps, and a
    * document's admission never depends on other rows. Scan-local
    * filter: no shuffle, pushes through Catalyst like any predicate.
    * Score 0 never admits; score 1 always admits.
    */
  def sampleByQuality(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      scoreCol: String,
      seed: Long
  ): org.apache.spark.sql.DataFrame = {
    val u = expr(s"conv(substring(md5(concat('$seed:', cast($idCol as string))), 1, 13), 16, 10)")
      .cast("double") / lit(4503599627370496.0) // 16^13 = 2^52
    df.filter(u < col(scoreCol))
  }

  /** Token-budget mixture sampling — the data-MIXING op a pretraining
    * pipeline runs to hit target domain proportions: each domain gets a
    * token budget; its documents are admitted in seeded-hash order (the
    * x9/x11 determinism discipline — stable under reruns, corpus
    * growth, and engine swaps) while the running token prefix sum stays
    * within the budget. Admission is STRICT (a document enters only if
    * the sum including it fits), so budgets are hard caps and the
    * output is a pure function of (corpus, budgets, seed). Domains
    * absent from `budgets` are dropped; NULL token counts admit as 0
    * cost but keep their NULL in the output.
    *
    * 100 TB shape: one shuffle on the domain key; the window's prefix
    * sum is a streaming pass per domain partition. Skewed mega-domains
    * would sort within their partition — at that scale pre-bucket the
    * table by domain so the sort is a merge of sorted runs.
    */
  def sampleTokenBudget(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      domainCol: String,
      tokensCol: String,
      budgets: Map[String, Long],
      seed: Long
  ): org.apache.spark.sql.DataFrame = {
    require(budgets.nonEmpty && budgets.values.forall(_ >= 0), "need non-negative budgets")
    val budgetCol = budgets.foldLeft(lit(null).cast("long")) { case (acc, (d, b)) =>
      when(col(domainCol) === d, lit(b)).otherwise(acc)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol))
      .orderBy(md5(concat(lit(s"$seed:"), col(idCol).cast("string"))).asc, col(idCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.withColumn("cum_tokens", sum(coalesce(col(tokensCol), lit(0L))).over(w))
      .withColumn("__budget", budgetCol)
      .filter(col("cum_tokens") <= col("__budget"))
      .drop("__budget")
  }

  /** Integer-exact per-domain budgets from mixture WEIGHTS: budget_d =
    * ⌊w_d · total / Σw⌋ in long arithmetic — no float division, so an
    * oracle recomputing the split relationally lands on identical
    * numbers.
    */
  def mixtureBudgets(weights: Map[String, Long], totalBudget: Long): Map[String, Long] = {
    require(weights.nonEmpty && weights.values.forall(_ >= 0) && totalBudget >= 0, "need non-negative weights/budget")
    val wsum = weights.values.sum
    require(wsum > 0, "weights sum to zero")
    weights.map { case (d, w) => d -> w * totalBudget / wsum }
  }

  /** Leakage-safe (group-aware) train/val/test split: every document in
    * a near-duplicate CLUSTER rides the same side. A per-document hash
    * split ([[assignSplit]]) silently leaks — a near-copy of a training
    * document lands in test with probability 1−trainFrac, and eval
    * scores inflate by exactly the duplication rate. The fix is to hash
    * the duplicate-GROUP key, not the document key: pairs →
    * [[graft.dedup.Dedup.connectedComponents]] → group key =
    * coalesce(component, own id) → the [[assignSplit]] threshold rule
    * on that key. Singleton documents (the overwhelming majority) keep
    * their own id as key, so their assignment is IDENTICAL to the
    * per-document split — adopting the safe split reshuffles only the
    * clustered minority.
    *
    * 100 TB shape: the component list covers only documents that appear
    * in some pair (slim), the join ships (id, component) longs, and the
    * hash rule stays scan-local — the only shuffles are the ones the
    * component computation already paid.
    */
  def assignSplitLeakageSafe(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      pairs: org.apache.spark.sql.DataFrame,
      seed: Long,
      trainFrac: Double = 0.8,
      validationFrac: Double = 0.1
  ): org.apache.spark.sql.DataFrame = {
    val comp = graft.dedup.Dedup
      .connectedComponents(pairs, "id_a", "id_b")
      .select(col("id").as(idCol), col("component"))
    val keyed = df
      .join(comp, Seq(idCol), "left")
      .withColumn("group_key", coalesce(col("component"), col(idCol).cast("long")))
      .drop("component")
    assignSplit(keyed, "group_key", seed, trainFrac, validationFrac)
  }

  /** Exact sequential packing (the rule real sequence-packing pipelines
    * use): walk each shard's documents in order, close the current bin
    * and open a new one whenever the next document would overflow the
    * token budget — so every bin holds ≤ `budget` tokens unless a single
    * oversized document occupies it alone. Contrast [[packIntoBins]],
    * whose prefix-sum rule keeps a boundary-straddling document in the
    * earlier bin (overflow) but is a pure window expression.
    *
    * This is an order-sensitive fold, so it runs like the LIFO replay on
    * [[graft.ops.Relational.perKeyRuns]]: one shuffle on the shard key,
    * in-partition sort, streaming O(1) state per shard — no group
    * materialization, spills handled by the engine's sort. Shard keys of
    * any type split by value (a boxed-long key is one run per value). The two rules bound each other: first-fit never uses
    * fewer bins than the prefix rule on the same shard, and its
    * non-singleton bins never exceed the budget (PackingSpec).
    */
  def packFirstFitExact(
      df: org.apache.spark.sql.DataFrame,
      shardCol: String,
      orderCol: String,
      tokenCountCol: String,
      budget: Int
  ): org.apache.spark.sql.DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.LongType
    val prepared = df.withColumn(tokenCountCol, col(tokenCountCol).cast("long"))
    val outSchema = org.apache.spark.sql.types.StructType(
      prepared.schema.fields :+ org.apache.spark.sql.types.StructField("bin_id", LongType, nullable = false))
    val shardIdx = prepared.schema.fieldIndex(shardCol)
    val tokIdx = prepared.schema.fieldIndex(tokenCountCol)
    graft.ops.Relational.perKeyRuns(prepared, Seq(col(shardCol)), Seq(col(orderCol)))(_.get(shardIdx)) { (_, run) =>
      var bin = 0L
      var fill = 0L
      run.map { r =>
        val n = if (r.isNullAt(tokIdx)) 0L else r.getLong(tokIdx)
        if (fill > 0 && fill + n > budget) { bin += 1; fill = 0L }
        fill += n
        Row.fromSeq(r.toSeq :+ bin)
      }
    }(Encoders.row(outSchema))
  }

  /** Materialize packed training sequences — the writer step after bin
    * assignment ([[packIntoBins]] / [[packFirstFitExact]]): each
    * (shard, bin) group's documents concatenate IN ORDER into one
    * training-sequence row with its document and token counts. Over
    * NON-EMPTY normalized text with a single-space separator, the
    * sequence tokenizes back to exactly the sum of its documents' token
    * counts (asserted in the spec) — the invariant a packed-corpus
    * writer needs. Empty/whitespace-only documents break the invariant
    * (`tokenCount("") = 1` by the split convention, but they add no
    * token to the concatenation) — filter them out upstream, where
    * x2's length rule drops them anyway.
    *
    * Determinism: `(orderCol, text)` sorts the collected structs, and
    * `orderCol` is unique per shard under both packers' contracts, so
    * the concatenation order is total. Scale: the per-group state is
    * one bin's documents — bounded by the token budget by construction
    * (only a single oversized document exceeds it) — making this the
    * rare `collect_list` whose memory is capped by an operator
    * invariant rather than data luck. One shuffle on (shard, bin).
    */
  def materializeSequences(
      df: org.apache.spark.sql.DataFrame,
      shardCol: String,
      binCol: String,
      orderCol: String,
      textCol: String,
      tokenCountCol: String,
      sep: String = " "
  ): org.apache.spark.sql.DataFrame =
    df.groupBy(col(shardCol), col(binCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col(tokenCountCol)).cast("long").as("seq_tokens"),
        concat_ws(
          sep,
          transform(
            sort_array(collect_list(struct(col(orderCol).as("o"), col(textCol).as("t")))),
            p => p.getField("t")
          )
        ).as("seq_text")
      )

  /** PII / URL scrub for training text (the standard pre-training
    * redaction pass): emails, URLs, and long digit runs (phone/account
    * numbers) replaced with stable placeholder tokens so downstream
    * dedup still hashes consistently. Pure codegen'd `regexp_replace`
    * chain — scan-speed, pushes through Catalyst like any projection.
    */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    // the final char class keeps trailing sentence punctuation / closing
    // brackets OUT of the placeholder ("(https://x.com)." keeps ").")
    val url = regexp_replace(email, "(?i)\\bhttps?://[^\\s]*[^\\s).,;:!?]", "<URL>")
    regexp_replace(url, "\\b\\d{7,}\\b", "<NUM>")
  }

  /** Gopher-style repetition/quality metrics (Rae et al. 2021, §A1.1,
    * adapted to token granularity — the corpus has no line structure):
    * word count, mean word length, alphabetic-word fraction,
    * duplicate-word fraction, and top-bigram coverage (fraction of
    * tokens covered by the most frequent bigram — the published rule's
    * dup-n-gram family). Everything but the bigram mode is scan-local;
    * the mode needs one explode + two keyed aggregations (map-side
    * combinable), joined back by id.
    *
    * `keep_doc` applies the filter thresholds — configuration, like the
    * reference's TOML health thresholds, not algorithm.
    */
  def gopherQuality(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      maxDupWordFrac: Double = 0.6,
      maxTopBigramFrac: Double = 0.2,
      minWords: Int = 20
  ): org.apache.spark.sql.DataFrame = {
    val base = df
      .select(col(idCol), tokens(col(textCol)).as("toks"), normalize(col(textCol)).as("norm"))
      .filter(size(col("toks")) > 0)
      .select(
        col(idCol),
        col("toks"),
        size(col("toks")).cast("long").as("n_words"),
        // tokens are the normalized text split on single spaces, so
        // token-chars = chars − (n−1) separators
        round((length(col("norm")) - (size(col("toks")) - 1)).cast("double") / size(col("toks")), 6).as("mean_word_len"),
        round(lit(1.0) - size(array_distinct(col("toks"))).cast("double") / size(col("toks")), 6).as("dup_word_frac"),
        round(size(filter(col("toks"), t => t.rlike("[a-z]"))).cast("double") / size(col("toks")), 6).as("alpha_frac")
      )
    // ONE pass: the scan-local metrics ride the bigram aggregation as
    // grouping keys (they are functional on the id — a few fixed-width
    // columns beside the bigram string costs almost nothing per shuffle
    // row), which removes the old shape's second scan+tokenize of the
    // corpus and the join back by id (the r13 x2 before-plan shows the
    // documents scan twice + a broadcast join). `explode_outer` keeps
    // zero-bigram docs (guarded to an empty array: 1-token docs would
    // make sequence(1, 0) yield [1, 0] and slice throw) as a NULL
    // bigram row; the conditional max ignores it, so those docs report
    // top_bigram_frac = 0 exactly like the old left join + coalesce,
    // matching the oracle's range(1, greatest(len−1, 0) + 1).
    base
      .select(
        col(idCol), col("n_words"), col("mean_word_len"), col("dup_word_frac"), col("alpha_frac"),
        explode_outer(
          when(
            size(col("toks")) >= 2,
            transform(sequence(lit(1), size(col("toks")) - 1), i => concat_ws(" ", slice(col("toks"), i, lit(2))))
          ).otherwise(array().cast("array<string>"))
        ).as("bigram"))
      .groupBy(col(idCol), col("n_words"), col("mean_word_len"), col("dup_word_frac"), col("alpha_frac"), col("bigram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol), col("n_words"), col("mean_word_len"), col("dup_word_frac"), col("alpha_frac"))
      .agg(max(when(col("bigram").isNotNull, col("c"))).as("max_bigram_count"))
      .select(
        col(idCol),
        col("n_words"),
        col("mean_word_len"),
        col("dup_word_frac"),
        col("alpha_frac"),
        round(coalesce(col("max_bigram_count"), lit(0L)) * 2.0 / col("n_words"), 6).as("top_bigram_frac")
      )
      .withColumn(
        "keep_doc",
        col("n_words") >= minWords &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("dup_word_frac") < maxDupWordFrac &&
          col("top_bigram_frac") < maxTopBigramFrac
      )
  }

  /** Document fingerprint: md5 of the normalized text — the exact-dedup
    * key (reference analog: dedup-on-write jitter,
    * `visualizations/models.py:130-147`, repurposed for content identity).
    */
  def fingerprint(text: Column): Column = md5(normalize(text).cast("binary"))

  /** Deterministic stratified sampling with EXACT per-stratum quotas —
    * the eval-set construction step (held-out slices per source/domain
    * with fixed sizes). Rank each stratum by `md5(seed:id)` and keep the
    * first `quota`: seeded → reproducible across runs, partitionings,
    * and engines (md5, not engine-internal hashing); uniform within each
    * stratum; id tie-break total.
    *
    * Exact quotas require a per-stratum rank = one shuffle on the
    * stratum key plus an in-partition sort (engine-spill-safe, nothing
    * materialized per group). When approximate stratum fractions are
    * enough, prefer the scan-local seeded threshold of [[assignSplit]] —
    * that is the no-shuffle path; this is the exact-count one.
    */
  def sampleStratified(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      strataCol: String,
      quota: Int,
      seed: Long
  ): org.apache.spark.sql.DataFrame = {
    require(quota > 0, s"quota must be positive, got $quota")
    // delegate to the shared top-k-per-group machinery (O4): this IS
    // rank-and-filter, just with a seeded-hash ordering
    graft.ops.Relational.topKPerGroup(
      df,
      Seq(strataCol),
      Seq(md5(concat(lit(s"$seed:"), col(idCol).cast("string"))).asc, col(idCol).asc),
      quota
    )
  }

  /** Duplicate-span coverage filter — the published "fraction of the
    * document covered by duplicated n-grams" rule (Rae et al. 2021
    * §A1.1 dup-n-gram family; the RefinedWeb/MassiveText repetition
    * filter), at token granularity: every overlapping `n`-token window
    * is fingerprinted (md5 — engine-portable), windows are counted
    * across the WHOLE corpus, and each document reports the fraction of
    * its windows that appear more than once corpus-wide. High coverage
    * = boilerplate / template / near-dup content that document-level
    * dedup (d1/d2/d8) misses when only PART of the text repeats.
    * `keep_doc` applies the threshold — configuration, not algorithm.
    *
    * Integer internals, ONE final double division (the x10 discipline),
    * so a DuckDB oracle matches bit-for-bit. Documents shorter than `n`
    * tokens have zero windows and report fraction 0 (kept): too short
    * to exhibit span repetition is not a repetition failure — length
    * itself is x2's rule. NULL-text documents are absent from the
    * output, matching the oracle's `WHERE text IS NOT NULL`.
    *
    * Scale shape — the expensive fingerprint pass runs ONCE: a span
    * with corpus count 1 has its single occurrence in exactly one
    * document (`min(id)` = that document), so `n_dup = n_spans −
    * n_unique` needs no flag-join back over the exploded occurrences.
    * Slim (id, 32-char hash) rows ride one combiner-friendly shuffle
    * into the per-span aggregate; the unique-span set reduces to a tiny
    * per-doc count; the window count (`n_spans`) is plain token
    * arithmetic on a branch that never hashes. The document text never
    * shuffles.
    */
  /** md5 fingerprints of every overlapping `n`-token window (empty for
    * docs shorter than `n`) — the shared blocking unit of the dup-span
    * operators ([[dupSpanStats]], [[dedupSpansExact]]); position i in
    * the result array is the window starting at token i (1-based).
    *
    * `toks` binds through [[graft.functions.Functions.bindOnce]]:
    * referenced directly, the token-split expression lands INSIDE the
    * per-window lambda (an O(doc²) re-tokenize per window) and
    * InferFiltersFromGenerate additionally duplicated the whole spans
    * expression into scan filters — together a ~30× slowdown at sf0.1
    * before this binding.
    */
  private def spanFingerprints(toks: Column, n: Int): Column =
    graft.functions.Functions.bindOnce(toks) { ts =>
      when(
        size(ts) >= n,
        transform(
          sequence(lit(1), size(ts) - (n - 1)),
          i => md5(concat_ws(" ", slice(ts, i, lit(n))).cast("binary"))
        )
      ).otherwise(array().cast("array<string>"))
    }

  def dupSpanStats(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13,
      maxDupSpanFrac: Double = 0.3
  ): org.apache.spark.sql.DataFrame = {
    require(n >= 2, s"span width must be >= 2 tokens, got $n")
    require(maxDupSpanFrac > 0.0, s"maxDupSpanFrac must be positive, got $maxDupSpanFrac")
    val toks = tokens(col(textCol))
    // n_spans sits BESIDE the fingerprints, not inside them: column
    // pruning then hands the count-only branch a hash-free projection
    // (plain token arithmetic) while the explode branch prunes the count
    val base = df
      .filter(col(textCol).isNotNull)
      .select(
        col(idCol),
        spanFingerprints(toks, n).as("spans"),
        greatest(size(toks) - (n - 1), lit(0)).cast("long").as("n_spans")
      )
    // a count-1 span's single occurrence lives in exactly one document,
    // so min(id) attributes it; dup occurrences are everything else
    val uniques = base
      .select(col(idCol), explode(col("spans")).as("span"))
      .groupBy(col("span"))
      .agg(count(lit(1)).as("c"), min(col(idCol)).as("only_doc"))
      .filter(col("c") === 1)
      .groupBy(col("only_doc").as(idCol))
      .agg(count(lit(1)).as("n_unique"))
    val frac = when(
      col("n_spans") > 0,
      col("n_dup_spans").cast("double") / col("n_spans").cast("double")
    ).otherwise(lit(0.0))
    base
      .select(col(idCol), col("n_spans"))
      .join(uniques, Seq(idCol), "left")
      .withColumn("n_dup_spans", col("n_spans") - coalesce(col("n_unique"), lit(0L)))
      .select(col(idCol), col("n_spans"), col("n_dup_spans"))
      .withColumn("dup_span_frac", frac)
      .withColumn("keep_doc", frac < maxDupSpanFrac)
  }

  /** Exact span dedup with FIRST-OCCURRENCE retention — the
    * RefinedWeb-style exact-substring dedup (Penedo et al. 2023 §3.3)
    * at token-window granularity: every `n`-token window that repeats
    * anywhere in the corpus is REMOVED except its globally-first
    * occurrence (ordered by (doc id, position) — deterministic and
    * engine-reproducible), and each document's text is reconstructed
    * from the surviving tokens. [[dupSpanStats]] FLAGS repetition-heavy
    * documents; this operator CLEANS partial repetition out of the kept
    * ones — the pair of rules a real pre-training pass ships.
    *
    * A token survives iff no removed span covers its position. Outputs
    * one row per non-NULL-text document: token counts before/after and
    * the cleaned text (documents shorter than `n` pass through).
    *
    * Scale shape: scan-local window fingerprints → slim (id, pos, hash)
    * occurrence rows ride ONE shuffle into a per-span aggregate
    * (count + min (id, pos) — both combiner-friendly, no window sort
    * over skewed span groups) → only spans with >1 occurrence join back
    * (tiny on a mostly-unique corpus; AQE broadcasts) → per-doc removal
    * lists are bounded by document length. The reconstruct is
    * scan-local lambda work; document text never shuffles.
    */
  def dedupSpansExact(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13
  ): org.apache.spark.sql.DataFrame = {
    require(n >= 2, s"span width must be >= 2 tokens, got $n")
    val base = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .withColumn("spans", spanFingerprints(col("toks"), n))
    // 1-based window start positions alongside each fingerprint.
    // localCheckpoint: occ feeds TWO consumers (the firsts aggregate and
    // the removal join), and without it each re-runs the full
    // tokenize+md5+posexplode subtree — the most expensive scan-local
    // work in the operator, paid twice (the r13 before-plan shows the
    // whole Generate subtree duplicated). The checkpoint holds only the
    // slim (id, pos, fingerprint) proxy rows — document text never
    // materializes — and is released by the caller's storage sweep /
    // ContextCleaner like every other operator-internal checkpoint
    // (connectedComponents precedent). At 100 TB this boundary is the
    // usual parquet materialization between pipeline jobs.
    val occ = base
      .select(col(idCol), posexplode(col("spans")).as(Seq("pos0", "span")))
      .select(col(idCol), (col("pos0") + 1).as("pos"), col("span"))
      .localCheckpoint()
    // one combiner-friendly aggregate: occurrence count + the globally
    // first (id, pos) — min over a struct is lexicographic, and (id,
    // pos) is unique per occurrence, so the pick is total. No window
    // sort: an ultra-common span (the skew case at 100 TB) reduces
    // map-side instead of piling into one sorted partition.
    val firsts = occ
      .groupBy(col("span"))
      .agg(
        count(lit(1)).as("occ_count"),
        min(struct(col(idCol).as("fid"), col("pos").as("fpos"))).as("first")
      )
      .filter(col("occ_count") > 1)
      .select(col("span"), col("first"))
    val removals = occ
      .join(firsts, Seq("span"))
      .filter(!(col(idCol) === col("first.fid") && col("pos") === col("first.fpos")))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
    base
      .join(removals, Seq(idCol), "left")
      .withColumn("starts", coalesce(col("starts"), array().cast("array<int>")))
      .withColumn(
        "clean_toks",
        filter(
          col("toks"),
          (_, i) => !exists(col("starts"), s => (i + 1) >= s && (i + 1) < s + n)
        )
      )
      .select(
        col(idCol),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("clean_toks"))).cast("long").as("n_removed"),
        concat_ws(" ", col("clean_toks")).as("clean_text")
      )
  }

  /** Corpus-frequency document scoring — the language-model-filtering
    * shape (CCNet-style: score each document by how typical its tokens
    * are of the corpus) with EXACT integer internals so the score is
    * engine-reproducible: no log/perplexity transcendentals whose last
    * ulp differs between libm implementations.
    *
    *   - `mean_token_freq` = Σ count(tok) / (n_tokens × corpus_tokens):
    *     the mean corpus frequency of the document's tokens. High =
    *     stopword-heavy/common text, low = rare-token text; both tails
    *     are the usual filter targets.
    *   - `oov_frac` = fraction of tokens with corpus count < `minCount`
    *     — the out-of-vocabulary rate against the corpus itself.
    *
    * All aggregation is integer (order-free exact); each output is ONE
    * final double division, so a DuckDB oracle matches bit-for-bit.
    *
    * Scale shape: vocabulary aggregation (map-side combine) → token
    * equi-join (AQE broadcasts small vocabularies; shuffle join
    * otherwise) → per-doc integer aggregation (map-side combine) → a
    * one-row broadcast of the corpus total. Two shuffles on a 100 TB
    * corpus, both combiner-friendly. NULL-text documents are absent
    * from the output (null tokens explode to nothing), matching the
    * oracle's `WHERE text IS NOT NULL`.
    */
  def corpusFrequencyStats(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      minCount: Long = 5L
  ): org.apache.spark.sql.DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    // explicit null-text drop: explode would discard the rows anyway,
    // but the attribute-level predicate reaches the parquet scan
    // (InferFiltersFromGenerate, which used to derive it, is excluded
    // session-wide — see Sessions — because its inferred filter
    // re-evaluates the whole generator expression; this one is free)
    val toks = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("tok_count"))
    val totals = vocab.agg(sum(col("tok_count")).as("corpus_tokens"))
    toks
      .join(vocab, Seq("tok"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("tok_count")).as("freq_sum"),
        sum(when(col("tok_count") < minCount, 1L).otherwise(0L)).as("oov_count")
      )
      .crossJoin(org.apache.spark.sql.functions.broadcast(totals))
      .select(
        col(idCol),
        col("n_tokens"),
        // cast each factor BEFORE multiplying: a long product overflows
        // at ~2.5e13 corpus tokens × ~4e5-token docs; the double product
        // is overflow-free and identical on both engines (one IEEE
        // multiply of exactly-converted longs)
        (col("freq_sum").cast("double") / (col("n_tokens").cast("double") * col("corpus_tokens").cast("double")))
          .as("mean_token_freq"),
        (col("oov_count").cast("double") / col("n_tokens").cast("double")).as("oov_frac")
      )
  }

  /** Exact n-gram decontamination — the GPT-3/PaLM eval-leakage rule
    * (Brown et al. 2020 App. C; Chowdhery et al. 2022 App. D): flag
    * every training document that shares at least `minHits` exact
    * `n`-token windows with a benchmark/eval set. The complement of
    * [[graft.dedup.Dedup.crossLshPairs]] (d7): LSH catches NEAR
    * duplicates of whole documents; this catches literal leakage of any
    * single n-gram (a quoted test question inside an otherwise novel
    * page), which near-dup similarity never reaches.
    *
    * Output: one row per CONTAMINATED training document —
    * (id, n_spans, n_hit_spans, n_grams_hit, hit_frac): total window
    * count, windows matching the benchmark set, DISTINCT benchmark
    * grams matched, and the contaminated-window fraction. Removal is
    * composition (anti-join on the flagged ids, the d8b shape).
    *
    * Scale shape — the asymmetry is the whole design: eval sets are
    * MBs, the corpus is the 100 TB side. Benchmark windows dedup to a
    * slim one-column distinct (tiny shuffle on the small side only) and
    * BROADCAST; corpus windows are scan-local ([[spanFingerprints]],
    * never materialized off the scan) and probe the broadcast hash
    * relation in place, so corpus text neither shuffles nor leaves the
    * scan stage. Only HIT rows (vanishingly rare by construction) reach
    * the per-doc aggregate, and both aggregates are combiner-friendly.
    * One pass over the corpus, zero corpus-side shuffle beyond the
    * near-empty hit stream.
    */
  def exactNgramDecontaminate(
      corpus: org.apache.spark.sql.DataFrame,
      bench: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13,
      minHits: Long = 1L
  ): org.apache.spark.sql.DataFrame = {
    require(n >= 2, s"n-gram width must be >= 2 tokens, got $n")
    require(minHits >= 1, s"minHits must be >= 1, got $minHits")
    val benchGrams = bench
      .filter(col(textCol).isNotNull)
      .select(explode(spanFingerprints(tokens(col(textCol)), n)).as("span"))
      .distinct()
    // n_spans sits BESIDE the fingerprints (the x12 discipline): the
    // count-only branch then prunes to plain token arithmetic — without
    // it, size(spans) re-ran the md5 window fingerprinting over the
    // whole corpus a second time just to count the windows
    val toksC = tokens(col(textCol))
    val base = corpus
      .filter(col(textCol).isNotNull)
      .select(
        col(idCol),
        spanFingerprints(toksC, n).as("spans"),
        greatest(size(toksC) - (n - 1), lit(0)).cast("long").as("n_spans")
      )
    val hits = base
      .select(col(idCol), explode(col("spans")).as("span"))
      .join(broadcast(benchGrams), Seq("span"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_hit_spans"),
        count_distinct(col("span")).as("n_grams_hit")
      )
      .filter(col("n_hit_spans") >= minHits)
    base
      .select(col(idCol), col("n_spans"))
      .join(hits, Seq(idCol))
      .select(
        col(idCol),
        col("n_spans"),
        col("n_hit_spans"),
        col("n_grams_hit"),
        (col("n_hit_spans").cast("double") / col("n_spans").cast("double")).as("hit_frac")
      )
  }

  /** Bloom-gated exact n-gram decontamination — [[exactNgramDecontaminate]]
    * for the regime where the benchmark-window set is TOO BIG TO
    * BROADCAST as a hash relation (a full eval-suite union at 100 TB
    * corpus scale: hundreds of millions of distinct windows × 32-char
    * keys blows the broadcast threshold; x17's broadcast-probe design
    * assumes the opposite). Result is IDENTICAL to x17 by construction
    * — the sketch can only over-admit (no false negatives), and the
    * exact verify join removes every false positive — so the two
    * operators share one oracle.
    *
    * Gate: a Spark `util.sketch.BloomFilter` built over
    * `xxhash64(window)` on the benchmark side (driver-built via the
    * public `df.stat.bloomFilter`, ~1.2 bytes/window at 1% fpp — 10×+
    * smaller than the corresponding broadcast hash relation) is shipped
    * once per executor inside a codegen'd
    * `BloomFilterMightContain(bloomLiteral, xxhash64(span))` predicate —
    * the same expression Spark's own runtime row-level filtering
    * injects, probing with `mightContainLong` against the builder's
    * `putLong`, so the whole corpus-side prefilter stays inside
    * whole-stage codegen (no UDF).
    *
    * Scale shape: corpus windows are scan-local and probe the sketch in
    * place; only survivors (true hits + fpp × n_windows — near-empty by
    * construction) enter the exact verify join, so the corpus side of
    * that join's exchange carries ~fpp of the window stream instead of
    * all of it. The verify join is deliberately NOT broadcast-hinted:
    * in the target regime the bench side shuffles (it was too big to
    * broadcast), and the bloom gate is precisely what makes the corpus
    * side of that shuffle affordable. At test scale AQE may still
    * choose broadcast — an optimization, not a contract.
    *
    * RESOURCE LIFETIME: the returned (lazy) DataFrame retains two
    * session-lived allocations until the session ends or the caller
    * releases them — the persisted bench-gram relation (registered in
    * the session CacheManager; the slim distinct feeds three consumers
    * and must not re-shingle per consumer), and the serialized bloom
    * sketch embedded as a plan literal. A one-shot caller (run,
    * consume, move on — the bench harness's inter-query
    * `clearCache()` sweep is one such) pays nothing; a LONG-LIVED
    * session composing many decontamination calls should use
    * [[exactNgramDecontaminateBloomRun]], which runs the caller's
    * action and releases the cached relation before returning (the
    * plan literal's heap copy is released with the result's plan).
    */
  def exactNgramDecontaminateBloom(
      corpus: org.apache.spark.sql.DataFrame,
      bench: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13,
      minHits: Long = 1L,
      fpp: Double = 0.01
  ): org.apache.spark.sql.DataFrame =
    bloomDecontaminatePlan(corpus, bench, idCol, textCol, n, minHits, fpp)._1

  /** [[exactNgramDecontaminateBloom]] with bounded resource lifetime for
    * long-lived sessions: runs `action` over the result (an eager
    * consume — write, collect, count) and releases the persisted
    * bench-gram relation before returning. A result DataFrame that
    * escapes `action` unconsumed stays correct (the cache entry's
    * lineage recomputes) but silently re-shingles the bench side per
    * later consumer — consume inside the action.
    */
  def exactNgramDecontaminateBloomRun[T](
      corpus: org.apache.spark.sql.DataFrame,
      bench: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13,
      minHits: Long = 1L,
      fpp: Double = 0.01
  )(action: org.apache.spark.sql.DataFrame => T): T = {
    val (result, benchGrams) =
      bloomDecontaminatePlan(corpus, bench, idCol, textCol, n, minHits, fpp)
    try action(result)
    finally benchGrams.unpersist(blocking = false)
  }

  private def bloomDecontaminatePlan(
      corpus: org.apache.spark.sql.DataFrame,
      bench: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minHits: Long,
      fpp: Double
  ): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    require(n >= 2, s"n-gram width must be >= 2 tokens, got $n")
    require(minHits >= 1, s"minHits must be >= 1, got $minHits")
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0, 1), got $fpp")
    implicit val spark: org.apache.spark.sql.SparkSession = corpus.sparkSession
    // persisted: the slim distinct feeds THREE consumers (the count,
    // the sketch build, the exact verify join) — without it the bench
    // side re-shingles once per consumer. persist(), NOT
    // localCheckpoint(): Dataset.unpersist is a no-op on a checkpointed
    // frame (checkpoint RDDs bypass the CacheManager), so the ...Run
    // overload could never actually release a checkpoint — a cache
    // entry it can.
    val benchGrams = bench
      .filter(col(textCol).isNotNull)
      .select(explode(spanFingerprints(tokens(col(textCol)), n)).as("span"))
      .distinct()
      .persist()
    // driver-built sketch: one pass over the SMALL side; expectedNumItems
    // from a count job on the same slim distinct (cheap, bench-side only)
    val hashed = benchGrams.select(xxhash64(col("span")).as("h"))
    val expected = math.max(hashed.count(), 1L)
    val bloom = hashed.stat.bloomFilter("h", expected, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val bloomDigest = java.security.MessageDigest
      .getInstance("MD5")
      .digest(bytes)
      .map("%02x".format(_))
      .mkString
    def mightContain(value: Column): Column =
      graft.expressions.Registration.parameterized(
        "graft_bloom_might",
        digestSource = s"bloom:$bloomDigest",
        builder = es =>
          org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
            org.apache.spark.sql.catalyst.expressions.Literal
              .create(bytes, org.apache.spark.sql.types.BinaryType),
            es.head
          ),
        xxhash64(value)
      )
    // n_spans beside the fingerprints — the same x12/x17 discipline:
    // the count-only branch prunes to token arithmetic instead of
    // re-running the md5 window fingerprinting to count windows
    val toksC = tokens(col(textCol))
    val base = corpus
      .filter(col(textCol).isNotNull)
      .select(
        col(idCol),
        spanFingerprints(toksC, n).as("spans"),
        greatest(size(toksC) - (n - 1), lit(0)).cast("long").as("n_spans")
      )
    val hits = base
      .select(col(idCol), explode(col("spans")).as("span"))
      .filter(mightContain(col("span")))
      .join(benchGrams, Seq("span"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_hit_spans"),
        count_distinct(col("span")).as("n_grams_hit")
      )
      .filter(col("n_hit_spans") >= minHits)
    val result = base
      .select(col(idCol), col("n_spans"))
      .join(hits, Seq(idCol))
      .select(
        col(idCol),
        col("n_spans"),
        col("n_hit_spans"),
        col("n_grams_hit"),
        (col("n_hit_spans").cast("double") / col("n_spans").cast("double")).as("hit_frac")
      )
    (result, benchGrams)
  }

  /** Plain-text `n`-token windows (the un-hashed twin of
    * [[spanFingerprints]]) — for operators whose OUTPUT is the gram
    * itself, not a dedup key. Same [[graft.functions.Functions.bindOnce]]
    * binding for the same O(doc²) reason.
    */
  private def gramTexts(toks: Column, n: Int): Column =
    graft.functions.Functions.bindOnce(toks) { ts =>
      when(
        size(ts) >= n,
        transform(
          sequence(lit(1), size(ts) - (n - 1)),
          i => concat_ws(" ", slice(ts, i, lit(n)))
        )
      ).otherwise(array().cast("array<string>"))
    }

  /** Frequent n-gram mining — the boilerplate DETECTOR that pairs with
    * the span-dedup CLEANERS (x12/x13): surface the corpus's top-`topK`
    * cross-document repeated `n`-token phrases ("click here to
    * subscribe", license headers, scraper chrome) with exact counts, so
    * a removal rule can be written against evidence instead of guessed.
    * This is how C4's famous boilerplate rules were found (Raffel et
    * al. 2020 §2.2 curate by inspecting frequent spans) — the miner is
    * the first pass a new crawl gets.
    *
    * Output: (gram, n_docs, n_occurrences) for grams appearing in at
    * least `minDocs` DISTINCT documents, ordered by (n_docs DESC,
    * n_occurrences DESC, gram) — the gram tiebreak makes the top-K cut
    * total, so the result is deterministic and engine-reproducible.
    *
    * Scale shape: gram rows ride ONE shuffle into a combiner-friendly
    * aggregate — map-side partial aggregation collapses each
    * partition's repeats before the exchange, so the shuffle carries
    * per-partition-distinct grams, not the raw window stream; the
    * `minDocs` filter then drops the (overwhelmingly unique) tail
    * before the top-K, which executes as TakeOrderedAndProject (per-
    * partition bounded heaps, no global sort). Document text never
    * shuffles. At 100 TB the approximate alternative is a count-min
    * sketch of gram hashes; this exact form is affordable because the
    * shuffle rows are slim (≤ n tokens each) and combiner-collapsed.
    */
  def frequentNgrams(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minDocs: Long = 2L,
      topK: Int = 100
  ): org.apache.spark.sql.DataFrame = {
    require(n >= 2, s"n-gram width must be >= 2 tokens, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2 (1 would emit every window), got $minDocs")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(gramTexts(tokens(col(textCol)), n)).as("gram"))
      .groupBy(col("gram"))
      .agg(
        count_distinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences")
      )
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("n_occurrences").desc, col("gram"))
      .limit(topK)
  }

  /** [[frequentNgrams]] for the regime its scale note declares out of
    * exact reach — where even the combiner-collapsed distinct-gram
    * shuffle is too heavy because the unique tail (the overwhelming
    * majority of gram mass in a crawl) still crosses the exchange once
    * per partition it appears in. Two passes, the x18 bloom-gate shape
    * with a COUNTING sketch:
    *
    *   1. SKETCH: one scan-local pass builds a count-min sketch over
    *      `xxhash64(gram)` occurrences (`df.stat.countMinSketch` —
    *      partial sketches merge cell-wise on the driver; ~depth×width
    *      longs, broadcast once per executor regardless of corpus
    *      size);
    *   2. VERIFY: the gram stream re-derives scan-locally and only
    *      grams whose estimate clears `minDocs` enter the exact
    *      aggregate — a codegen'd [[graft.expressions.CmsAtLeast]]
    *      predicate on the scan, no UDF.
    *
    * Result is IDENTICAL to [[frequentNgrams]] by construction, so the
    * two share one oracle (the x18 precedent): the sketch only
    * OVER-estimates, and n_docs ≤ n_occurrences, so every gram with
    * true n_docs ≥ minDocs has estimate ≥ minDocs and survives the
    * gate — zero false negatives; the gate's false positives (an
    * eps·N-bounded inflated tail) are removed by the exact aggregate's
    * own minDocs filter. `eps` tunes gate SELECTIVITY only, never
    * correctness — pick eps so eps × total-gram-count ≪ the occurrence
    * bar you care about, or the gate admits tail noise and pass 2
    * degrades toward the exact form's shuffle (never past it).
    *
    * `eps ≤ 0` (the default) DERIVES the sketch size from the corpus
    * the way [[graft.similarity.Similarity.lshConfigFor]] derives LSH
    * shape: one cheap tokenize-and-count aggregate (no gram
    * materialization) yields the exact window count N, and
    * [[cmsEpsFor]] sets eps = 2/N — sketch width ≈ N counters, so the
    * typical per-key inflation stays ≈ 1 occurrence REGARDLESS of
    * corpus size, instead of a fixed eps whose inflated tail grows
    * linearly with N. The floor on eps caps the broadcast sketch at a
    * plan-shippable size; past the cap (N ≫ 2/minEps) the typical
    * inflation is N·minEps/2, i.e. the gate keeps pruning exactly when
    * the bar is a RELATIVE frequency above ~minEps — the standard CMS
    * contract — and degrades to admit-everything (correct, unpruned)
    * below it.
    *
    * Cost trade: pays a second corpus scan (tokenize+window is cheap,
    * scan-local, pipelined) to delete the unique tail from the one
    * shuffle — at crawl scale the shuffle, not the scan, is the
    * bottleneck, which is exactly when this form wins.
    */
  def frequentNgramsSketched(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minDocs: Long = 2L,
      topK: Int = 100,
      eps: Double = 0.0,
      confidence: Double = 0.99,
      seed: Int = 42
  ): org.apache.spark.sql.DataFrame = {
    require(n >= 2, s"n-gram width must be >= 2 tokens, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2 (1 would emit every window), got $minDocs")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    implicit val spark: org.apache.spark.sql.SparkSession = df.sparkSession
    val nonNull = df.filter(col(textCol).isNotNull)
    val epsR =
      if (eps > 0) eps
      else {
        // exact window count without materializing a single gram:
        // windows per doc = max(0, tokens - (n-1))
        val row = nonNull
          .select(greatest(lit(0), size(tokens(col(textCol))) - lit(n - 1)).cast("long").as("w"))
          .agg(sum(col("w")).as("nw"))
          .head()
        cmsEpsFor(if (row.isNullAt(0)) 0L else row.getLong(0))
      }
    val grams = nonNull
      .select(col(idCol), explode(gramTexts(tokens(col(textCol)), n)).as("gram"))
    val cms = grams
      .select(xxhash64(col("gram")).as("h"))
      .stat
      .countMinSketch("h", epsR, confidence, seed)
    val bytes = cms.toByteArray
    val cmsDigest = java.security.MessageDigest
      .getInstance("MD5")
      .digest(bytes)
      .map("%02x".format(_))
      .mkString
    def gate(value: Column): Column =
      graft.expressions.Registration.parameterized(
        "graft_cms_gate",
        digestSource = s"cms:$cmsDigest:$minDocs",
        builder = es => graft.expressions.CmsAtLeast(bytes, minDocs, es.head),
        xxhash64(value)
      )
    grams
      .filter(gate(col("gram")))
      .groupBy(col("gram"))
      .agg(
        count_distinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences")
      )
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("n_occurrences").desc, col("gram"))
      .limit(topK)
  }

  /** The derived count-min eps for a corpus of `nWindows` gram windows:
    * eps = 2/N targets sketch width ≈ N (Spark sizes width =
    * ceil(2/eps)), i.e. typical per-key inflation ≈ 1 occurrence at any
    * corpus size. Clamped: `maxEps` keeps a tiny corpus's sketch from
    * rounding to a handful of counters; `minEps` caps the driver-merged,
    * plan-shipped sketch (width 2/minEps counters ×
    * ceil(-log1p(-confidence)/log 2) rows × 8 B — ~11 MB at the
    * defaults), which bounds gate usefulness to relative-frequency bars
    * above ~minEps past N = 2/minEps (see
    * [[frequentNgramsSketched]]'s doc).
    */
  def cmsEpsFor(nWindows: Long, minEps: Double = 1e-5, maxEps: Double = 1e-2): Double = {
    require(minEps > 0 && maxEps >= minEps, s"need 0 < minEps <= maxEps, got $minEps/$maxEps")
    math.min(maxEps, math.max(minEps, 2.0 / math.max(1L, nWindows).toDouble))
  }
}
