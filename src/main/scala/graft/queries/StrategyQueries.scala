package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables

import graft.queries.Oracle.{Fixture, Sql, fixturePath}

/** Accounts and strategies queries: position metrics, LIFO entry
  * credits, option-chain and trade-chain JSON flattening, strategy
  * netting, and the fixture-checked classifier (s11), health monitor
  * (h1) and max profit/loss (a5). The legs tables are pure functions of
  * p_partkey and blocks of 10 partkeys are complete at every scale, so
  * one fixture generated at sf0.1 serves every smaller scale: its oracle
  * scale-filters by joining part.
  */
object StrategyQueries {

  private val S11FixturePath: String = fixturePath("s11_expected.parquet")
  private val H1FixturePath: String = fixturePath("h1_expected.parquet")
  private val A5FixturePath: String = fixturePath("a5_expected.parquet")

  /** J2 — the full position-metrics wide table (reference
    * `analytics/metrics.py:94-195` + `positions.py:528-760`): synthetic
    * positions derived from `part` with REST/WS duplicate copies, merged
    * by [[graft.metrics.Metrics.dedupePositions]] (streamer-symbol copy
    * wins, equity fallback, quoteless non-equity dropped), then the
    * quote/greeks/instrument/credit join chain with the delta-1
    * theoretical greek defaults. Every rule is SQL-expressible, so the
    * whole pipeline hash-matches a DuckDB oracle.
    */
  def j2PositionMetrics(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val k = pmod($"p_partkey", lit(500)).cast("long")
    val sym = concat(lit("S"), k.cast("string"))
    val itype = when(pmod($"p_partkey", lit(4)) === 0, "Equity")
      .when(pmod($"p_partkey", lit(4)) === 1, "Equity Option")
      .when(pmod($"p_partkey", lit(4)) === 2, "Future")
      .otherwise("Equity Option")
    val positions = p.select(
      $"p_partkey".cast("long").as("row_id"),
      sym.as("symbol"),
      sym.as("underlying_symbol"),
      itype.as("instrument_type"),
      when(pmod($"p_partkey", lit(3)) === 0, lit(null).cast("string"))
        .otherwise(concat(lit(".XS"), k.cast("string"))).as("streamer_symbol"),
      (pmod($"p_partkey", lit(7)) + 1).cast("double").as("quantity"),
      when(pmod($"p_partkey", lit(11)) === 0, "Closed")
        .when(pmod($"p_partkey", lit(2)) === 0, "Long")
        .otherwise("Short").as("quantity_direction"),
      when(itype.isin("Equity Option", "Future Option"), 100.0)
        .when(itype === "Future", 50.0)
        .otherwise(1.0).as("multiplier")
    )
    val slots = p.select(k.as("k")).distinct()
    val kd = $"k".cast("double")
    val quotes = slots
      .select(
        concat(lit(".XS"), $"k".cast("string")).as("streamer_symbol"),
        round(kd * 0.5 + 1.0, 2).as("bid_price"),
        round(kd * 0.5 + 1.2, 2).as("ask_price")
      )
      .union(slots.select(
        concat(lit("S"), $"k".cast("string")),
        round(kd + 10.0, 2),
        round(kd + 10.4, 2)
      ))
    // partial coverage (k%5==0 missing) exercises the awaiting-greeks path
    val greeks = slots.filter(pmod($"k", lit(5)) =!= 0).select(
      concat(lit(".XS"), $"k".cast("string")).as("streamer_symbol"),
      round(kd / 500.0 - 0.5, 4).as("delta"),
      round(kd / 10000.0, 6).as("gamma"),
      round(-kd / 2000.0, 6).as("theta"),
      round(kd / 1000.0, 6).as("vega")
    )
    // partial coverage (k%7==0 missing) exercises the null-instrument path
    val instruments = slots.filter(pmod($"k", lit(7)) =!= 0).select(
      concat(lit("S"), $"k".cast("string")).as("symbol"),
      when(pmod($"k", lit(2)) === 0, "C").otherwise("P").as("option_type"),
      $"k".cast("decimal(12,3)").as("strike_price"),
      lit(java.sql.Date.valueOf("2026-09-18")).as("expiration_date"),
      (pmod($"k", lit(45)) + 1).cast("int").as("days_to_expiration")
    )
    val credits = slots.filter(pmod($"k", lit(2)) === 0).select(
      concat(lit("S"), $"k".cast("string")).as("symbol"),
      (-$"k" * 10).cast("decimal(12,2)").as("entry_credit"),
      (kd / 10.0).cast("decimal(12,2)").as("fees")
    )
    graft.metrics.Metrics
      .positionMetrics(graft.metrics.Metrics.dedupePositions(positions, "row_id"), quotes, greeks, instruments, credits)
      .select(
        $"symbol", $"streamer_symbol", $"instrument_type", $"quantity", $"quantity_direction",
        $"multiplier", $"bid_price", $"ask_price", $"mid_price", $"delta", $"gamma", $"theta", $"vega",
        $"option_type",
        // DECIMAL stays inside the pipeline (strike/credit/fee arithmetic is
        // decimal-typed, as in the reference); the compare surface is DOUBLE
        // because driver-side hash canonicalization of DECIMAL is
        // format-ambiguous (bit-exact values can still hash red). Values are exact
        // at <=3 dp, so the cast is lossless.
        $"strike_price".cast("double").as("strike_price"),
        date_format($"expiration_date", "yyyy-MM-dd").as("expiry"),
        $"days_to_expiration",
        $"entry_credit".cast("double").as("entry_credit"),
        $"fees".cast("double").as("fees"),
        $"signed_quantity", $"dollar_theta"
      )
      .orderBy("symbol")
  }

  /** A8 — LIFO entry-credit replay over a synthetic fill stream derived
    * deterministically from lineitem (symbol per supplier, open/close
    * actions from the line number, Decimal money).
    */
  def a8Lifo(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val txns = li.select(
      concat(lit("S"), $"l_suppkey").as("symbol"),
      // + orderkey*8 + linenumber makes the sort key TOTAL (linenumber
      // < 8): the fold order, hence the oracle compare, is deterministic
      (unix_timestamp($"l_shipdate") * 1000000L + $"l_orderkey" * 8 + $"l_linenumber")
        .as("executed_at_us"),
      element_at(
        array(lit("Buy to Open"), lit("Sell to Close"), lit("Sell to Open"), lit("Buy to Close")),
        (pmod($"l_linenumber", lit(4)) + 1).cast("int")
      ).as("action"),
      // price via MULTIPLICATION, not division: 2dp × (1 + 2dp) terminates
      // at 4dp, so round(_, 4) never sits on a tie — division (ep/qty with
      // qty = 8, 16, 32...) lands exactly on x.xxxx5 ties where Spark's
      // exact-expansion HALF_UP and DuckDB's multiply-based round() pick
      // opposite sides (~1% of rows diverge).
      round($"l_extendedprice" * (lit(1.0) + $"l_discount"), 4).as("price"),
      $"l_extendedprice".as("value"),
      when($"l_discount" > 0.05, "Credit").otherwise("Debit").as("value_effect"),
      round($"l_extendedprice" * (lit(1.0) + $"l_tax"), 4).as("net_value"),
      greatest($"l_quantity".cast("int"), lit(1)).as("quantity")
    )
    // every symbol positioned at the constant 25: the general
    // entryCredits(txns, distinct-symbols × 25) inner join is the
    // identity here, so the uniform fast path drops the second lineitem
    // scan, the distinct exchange and the broadcast join (equality
    // pinned by LifoSpec's uniform-path test)
    graft.accounts.Lifo
      .entryCreditsUniform(txns, 25)
      // compare surface: DECIMAL(18,6) money → DOUBLE (lossless at 6 dp;
      // the j2 lesson — DECIMAL canonicalization is format-ambiguous in
      // the driver hash), count → BIGINT to match DuckDB's count(*)
      .select(
        $"symbol",
        $"entry_credit".cast("double").as("entry_credit"),
        $"fees".cast("double").as("fees"),
        $"weighted_price".cast("double").as("weighted_price"),
        $"transaction_count".cast("long").as("transaction_count")
      )
      .orderBy("symbol")
  }

  /** §2.11 legs synthesis, shared VERBATIM with [[s11Expected]] so the
    * fixture generator and the live query cannot drift (the same
    * coupling discipline as Multimodal.packDocuments for m1).
    *
    * underlying = blocks of 10 consecutive partkeys: group size stays
    * portfolio-shaped (~10 legs) at every scale factor — the greedy
    * matcher's combinations(n, 4) must never see data-volume-sized n.
    * partkeys are 0-based and contiguous at every sf, so every block is
    * COMPLETE and a group's content is scale-invariant: sf0.01's groups
    * are a strict subset of sf0.1's, which is what lets one committed
    * sf0.1 fixture serve every scale (the oracle scale-filters by
    * joining part, exactly like m1's join on documents).
    *
    * Every derived field is a function of p_partkey / p_retailprice
    * ONLY: those are scale-invariant in the corpus, whereas p_size is
    * drawn independently per scale factor (sf0.01's partkey 0 has
    * p_size 11, sf0.1's has 1) — a p_size-derived leg field would make
    * the same underlying classify differently per sf and invalidate the
    * single committed fixture (caught by the cross-scale verify probe).
    * Within a block of 10, k mod 2 (sign) and k mod 5 (option type) are
    * independent by CRT, and the absolute-key mod-7 equity slot and
    * div-3 expiration shift per block, so matcher variety is preserved.
    */
  def s11Legs(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .part(spark, dir)
      .select(
        concat(lit("L"), $"p_partkey").as("symbol"),
        concat(lit("U"), expr("p_partkey div 10")).as("underlying"),
        when(pmod($"p_partkey", lit(7)) === 0, "Equity").otherwise("Equity Option").as("instrument_type"),
        (when(pmod($"p_partkey", lit(2)) === 0, 1.0).otherwise(-1.0) *
          (pmod($"p_partkey", lit(3)) + 1)).as("signed_quantity"),
        when(pmod($"p_partkey", lit(7)) === 0, lit(null).cast("string"))
          .otherwise(when(pmod($"p_partkey", lit(5)) < 2, "C").otherwise("P")).as("option_type"),
        // strike ladder: the block's retailprice base plus a mod-4 rung
        // (0/5/10/15) — without the rungs a block's strikes collapse to
        // ~one value (retailprice spans 1.0 per block) and the
        // same-expiry different-strike matchers (verticals, condors,
        // butterflies) never fire
        when(pmod($"p_partkey", lit(7)) === 0, lit(null).cast("decimal(12,3)"))
          .otherwise((round($"p_retailprice", 0) + pmod($"p_partkey", lit(4)) * 5).cast("decimal(12,3)")).as("strike"),
        when(pmod($"p_partkey", lit(7)) === 0, lit(null).cast("date"))
          .otherwise(
            date_add(
              lit(java.sql.Date.valueOf("2026-03-20")),
              (pmod(expr("p_partkey div 3"), lit(3)) * 28).cast("int")
            )
          ).as("expiration")
      )
  }

  /** S8 — the nested option-chain REST payload synthesized
    * DETERMINISTICALLY from part (roots → expirations → strikes →
    * {call, put}, some sides missing — the reference shape,
    * `market/option_chains.py:32-141`), serialized to REAL JSON, then
    * flattened through the REAL parse path
    * ([[graft.io.OptionChains.flatten]]: `from_json` with the declared
    * schema → two explodes → call/put `stack` unpivot → null-side
    * drop). Because the synthesis is a pure per-partkey function, the
    * flattened row SET is a pure function of part — so the DuckDB
    * oracle restates the whole contract relationally from part,
    * verifying the JSON round-trip + flatten end-to-end (row-set
    * equality; the compare sorts rows, so array order inside the JSON
    * is immaterial).
    */
  def s8ChainFlatten(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables
      .part(spark, dir)
      .select(
        concat(lit("U"), expr("p_partkey div 10")).as("underlying"),
        $"p_partkey".as("pk"),
        (round($"p_retailprice", 0) + pmod($"p_partkey", lit(4)) * 5)
          .cast("decimal(12,3)").as("strike"),
        pmod($"p_partkey", lit(2)).cast("int").as("expi")
      )
    // strike node: each side present only when its mod-rule fires (the
    // missing-side drop is part of the contract under test)
    val strikes = base.select(
      $"underlying", $"expi",
      struct(
        $"strike".cast("string").as("strike_price"),
        when(pmod($"pk", lit(3)) =!= 0, concat(lit("C"), $"pk")).as("call"),
        when(pmod($"pk", lit(2)) =!= 0, concat(lit("P"), $"pk")).as("put")
      ).as("s")
    )
    val expirations = strikes
      .groupBy($"underlying", $"expi")
      .agg(collect_list($"s").as("strikes"))
      .select(
        $"underlying",
        struct(
          date_format(date_add(lit(java.sql.Date.valueOf("2026-03-20")), $"expi" * 28), "yyyy-MM-dd")
            .as("expiration_date"),
          ($"expi" * 28 + 10).cast("int").as("days_to_expiration"),
          lit("PM").as("settlement_type"),
          $"strikes"
        ).as("e")
      )
    val chains = expirations
      .groupBy($"underlying")
      .agg(collect_list($"e").as("expirations"))
      .select(to_json(struct($"underlying", $"underlying".as("root"), $"expirations")).as("json"))
    graft.io.OptionChains
      .flatten(chains)
      // DECIMAL and DATE off the compare surface (the j2 rule:
      // format-ambiguous types hash differently even when equal)
      .withColumn("strike", $"strike".cast("double"))
      .withColumn("expiration_date", $"expiration_date".cast("string"))
      .orderBy("underlying", "symbol")
  }

  /** The j7 chains table: the nested TradeChain JSON (chain →
    * lite-nodes → market-state-snapshot → market-datas — the reference
    * `accounts/models.py:995-1147` tree) synthesized DETERMINISTICALLY
    * from orders × lineitem: one chain per customer, one node per
    * order (occurred-at from the order date), one market-data per
    * lineitem with exact-double greeks, node net greeks a pure
    * orderkey function. Serialized to REAL JSON so
    * [[graft.io.TradeChains.snapshots]] exercises the REAL declared-
    * schema `from_json` parse (missing fields → null, the permissive
    * reference contract).
    */
  def j7Chains(spark: SparkSession, dir: String): DataFrame = {
    val md = Tables
      .lineitem(spark, dir)
      .select(
        $"l_orderkey",
        struct(
          concat(lit("S"), $"l_linenumber").as("symbol"),
          ($"l_linenumber".cast("double") / 10).cast("string").as("delta"),
          (-$"l_quantity".cast("double") / 100).cast("string").as("theta")
        ).as("md")
      )
      .groupBy($"l_orderkey")
      .agg(collect_list($"md").as("mds"))
    val nodes = Tables
      .orders(spark, dir)
      .join(md, $"o_orderkey" === $"l_orderkey")
      .select(
        $"o_custkey",
        struct(
          lit("ORDER").as("node-type"),
          concat(lit("N"), $"o_orderkey").as("id"),
          date_format($"o_orderdate", "yyyy-MM-dd'T'00:00:00'Z'").as("occurred-at"),
          struct(
            $"mds".as("market-datas"),
            (pmod($"o_orderkey", lit(100)).cast("double") / 10).cast("string").as("total-delta"),
            (-(pmod($"o_orderkey", lit(50)) + 1).cast("double") / 10).cast("string").as("total-theta")
          ).as("market-state-snapshot")
        ).as("node")
      )
      .groupBy($"o_custkey")
      .agg(collect_list($"node").as("nodes"))
    nodes.select(
      to_json(
        struct(
          concat(lit("CH"), $"o_custkey").as("id"),
          concat(lit("U"), $"o_custkey").as("underlying-symbol"),
          $"nodes".as("lite-nodes")
        )
      ).as("json")
    )
  }

  /** J7 — the snapshot-correlation join through the REAL JSON parse:
    * per-symbol execution greeks equi-joined with the node's NET greeks
    * on node identity ([[graft.io.TradeChains.snapshots]], reference
    * `accounts/orchestrator.py:155-234`). The synthesis is a pure
    * function of orders × lineitem, so the DuckDB oracle restates the
    * whole flatten + join relationally — JSON round-trip verified
    * end-to-end (doubles survive exactly: shortest-repr serialization
    * both ways). Timestamp leaves the compare surface as epoch micros
    * (the ts_us discipline).
    */
  def j7ChainSnapshots(spark: SparkSession, dir: String): DataFrame =
    graft.io.TradeChains
      // no checkpoint: snapshots is join-free (net greeks ride the
      // explode), so the synthesis + parse run exactly once in one
      // linear pipeline — materializing the JSON would only add a
      // write/read of every chain document
      .snapshots(j7Chains(spark, dir))
      .withColumn("occurred_us", unix_micros($"occurred_at"))
      .drop("occurred_at")
      .orderBy("chain_id", "node_id", "symbol")

  /** The h1 legs table: [[s11Legs]] plus the metrics enrichment health
    * reads, both pure per-leg functions of the partkey (parsed back out
    * of the leg symbol so the two syntheses cannot drift):
    *   - `delta`: (pk mod 17 − 8)/10 ∈ {−0.8 … 0.8 step 0.1} for
    *     options, sign(qty)·1.0 for equities (delta-1 instruments);
    *   - `days_to_expiration`: pk·7 mod 45 ∈ {0 … 44} for options
    *     (crosses BOTH the ≤7 critical and ≤14 warning bars), null for
    *     equities.
    * Per-leg determinism + complete partkey blocks of 10 at every sf
    * (the s11 fixture argument) make the sf0.1-generated alert fixture
    * valid at every smaller scale.
    */
  def h1Legs(spark: SparkSession, dir: String): DataFrame = {
    val pk = substring($"symbol", 2, 18).cast("long")
    s11Legs(spark, dir)
      .withColumn(
        "delta",
        when($"instrument_type" === "Equity", signum($"signed_quantity") * lit(1.0))
          .otherwise((pmod(pk, lit(17)) - lit(8)).cast("double") / lit(10.0))
      )
      .withColumn(
        "days_to_expiration",
        when($"instrument_type" === "Equity", lit(null).cast("int"))
          .otherwise(pmod(pk * 7, lit(45)).cast("int"))
      )
  }

  /** §2.11 health — the strategy health monitor CHECKED alert-by-alert
    * against the committed expectation fixture (GenFixtures — the s11
    * technique one level up: classification AND the health rules are a
    * pure deterministic function of the enriched leg group, so the
    * expected alert set is a fixed table keyed by (underlying,
    * legs_key, level, message)). The live query classifies + health-
    * checks per underlying ([[graft.strategies.Health.alertsDf]]),
    * matches each alert against the fixture, and aggregates per
    * (underlying, level); the DuckDB oracle recomputes the aggregate
    * from the fixture alone, scale-filtered by joining part — any
    * divergence (missing alert, extra alert, drifted message text)
    * breaks n/n_match or the group keys.
    */
  def h1Health(spark: SparkSession, dir: String): DataFrame = {
    val fixture = spark.read
      .parquet(H1FixturePath)
      .select(
        $"underlying".as("f_underlying"),
        $"legs_key".as("f_legs_key"),
        $"level".as("f_level"),
        $"message".as("f_message")
      )
    graft.strategies.Health
      .alertsDf(spark, h1Legs(spark, dir))
      .join(
        broadcast(fixture),
        $"underlying" === $"f_underlying" && $"legs_key" === $"f_legs_key" &&
          $"level" === $"f_level" && $"message" === $"f_message",
        "left"
      )
      .groupBy($"underlying", $"level")
      .agg(
        count(lit(1)).as("n"),
        count($"f_underlying").as("n_match")
      )
      .orderBy("underlying", "level")
  }

  /** The a5 legs table: a DEDICATED synthesis (not [[s11Legs]] — its
    * classifier-stressing mix lands mostly on types OUTSIDE the A5
    * formula dispatch and would leave the wing math unexercised).
    * Every field is a pure function of p_partkey, and blocks of 10
    * consecutive partkeys are complete at every sf (the s11 fixture
    * argument), so the sf0.1-generated risk fixture is valid at every
    * smaller scale. Within a block (k = pk mod 10, blk = pk div 10,
    * strike base B = 100 + 5·(blk mod 7), qty q = 1 + blk mod 3),
    * expirations partition the block into four independently-matched
    * sub-strategies:
    *   - k 0–3 (expiry E1): the iron family, variant by blk mod 4 —
    *     symmetric condor / iron butterfly / iron broken-wing /
    *     asymmetric condor (put wing 15 vs call wing 10, exercising
    *     the max(putW, callW) branch of the loss formula);
    *   - k 4–5 (E2): vertical spread, variant by blk mod 4 (all four
    *     bull/bear call/put forms — both the debit and credit max-loss
    *     dispatches); blocks with blk mod 7 = 3 become a same-strike
    *     straddle instead (short = credit + unlimited risk, long =
    *     undefined/undefined);
    *   - k 6–8 (E3): 1:2:1 butterfly (call/put by blk parity; blk mod
    *     5 = 0 breaks a wing → BROKEN_FLY, exercising the narrow-wing
    *     profit vs wide-wing loss split); blocks with blk mod 7 = 5
    *     become a jade lizard instead;
    *   - k 9 (E4): naked short / long single by blk mod 4.
    * Entry values are signed per leg (shorts +credit, longs −debit,
    * magnitude (pk mod 13 + 1)·5 — coprime to the block structure, so
    * net credits cross zero and both branches of every max(0) clamp
    * fire); multiplier is the OCC 100.
    */
  def a5Legs(spark: SparkSession, dir: String): DataFrame = {
    val pk = $"p_partkey"
    val k = pmod(pk, lit(10))
    val blk = expr("p_partkey div 10")
    val b = lit(100) + pmod(blk, lit(7)) * 5
    val q = (pmod(blk, lit(3)) + 1).cast("double")
    val v4 = pmod(blk, lit(4))
    val straddleBlk = pmod(blk, lit(7)) === 3
    val jadeBlk = pmod(blk, lit(7)) === 5
    val brokenBlk = pmod(blk, lit(5)) === 0
    val putFly = pmod(blk, lit(2)) === 1

    val optType =
      when(k <= 1, lit("P"))
        .when(k <= 3, lit("C"))
        .when(k === 4, when(straddleBlk, lit("C")).when(v4 >= 2, lit("P")).otherwise(lit("C")))
        .when(k === 5, when(straddleBlk, lit("P")).when(v4 >= 2, lit("P")).otherwise(lit("C")))
        .when(k === 6, when(jadeBlk, lit("P")).when(putFly, lit("P")).otherwise(lit("C")))
        .when(k <= 8, when(jadeBlk, lit("C")).when(putFly, lit("P")).otherwise(lit("C")))
        .otherwise(when(v4 === 0 || v4 === 2, lit("C")).otherwise(lit("P")))

    val off =
      when(k === 0, when(v4 === 1, -10).when(v4 === 3, -20).otherwise(-15))
        .when(k === 1, when(v4 === 1 || v4 === 2, 0).otherwise(-5))
        .when(k === 2, when(v4 === 1 || v4 === 2, 0).otherwise(5))
        .when(k === 3, when(v4 === 1 || v4 === 2, 10).otherwise(15))
        .when(k === 4, 0)
        .when(k === 5, when(straddleBlk, 0).otherwise(10))
        .when(k === 6, when(jadeBlk, -10).when(brokenBlk, -5).otherwise(-10))
        .when(k === 7, 0)
        .when(k === 8, 10)
        .otherwise(0)

    // sign of quantity: +1 long, −1 short
    val dirn =
      when(k === 0 || k === 3, 1.0)
        .when(k <= 2, -1.0)
        .when(k === 4,
          when(straddleBlk, when(pmod(blk, lit(2)) === 0, -1.0).otherwise(1.0))
            .when(v4 === 0 || v4 === 2, 1.0).otherwise(-1.0))
        .when(k === 5,
          when(straddleBlk, when(pmod(blk, lit(2)) === 0, -1.0).otherwise(1.0))
            .when(v4 === 0 || v4 === 2, -1.0).otherwise(1.0))
        .when(k === 6, when(jadeBlk, -1.0).otherwise(1.0))
        .when(k === 7, -1.0)
        .when(k === 8, 1.0)
        .otherwise(when(v4 <= 1, -1.0).otherwise(1.0))

    val qty = dirn * when(k === 7 && !jadeBlk, q * 2).otherwise(q)
    val egrp = when(k <= 3, 0).when(k <= 5, 1).when(k <= 8, 2).otherwise(3)

    Tables
      .part(spark, dir)
      .select(
        concat(lit("L"), pk).as("symbol"),
        concat(lit("U"), blk).as("underlying"),
        lit("Equity Option").as("instrument_type"),
        qty.as("signed_quantity"),
        optType.as("option_type"),
        (b + off).cast("decimal(12,3)").as("strike"),
        date_add(lit(java.sql.Date.valueOf("2026-03-20")), (egrp * 28).cast("int")).as("expiration"),
        lit(100).cast("decimal(12,2)").as("multiplier"),
        (-dirn * (pmod(pk, lit(13)) + 1) * 5).cast("decimal(12,2)").as("entry_value")
      )
  }

  /** §2.4 A5 — max-profit / max-loss, CHECKED instance-by-instance
    * against the committed risk-expectation fixture (GenFixtures —
    * the h1 technique applied one level up the analytics stack:
    * classification AND the type-dispatched risk formula tree
    * (reference `strategies/models.py:274-452`) are pure deterministic
    * functions of the enriched leg group, so the expected (max_profit,
    * max_loss) per strategy instance is a fixed table keyed by
    * (underlying, legs_key)). The live query classifies + computes
    * risk per underlying ([[graft.strategies.Strategies.riskDf]]),
    * matches each instance against the fixture on type AND both risk
    * figures (null-safe — null means unlimited/undefined and must
    * match as null), and aggregates per (underlying, strategy_type)
    * with live-value sums; the DuckDB oracle recomputes the aggregate
    * from the fixture alone, scale-filtered by joining part — any
    * formula drift breaks n_match or the sums.
    */
  def a5MaxProfitLoss(spark: SparkSession, dir: String): DataFrame = {
    val fixture = spark.read
      .parquet(A5FixturePath)
      .select(
        $"underlying".as("f_underlying"),
        $"legs_key".as("f_legs_key"),
        $"strategy_type".as("exp_type"),
        $"max_profit".as("exp_max_profit"),
        $"max_loss".as("exp_max_loss")
      )
    graft.strategies.Strategies
      .riskDf(spark, a5Legs(spark, dir))
      .join(
        broadcast(fixture),
        $"underlying" === $"f_underlying" && $"legs_key" === $"f_legs_key",
        "left"
      )
      .groupBy($"underlying", $"strategy_type")
      .agg(
        count(lit(1)).as("n"),
        // whole-dollar quantized values: the double sums are exact, so
        // the bit-identical hash compare is safe (round keeps parity
        // with the oracle's round)
        round(sum($"max_profit"), 2).as("sum_max_profit"),
        round(sum($"max_loss"), 2).as("sum_max_loss"),
        count(
          when(
            $"strategy_type" <=> $"exp_type" &&
              $"max_profit" <=> $"exp_max_profit" &&
              $"max_loss" <=> $"exp_max_loss",
            1
          )
        ).as("n_match")
      )
      .orderBy("underlying", "strategy_type")
  }

  /** §2.11 — greedy strategy classification, CHECKED instance-by-instance
    * against the committed classification-expectation fixture
    * (GenFixtures): each live strategy instance is identified by its
    * exact leg set (sorted leg_symbols — greedy matching consumes every
    * leg exactly once, so leg sets are disjoint and the key is unique
    * within an underlying) and compared on (strategy_type, n_legs,
    * net_qty). `n_match` counts instances whose live classification
    * equals the fixture's — so the DuckDB oracle, which recomputes the
    * whole aggregate from the fixture alone (greedy combinatorial
    * matching is not SQL-expressible; the fixture is the hashable
    * surface), hash-fails if any classification diverges (n_match < n,
    * or the group keys/counts shift). Determinism of the classify output
    * under shuffle — the property that makes a committed fixture valid —
    * is proven by StrategyClassifierPropSpec's shuffled-row-order test;
    * independence from the fixture is carried by the reference canonical
    * cases + ScalaCheck invariants in StrategiesSpec.
    */
  def s11Classify(spark: SparkSession, dir: String): DataFrame = {
    val fixture = spark.read
      .parquet(S11FixturePath)
      .select(
        $"underlying".as("f_underlying"),
        $"legs_key".as("f_legs_key"),
        $"strategy_type".as("exp_type"),
        $"n_legs".as("exp_n_legs"),
        $"net_qty".as("exp_net_qty")
      )
    graft.strategies.Strategies
      .classify(spark, s11Legs(spark, dir))
      .withColumn("legs_key", concat_ws(",", array_sort($"leg_symbols")))
      .join(
        broadcast(fixture),
        $"underlying" === $"f_underlying" && $"legs_key" === $"f_legs_key",
        "left"
      )
      .groupBy($"underlying", $"strategy_type")
      .agg(
        count(lit(1)).as("n"),
        sum($"n_legs").as("total_legs"),
        count(
          when($"strategy_type" <=> $"exp_type" && $"n_legs" <=> $"exp_n_legs" && $"net_qty" <=> $"exp_net_qty", 1)
        ).as("n_match")
      )
      .orderBy("underlying", "strategy_type")
  }

  /** A4 — strategy netting as relational aggregation (reference
    * `strategies/models.py:160-247`): per synthetic strategy group,
    * Σ greek×signed_qty, dollar theta ×multiplier, min DTE, strike width.
    */
  def a4StrategyNetting(spark: SparkSession, dir: String): DataFrame = {
    val legs = Tables
      .part(spark, dir)
      .select(
        expr("p_partkey div 4").as("strategy_id"),
        (when(pmod($"p_partkey", lit(2)) === 0, 1.0).otherwise(-1.0) * (pmod($"p_partkey", lit(3)) + 1)).as("qty"),
        round($"p_retailprice" / 1000.0, 4).as("delta"),
        round($"p_retailprice" / 50000.0, 6).as("theta"),
        lit(100.0).as("multiplier"),
        round($"p_retailprice", 0).as("strike"),
        (pmod($"p_size", lit(5)) * 7 + 7).as("dte")
      )
    legs
      .groupBy($"strategy_id")
      .agg(
        round(sum($"delta" * $"qty"), 4).as("net_delta"),
        round(sum($"theta" * $"qty" * $"multiplier"), 2).as("net_theta"),
        min($"dte").as("min_dte"),
        (max($"strike") - min($"strike")).as("width"),
        count(lit(1)).as("n_legs")
      )
      .orderBy("strategy_id")
  }

  /** The s11 fixture: each classified instance keyed by its sorted leg
    * set (greedy matching consumes each leg exactly once, so leg sets are
    * disjoint and the key is unique within an underlying).
    */
  def s11Expected(spark: SparkSession, dir: String): DataFrame =
    graft.strategies.Strategies
      .classify(spark, s11Legs(spark, dir))
      .select(
        $"underlying",
        concat_ws(",", array_sort($"leg_symbols")).as("legs_key"),
        $"strategy_type",
        $"n_legs",
        $"net_qty"
      )
      .orderBy("underlying", "legs_key")

  /** The h1 fixture: every health alert of the enriched legs. */
  def h1Expected(spark: SparkSession, dir: String): DataFrame =
    graft.strategies.Health
      .alertsDf(spark, h1Legs(spark, dir))
      .orderBy("underlying", "legs_key", "level", "message")

  /** The a5 fixture: type, max profit and max loss per instance. */
  def a5Expected(spark: SparkSession, dir: String): DataFrame =
    graft.strategies.Strategies
      .riskDf(spark, a5Legs(spark, dir))
      .orderBy("underlying", "legs_key")

  val defs: List[QueryDef] = List(
    QueryDef("j2_position_metrics", j2PositionMetrics, Sql(
      """WITH pos_raw AS (
        |  SELECT CAST(p_partkey AS BIGINT) AS row_id,
        |    'S' || CAST(p_partkey % 500 AS VARCHAR) AS symbol,
        |    CASE CAST(p_partkey % 4 AS INTEGER) WHEN 0 THEN 'Equity' WHEN 1 THEN 'Equity Option'
        |         WHEN 2 THEN 'Future' ELSE 'Equity Option' END AS instrument_type,
        |    CASE WHEN p_partkey % 3 = 0 THEN NULL ELSE '.XS' || CAST(p_partkey % 500 AS VARCHAR) END AS streamer_symbol,
        |    CAST(p_partkey % 7 + 1 AS DOUBLE) AS quantity,
        |    CASE WHEN p_partkey % 11 = 0 THEN 'Closed' WHEN p_partkey % 2 = 0 THEN 'Long' ELSE 'Short' END AS quantity_direction
        |  FROM part),
        |pos_m AS (
        |  SELECT *, CAST(CASE WHEN instrument_type LIKE '%Option' THEN 100.0
        |                      WHEN instrument_type = 'Future' THEN 50.0 ELSE 1.0 END AS DOUBLE) AS multiplier
        |  FROM pos_raw),
        |pos_d AS (
        |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY symbol
        |      ORDER BY (streamer_symbol IS NOT NULL) DESC, row_id DESC) AS rn FROM pos_m) t WHERE rn = 1),
        |pos AS (
        |  SELECT row_id, symbol, instrument_type,
        |    coalesce(streamer_symbol, CASE WHEN instrument_type = 'Equity' THEN symbol END) AS streamer_symbol,
        |    quantity, quantity_direction, multiplier
        |  FROM pos_d
        |  WHERE coalesce(streamer_symbol, CASE WHEN instrument_type = 'Equity' THEN symbol END) IS NOT NULL),
        |slots AS (SELECT DISTINCT CAST(p_partkey % 500 AS BIGINT) AS k FROM part),
        |quotes AS (
        |  SELECT '.XS' || CAST(k AS VARCHAR) AS streamer_symbol,
        |    round(CAST(k AS DOUBLE) * 0.5 + 1.0, 2) AS bid_price,
        |    round(CAST(k AS DOUBLE) * 0.5 + 1.2, 2) AS ask_price FROM slots
        |  UNION ALL
        |  SELECT 'S' || CAST(k AS VARCHAR),
        |    round(CAST(k AS DOUBLE) + 10.0, 2), round(CAST(k AS DOUBLE) + 10.4, 2) FROM slots),
        |greeks AS (
        |  SELECT '.XS' || CAST(k AS VARCHAR) AS streamer_symbol,
        |    round(CAST(k AS DOUBLE) / 500.0 - 0.5, 4) AS delta,
        |    round(CAST(k AS DOUBLE) / 10000.0, 6) AS gamma,
        |    round(-CAST(k AS DOUBLE) / 2000.0, 6) AS theta,
        |    round(CAST(k AS DOUBLE) / 1000.0, 6) AS vega
        |  FROM slots WHERE k % 5 <> 0),
        |inst AS (
        |  SELECT 'S' || CAST(k AS VARCHAR) AS symbol,
        |    CASE WHEN k % 2 = 0 THEN 'C' ELSE 'P' END AS option_type,
        |    CAST(k AS DECIMAL(12,3)) AS strike_price,
        |    DATE '2026-09-18' AS expiration_date,
        |    CAST(k % 45 + 1 AS INTEGER) AS days_to_expiration
        |  FROM slots WHERE k % 7 <> 0),
        |credits AS (
        |  SELECT 'S' || CAST(k AS VARCHAR) AS symbol,
        |    CAST(-k * 10 AS DECIMAL(12,2)) AS entry_credit,
        |    CAST(CAST(k AS DOUBLE) / 10.0 AS DECIMAL(12,2)) AS fees
        |  FROM slots WHERE k % 2 = 0),
        |j AS (
        |  SELECT p.symbol, p.streamer_symbol, p.instrument_type, p.quantity, p.quantity_direction, p.multiplier,
        |    q.bid_price, q.ask_price, round((q.bid_price + q.ask_price) / 2.0, 4) AS mid_price,
        |    g.delta AS g_delta, g.gamma AS g_gamma, g.theta AS g_theta, g.vega AS g_vega,
        |    i.option_type, i.strike_price, i.expiration_date, i.days_to_expiration,
        |    c.entry_credit, c.fees
        |  FROM pos p
        |  LEFT JOIN quotes q ON p.streamer_symbol = q.streamer_symbol
        |  LEFT JOIN greeks g ON p.streamer_symbol = g.streamer_symbol
        |    AND p.instrument_type IN ('Equity Option', 'Future Option')
        |  LEFT JOIN inst i ON p.symbol = i.symbol
        |  LEFT JOIN credits c ON p.symbol = c.symbol),
        |f AS (
        |  SELECT *,
        |    coalesce(g_delta, CAST(CASE WHEN instrument_type NOT IN ('Equity Option', 'Future Option') THEN
        |        CASE quantity_direction WHEN 'Long' THEN 1.0 WHEN 'Short' THEN -1.0 ELSE 0.0 END END AS DOUBLE)) AS delta,
        |    coalesce(g_gamma, CAST(CASE WHEN instrument_type NOT IN ('Equity Option', 'Future Option') THEN 0.0 END AS DOUBLE)) AS gamma,
        |    coalesce(g_theta, CAST(CASE WHEN instrument_type NOT IN ('Equity Option', 'Future Option') THEN 0.0 END AS DOUBLE)) AS theta,
        |    coalesce(g_vega, CAST(CASE WHEN instrument_type NOT IN ('Equity Option', 'Future Option') THEN 0.0 END AS DOUBLE)) AS vega,
        |    CASE WHEN quantity_direction = 'Short' THEN -quantity ELSE quantity END AS signed_quantity
        |  FROM j)
        |SELECT symbol, streamer_symbol, instrument_type, quantity, quantity_direction, multiplier,
        |  bid_price, ask_price, mid_price, delta, gamma, theta, vega,
        |  option_type, CAST(strike_price AS DOUBLE) AS strike_price,
        |  strftime(expiration_date, '%Y-%m-%d') AS expiry, days_to_expiration,
        |  CAST(entry_credit AS DOUBLE) AS entry_credit, CAST(fees AS DOUBLE) AS fees,
        |  signed_quantity,
        |  theta * signed_quantity * multiplier AS dollar_theta
        |FROM f ORDER BY symbol""".stripMargin)),
    // A8 — the LIFO fold as a DuckDB list_reduce. The engine's BigDecimal
    // arithmetic is reproduced EXACTLY with HUGEINT fraction accumulators
    // (entry = en/ed, fees = fn/fd micros, gcd-reduced each step so den
    // stays ≤ lcm(qty…) ≈ 3e21 ≪ HUGEINT range) and explicit HALF_UP
    // rounding — (2n+d)//(2d), ties away from zero — at the final 6 dp,
    // the same rule as java BigDecimal.setScale(6, HALF_UP). DECIMAL128's
    // 34-digit intermediates differ from these exact rationals by ~1e-34
    // relative, far below the 1/(2·10^6·den) minimum distance of any
    // non-tie sum from a rounding boundary, so the rounded results agree;
    // exact ties (terminating fractions) are exact on both sides.
    // State rides a LIST(HUGEINT), not a STRUCT: DuckDB v1.0.0
    // list_reduce mis-folds STRUCT accumulators when a vector carries
    // lists of different lengths (verified: shortest group returned the
    // untouched seed at 10 rows, correct alone — list accumulators are
    // immune). Layout: state [rem, closebuf, en, ed, fn, fd, px, tq],
    // txn [qty, is_close, sign, value_u, fee_u, price_u]; the nested
    // single-element list_transforms bind consumed/take/unreduced-
    // fraction locals, as in the d3 oracle.
    QueryDef("a8_lifo", a8Lifo, Sql(
      """WITH txns AS (
        |  SELECT 'S' || CAST(l_suppkey AS VARCHAR) AS symbol,
        |    epoch_ms(l_shipdate) // 1000 * 1000000 + l_orderkey * 8 + l_linenumber AS executed_at_us,
        |    CAST(CASE WHEN (l_linenumber % 4) IN (1, 3) THEN 1 ELSE 0 END AS HUGEINT) AS is_close,
        |    CAST(CASE WHEN l_discount > 0.05 THEN 1 ELSE -1 END AS HUGEINT) AS sign,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * 1000000 AS HUGEINT) AS value_u,
        |    abs(CAST(CAST(round(l_extendedprice * (1.0 + l_tax), 4) AS DECIMAL(18,6)) * 1000000 AS HUGEINT)
        |        - CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * 1000000 AS HUGEINT)) AS fee_u,
        |    CAST(CAST(round(l_extendedprice * (1.0 + l_discount), 4) AS DECIMAL(18,6)) * 1000000 AS HUGEINT) AS price_u,
        |    GREATEST(CAST(floor(l_quantity) AS INTEGER), 1) AS qty
        |  FROM lineitem),
        |packed AS (
        |  SELECT symbol, CAST(count(*) AS BIGINT) AS transaction_count,
        |    list([CAST(qty AS HUGEINT), is_close, sign, value_u, fee_u, price_u]
        |         ORDER BY executed_at_us DESC, qty DESC) AS l
        |  FROM txns GROUP BY symbol),
        |folded AS (
        |  SELECT symbol, transaction_count,
        |    list_reduce(
        |      list_prepend([CAST(25 AS HUGEINT), CAST(0 AS HUGEINT), CAST(0 AS HUGEINT), CAST(1 AS HUGEINT),
        |                    CAST(0 AS HUGEINT), CAST(1 AS HUGEINT), CAST(0 AS HUGEINT), CAST(0 AS HUGEINT)], l),
        |      (a, x) -> CASE
        |        WHEN x[2] = 1 THEN [a[1], a[2] + x[1], a[3], a[4], a[5], a[6], a[7], a[8]]
        |        ELSE list_transform([least(x[1], a[2])], c ->
        |          list_transform([least(x[1] - c, a[1])], t ->
        |            list_transform([[a[3] * x[1] + x[3] * x[4] * t * a[4],
        |                             a[4] * x[1],
        |                             a[5] * x[1] + x[5] * t * a[6],
        |                             a[6] * x[1]]], u ->
        |              [a[1] - t, a[2] - c,
        |               u[1] // greatest(gcd(abs(u[1]), u[2]), 1),
        |               u[2] // greatest(gcd(abs(u[1]), u[2]), 1),
        |               u[3] // greatest(gcd(u[3], u[4]), 1),
        |               u[4] // greatest(gcd(u[3], u[4]), 1),
        |               a[7] + x[6] * t, a[8] + t]
        |            )[1]
        |          )[1]
        |        )[1]
        |      END) AS s
        |  FROM packed)
        |SELECT symbol,
        |  CAST(CASE WHEN s[3] >= 0 THEN (2 * s[3] + s[4]) // (2 * s[4])
        |            ELSE -((2 * (-s[3]) + s[4]) // (2 * s[4])) END AS DOUBLE) / 1000000.0 AS entry_credit,
        |  CAST((2 * s[5] + s[6]) // (2 * s[6]) AS DOUBLE) / 1000000.0 AS fees,
        |  CASE WHEN s[8] > 0
        |       THEN CAST((2 * s[7] + s[8]) // (2 * s[8]) AS DOUBLE) / 1000000.0 END AS weighted_price,
        |  transaction_count
        |FROM folded
        |WHERE s[1] = 0
        |ORDER BY symbol""".stripMargin)),
    // S8 — the flatten contract restated relationally from part: the
    // Spark side builds REAL nested JSON and runs from_json + explodes
    // + stack; the oracle derives the same row set directly (the
    // synthesis is a pure per-partkey function). Row-set equality; the
    // missing-side drop is the WHERE symbol IS NOT NULL.
    QueryDef("s8_chain_flatten", s8ChainFlatten, Sql(
      """WITH base AS (
        |  SELECT 'U' || CAST(p_partkey // 10 AS VARCHAR) AS underlying,
        |    p_partkey AS pk,
        |    round(p_retailprice, 0) + (p_partkey % 4) * 5 AS strike,
        |    CAST(p_partkey % 2 AS INTEGER) AS expi
        |  FROM part),
        |sides AS (
        |  SELECT underlying, underlying AS root,
        |    CAST(CAST(DATE '2026-03-20' + expi * 28 AS DATE) AS VARCHAR) AS expiration_date,
        |    CAST(expi * 28 + 10 AS INTEGER) AS days_to_expiration,
        |    'PM' AS settlement_type,
        |    CAST(strike AS DOUBLE) AS strike,
        |    'C' AS option_type,
        |    CASE WHEN pk % 3 <> 0 THEN 'C' || CAST(pk AS VARCHAR) END AS symbol
        |  FROM base
        |  UNION ALL
        |  SELECT underlying, underlying,
        |    CAST(CAST(DATE '2026-03-20' + expi * 28 AS DATE) AS VARCHAR),
        |    CAST(expi * 28 + 10 AS INTEGER), 'PM', CAST(strike AS DOUBLE),
        |    'P', CASE WHEN pk % 2 <> 0 THEN 'P' || CAST(pk AS VARCHAR) END
        |  FROM base)
        |SELECT * FROM sides WHERE symbol IS NOT NULL
        |ORDER BY underlying, symbol""".stripMargin)),
    // J7 — the snapshot-correlation contract restated relationally
    // from orders × lineitem (the synthesis is a pure function of
    // both); the Spark side does the REAL from_json + explodes + the
    // node-identity equi-join. All doubles are exact (shortest-repr
    // JSON round-trip, identical arithmetic both engines); occurred_us
    // is the order date at midnight UTC in epoch micros.
    QueryDef("j7_chain_snapshots", j7ChainSnapshots, Sql(
      """SELECT 'CH' || CAST(o.o_custkey AS VARCHAR) AS chain_id,
        |  'N' || CAST(o.o_orderkey AS VARCHAR) AS node_id,
        |  'S' || CAST(l.l_linenumber AS VARCHAR) AS symbol,
        |  CAST(l.l_linenumber AS DOUBLE) / 10 AS delta,
        |  -CAST(l.l_quantity AS DOUBLE) / 100 AS theta,
        |  CAST(o.o_orderkey % 100 AS DOUBLE) / 10 AS net_delta,
        |  -CAST(o.o_orderkey % 50 + 1 AS DOUBLE) / 10 AS net_theta,
        |  epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) AS occurred_us
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |ORDER BY chain_id, node_id, symbol""".stripMargin)),
    // H1 — the s11 fixture technique applied to the health monitor:
    // the oracle recomputes the per-(underlying, level) alert counts
    // from the committed expectation fixture alone, scale-filtered by
    // joining part; the live query health-checks per underlying and
    // counts per-alert fixture matches, so a missing/extra/drifted
    // alert breaks n, n_match, or the group keys.
    QueryDef("h1_health", h1Health, Fixture(H1FixturePath,
      s"""SELECT f.underlying, f.level,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(*) AS BIGINT) AS n_match
         |FROM read_parquet('${H1FixturePath}') f
         |JOIN (SELECT DISTINCT 'U' || CAST(p_partkey // 10 AS VARCHAR) AS underlying FROM part) p
         |  ON p.underlying = f.underlying
         |GROUP BY f.underlying, f.level
         |ORDER BY f.underlying, f.level""".stripMargin, h1Expected)),
    // A5 — the h1/s11 fixture technique applied to the risk formula
    // tree: the oracle recomputes the per-(underlying, strategy_type)
    // aggregate (counts + whole-dollar sums) from the committed risk
    // fixture alone, scale-filtered by joining part; the live query
    // classifies and computes max profit/loss LIVE and counts
    // per-instance fixture matches, so any formula drift breaks
    // n_match or the sums. Sums are over quantized whole-dollar
    // doubles — exact in both engines, no float-order hazard.
    QueryDef("a5_max_profit_loss", a5MaxProfitLoss, Fixture(A5FixturePath,
      s"""SELECT f.underlying, f.strategy_type,
         |  CAST(count(*) AS BIGINT) AS n,
         |  round(sum(f.max_profit), 2) AS sum_max_profit,
         |  round(sum(f.max_loss), 2) AS sum_max_loss,
         |  CAST(count(*) AS BIGINT) AS n_match
         |FROM read_parquet('${A5FixturePath}') f
         |JOIN (SELECT DISTINCT 'U' || CAST(p_partkey // 10 AS VARCHAR) AS underlying FROM part) p
         |  ON p.underlying = f.underlying
         |GROUP BY f.underlying, f.strategy_type
         |ORDER BY f.underlying, f.strategy_type""".stripMargin, a5Expected)),
    // S11 — greedy combinatorial strategy matching is not SQL-expressible,
    // but (like m1) it doesn't need to be: classification is a pure
    // deterministic function of the legs table (StrategyClassifierPropSpec
    // proves shuffle-invariance), so the committed expectation fixture
    // (GenFixtures, generated at sf0.1 whose underlying groups are a
    // strict superset of every smaller sf's — partkey blocks of 10 are
    // complete at every scale) is the hashable surface. The oracle
    // recomputes the per-(underlying, strategy_type) aggregate from the
    // fixture alone, scale-filtered by joining part (m1's documents-join
    // trick); the Spark query classifies LIVE and counts per-instance
    // fixture matches, so any divergence breaks the hash (n_match < n,
    // or shifted group keys/counts).
    QueryDef("s11_classify", s11Classify, Fixture(S11FixturePath,
      s"""SELECT f.underlying, f.strategy_type,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(f.n_legs) AS BIGINT) AS total_legs,
         |  CAST(count(*) AS BIGINT) AS n_match
         |FROM read_parquet('${S11FixturePath}') f
         |JOIN (SELECT DISTINCT 'U' || CAST(p_partkey // 10 AS VARCHAR) AS underlying FROM part) p
         |  ON p.underlying = f.underlying
         |GROUP BY f.underlying, f.strategy_type
         |ORDER BY f.underlying, f.strategy_type""".stripMargin, s11Expected)),
    QueryDef("a4_strategy_netting", a4StrategyNetting, Sql(
      """WITH legs AS (
        |  SELECT p_partkey // 4 AS strategy_id,
        |    (CASE WHEN p_partkey % 2 = 0 THEN 1.0 ELSE -1.0 END) * (p_partkey % 3 + 1) AS qty,
        |    round(p_retailprice / 1000.0, 4) AS delta,
        |    round(p_retailprice / 50000.0, 6) AS theta,
        |    100.0 AS multiplier,
        |    round(p_retailprice, 0) AS strike,
        |    (p_size % 5) * 7 + 7 AS dte
        |  FROM part)
        |SELECT strategy_id,
        |  round(sum(delta * qty), 4) AS net_delta,
        |  round(sum(theta * qty * multiplier), 2) AS net_theta,
        |  CAST(min(dte) AS INTEGER) AS min_dte,
        |  max(strike) - min(strike) AS width,
        |  CAST(count(*) AS BIGINT) AS n_legs
        |FROM legs GROUP BY strategy_id ORDER BY strategy_id""".stripMargin))
  )
}
