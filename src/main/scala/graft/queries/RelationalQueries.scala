package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Functions => Funcs}
import graft.io.Tables
import graft.ops.Relational

import graft.queries.Oracle.Sql

/** Relational and window queries over the TPC-H and events tables:
  * aggregates, joins, as-of and forward-fill windows, pivots, and the
  * row-local scalar helpers. Both sides round float aggregates at the
  * same place, the oracle casts counts and integer sums to BIGINT
  * (DuckDB widens them to HUGEINT), and event times leave the compare
  * surface as epoch micros (`epoch_us(ts)`).
  */
object RelationalQueries {

  /** A1/W11 — latest event per user (the Redis latest-value table,
    * reference `messaging/processors/default.py:62-68`).
    */
  def a1LatestPerKey(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    Relational
      .latestPerKey(ev, Seq("user_id"), "ts_us", "event_id")
      .select("user_id", "event_id", "ts_us", "event_type", "value")
      .orderBy("user_id")
  }

  /** A2/T6 — keep-last upsert on a composite key (candle dedup,
    * reference `processors/default.py:80-91`).
    */
  def a2DedupKeepLast(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    Relational
      .latestPerKey(ev, Seq("user_id", "event_type"), "ts_us", "event_id")
      .select("user_id", "event_type", "event_id", "ts_us", "value")
      .orderBy("user_id", "event_type")
  }

  /** A3/A4/A6-family — multi-aggregate rollup (strategy netting shape,
    * reference `strategies/models.py:160-247`). TPC-H Q1-like so the
    * DuckDB oracle is exact; money sums rounded 2dp on both sides.
    */
  def a3PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        round(sum($"l_quantity"), 2).as("sum_qty"),
        round(sum($"l_extendedprice"), 2).as("sum_base"),
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("sum_disc"),
        round(avg($"l_quantity"), 6).as("avg_qty"),
        count(lit(1)).as("n_rows")
      )
      .orderBy("l_returnflag", "l_linestatus")

  /** A7 — weighted average price Σ(price×qty)/Σ(qty) per part
    * (reference `transactions.py:213-226`).
    */
  def a7WeightedAvg(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .groupBy($"l_partkey")
      .agg(
        round(sum($"l_extendedprice" * $"l_quantity") / sum($"l_quantity"), 6).as("wavg_price"),
        round(sum($"l_quantity"), 2).as("total_qty")
      )
      .orderBy("l_partkey")

  /** A9 — distinct-count rollup (expiration summary shape,
    * reference `subscription/cli.py:693-703`).
    */
  def a9DistinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables
      .part(spark, dir)
      .groupBy($"p_brand")
      .agg(
        countDistinct($"p_type").as("n_types"),
        count(lit(1)).as("n_parts"),
        min($"p_retailprice").as("min_rp"),
        max($"p_retailprice").as("max_rp")
      )
      .orderBy("p_brand")

  /** Skew escape hatch as a first-class query: two-stage salted
    * aggregation (`Relational.saltedSumCount`) over a deliberately
    * low-cardinality key (3 return flags across the whole lineitem
    * table — every key is a hot key). The salt spreads each key over 32
    * reducers before the exact per-key combine; the result is identical
    * to the plain groupBy, which is what the DuckDB oracle checks.
    * `l_quantity` sums are whole numbers, so the extra partial layer
    * cannot perturb the float fold.
    */
  def a5SaltedAgg(spark: SparkSession, dir: String): DataFrame =
    Relational
      .saltedSumCount(Tables.lineitem(spark, dir), Seq("l_returnflag"), "l_quantity", saltBuckets = 32)
      .select($"l_returnflag", round($"sum_value", 2).as("sum_qty"), $"n_rows")
      .orderBy("l_returnflag")

  /** J1-family — dimension join chain with broadcast small sides
    * (positions ⋈ latest quotes shape, reference
    * `analytics/metrics.py:158-173`). region/nation/customer are the
    * broadcast dims; orders is the fact side.
    */
  def j1RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy($"r_name")
      .agg(
        round(sum($"o_totalprice"), 2).as("revenue"),
        count(lit(1)).as("n_orders")
      )
      .orderBy("r_name")
  }

  /** J10/U3 — anti-join diff (subscription resolver,
    * reference `subscription/resolver.py:101-112`).
    */
  def j10AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter($"o_orderstatus" === "F")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** O4 — deterministic top-k per group (row-cap/tail retention shape,
    * reference `processors/default.py:39-48`).
    */
  def o4TopKPerGroup(spark: SparkSession, dir: String): DataFrame =
    Relational
      .topKPerGroup(
        Tables.orders(spark, dir),
        Seq("o_orderpriority"),
        Seq($"o_totalprice".desc, $"o_orderkey".asc),
        3
      )
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
      .orderBy("o_orderpriority", "o_orderkey")

  /** F13 — JSON field extraction + rollup (event JSON encode/decode,
    * reference `redis.py:28-38`). Regex-based so Spark and DuckDB share
    * identical extraction semantics.
    */
  def f13JsonExtract(spark: SparkSession, dir: String): DataFrame = {
    val m = regexp_extract($"props", """"k"\s*:\s*(\d+)""", 1)
    Tables
      .events(spark, dir)
      // empty-match guard: ANSI mode would throw on cast('' as long)
      .withColumn("k", when(m =!= "", m).cast("long"))
      .groupBy($"event_type")
      .agg(
        sum($"k").as("sum_k"),
        count($"k").as("n_k"),
        count(lit(1)).as("n_rows")
      )
      .orderBy("event_type")
  }

  /** U1/U2 — diagonal (schema-widening) union,
    * reference `providers/market.py:351-358`.
    */
  def u2UnionDiagonal(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables
      .customer(spark, dir)
      .select(
        $"c_custkey".cast("long").as("key"),
        $"c_acctbal".as("bal"),
        lit("customer").as("side"),
        $"c_mktsegment".as("mktsegment")
      )
    val s = Tables
      .supplier(spark, dir)
      .select(
        $"s_suppkey".cast("long").as("key"),
        $"s_acctbal".as("bal"),
        lit("supplier").as("side")
      )
    Relational.unionDiagonal(Seq(c, s)).orderBy("side", "key")
  }

  /** J6 — as-of join (reference `backtest/publisher.py:112-128`): each
    * error event picks up the most recent purchase value at or before it
    * for the same user. Union+window formulation — one shuffle, no range
    * explosion.
    */
  def j6AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val errors = ev.filter($"event_type" === "error")
    val purchases = ev
      .filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"value".as("purchase_value"))
    Relational
      .asOfJoin(errors, purchases, "user_id", "ts", "ts", Seq("purchase_value"))
      .select("user_id", "ts_us", "event_id", "purchase_value")
      .orderBy("user_id", "ts_us")
  }

  /** W6 — forward-fill onto an hourly grid, emitting only gap rows
    * (reference `utils/time_series.py:72-96`).
    */
  def w6ForwardFill(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600000000L
    val ev = Tables
      .events(spark, dir)
      .withColumn("bucket_us", expr(s"(ts_us div $hourUs) * $hourUs"))
    val perBucket = Relational
      .latestPerKey(ev, Seq("user_id", "bucket_us"), "ts_us", "event_id")
      .select("user_id", "bucket_us", "value")
    Relational
      .forwardFillGrid(perBucket, "user_id", "bucket_us", hourUs, Seq("value"))
      .select("user_id", "bucket_us", "value")
      .orderBy("user_id", "bucket_us")
  }

  /** W7 — prior-trading-day close analog (reference
    * `providers/market.py:187-235`): per (user, day) last value, plus the
    * previous *available* day's value.
    */
  def w7PriorPeriod(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val ev = Tables.events(spark, dir)
    Relational
      .priorPeriodLast(ev, "user_id", expr(s"(ts_us div $dayUs) * $dayUs"), Seq("ts_us", "event_id"), "value")
      .select($"user_id", $"period".as("day_us"), $"period_last", $"prior_last")
      .orderBy("user_id", "day_us")
  }

  /** P7 — nearest-available-key match (reference
    * `market/option_chains.py:144-172` DTE-closest-expiration), targets
    * broadcast against the distinct key set.
    */
  def p7NearestKey(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val targets = Seq(5, 15, 25, 48).toDF("target")
    Relational
      .nearestKey(targets, "target", Tables.part(spark, dir), "p_size")
      .orderBy("target")
  }

  /** P1/P2/P3 — predicate + projection pushdown to the parquet scan
    * (reference `providers/market.py:130-140` Flux range/filter).
    */
  def p1FilterPushdown(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .filter(
        $"l_returnflag" === "R" &&
          $"l_shipdate" >= lit(java.time.LocalDateTime.of(1996, 1, 1, 0, 0)) &&
          $"l_shipdate" < lit(java.time.LocalDateTime.of(1997, 1, 1, 0, 0))
      )
      .select(
        $"l_orderkey",
        $"l_linenumber",
        $"l_quantity",
        date_format($"l_shipdate", "yyyy-MM-dd").as("ship_date")
      )
      .orderBy("l_orderkey", "l_linenumber")

  /** S7 — tall→wide pivot (InfluxDB Flux `pivot`, reference
    * `providers/market.py:130-140`): per (user, day), one column per
    * event type. Pivot values are declared, not discovered — at scale a
    * `.pivot(col)` without values triggers an extra collect job.
    */
  def s7PivotWide(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    Tables
      .events(spark, dir)
      .withColumn("day_us", expr(s"(ts_us div $dayUs) * $dayUs"))
      .groupBy($"user_id", $"day_us")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(round(sum($"value"), 6))
      .orderBy("user_id", "day_us")
  }

  /** F1 — ingest float normalization: NaN/±Inf → null, 10dp rounding
    * (reference `events.py:37-53`); NaN/Inf synthesized deterministically.
    */
  def f1Normalize(spark: SparkSession, dir: String): DataFrame = {
    val raw = when(pmod($"event_id", lit(10)) === 0, lit(Double.PositiveInfinity))
      .when(pmod($"event_id", lit(10)) === 1, lit(Double.NaN))
      .when(pmod($"event_id", lit(10)) === 2, lit(Double.NegativeInfinity))
      .otherwise($"value")
    Tables
      .events(spark, dir)
      .select($"event_id", Funcs.normalizeFloat(raw).as("norm_value"))
      .orderBy("event_id")
  }

  /** F2/F3 — candle symbol munging: strip implied-1 interval, parse back
    * ticker + re-prefixed interval (reference `utils/helpers.py:33-47`).
    */
  def f2SymbolMunge(spark: SparkSession, dir: String): DataFrame = {
    val interval = element_at(
      map(
        lit("click"), lit("1m"), lit("error"), lit("5m"), lit("purchase"), lit("1h"),
        lit("signup"), lit("1d"), lit("view"), lit("1w")
      ),
      $"event_type"
    )
    val sym = concat(lit("U"), $"user_id", lit("{="), interval, lit("}"))
    Tables
      .events(spark, dir)
      .select($"event_id", sym.as("sym"))
      .select(
        $"event_id",
        $"sym",
        Funcs.stripCandleInterval($"sym").as("stripped"),
        Funcs.candleTicker(Funcs.stripCandleInterval($"sym")).as("ticker"),
        Funcs.candleInterval(Funcs.stripCandleInterval($"sym")).as("interval"),
        Funcs.intervalToMillis(Funcs.candleInterval(Funcs.stripCandleInterval($"sym"))).as("interval_ms")
      )
      .orderBy("event_id")
  }

  /** F6 — OCC option-symbol build + parse round trip (reference
    * `positions.py:599-633`).
    */
  def f6OccRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val occ = concat(
      rpad(substring($"p_brand", 1, 6), 6, " "),
      lit("260320"),
      when(pmod($"p_size", lit(2)) === 0, "C").otherwise("P"),
      lpad((round($"p_retailprice", 0) * 1000).cast("long").cast("string"), 8, "0")
    )
    Tables
      .part(spark, dir)
      .select($"p_partkey", occ.as("occ"))
      .select(
        $"p_partkey",
        $"occ",
        date_format(Funcs.occExpiry($"occ"), "yyyy-MM-dd").as("expiry"),
        Funcs.occType($"occ").as("opt_type"),
        Funcs.occStrike($"occ").as("strike")
      )
      .orderBy("p_partkey")
  }

  /** F5/F7/F8/F9/F17/F18 — the row-local scalar helpers as one carrier
    * over orders (references `messages.py:189-203` interval floor,
    * `positions.py:32-43` apply_effect, `metrics.py:167-172` mid price,
    * `positions.py:710-721` dollar theta, `option_chains.py:22-29`
    * futures detect/strip, `orchestrator.py:145-152` safe_float). Every
    * input is synthesized from o_orderkey/o_totalprice deterministically;
    * float surfaces stay off rounding edges (mid derives from integer
    * cents so the 4dp round is identity on the decimal value, theta is
    * shifted off zero so no -0.0 can arise).
    */
  def f7ScalarEffects(spark: SparkSession, dir: String): DataFrame = {
    val k = $"o_orderkey"
    val effect = when(pmod(k, lit(2L)) === 0, "Credit").otherwise("Debit")
    val bidCents = pmod(k, lit(10000L))
    val askCents = bidCents + pmod(k, lit(200L)) + lit(1L)
    val theta = -(pmod(k, lit(50L)) + 1) / 1000.0
    val signedQty = (when(pmod(k, lit(4L)) < 2, 1L).otherwise(-1L) * (pmod(k, lit(3L)) + 1)).cast("double")
    val sym = when(pmod(k, lit(3L)) === 0, concat(lit("/ES"), pmod(k, lit(10L)).cast("string")))
      .otherwise(concat(lit("SPY"), pmod(k, lit(10L)).cast("string")))
    val floatStr = when(pmod(k, lit(5L)) === 0, lit("n/a"))
      .when(pmod(k, lit(5L)) === 1, lit(""))
      .when(pmod(k, lit(5L)) === 2, lit(null).cast("string"))
      .otherwise($"o_totalprice".cast("string"))
    Tables
      .orders(spark, dir)
      .select(
        k.as("o_orderkey"),
        Funcs.applyEffect($"o_totalprice", effect).as("signed_amount"),
        Funcs.midPrice(bidCents / 100.0, askCents / 100.0).as("mid"),
        Funcs.dollarTheta(theta, signedQty, lit(100.0)).as("dollar_theta"),
        sym.as("sym"),
        Funcs.isFutures(sym).cast("int").as("is_fut"),
        Funcs.stripFuturesPrefix(sym).as("product"),
        Funcs.safeFloat(floatStr).as("parsed_price"),
        Funcs.floorToInterval(k * 61234L + 17L, lit(300000L)).as("bar_ms")
      )
      .orderBy("o_orderkey")
  }

  /** P5 — ET session-window gate as a relational filter (reference
    * `analytics/engines/hull_macd.py:31-33`): keep events whose UTC
    * timestamp falls in [10:00, 15:00) Eastern wall-clock. The same rule
    * rides g1's oracle row-locally; this is the direct filter form with
    * its own oracle (timezone('America/New_York', ...) on the DuckDB
    * side), so the predicate itself is hash-pinned, not just its signal
    * consumers.
    */
  def p5SessionFilter(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .filter(Funcs.inEtSession($"ts_t"))
      .select($"event_id", $"ts_us", $"user_id", $"event_type")
      .orderBy("event_id")

  /** F11/F12/F19 — the time-display helpers as one carrier over events
    * (references `charting/server.py:36-60` ET shift, `helpers.py:16-30`
    * last-weekday, `subscription/orchestrator.py:49-59` +
    * `subscription/status.py:41-53` uptime/age humanization). Uptime and
    * age are synthesized from event_id with coprime multipliers so every
    * display branch (d/h/m shapes; s/m/h/d buckets + the null→"unknown"
    * row) occurs at every scale.
    */
  def f19TimeDisplay(spark: SparkSession, dir: String): DataFrame = {
    val up = pmod($"event_id" * 7919L, lit(500000L))
    val age = when(pmod($"event_id", lit(11L)) === 0, lit(null).cast("long"))
      .otherwise(pmod($"event_id" * 104729L, lit(200000L)))
    val epochSec = floor($"ts_us" / 1000000L).cast("long")
    Tables
      .events(spark, dir)
      .select(
        $"event_id",
        up.as("uptime_s"),
        Funcs.formatUptime(up).as("uptime"),
        age.as("age_s"),
        Funcs.ageDisplay(age).as("age"),
        Funcs.utcEpochToEtShiftedEpoch(epochSec).as("et_epoch"),
        date_format(Funcs.lastWeekday(to_date($"ts_t")), "yyyy-MM-dd").as("last_wd")
      )
      .orderBy("event_id")
  }

  /** J3 — left join with fallback synthesis when the dimension row is
    * missing (reference `strategies/classifier.py:40-62` instrument
    * fallback parse).
    */
  def j3CoalesceJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val known = Tables.customer(spark, dir).filter(pmod($"c_custkey", lit(3)) === 0)
    o.join(broadcast(known), o("o_custkey") === known("c_custkey"), "left")
      .select(
        $"o_orderkey",
        coalesce($"c_name", concat(lit("CUST-"), $"o_custkey")).as("display_name")
      )
      .orderBy("o_orderkey")
  }

  /** W9 — snapshot-complete bitmask gate (reference
    * `messaging/processors/snapshot.py:6-26,82`).
    */
  def w9FlagsFilter(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).withColumn("flags", pmod($"event_id", lit(32)).cast("int"))
    ev.filter(Funcs.snapshotComplete($"flags"))
      .select($"event_id", $"flags", $"event_type")
      .orderBy("event_id")
  }

  /** W12 — deterministic sha-derived dedup jitter (reference
    * `visualizations/models.py:130-147`).
    */
  def w12Jitter(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(
        $"doc_id",
        Funcs.jitterMicros(concat($"source", lit("|"), $"doc_id")).as("jitter_us")
      )
      .orderBy("doc_id")

  /** A6 — campaign rollup by key with recovery = max(0, −net)
    * (reference `positions.py:277-381`).
    */
  def a6CampaignRollup(spark: SparkSession, dir: String): DataFrame =
    Tables
      .orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(
        round(sum(when($"o_orderstatus" === "F", $"o_totalprice").otherwise(-$"o_totalprice")), 2).as("net"),
        count(lit(1)).as("n_orders"),
        countDistinct($"o_orderstatus").as("n_statuses")
      )
      .withColumn("recovery", greatest(lit(0.0), -$"net"))
      .orderBy("o_custkey")

  /** W8 — candle-period close detection (reference
    * `charting/server.py:351-411`): the indicator advances only when a
    * NEW bucket appears; emit the finished bucket with its final value.
    */
  def w8CandleClose(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketUs = 300000000L // 5 minutes
    val ev = Tables
      .events(spark, dir)
      .withColumn("bucket_us", expr(s"(ts_us div $bucketUs) * $bucketUs"))
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    ev.withColumn("prev_bucket", lag($"bucket_us", 1).over(w))
      .withColumn("prev_value", lag($"value", 1).over(w))
      .filter($"prev_bucket".isNotNull && $"bucket_us" > $"prev_bucket")
      .select($"user_id", $"prev_bucket".as("closed_bucket_us"), $"prev_value".as("final_value"))
      .orderBy("user_id", "closed_bucket_us")
  }

  /** U4 — symbol-set dedup: distinct tickers from candle-style symbols
    * (reference `charting/server.py:140-143`).
    */
  def u4SymbolDedup(spark: SparkSession, dir: String): DataFrame = {
    val sym = concat(lit("U"), $"user_id", lit("{="), $"event_type", lit("}"))
    Tables
      .events(spark, dir)
      .select(split(sym, "\\{=").getItem(0).as("ticker"))
      .distinct()
      .orderBy("ticker")
  }

  /** J5 — explode nested entries then join (reference
    * `positions.py:653-672` trade-chain open-entry join): orders packed
    * into per-customer arrays, exploded back, joined to line items.
    */
  def j5ExplodeJoin(spark: SparkSession, dir: String): DataFrame = {
    val chains = Tables
      .orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(sort_array(collect_list($"o_orderkey")).as("order_keys"))
    val exploded = chains.select($"o_custkey", explode($"order_keys").as("o_orderkey"))
    val li = Tables.lineitem(spark, dir)
    exploded
      .join(li, exploded("o_orderkey") === li("l_orderkey"))
      .groupBy($"o_custkey")
      .agg(
        count(lit(1)).as("n_lines"),
        round(sum($"l_extendedprice"), 2).as("total_price")
      )
      .orderBy("o_custkey")
  }

  /** S2 — compact-array wire decode: per-user FEED_DATA-style frames
    * (flat [event_id, ts_us] pairs in time order) chunked back into one
    * row per event (reference `messaging/handlers.py:150-232`).
    */
  def s2WireDecode(spark: SparkSession, dir: String): DataFrame = {
    val frames = Tables
      .events(spark, dir)
      .groupBy($"user_id")
      .agg(
        flatten(
          transform(
            sort_array(collect_list(struct($"ts", $"event_id", $"ts_us"))),
            e => array(e.getField("event_id").cast("string"), e.getField("ts_us").cast("string"))
          )
        ).as("values")
      )
      .withColumn("eventType", lit("Event"))
    graft.io.WireDecoder
      .decode(frames, "Event", Seq("eid", "ts_us_s"))
      .select(
        $"user_id",
        $"seq",
        $"eid".cast("long").as("event_id"),
        $"ts_us_s".cast("long").as("ts_us")
      )
      .orderBy("user_id", "seq")
  }

  /** F16/A3 — leg-description strings: per customer the sorted list of
    * formatted order tags (reference `positions.py:166-171` leg
    * descriptions via collect_list).
    */
  def f16LegDesc(spark: SparkSession, dir: String): DataFrame =
    Tables
      .orders(spark, dir)
      .filter($"o_totalprice" > 400000.0)
      .groupBy($"o_custkey")
      .agg(
        concat_ws(",", sort_array(collect_list(concat($"o_orderstatus", lit("#"), $"o_orderkey")))).as("legs"),
        count(lit(1)).as("n")
      )
      .orderBy("o_custkey")

  val defs: List[QueryDef] = List(
    QueryDef("a1_latest_per_key", a1LatestPerKey, Sql(
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin)),
    QueryDef("a2_dedup_keep_last", a2DedupKeepLast, Sql(
      """SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin)),
    QueryDef("a3_pricing_summary", a3PricingSummary, Sql(
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    QueryDef("a7_weighted_avg", a7WeightedAvg, Sql(
      """SELECT l_partkey,
        |  round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 6) AS wavg_price,
        |  round(sum(l_quantity), 2) AS total_qty
        |FROM lineitem GROUP BY l_partkey ORDER BY l_partkey""".stripMargin)),
    QueryDef("a9_distinct_agg", a9DistinctAgg, Sql(
      """SELECT p_brand,
        |  CAST(count(DISTINCT p_type) AS BIGINT) AS n_types,
        |  CAST(count(*) AS BIGINT) AS n_parts,
        |  min(p_retailprice) AS min_rp,
        |  max(p_retailprice) AS max_rp
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin)),
    QueryDef("a5_salted_agg", a5SaltedAgg, Sql(
      """SELECT l_returnflag,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    QueryDef("j1_region_revenue", j1RegionRevenue, Sql(
      """SELECT r_name,
        |  round(sum(o_totalprice), 2) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)),
    QueryDef("j10_anti_join", j10AntiJoin, Sql(
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin)),
    QueryDef("o4_topk_per_group", o4TopKPerGroup, Sql(
      """SELECT o_orderpriority, o_orderkey, o_totalprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk FROM orders) t
        |WHERE rk <= 3 ORDER BY o_orderpriority, o_orderkey""".stripMargin)),
    QueryDef("f13_json_extract", f13JsonExtract, Sql(
      """SELECT event_type,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(count(k) AS BIGINT) AS n_k,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM (SELECT event_type, TRY_CAST(regexp_extract(props, '"k"\s*:\s*(\d+)', 1) AS BIGINT) AS k FROM events) t
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    QueryDef("u2_union_diagonal", u2UnionDiagonal, Sql(
      """SELECT CAST(c_custkey AS BIGINT) AS key, c_acctbal AS bal, 'customer' AS side, c_mktsegment AS mktsegment FROM customer
        |UNION ALL
        |SELECT CAST(s_suppkey AS BIGINT) AS key, s_acctbal AS bal, 'supplier' AS side, NULL AS mktsegment FROM supplier
        |ORDER BY side, key""".stripMargin)),
    QueryDef("j6_asof_join", j6AsofJoin, Sql(
      """SELECT l.user_id, epoch_us(l.ts) AS ts_us, l.event_id, r.value AS purchase_value
        |FROM (SELECT * FROM events WHERE event_type = 'error') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.user_id, ts_us""".stripMargin)),
    QueryDef("w6_forward_fill", w6ForwardFill, Sql(
      """WITH ranked AS (
        |  SELECT user_id, (epoch_us(ts) // 3600000000) * 3600000000 AS bucket_us, value,
        |         row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 3600000000 ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |o AS (SELECT user_id, bucket_us, value FROM ranked WHERE rn = 1),
        |bounds AS (SELECT user_id, min(bucket_us) AS lo, max(bucket_us) AS hi FROM o GROUP BY user_id),
        |grid AS (SELECT user_id, unnest(generate_series(lo, hi, 3600000000)) AS bucket_us FROM bounds),
        |j AS (SELECT g.user_id, g.bucket_us, o.value, o.user_id IS NOT NULL AS obs
        |      FROM grid g LEFT JOIN o ON g.user_id = o.user_id AND g.bucket_us = o.bucket_us),
        |f AS (SELECT user_id, bucket_us, obs,
        |        last_value(value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
        |      FROM j)
        |SELECT user_id, bucket_us, value FROM f WHERE NOT obs ORDER BY user_id, bucket_us""".stripMargin)),
    QueryDef("w7_prior_period", w7PriorPeriod, Sql(
      """WITH ranked AS (
        |  SELECT user_id, (epoch_us(ts) // 86400000000) * 86400000000 AS day_us, value,
        |         row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 86400000000 ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |o AS (SELECT user_id, day_us, value AS period_last FROM ranked WHERE rn = 1)
        |SELECT user_id, day_us, period_last,
        |       lag(period_last, 1) OVER (PARTITION BY user_id ORDER BY day_us) AS prior_last
        |FROM o ORDER BY user_id, day_us""".stripMargin)),
    QueryDef("p7_nearest_key", p7NearestKey, Sql(
      """SELECT target, k AS matched FROM (
        |  SELECT t.target, a.k, row_number() OVER (PARTITION BY t.target ORDER BY abs(a.k - t.target), a.k) AS rn
        |  FROM (SELECT unnest([5, 15, 25, 48]) AS target) t
        |  CROSS JOIN (SELECT DISTINCT p_size AS k FROM part) a) x
        |WHERE rn = 1 ORDER BY target""".stripMargin)),
    QueryDef("p1_filter_pushdown", p1FilterPushdown, Sql(
      """SELECT l_orderkey, l_linenumber, l_quantity, strftime(l_shipdate, '%Y-%m-%d') AS ship_date
        |FROM lineitem
        |WHERE l_returnflag = 'R' AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QueryDef("s7_pivot_wide", s7PivotWide, Sql(
      """SELECT user_id, (epoch_us(ts) // 86400000000) * 86400000000 AS day_us,
        |  round(sum(CASE WHEN event_type = 'click' THEN value END), 6) AS click,
        |  round(sum(CASE WHEN event_type = 'error' THEN value END), 6) AS error,
        |  round(sum(CASE WHEN event_type = 'purchase' THEN value END), 6) AS purchase,
        |  round(sum(CASE WHEN event_type = 'signup' THEN value END), 6) AS signup,
        |  round(sum(CASE WHEN event_type = 'view' THEN value END), 6) AS view
        |FROM events GROUP BY user_id, day_us ORDER BY user_id, day_us""".stripMargin)),
    QueryDef("f1_normalize", f1Normalize, Sql(
      """SELECT event_id,
        |  CASE WHEN isnan(raw) OR isinf(raw) THEN NULL ELSE round(raw, 10) END AS norm_value
        |FROM (SELECT event_id,
        |        CASE WHEN event_id % 10 = 0 THEN 'inf'::DOUBLE
        |             WHEN event_id % 10 = 1 THEN 'nan'::DOUBLE
        |             WHEN event_id % 10 = 2 THEN '-inf'::DOUBLE
        |             ELSE value END AS raw
        |      FROM events) t
        |ORDER BY event_id""".stripMargin)),
    QueryDef("f2_symbol_munge", f2SymbolMunge, Sql(
      """WITH s AS (
        |  SELECT event_id,
        |    concat('U', CAST(user_id AS VARCHAR), '{=',
        |      CASE event_type WHEN 'click' THEN '1m' WHEN 'error' THEN '5m' WHEN 'purchase' THEN '1h'
        |                      WHEN 'signup' THEN '1d' WHEN 'view' THEN '1w' END, '}') AS sym
        |  FROM events),
        |t AS (SELECT event_id, sym, regexp_replace(sym, '\{=1([a-zA-Z])\}', '{=\1}') AS stripped FROM s),
        |u AS (SELECT event_id, sym, stripped,
        |        regexp_extract(stripped, '^(.*?)\{=', 1) AS ticker,
        |        regexp_extract(stripped, '\{=([^}]+)\}', 1) AS rawint
        |      FROM t),
        |v AS (SELECT event_id, sym, stripped, ticker,
        |        CASE WHEN regexp_matches(rawint, '^[a-zA-Z]') THEN concat('1', rawint) ELSE rawint END AS interval
        |      FROM u)
        |SELECT event_id, sym, stripped, ticker, interval,
        |  CAST(CASE WHEN regexp_extract(interval, '^(\d+)', 1) = '' THEN 1
        |            ELSE CAST(regexp_extract(interval, '^(\d+)', 1) AS BIGINT) END *
        |    CASE regexp_extract(interval, '([a-zA-Z]+)$', 1)
        |      WHEN 's' THEN 1000 WHEN 'm' THEN 60000 WHEN 'h' THEN 3600000
        |      WHEN 'd' THEN 86400000 WHEN 'w' THEN 604800000 END AS BIGINT) AS interval_ms
        |FROM v ORDER BY event_id""".stripMargin)),
    QueryDef("f6_occ_roundtrip", f6OccRoundtrip, Sql(
      """WITH o AS (
        |  SELECT p_partkey,
        |    concat(rpad(substr(p_brand, 1, 6), 6, ' '), '260320',
        |           CASE WHEN p_size % 2 = 0 THEN 'C' ELSE 'P' END,
        |           lpad(CAST(CAST(round(p_retailprice, 0) * 1000 AS BIGINT) AS VARCHAR), 8, '0')) AS occ
        |  FROM part)
        |SELECT p_partkey, occ,
        |  strftime(strptime(concat('20', regexp_extract(occ, '(\d{6})([CP])(.+)$', 1)), '%Y%m%d'), '%Y-%m-%d') AS expiry,
        |  regexp_extract(occ, '(\d{6})([CP])(.+)$', 2) AS opt_type,
        |  CASE WHEN length(regexp_extract(occ, '(\d{6})([CP])(.+)$', 3)) = 8
        |       THEN CAST(regexp_extract(occ, '(\d{6})([CP])(.+)$', 3) AS DOUBLE) / 1000.0
        |       ELSE CAST(regexp_extract(occ, '(\d{6})([CP])(.+)$', 3) AS DOUBLE) END AS strike
        |FROM o ORDER BY p_partkey""".stripMargin)),
    QueryDef("f7_scalar_effects", f7ScalarEffects, Sql(
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice ELSE -o_totalprice END AS signed_amount,
        |  round((CAST(o_orderkey % 10000 AS DOUBLE) / CAST(100 AS DOUBLE)
        |         + CAST(o_orderkey % 10000 + o_orderkey % 200 + 1 AS DOUBLE) / CAST(100 AS DOUBLE)) / CAST(2 AS DOUBLE), 4) AS mid,
        |  (-((CAST(o_orderkey % 50 AS DOUBLE) + 1) / CAST(1000 AS DOUBLE)))
        |    * CAST((CASE WHEN o_orderkey % 4 < 2 THEN 1 ELSE -1 END) * (o_orderkey % 3 + 1) AS DOUBLE)
        |    * CAST(100 AS DOUBLE) AS dollar_theta,
        |  CASE WHEN o_orderkey % 3 = 0 THEN concat('/ES', CAST(o_orderkey % 10 AS VARCHAR))
        |       ELSE concat('SPY', CAST(o_orderkey % 10 AS VARCHAR)) END AS sym,
        |  CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END AS is_fut,
        |  CASE WHEN o_orderkey % 3 = 0 THEN concat('ES', CAST(o_orderkey % 10 AS VARCHAR))
        |       ELSE concat('SPY', CAST(o_orderkey % 10 AS VARCHAR)) END AS product,
        |  CASE WHEN o_orderkey % 5 IN (0, 1, 2) THEN NULL ELSE o_totalprice END AS parsed_price,
        |  ((o_orderkey * 61234 + 17) // 300000) * 300000 AS bar_ms
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    QueryDef("p5_session_filter", p5SessionFilter, Sql(
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type
        |FROM events
        |WHERE hour(timezone('America/New_York', timezone('UTC', ts))) * 60
        |      + minute(timezone('America/New_York', timezone('UTC', ts))) >= 600
        |  AND hour(timezone('America/New_York', timezone('UTC', ts))) * 60
        |      + minute(timezone('America/New_York', timezone('UTC', ts))) < 900
        |ORDER BY event_id""".stripMargin)),
    QueryDef("f19_time_display", f19TimeDisplay, Sql(
      """WITH t AS (
        |  SELECT event_id, epoch_us(ts) // 1000000 AS es,
        |    (event_id * 7919) % 500000 AS up,
        |    CASE WHEN event_id % 11 = 0 THEN NULL ELSE (event_id * 104729) % 200000 END AS a
        |  FROM events)
        |SELECT event_id,
        |  up AS uptime_s,
        |  CASE WHEN up // 86400 > 0 THEN concat(CAST(up // 86400 AS VARCHAR), 'd ',
        |           CAST((up % 86400) // 3600 AS VARCHAR), 'h ', CAST((up % 3600) // 60 AS VARCHAR), 'm')
        |       WHEN (up % 86400) // 3600 > 0 THEN concat(CAST((up % 86400) // 3600 AS VARCHAR), 'h ',
        |           CAST((up % 3600) // 60 AS VARCHAR), 'm')
        |       ELSE concat(CAST((up % 3600) // 60 AS VARCHAR), 'm') END AS uptime,
        |  a AS age_s,
        |  CASE WHEN a IS NULL THEN 'unknown'
        |       WHEN a < 60 THEN concat(CAST((a * 2 + 1) // 2 AS VARCHAR), 's ago')
        |       WHEN a < 3600 THEN concat(CAST((a * 2 + 60) // 120 AS VARCHAR), 'm ago')
        |       WHEN a < 86400 THEN concat(CAST(((a * 20 + 3600) // 7200) // 10 AS VARCHAR), '.',
        |           CAST(((a * 20 + 3600) // 7200) % 10 AS VARCHAR), 'h ago')
        |       ELSE concat(CAST(((a * 20 + 86400) // 172800) // 10 AS VARCHAR), '.',
        |           CAST(((a * 20 + 86400) // 172800) % 10 AS VARCHAR), 'd ago') END AS age,
        |  epoch_us(timezone('America/New_York', timezone('UTC', make_timestamp(es * 1000000)))) // 1000000 AS et_epoch,
        |  strftime(CASE WHEN isodow(CAST(ts AS DATE)) = 7 THEN CAST(ts AS DATE) - 2
        |                WHEN isodow(CAST(ts AS DATE)) = 6 THEN CAST(ts AS DATE) - 1
        |                ELSE CAST(ts AS DATE) END, '%Y-%m-%d') AS last_wd
        |FROM t JOIN events USING (event_id) ORDER BY event_id""".stripMargin)),
    QueryDef("j3_coalesce_join", j3CoalesceJoin, Sql(
      """SELECT o_orderkey,
        |  coalesce(c_name, concat('CUST-', CAST(o_custkey AS VARCHAR))) AS display_name
        |FROM orders
        |LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 3 = 0) c ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin)),
    QueryDef("w9_flags_filter", w9FlagsFilter, Sql(
      """SELECT event_id, CAST(event_id % 32 AS INTEGER) AS flags, event_type
        |FROM events WHERE ((event_id % 32) & 24) <> 0 ORDER BY event_id""".stripMargin)),
    QueryDef("w12_jitter", w12Jitter, Sql(
      """SELECT doc_id,
        |  ('0x' || substr(sha256(concat(source, '|', CAST(doc_id AS VARCHAR))), 1, 6))::BIGINT % 1000 AS jitter_us
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QueryDef("a6_campaign_rollup", a6CampaignRollup, Sql(
      """SELECT o_custkey,
        |  round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE -o_totalprice END), 2) AS net,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses,
        |  greatest(0.0, -round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE -o_totalprice END), 2)) AS recovery
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),
    QueryDef("w8_candle_close", w8CandleClose, Sql(
      """WITH b AS (
        |  SELECT user_id, ts, event_id, value,
        |    (epoch_us(ts) // 300000000) * 300000000 AS bucket_us
        |  FROM events),
        |l AS (
        |  SELECT user_id, bucket_us,
        |    lag(bucket_us, 1) OVER w AS prev_bucket,
        |    lag(value, 1) OVER w AS prev_value
        |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, prev_bucket AS closed_bucket_us, prev_value AS final_value
        |FROM l WHERE prev_bucket IS NOT NULL AND bucket_us > prev_bucket
        |ORDER BY user_id, closed_bucket_us""".stripMargin)),
    QueryDef("u4_symbol_dedup", u4SymbolDedup, Sql(
      """SELECT DISTINCT string_split(concat('U', CAST(user_id AS VARCHAR), '{=', event_type, '}'), '{=')[1] AS ticker
        |FROM events ORDER BY ticker""".stripMargin)),
    QueryDef("j5_explode_join", j5ExplodeJoin, Sql(
      """SELECT o_custkey,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  round(sum(l_extendedprice), 2) AS total_price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),
    QueryDef("s2_wire_decode", s2WireDecode, Sql(
      """WITH f AS (
        |  SELECT user_id,
        |    flatten(list([CAST(event_id AS VARCHAR), CAST(epoch_us(ts) AS VARCHAR)] ORDER BY ts, event_id, epoch_us(ts))) AS vals
        |  FROM events GROUP BY user_id),
        |c AS (
        |  SELECT user_id, unnest(generate_series(0, len(vals) // 2 - 1)) AS seq, vals
        |  FROM f)
        |SELECT user_id, CAST(seq AS INTEGER) AS seq,
        |  CAST(vals[2*seq + 1] AS BIGINT) AS event_id,
        |  CAST(vals[2*seq + 2] AS BIGINT) AS ts_us
        |FROM c ORDER BY user_id, seq""".stripMargin)),
    QueryDef("f16_leg_desc", f16LegDesc, Sql(
      """SELECT o_custkey,
        |  string_agg(concat(o_orderstatus, '#', CAST(o_orderkey AS VARCHAR)), ',' ORDER BY concat(o_orderstatus, '#', CAST(o_orderkey AS VARCHAR))) AS legs,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM orders WHERE o_totalprice > 400000.0
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin))
  )
}
