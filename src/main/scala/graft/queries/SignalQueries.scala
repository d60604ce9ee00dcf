package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Replay
import graft.indicators.Indicators
import graft.io.Tables

import graft.queries.Oracle.Sql

/** Indicator and signal queries: padded WMA, Hull, seeded EMA and MACD
  * per user series, the HullMacd signal engine and the backtest slice.
  * The oracle's CTE chain ([[signalEngineCtes]]) restates the indicator
  * recursions in the engine's own add order, so float columns match bit
  * for bit; the stream carriers t4, t5 and t9 reuse it.
  */
object SignalQueries {

  /** W1 — padded weighted MA over each user's value series, pad = first
    * value (reference `momentum.py:10-40`). Pure window expressions;
    * bit-exact against the DuckDB lag-formula oracle.
    */
  def w1PaddedWma(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val pad = first($"value").over(w)
    ev.withColumn("wma", Indicators.paddedWmaCol($"value", pad, 5, w))
      .select("user_id", "ts_us", "event_id", "wma")
      .orderBy("user_id", "ts_us", "event_id")
  }

  /** W2 — Hull MA (length 8 → half 4, √ → 3) per user, pad = first value
    * (reference `momentum.py:43-98`).
    */
  def w2Hull(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    Indicators
      .withHull(ev, "user_id", Seq("ts", "event_id"), "value", 8, padCol = None)
      .select("user_id", "ts_us", "event_id", "hma", "hma_color")
      .orderBy("user_id", "ts_us", "event_id")
  }

  /** W3 — seeded EMA (length 5, seed = first value) per user
    * (reference `momentum.py:101-113`); single-pass per-key fold.
    */
  def w3EmaSeeded(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    Indicators
      .withEmaSeeded(ev, "user_id", Seq("ts", "event_id"), "value", None, 5, "ema")
      .select("user_id", "ts_us", "event_id", "ema")
      .orderBy("user_id", "ts_us", "event_id")
  }

  /** W4 — MACD(4,8,3) per user, prior close = first value, signal seed 0
    * (reference `momentum.py:116-193`); one streaming pass.
    */
  def w4Macd(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    Indicators
      .withMacd(ev, "user_id", Seq("ts", "event_id"), "value", None, 4, 8, 3)
      .select("user_id", "ts_us", "event_id", "macd_value", "avg", "diff", "diff_color")
      .orderBy("user_id", "ts_us", "event_id")
  }

  /** T5 — HullMacd confluence signal engine over each user's value
    * series (user ≈ symbol, value ≈ close, ET session gates on the
    * event timestamps).
    */
  def g1SignalEngine(spark: SparkSession, dir: String): DataFrame =
    graft.signals.HullMacd
      // assumeDeduped: the feed is already unique on (symbol, ts_us) with
      // a real tie-break the oracle mirrors; detectSignals' own dedup
      // would keep an arbitrary row among ties
      .detectSignals(Replay.candleFeed(spark, dir), "symbol", "ts_us", "value", assumeDeduped = true)
      .orderBy("symbol", "time_us", "signal_type", "direction")

  /** §3.3 — end-to-end backtest slice: 30-minute signal candles through
    * the HullMacd engine, entry prices as-of joined from the raw stream.
    */
  def b1Backtest(spark: SparkSession, dir: String): DataFrame = {
    val (pricing, signalCandles) = Replay.backtestSides(spark, dir)
    graft.backtest.Backtest
      // assumeDeduped: bucket candles are unique per (symbol, time) by
      // construction (one row per bucket)
      .run(signalCandles, pricing, hullLength = 8, fast = 4, slow = 8, signalLen = 3, assumeDeduped = true)
      .select("symbol", "time_us", "signal_type", "direction", "trigger", "close_price", "entry_price")
      .orderBy("symbol", "time_us", "signal_type", "direction")
  }

  /** B1-enrich — the oracle-checkable half of the backtest: candle-close
    * rows (the signal positions a state machine would emit, here derived
    * relationally: last event per 30-min bucket, stamped at the bucket
    * start) enriched with the as-of entry price through the SAME
    * [[graft.backtest.Backtest.enrichSignals]] code path b1 uses. Hash-
    * checks the union+window as-of machinery; the signal ENGINE half
    * stays spec-carried (BacktestSpec/HullMacdSpec).
    */
  def b1Enrich(spark: SparkSession, dir: String): DataFrame = {
    val (pricing, candles) = Replay.backtestSides(spark, dir)
    graft.backtest.Backtest
      .enrichSignals(candles.withColumnRenamed("close", "close_price"), pricing)
      .select("symbol", "time_us", "close_price", "entry_price")
      .orderBy("symbol", "time_us")
  }

  /** Padded-WMA SQL with [[graft.indicators.Indicators.paddedWmaCol]]'s
    * exact left-to-right add order (bit-reproducible: SQL `+` is
    * left-associative like Scala's `reduceLeft`).
    */
  private def wmaSql(v: String, pad: String, period: Int, w: String): String = {
    val terms = (0 until period).map { k =>
      val weight = (period - k).toDouble
      val src = if (k == 0) v else s"coalesce(lag($v,$k) OVER $w, $pad)"
      s"$weight*$src"
    }
    s"(${terms.mkString(" + ")})/${(period * (period + 1) / 2).toDouble}"
  }

  // G1 — the HullMacd per-symbol state machine as a DuckDB list_reduce
  // fold (the a8 technique: LIST(VARCHAR) accumulator — STRUCT
  // accumulators mis-fold on ragged vectors in DuckDB v1.0.0 — with
  // nested single-element list_transforms binding locals). The
  // accumulator layout is [hullDir, macdPos, hullArmed, macdArmed,
  // bullishOpen, bearishOpen, sig...]; each candle item is
  // [ts_us, hull_color, macd_pos, pre_session, power_hour]. The fold
  // only emits (t|TYPE|DIR|TRIGGER) keys — every numeric output column
  // is a pass-through of the candle's indicator values, so they are
  // re-joined from the indicator CTEs (bit-exact per the w2/w4 oracle
  // precedent; same WMA add order, same seeded-EMA left fold).
  // Reference semantics: `analytics/engines/hull_macd.py:93-260`.
  private val g1Lambda: String =
    """(a, x) -> CASE WHEN x[4] = '1'
      |  THEN list_concat([x[2], x[3], a[3], a[4], a[5], a[6]], a[7:])
      |  ELSE list_transform([[
      |         CASE WHEN a[1] <> '' AND a[1] <> x[2] THEN '1' ELSE '0' END,
      |         CASE WHEN a[2] <> '' AND a[2] <> x[3] THEN '1' ELSE '0' END]], h ->
      |    list_transform([[
      |         CASE WHEN a[5] = '1' AND h[1] = '1' AND x[2] = 'Down' THEN 'hull'
      |              WHEN a[5] = '1' AND h[2] = '1' AND x[3] = 'bearish' THEN 'macd'
      |              ELSE '' END,
      |         CASE WHEN a[6] = '1' AND h[1] = '1' AND x[2] = 'Up' THEN 'hull'
      |              WHEN a[6] = '1' AND h[2] = '1' AND x[3] = 'bullish' THEN 'macd'
      |              ELSE '' END]], c ->
      |      list_transform([[
      |         CASE WHEN c[1] <> '' THEN '0' ELSE a[5] END,
      |         CASE WHEN c[2] <> '' THEN '0' ELSE a[6] END]], o ->
      |        list_transform([list_concat(
      |             CASE WHEN c[1] <> '' THEN [x[1] || '|CLOSE|BULLISH|' || c[1]] ELSE []::VARCHAR[] END,
      |             CASE WHEN c[2] <> '' THEN [x[1] || '|CLOSE|BEARISH|' || c[2]] ELSE []::VARCHAR[] END)], g ->
      |          CASE WHEN x[5] = '1'
      |            THEN list_concat(list_concat([x[2], x[3], a[3], a[4], o[1], o[2]], a[7:]), g)
      |            ELSE list_transform([[
      |                   CASE WHEN h[1] = '1' THEN (CASE WHEN x[2] = 'Up' THEN 'BULLISH' ELSE 'BEARISH' END) ELSE a[3] END,
      |                   CASE WHEN h[2] = '1' THEN (CASE WHEN x[3] = 'bullish' THEN 'BULLISH' ELSE 'BEARISH' END) ELSE a[4] END]], r ->
      |              CASE
      |                WHEN r[1] <> '' AND r[1] = r[2]
      |                     AND NOT ((r[1] = 'BULLISH' AND o[1] = '1') OR (r[1] = 'BEARISH' AND o[2] = '1'))
      |                THEN list_concat(list_concat(
      |                       [x[2], x[3], '', '',
      |                        CASE WHEN r[1] = 'BULLISH' THEN '1' ELSE o[1] END,
      |                        CASE WHEN r[1] = 'BEARISH' THEN '1' ELSE o[2] END], a[7:]),
      |                       list_append(g, x[1] || '|OPEN|' || r[1] || '|confluence'))
      |                WHEN r[1] <> '' AND r[2] <> '' AND r[1] <> r[2]
      |                THEN list_concat(list_concat(
      |                       [x[2], x[3],
      |                        CASE WHEN h[1] = '1' AND h[2] = '0' THEN r[1] ELSE '' END,
      |                        CASE WHEN h[2] = '1' AND h[1] = '0' THEN r[2] ELSE '' END,
      |                        o[1], o[2]], a[7:]), g)
      |                ELSE list_concat(list_concat([x[2], x[3], r[1], r[2], o[1], o[2]], a[7:]), g)
      |              END)[1]
      |          END)[1])[1])[1])[1]
      |END""".stripMargin

  /** The candle→indicator→state-machine CTE chain shared by the g1 and
    * b1 oracles, parameterized on indicator lengths exactly like
    * [[graft.signals.HullMacd.detectSignals]]. `src` must be a prior
    * CTE providing (symbol, ts_us, value). Produces CTEs `candles`
    * (indicator-augmented, `rn` = per-symbol row number) and `parsed`
    * (one row per emitted signal: symbol, time_us, signal_type,
    * direction, trigger).
    */
  private[queries] def signalEngineCtes(src: String, hullLength: Int, fast: Int, slow: Int, signalLen: Int): String = {
    val half = math.round(hullLength / 2.0).toInt
    val sqrtLen = math.round(math.sqrt(hullLength.toDouble)).toInt
    val wmaHalf = wmaSql("value", "pad", half, "w")
    val wmaFull = wmaSql("value", "pad", hullLength, "w")
    val wmaFinal = wmaSql("hd", "pad", sqrtLen, "w")
    val aF = s"2.0/${fast + 1}.0"
    val aS = s"2.0/${slow + 1}.0"
    val aM = s"2.0/${signalLen + 1}.0"
    s"""base AS (
       |  SELECT symbol, ts_us, value,
       |         first_value(value) OVER (PARTITION BY symbol ORDER BY ts_us) AS pad,
       |         list(value) OVER (PARTITION BY symbol ORDER BY ts_us
       |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre
       |  FROM $src WHERE value IS NOT NULL),
       |d AS (
       |  SELECT *, 2.0*($wmaHalf) - ($wmaFull) AS hd
       |  FROM base WINDOW w AS (PARTITION BY symbol ORDER BY ts_us)),
       |h AS (
       |  SELECT *, $wmaFinal AS hma
       |  FROM d WINDOW w AS (PARTITION BY symbol ORDER BY ts_us)),
       |mac AS (
       |  SELECT *,
       |    list_reduce(list_prepend(pad, pre), (acc, v) -> ($aF)*v + (1.0 - $aF)*acc)
       |    - list_reduce(list_prepend(pad, pre), (acc, v) -> ($aS)*v + (1.0 - $aS)*acc) AS macd_value
       |  FROM h),
       |sg AS (
       |  SELECT *,
       |    list_reduce(list_prepend(0.0, list(macd_value) OVER (PARTITION BY symbol ORDER BY ts_us
       |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |                (acc, v) -> ($aM)*v + (1.0 - $aM)*acc) AS avg
       |  FROM mac),
       |candles AS (
       |  SELECT symbol, ts_us, value AS close_price,
       |    hma,
       |    CASE WHEN hma > lag(hma,1) OVER w THEN 'Up' ELSE 'Down' END AS hma_color,
       |    macd_value, avg, macd_value - avg AS diff,
       |    CASE WHEN macd_value > avg THEN 'bullish' ELSE 'bearish' END AS mp,
       |    CASE WHEN hour(timezone('America/New_York', timezone('UTC',
       |           make_timestamp((ts_us // 1000) * 1000)))) < 10 THEN '1' ELSE '0' END AS pre_gate,
       |    CASE WHEN hour(timezone('America/New_York', timezone('UTC',
       |           make_timestamp((ts_us // 1000) * 1000)))) >= 15 THEN '1' ELSE '0' END AS pow_gate,
       |    row_number() OVER w AS rn
       |  FROM sg WINDOW w AS (PARTITION BY symbol ORDER BY ts_us)),
       |packed AS (
       |  SELECT symbol,
       |    list([CAST(ts_us AS VARCHAR), hma_color, mp, pre_gate, pow_gate] ORDER BY ts_us) AS l
       |  FROM candles WHERE rn >= 2 GROUP BY symbol),
       |folded AS (
       |  SELECT symbol, list_reduce(list_prepend(['','','','','0','0'], l), $g1Lambda) AS s
       |  FROM packed),
       |sigs AS (SELECT symbol, unnest(s[7:]) AS enc FROM folded),
       |parsed AS (
       |  SELECT symbol, CAST(split_part(enc,'|',1) AS BIGINT) AS time_us,
       |    split_part(enc,'|',2) AS signal_type, split_part(enc,'|',3) AS direction,
       |    split_part(enc,'|',4) AS trigger
       |  FROM sigs)""".stripMargin
  }

  private val g1Sql: String =
    s"""WITH src AS (
       |  SELECT symbol, ts_us, value FROM (
       |    SELECT CAST(user_id AS VARCHAR) AS symbol, epoch_us(ts) AS ts_us, value,
       |      row_number() OVER (PARTITION BY user_id, epoch_us(ts) ORDER BY event_id DESC) AS rn
       |    FROM events WHERE value IS NOT NULL) t
       |  WHERE rn = 1),
       |${signalEngineCtes("src", hullLength = 20, fast = 12, slow = 26, signalLen = 9)}
       |SELECT p.symbol, p.time_us, p.signal_type, p.direction, 'hull_macd' AS engine, p.trigger,
       |  c.hma_color AS hull_direction, c.hma AS hull_value, c.macd_value,
       |  c.avg AS macd_signal, c.diff AS macd_histogram, c.close_price
       |FROM parsed p JOIN candles c ON p.symbol = c.symbol AND p.time_us = c.ts_us
       |ORDER BY p.symbol, p.time_us, p.signal_type, p.direction""".stripMargin

  // B1 — the FULL backtest slice: 30-minute signal candles (latest event
  // per bucket, stamped at the bucket start) → the same fold at
  // Hull(8)/MACD(4,8,3) → each signal enriched with its as-of entry
  // price from the raw pricing stream (DuckDB native ASOF JOIN, the
  // b1_enrich-proven shape). Composition of two already-green halves.
  private[queries] val b1Sql: String =
    s"""WITH pricing AS (
       |  SELECT CAST(user_id AS VARCHAR) AS symbol, epoch_us(ts) AS time_us, value AS close, event_id
       |  FROM events),
       |ranked AS (
       |  SELECT symbol, (time_us // 1800000000) * 1800000000 AS bucket_us, time_us, close,
       |    row_number() OVER (PARTITION BY symbol, time_us // 1800000000
       |                       ORDER BY time_us DESC, event_id DESC) AS rnk
       |  FROM pricing),
       |src AS (SELECT symbol, bucket_us AS ts_us, close AS value FROM ranked WHERE rnk = 1),
       |${signalEngineCtes("src", hullLength = 8, fast = 4, slow = 8, signalLen = 3)}
       |SELECT p.symbol, p.time_us, p.signal_type, p.direction, p.trigger,
       |  c.close_price, r.close AS entry_price
       |FROM parsed p
       |JOIN candles c ON p.symbol = c.symbol AND p.time_us = c.ts_us
       |ASOF LEFT JOIN (
       |  SELECT symbol, time_us, close FROM (
       |    SELECT symbol, time_us, close,
       |      row_number() OVER (PARTITION BY symbol, time_us ORDER BY event_id DESC) AS prn
       |    FROM pricing WHERE close IS NOT NULL) dp
       |  WHERE prn = 1) r
       |  ON p.symbol = r.symbol AND p.time_us >= r.time_us
       |ORDER BY p.symbol, p.time_us, p.signal_type, p.direction""".stripMargin

  val defs: List[QueryDef] = List(
    QueryDef("w1_padded_wma", w1PaddedWma, Sql(
      """WITH b AS (
        |  SELECT user_id, ts, event_id, epoch_us(ts) AS ts_us, value,
        |         first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pad
        |  FROM events)
        |SELECT user_id, ts_us, event_id,
        |  (5.0*value + 4.0*coalesce(lag(value,1) OVER w, pad) + 3.0*coalesce(lag(value,2) OVER w, pad) + 2.0*coalesce(lag(value,3) OVER w, pad) + 1.0*coalesce(lag(value,4) OVER w, pad)) / 15.0 AS wma
        |FROM b
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, ts_us, event_id""".stripMargin)),
    QueryDef("w2_hull", w2Hull, Sql(
      """WITH b AS (
        |  SELECT user_id, ts, event_id, epoch_us(ts) AS ts_us, value,
        |         first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pad
        |  FROM events),
        |d AS (
        |  SELECT user_id, ts, event_id, ts_us, pad,
        |    2.0*((4.0*value + 3.0*coalesce(lag(value,1) OVER w, pad) + 2.0*coalesce(lag(value,2) OVER w, pad) + 1.0*coalesce(lag(value,3) OVER w, pad))/10.0)
        |    - ((8.0*value + 7.0*coalesce(lag(value,1) OVER w, pad) + 6.0*coalesce(lag(value,2) OVER w, pad) + 5.0*coalesce(lag(value,3) OVER w, pad) + 4.0*coalesce(lag(value,4) OVER w, pad) + 3.0*coalesce(lag(value,5) OVER w, pad) + 2.0*coalesce(lag(value,6) OVER w, pad) + 1.0*coalesce(lag(value,7) OVER w, pad))/36.0) AS hd
        |  FROM b
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |h AS (
        |  SELECT user_id, ts, event_id, ts_us,
        |    (3.0*hd + 2.0*coalesce(lag(hd,1) OVER w, pad) + 1.0*coalesce(lag(hd,2) OVER w, pad))/6.0 AS hma
        |  FROM d
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, ts_us, event_id, hma,
        |  CASE WHEN hma > lag(hma,1) OVER (PARTITION BY user_id ORDER BY ts, event_id) THEN 'Up' ELSE 'Down' END AS hma_color
        |FROM h ORDER BY user_id, ts_us, event_id""".stripMargin)),
    QueryDef("w3_ema_seeded", w3EmaSeeded, Sql(
      """WITH b AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |         first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seed,
        |         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre
        |  FROM events)
        |SELECT user_id, ts_us, event_id,
        |  list_reduce(list_prepend(seed, pre), (acc, x) -> (2.0/6.0)*x + (1.0 - 2.0/6.0)*acc) AS ema
        |FROM b ORDER BY user_id, ts_us, event_id""".stripMargin)),
    QueryDef("w4_macd", w4Macd, Sql(
      """WITH b AS (
        |  SELECT user_id, ts, epoch_us(ts) AS ts_us, event_id,
        |         first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seed,
        |         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts, ts_us, event_id,
        |    list_reduce(list_prepend(seed, pre), (acc, x) -> (2.0/5.0)*x + (1.0 - 2.0/5.0)*acc)
        |    - list_reduce(list_prepend(seed, pre), (acc, x) -> (2.0/9.0)*x + (1.0 - 2.0/9.0)*acc) AS macd_value
        |  FROM b),
        |s AS (
        |  SELECT user_id, ts, ts_us, event_id, macd_value,
        |    list_reduce(list_prepend(0.0, list(macd_value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), (acc, x) -> (2.0/4.0)*x + (1.0 - 2.0/4.0)*acc) AS avg
        |  FROM m),
        |d AS (SELECT *, macd_value - avg AS diff FROM s),
        |e AS (SELECT *, lag(diff,1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pd FROM d)
        |SELECT user_id, ts_us, event_id, macd_value, avg, diff,
        |  CASE WHEN pd IS NULL THEN (CASE WHEN diff > 0 THEN '#04FE00' ELSE '#FE0000' END)
        |       WHEN diff > 0 THEN (CASE WHEN diff > pd THEN '#04FE00' ELSE '#006401' END)
        |       ELSE (CASE WHEN diff < pd THEN '#FE0000' ELSE '#7E0100' END) END AS diff_color
        |FROM e ORDER BY user_id, ts_us, event_id""".stripMargin)),
    QueryDef("g1_signal_engine", g1SignalEngine, Sql(g1Sql)),
    QueryDef("b1_backtest", b1Backtest, Sql(b1Sql)),
    // B1-enrich — candle-close signal rows (last event per 30-min bucket,
    // stamped at the bucket start) as-of joined to the pricing stream.
    QueryDef("b1_enrich", b1Enrich, Sql(
      """WITH pricing AS (
        |  SELECT CAST(user_id AS VARCHAR) AS symbol, epoch_us(ts) AS time_us, value AS close, event_id
        |  FROM events),
        |ranked AS (
        |  SELECT symbol, (time_us // 1800000000) * 1800000000 AS bucket_us, time_us, close,
        |    row_number() OVER (PARTITION BY symbol, time_us // 1800000000
        |                       ORDER BY time_us DESC, event_id DESC) AS rn
        |  FROM pricing),
        |sig AS (SELECT symbol, bucket_us AS time_us, close AS close_price FROM ranked WHERE rn = 1)
        |SELECT l.symbol, l.time_us, l.close_price, r.close AS entry_price
        |FROM sig l
        |ASOF LEFT JOIN (
        |  SELECT symbol, time_us, close FROM (
        |    SELECT symbol, time_us, close,
        |      row_number() OVER (PARTITION BY symbol, time_us ORDER BY event_id DESC) AS prn
        |    FROM pricing WHERE close IS NOT NULL) dp
        |  WHERE prn = 1) r
        |  ON l.symbol = r.symbol AND l.time_us >= r.time_us
        |ORDER BY l.symbol, l.time_us""".stripMargin))
  )
}
