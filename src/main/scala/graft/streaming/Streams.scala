package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessorWithInitialState, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types.StructType

import graft.ops.Relational
import graft.signals.HullMacd

/** Structured Streaming twins of the batch operators (SURVEY §2.9).
  *
  * The reference's live pipeline (DXLink WS → per-channel queues →
  * processors) maps to: file/Kafka `readStream` → the same declarative
  * transforms as batch → `writeStream` sinks. Streaming-specific
  * semantics live here: watermarked keep-last upsert (T2), tumbling
  * windows (T3), stateful dedup (T6), and the incremental
  * indicator+signal state (W5/T5).
  */
object Streams {

  /** S1/S3 analog: schema-declared file stream (no inference on the hot
    * path — reference generates its wire field list from the model,
    * `configurations.py:42-46`).
    */
  def readEventStream(spark: SparkSession, dir: String, schema: StructType, maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Scale-adaptive shuffle/state width for a micro-batch stream over
    * file sources — the manual analogue of AQE partition coalescing,
    * which does NOT run for stateful streaming (the state width is
    * fixed by `spark.sql.shuffle.partitions` at first start and pinned
    * in the checkpoint). A stateful operator instantiates one state
    * store per shuffle partition PER MICRO-BATCH (delta file write +
    * commit each), so a width tuned for a cluster-sized stream makes a
    * small stream pay hundreds of file commits per trigger for a few MB
    * of data (r13 StreamProbe: a 2 MB 3-batch stream at width 32 spent
    * 8–30 s of summed state-commit time; width 4–8 spends well under
    * 1 s and halves the micro-batch wall time).
    *
    * Derivation: `ceil(sourceBytes / advisoryPartitionSizeInBytes)`
    * (the SAME knob AQE coalesces batch shuffles toward), clamped to
    * `[min(8, sessionWidth), sessionWidth]` — the width never EXCEEDS
    * the configured session width (a cluster's 200+ stays authoritative
    * at scale, where bytes/advisory dwarfs it), and the small floor
    * keeps a tiny stream's stateful stage multi-core without paying
    * per-partition commit cost for idle partitions.
    */
  def adaptiveStateWidth(spark: SparkSession, srcDirs: Seq[String]): Int = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val bytes = srcDirs.map { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(hconf)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }.sum
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"))
    val sessionWidth = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val derived = math.ceil(bytes.toDouble / math.max(1L, advisory)).toInt
    math.min(sessionWidth, math.max(math.min(8, sessionWidth), derived))
  }

  /** A1/T2 — streaming latest-value table: watermarked update-mode
    * aggregation keeping the max-(time, tiebreak) row per key
    * (reference Redis HSET latest, `redis.py:36-38`). Note on lateness:
    * a streaming aggregation grouped only by key (no event-time window)
    * does NOT drop late rows or evict state at the watermark — results
    * stay correct because `max_by` ignores older rows; state is bounded
    * by key cardinality (the reference's Redis hash has the same bound),
    * not by the watermark.
    */
  def latestPerKey(df: DataFrame, key: String, tsCol: String, watermark: String, valueCols: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(col(key))
      .agg(max_by(struct((tsCol +: valueCols).map(col): _*), col(tsCol)).as("__latest"))
      .select(col(key) +: (tsCol +: valueCols).map(c => col(s"__latest.$c").as(c)): _*)

  /** T3/A11 — tumbling event-time window aggregate. */
  def windowedAgg(df: DataFrame, tsCol: String, watermark: String, windowDur: String, keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur) +: keys.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** T6 — stateful dedup by id within the watermark horizon (reference
    * fill-id dedup, `orchestrator.py:339-371`): dedup is by ID ALONE —
    * a re-delivered fill with a different timestamp is still the same
    * fill — with state bounded by the watermark
    * (`dropDuplicatesWithinWatermark`).
    */
  def dedupByIds(df: DataFrame, tsCol: String, watermark: String, idCols: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(idCols)

  // ---------------------------------------------------------------------
  // W5/T5: incremental indicator + signal state
  // ---------------------------------------------------------------------

  case class CandleIn(symbol: String, timeUs: Long, close: Double)

  /** Per-symbol incremental indicator state: trailing close/diff rings
    * for the Hull WMAs, EMA scalars for MACD, and the engine's
    * position-aware state. O(hullLength) memory per key, O(hullLength)
    * update. The batch engine folds this same kernel, so (unlike the
    * reference, which accepts drift between its engine and chart paths,
    * `Proposal.MD:136`) stream and batch cannot differ; the column form
    * (`Indicators.withHull`/`withMacd`) evaluates the same
    * trailing-window/recursion arithmetic and matches it bit for bit.
    */
  case class IndicatorState(
      closes: List[Double],
      diffs: List[Double],
      prevHma: Option[Double],
      fast: Double,
      slow: Double,
      signal: Double,
      count: Int,
      pad: Double,
      engine: HullMacd.State
  )

  case class SignalOut(
      symbol: String,
      time_us: Long,
      signal_type: String,
      direction: String,
      trigger: String,
      close_price: Double
  )

  /** Reference-order padded WMA over a trailing ring given NEWEST FIRST
    * (one walk, O(period)): identical term order to
    * `Indicators.paddedWmaCol`.
    */
  private def wmaPadded(newestFirst: List[Double], period: Int, pad: Double): Double = {
    val it = newestFirst.iterator
    var acc = 0.0
    var k = 0
    while (k < period) {
      val v = if (it.hasNext) it.next() else pad
      acc += (period - k).toDouble * v
      k += 1
    }
    acc / (period * (period + 1) / 2).toDouble
  }

  def stepIndicator(
      st: IndicatorState,
      c: CandleIn,
      hullLength: Int,
      fastLen: Int,
      slowLen: Int,
      signalLen: Int
  ): (IndicatorState, List[SignalOut]) = {
    val (next, _, sigs) = stepIndicatorFull(st, c, hullLength, fastLen, slowLen, signalLen)
    (next, sigs)
  }

  /** [[stepIndicator]] with the per-candle indicator SURFACE exposed
    * (the fully-computed [[HullMacd.Candle]] — hull value/color, MACD
    * value/signal/histogram): one arithmetic body serves the batch and
    * streaming signal engines and the W5 indicator-series emission, so
    * they cannot drift.
    */
  def stepIndicatorFull(
      st: IndicatorState,
      c: CandleIn,
      hullLength: Int,
      fastLen: Int,
      slowLen: Int,
      signalLen: Int
  ): (IndicatorState, HullMacd.Candle, List[SignalOut]) = {
    val half = math.round(hullLength / 2.0).toInt
    val sqrtLen = math.round(math.sqrt(hullLength.toDouble)).toInt
    val pad = if (st.count == 0) c.close else st.pad
    val closes = (st.closes :+ c.close).takeRight(hullLength)
    val recentCloses = closes.reverse
    val diff = 2.0 * wmaPadded(recentCloses, half, pad) - wmaPadded(recentCloses, hullLength, pad)
    val diffs = (st.diffs :+ diff).takeRight(sqrtLen)
    val hma = wmaPadded(diffs.reverse, sqrtLen, pad)
    val hullColor = if (st.prevHma.exists(hma > _)) "Up" else "Down"
    val aF = 2.0 / (fastLen + 1.0)
    val aS = 2.0 / (slowLen + 1.0)
    val aM = 2.0 / (signalLen + 1.0)
    val fast0 = if (st.count == 0) pad else st.fast
    val slow0 = if (st.count == 0) pad else st.slow
    val fast = aF * c.close + (1 - aF) * fast0
    val slow = aS * c.close + (1 - aS) * slow0
    val value = fast - slow
    val signal = aM * value + (1 - aM) * st.signal
    val hist = value - signal
    val candle = HullMacd.Candle(c.timeUs, c.close, hullColor, hma, value, signal, hist)
    val (engine2, sigs) =
      if (st.count + 1 < 2) (st.engine, Nil) // reference: >= 2 candles
      else HullMacd.step(st.engine, candle)
    val next = IndicatorState(closes, diffs, Some(hma), fast, slow, signal, st.count + 1, pad, engine2)
    (next, candle, sigs.map(s => SignalOut(c.symbol, s.timeUs, s.signalType, s.direction, s.trigger, s.closePrice)))
  }

  /** W5 output row: the incremental per-candle indicator series —
    * hull MA value/color and MACD value/signal/histogram, exactly the
    * surface the reference's chart state exposes after each O(1)
    * update (`charting/indicators.py:26-284`).
    */
  case class IndicatorOut(
      symbol: String,
      time_us: Long,
      hma: Double,
      hma_color: String,
      macd_value: Double,
      avg: Double,
      diff: Double
  )

  /** W5 — the incremental indicator SERIES through a stream: keyed
    * `flatMapGroupsWithState` emitting one [[IndicatorOut]] per candle
    * from the same O(1) [[stepIndicatorFull]] update the signal engine
    * folds, warm-startable from [[seedIndicatorState]] so a (re)started
    * stream CONTINUES the hull/MACD recursions over history instead of
    * re-padding from an empty window. Streaming ≡ batch by
    * construction: the emitted values are the batch w2/w4 recursions
    * evaluated over history ∪ stream in event order (the t4 oracle row
    * pins this cross-engine).
    */
  def indicatorSeriesStream(
      candles: org.apache.spark.sql.Dataset[CandleIn],
      initialState: Option[org.apache.spark.sql.KeyValueGroupedDataset[String, IndicatorState]] = None,
      hullLength: Int = 20,
      fast: Int = 12,
      slow: Int = 26,
      signalLen: Int = 9
  ): org.apache.spark.sql.Dataset[IndicatorOut] = {
    import candles.sparkSession.implicits._
    candleStream(candles, initialState)(seriesStep(hullLength, fast, slow, signalLen))
  }

  def emptyIndicatorState: IndicatorState =
    IndicatorState(Nil, Nil, None, 0.0, 0.0, 0.0, 0, 0.0, HullMacd.State())

  /** W5 warm start — seed per-symbol indicator state from batch history
    * (reference `charting/indicators.py:26-284`: `seed` folds the
    * historical candles, then live updates are O(1)). The history fold
    * runs [[stepIndicator]] itself, so the produced state is bit-exact
    * with what a stream that had consumed the same candles would hold;
    * signals fired *during* the warmup are discarded (warm, don't
    * score). One shuffle on symbol; per-key state is O(hullLength).
    *
    * Feed the result to [[detectSignalsStream]]'s `initialState` — a
    * restarted stream then continues the indicator recursions instead of
    * recomputing them wrongly from an empty window.
    */
  def seedIndicatorState(
      history: org.apache.spark.sql.Dataset[CandleIn],
      hullLength: Int = 20,
      fast: Int = 12,
      slow: Int = 26,
      signalLen: Int = 9
  ): org.apache.spark.sql.KeyValueGroupedDataset[String, IndicatorState] = {
    import history.sparkSession.implicits._
    // The Lifo shape (graft.ops.Relational.perKeyRuns): no group
    // materialization, so a caller can point this at a YEAR of history
    // (not just a warmup-window slice) and the engine's sort handles
    // spilling, not task memory.
    Relational.perKeyRuns(history, Seq(col("symbol")), Seq(col("timeUs")))(_.symbol) { (sym, run) =>
      Iterator.single(sym -> run.foldLeft(emptyIndicatorState)(stepIndicator(_, _, hullLength, fast, slow, signalLen)._1))
    }
      .groupByKey(_._1)
      .mapValues(_._2)
  }

  /** One key's micro-batch slice, sorted by `order` and folded through
    * `step` from `st`: the body of every stateful candle stream. The
    * sort buffers the trigger-bounded slice only, never the key's
    * history; cross-batch order is the source's responsibility (the
    * reference's live engine likewise processes in arrival order).
    */
  private def foldSlice[A, O: Ordering, S, B](rows: Iterator[A], order: A => O, st: S)(
      step: (S, A) => (S, Iterable[B])
  ): (S, Iterator[B]) = {
    var s = st
    val out = rows.toSeq.sortBy(order).flatMap { a =>
      val (next, emitted) = step(s, a)
      s = next
      emitted
    }
    (s, out.iterator)
  }

  private def signalStep(hullLength: Int, fast: Int, slow: Int, signalLen: Int)
      : (IndicatorState, CandleIn) => (IndicatorState, Iterable[SignalOut]) =
    stepIndicator(_, _, hullLength, fast, slow, signalLen)

  private def seriesStep(hullLength: Int, fast: Int, slow: Int, signalLen: Int)
      : (IndicatorState, CandleIn) => (IndicatorState, Iterable[IndicatorOut]) = { (st, c) =>
    val (next, cd, _) = stepIndicatorFull(st, c, hullLength, fast, slow, signalLen)
    (next, List(IndicatorOut(c.symbol, c.timeUs, cd.hullValue, cd.hullColor, cd.macdValue, cd.macdSignal, cd.macdHistogram)))
  }

  /** A per-symbol candle stream: each trigger's slice folds `step` from
    * the symbol's state (else the seeded `initialState`, else empty), on
    * `flatMapGroupsWithState` or, with `processor`, on
    * `transformWithState` through an [[IndicatorProcessor]].
    */
  private def candleStream[B: Encoder](
      candles: Dataset[CandleIn],
      initialState: Option[KeyValueGroupedDataset[String, IndicatorState]],
      processor: Boolean = false
  )(step: (IndicatorState, CandleIn) => (IndicatorState, Iterable[B])): Dataset[B] = {
    import candles.sparkSession.implicits._
    val fn = (_: String, rows: Iterator[CandleIn], state: GroupState[IndicatorState]) => {
      val (st, out) = foldSlice(rows, (_: CandleIn).timeUs, state.getOption.getOrElse(emptyIndicatorState))(step)
      state.update(st)
      out
    }
    val grouped = candles.groupByKey(_.symbol)
    (processor, initialState) match {
      case (false, Some(init)) => grouped.flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout, init)(fn)
      case (false, None)       => grouped.flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
      case (true, Some(init))  => grouped.transformWithState(new IndicatorProcessor(step), TimeMode.None(), OutputMode.Append(), init)
      case (true, None)        => grouped.transformWithState(new IndicatorProcessor(step), TimeMode.None(), OutputMode.Append())
    }
  }

  /** Streaming signal detection: keyed incremental state via
    * `flatMapGroupsWithState` (append mode). Candles within a micro-batch
    * are sorted by event time; cross-batch order is the source's
    * responsibility (the reference's live engine likewise processes
    * in arrival order; its keep-last upsert is the batch path's job).
    */
  def detectSignalsStream(
      candles: org.apache.spark.sql.Dataset[CandleIn],
      hullLength: Int = 20,
      fast: Int = 12,
      slow: Int = 26,
      signalLen: Int = 9,
      initialState: Option[org.apache.spark.sql.KeyValueGroupedDataset[String, IndicatorState]] = None
  ): org.apache.spark.sql.Dataset[SignalOut] = {
    import candles.sparkSession.implicits._
    candleStream(candles, initialState)(signalStep(hullLength, fast, slow, signalLen))
  }

  // ---------------------------------------------------------------------
  // T7: snapshot-completion → gap-fill trigger choreography
  // ---------------------------------------------------------------------

  case class FlaggedEvent(symbol: String, timeUs: Long, flags: Int)
  case class Completion(symbol: String, completed_at_us: Long)

  /** T7 — per-symbol snapshot-completion detector (reference
    * `messaging/processors/snapshot.py:30-100` CandleSnapshotTracker):
    * among `registered` symbols, the FIRST event carrying
    * SNAPSHOT_END(0x08) | SNAPSHOT_SNIP(0x10) emits exactly one
    * `Completion` — the trigger the reference's gap-fill consumer drains
    * from its completions queue; later flagged re-deliveries are
    * swallowed by the per-symbol done state. Unregistered symbols are
    * ignored, as in the reference.
    *
    * Compose downstream: completions drive the one-shot backfill job
    * (S12, `Sinks.backfill`) per symbol — the "snapshot landed → fill
    * the gap to now" handshake.
    */
  def snapshotCompletions(
      events: org.apache.spark.sql.Dataset[FlaggedEvent],
      registered: Set[String]
  ): org.apache.spark.sql.Dataset[Completion] = {
    import events.sparkSession.implicits._
    events
      .filter(e => registered.contains(e.symbol))
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (sym: String, rows: Iterator[FlaggedEvent], state: GroupState[Boolean]) =>
          val done = state.getOption.getOrElse(false)
          if (done) Iterator.empty
          else
            rows.toSeq.sortBy(_.timeUs).find(e => (e.flags & 0x18) != 0) match {
              case Some(e) =>
                state.update(true)
                Iterator.single(Completion(sym, e.timeUs))
              case None =>
                state.update(false)
                Iterator.empty
            }
      }
  }

  // ---------------------------------------------------------------------
  // W10: row-cap retention with bounded streaming state
  // ---------------------------------------------------------------------

  case class RowCapReport(symbol: String, retained: Int, oldest_us: Long, newest_us: Long)

  /** W10 — streaming row-cap retention (reference
    * `messaging/processors/default.py:39-48` keeps the newest N rows per
    * key): per-symbol state holds AT MOST `cap` (time, value) pairs —
    * the bound holds across micro-batches, which is the property that
    * keeps state from growing with stream length — and each trigger
    * emits a retention report for the keys it touched.
    */
  def rowCapStream(
      events: org.apache.spark.sql.Dataset[CandleIn],
      cap: Int
  ): org.apache.spark.sql.Dataset[RowCapReport] = {
    require(cap > 0, s"rowCapStream cap must be positive, got $cap")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (sym: String, rows: Iterator[CandleIn], state: GroupState[List[(Long, Double)]]) =>
          val prev = state.getOption.getOrElse(Nil)
          val merged = (prev ++ rows.map(c => (c.timeUs, c.close))).sortBy(_._1).takeRight(cap)
          state.update(merged)
          Iterator.single(RowCapReport(sym, merged.size, merged.head._1, merged.last._1))
      }
  }

  /** T9/J8 streaming — one merged multi-timeframe stream: `rank` 0 =
    * pricing-interval candle, 1 = signal-interval candle (the batch
    * [[graft.backtest.Backtest.mergeReplay]] rule carried into
    * streaming).
    */
  case class RankedCandle(symbol: String, timeUs: Long, rank: Int, close: Double)

  case class BacktestState(ind: IndicatorState, lastPricing: Option[Double])

  case class EnrichedSignal(
      symbol: String,
      time_us: Long,
      signal_type: String,
      direction: String,
      trigger: String,
      close_price: Double,
      entry_price: Option[Double]
  )

  /** T9 — streaming backtest fold over the merged stream: within a
    * micro-batch rows sort by (timeUs, rank), so a pricing candle at the
    * SAME instant as a signal candle is folded FIRST (reference
    * `backtest/replay.py` chronological interleave; the batch twin is
    * `mergeReplay` + the as-of join's `pricing.time <= signal.time`).
    * Pricing rows update the per-symbol last-price state; signal rows
    * step the indicator engine, and emitted signals carry the as-of
    * entry price. Identical arithmetic to the batch
    * [[graft.backtest.Backtest.run]], so streaming == batch bit-exactly.
    */
  def backtestStream(
      candles: org.apache.spark.sql.Dataset[RankedCandle],
      hullLength: Int = 20,
      fast: Int = 12,
      slow: Int = 26,
      signalLen: Int = 9
  ): org.apache.spark.sql.Dataset[EnrichedSignal] = {
    import candles.sparkSession.implicits._
    candles
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[RankedCandle], state: GroupState[BacktestState]) =>
          val st0 = state.getOption.getOrElse(BacktestState(emptyIndicatorState, None))
          val (st, out) = foldSlice(rows, (c: RankedCandle) => (c.timeUs, c.rank), st0) { (cur, c) =>
            if (c.rank == 0) (cur.copy(lastPricing = Some(c.close)), Nil)
            else {
              val (ns, sigs) = stepIndicator(cur.ind, CandleIn(c.symbol, c.timeUs, c.close), hullLength, fast, slow, signalLen)
              (cur.copy(ind = ns), sigs.map(s =>
                EnrichedSignal(c.symbol, s.time_us, s.signal_type, s.direction, s.trigger, s.close_price, cur.lastPricing)))
            }
          }
          state.update(st)
          out
      }
  }

  /** The `transformWithState` form of the candle streams: the same
    * slice fold of `step` behind the Spark 4 `StatefulProcessor` API
    * (per-key TTL and timers available when a pipeline needs them). As a
    * `StatefulProcessorWithInitialState`, one class serves both the cold
    * start and the W5 warm start (`handleInitialState` receives each
    * key's [[seedIndicatorState]] fold). Requires the RocksDB state store
    * provider (`spark.sql.streaming.stateStore.providerClass` →
    * `...state.RocksDBStateStoreProvider`) — the default HDFS-backed
    * provider does not support the multi-column-family state layout.
    */
  class IndicatorProcessor[B](step: (IndicatorState, CandleIn) => (IndicatorState, Iterable[B]))
      extends StatefulProcessorWithInitialState[String, CandleIn, B, IndicatorState] {
    @transient private var state: ValueState[IndicatorState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[IndicatorState]("indicator", Encoders.product[IndicatorState], TTLConfig.NONE)

    override def handleInitialState(key: String, initial: IndicatorState, timerValues: TimerValues): Unit =
      state.update(initial)

    override def handleInputRows(key: String, rows: Iterator[CandleIn], timerValues: TimerValues): Iterator[B] = {
      val (st, out) = foldSlice(rows, (_: CandleIn).timeUs, Option(state.get()).getOrElse(emptyIndicatorState))(step)
      state.update(st)
      out
    }
  }

  /** T5 on the Spark 4 `transformWithState` API ([[IndicatorProcessor]]),
    * warm-startable like [[detectSignalsStream]].
    */
  def detectSignalsTransformWithState(
      candles: org.apache.spark.sql.Dataset[CandleIn],
      initialState: Option[org.apache.spark.sql.KeyValueGroupedDataset[String, IndicatorState]] = None,
      hullLength: Int = 20,
      fast: Int = 12,
      slow: Int = 26,
      signalLen: Int = 9
  ): org.apache.spark.sql.Dataset[SignalOut] = {
    import candles.sparkSession.implicits._
    candleStream(candles, initialState, processor = true)(signalStep(hullLength, fast, slow, signalLen))
  }

  /** W5 indicator series on the Spark 4 `transformWithState` API — the
    * production-API twin of [[indicatorSeriesStream]], same arithmetic,
    * same warm start (the t4b oracle row pins the two engines against
    * one relational recomputation).
    */
  def indicatorSeriesTransformWithState(
      candles: org.apache.spark.sql.Dataset[CandleIn],
      initialState: Option[org.apache.spark.sql.KeyValueGroupedDataset[String, IndicatorState]] = None,
      hullLength: Int = 20,
      fast: Int = 12,
      slow: Int = 26,
      signalLen: Int = 9
  ): org.apache.spark.sql.Dataset[IndicatorOut] = {
    import candles.sparkSession.implicits._
    candleStream(candles, initialState, processor = true)(seriesStep(hullLength, fast, slow, signalLen))
  }
}
