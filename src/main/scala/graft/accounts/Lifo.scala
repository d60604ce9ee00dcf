package graft.accounts

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Relational

/** LIFO entry-credit replay (reference `accounts/transactions.py:158-232`,
  * SURVEY A8): walk a symbol's fills newest→oldest, net out closes
  * against opens, consume surviving opens pro-rata until the current
  * position quantity is accounted for; emit the entry credit, fees and
  * weighted per-unit price of the identified fills.
  *
  * This is an order-sensitive fold with cross-row netting — NOT a
  * commutative aggregate — so it runs as a per-symbol fold over
  * key-sorted partitions ([[graft.ops.Relational.perKeyRuns]], the
  * engine's one ordered per-key fold): one shuffle on symbol, streaming
  * within each key, O(1) state. Money stays exact end-to-end
  * (6-dp lattice, DecimalType(18,6) at the API surface) — the reference
  * deliberately keeps accounting off floats.
  */
object Lifo {

  val OpenActions: Set[String] = Set("Sell to Open", "Buy to Open")
  val CloseActions: Set[String] = Set("Buy to Close", "Sell to Close")

  /** One fill, newest-first ordered within a symbol. */
  case class Txn(
      symbol: String,
      executedAtUs: Long,
      action: String,
      price: BigDecimal,
      value: BigDecimal,
      valueEffect: String,
      netValue: BigDecimal,
      quantity: Int
  )

  case class LifoResult(
      symbol: String,
      entryCredit: BigDecimal,
      fees: BigDecimal,
      weightedPrice: Option[BigDecimal],
      transactionCount: Int
  )

  /** Pure-Scala replay of one symbol's transactions (any order; sorted
    * internally newest-first like the reference). Returns None when the
    * surviving opens cannot account for `currentQty` (incomplete
    * history), matching the reference's null result.
    */
  def replay(txns: Seq[Txn], currentQty: Int): Option[LifoResult] =
    replayStream(
      txns.headOption.map(_.symbol).getOrElse(""),
      txns.sortBy(t => (-t.executedAtUs, -t.quantity)).iterator,
      currentQty
    )

  /** Money grid: inputs live on a 6-dp lattice (DecimalType(18,6)); the
    * fold converts each amount to exact integer micro-units.
    */
  private def micros(x: BigDecimal): BigInt =
    BigInt(x.bigDecimal.setScale(6, java.math.RoundingMode.HALF_UP).movePointRight(6).toBigIntegerExact)

  /** `round(n/d)` to the nearest integer, ties away from zero — the
    * same rule as `BigDecimal.setScale(HALF_UP)`, on an exact rational.
    */
  private def halfUp(n: BigInt, d: BigInt): BigInt =
    if (n.signum >= 0) (n * 2 + d) / (d * 2) else -(((-n) * 2 + d) / (d * 2))

  /** gcd on Longs (Euclid). Callers guarantee neither input is
    * Long.MinValue (the accumulator promotes before that can happen).
    * gcd(0, d) = d so a zero numerator reduces to 0/1.
    */
  private def gcdLong(a: Long, b: Long): Long = {
    var x = math.abs(a); var y = math.abs(b)
    while (y != 0) { val t = x % y; x = y; y = t }
    if (x == 0) 1L else x
  }

  /** Exact rational accumulator in micro-units: value = n/d, d > 0,
    * gcd-reduced after every step. Runs on overflow-checked Longs
    * (`Math.multiplyExact`/`addExact`) while the reduced terms fit —
    * the realistic case: gcd reduction keeps d ≤ lcm of the distinct
    * open quantities, and fills stay well under Long range — and
    * transparently promotes to BigInt on the first overflow. Both paths
    * compute the SAME reduced rational, so results are bit-identical by
    * construction (property-tested against an independent
    * common-denominator fraction sum in LifoSpec/PropertySpec).
    *
    * This is the round-5 a8_lifo fix: the per-row BigInt allocation of
    * the earlier all-BigInt fold made the query GC-bound when the bench
    * suite ran it under heap pressure (driver round 4: 9.2 s vs 2.3 s
    * warm-heap; plan unchanged). The fold now allocates nothing per
    * step on the fast path.
    */
  private final class RationalAcc {
    private var nL = 0L
    private var dL = 1L
    private var nB: BigInt = null
    private var dB: BigInt = null
    private def promoted: Boolean = nB ne null

    private def promote(): Unit = { nB = BigInt(nL); dB = BigInt(dL) }

    /** value := value + delta * t / q  (n := n*q + delta*t*d; d := d*q).
      * Long-only signature so the hot path never boxes; promotes itself
      * on arithmetic overflow.
      */
    def fold(delta: Long, t: Int, q: Int): Unit = {
      if (!promoted) {
        try {
          val n2 = Math.addExact(Math.multiplyExact(nL, q), Math.multiplyExact(Math.multiplyExact(delta, t), dL))
          val d2 = Math.multiplyExact(dL, q)
          // MinValue would break gcdLong's abs; treat as overflow
          if (n2 == Long.MinValue) throw new ArithmeticException("long overflow")
          val g = gcdLong(n2, d2)
          nL = n2 / g; dL = d2 / g
          return
        } catch { case _: ArithmeticException => promote() }
      }
      foldPromoted(BigInt(delta), t, q)
    }

    /** BigInt-delta variant for the Txn-object API, whose micros may
      * exceed Long range for extreme (test-constructed) amounts.
      */
    def foldBig(delta: BigInt, t: Int, q: Int): Unit =
      if (!promoted && delta.isValidLong) fold(delta.longValue, t, q)
      else { if (!promoted) promote(); foldPromoted(delta, t, q) }

    private def foldPromoted(delta: BigInt, t: Int, q: Int): Unit = {
      nB = nB * BigInt(q) + delta * BigInt(t) * dB
      dB = dB * BigInt(q)
      val g = nB.gcd(dB)
      if (g > 1) { nB /= g; dB /= g }
    }

    /** Rounded ONCE to the integer micro grid (HALF_UP) at the end. */
    def roundedMicros: BigInt =
      if (promoted) halfUp(nB, dB) else halfUp(BigInt(nL), BigInt(dL))
  }

  /** The replay core as a primitive-feed state machine: O(1) state,
    * shared by the Txn-object API ([[replayStream]]) and the columnar
    * row driver in [[entryCredits]]. Feed fills newest-first via
    * [[close]]/[[open]]/[[other]]; once [[done]], account the rest of
    * the history with [[tail]] (count only — nothing per-row); then
    * [[finish]].
    *
    * Arithmetic is EXACT: the pro-rata fractions (`take/qty`) ride
    * gcd-reduced rationals ([[RationalAcc]] — Long fast path, BigInt
    * fallback) and each result is rounded ONCE, to the 6-dp money grid
    * (HALF_UP), at the very end. An earlier formulation rounded each
    * fraction to 34 significant digits (`MathContext.DECIMAL128`,
    * mirroring the reference's decimal-context arithmetic); that leaves
    * the sum a hair off any exact rounding boundary it should land on
    * (observed: a fees sum whose true value was exactly ....6875,
    * rounded down instead of up), so results depended on intermediate
    * precision. Exact rationals keep accounting off floats AND make the
    * fold bit-reproducible by any exact implementation.
    */
  final class Fold(currentQty: Int) {
    private var remaining = math.abs(currentQty)
    private var closeBuffer = 0
    private val entry = new RationalAcc
    private val fee = new RationalAcc
    // price × qty is integer micro-units — no fractions; Long with
    // overflow promotion like the accumulators
    private var pxL = 0L
    private var pxB: BigInt = null
    private var totalQty = 0
    private var count = 0

    /** Position fully accounted — remaining fills only need counting. */
    def done: Boolean = remaining == 0

    def close(qty: Int): Unit = { count += 1; closeBuffer += qty }

    def other(): Unit = count += 1

    /** Long-only money parameters — the row driver's path, allocation-
      * free until an accumulator genuinely overflows 64 bits.
      */
    def open(qty: Int, credit: Boolean, valueU: Long, feeU: Long, priceU: Long): Unit = {
      count += 1
      val consumed = math.min(qty, closeBuffer)
      closeBuffer -= consumed
      val surviving = qty - consumed
      val take = math.min(surviving, remaining)
      if (take > 0) {
        entry.fold(if (credit) valueU else -valueU, take, qty)
        fee.fold(feeU, take, qty)
        if (pxB ne null) pxB += BigInt(priceU) * take
        else
          try pxL = Math.addExact(pxL, Math.multiplyExact(priceU, take))
          catch { case _: ArithmeticException => pxB = BigInt(pxL) + BigInt(priceU) * take }
        totalQty += take
        remaining -= take
      }
    }

    /** BigInt variant for the Txn-object API (extreme test amounts). */
    def openBig(qty: Int, credit: Boolean, valueU: BigInt, feeU: BigInt, priceU: BigInt): Unit =
      if (valueU.isValidLong && feeU.isValidLong && priceU.isValidLong &&
        // -Long.MinValue overflows; route the edge through the big path
        valueU.longValue != Long.MinValue)
        open(qty, credit, valueU.longValue, feeU.longValue, priceU.longValue)
      else {
        count += 1
        val consumed = math.min(qty, closeBuffer)
        closeBuffer -= consumed
        val surviving = qty - consumed
        val take = math.min(surviving, remaining)
        if (take > 0) {
          entry.foldBig(if (credit) valueU else -valueU, take, qty)
          fee.foldBig(feeU, take, qty)
          val px = priceU * take
          if (pxB ne null) pxB += px else pxB = BigInt(pxL) + px
          totalQty += take
          remaining -= take
        }
      }

    /** Account `n` further (older) fills without inspecting them. */
    def tail(n: Int): Unit = count += n

    def finish(symbol: String): Option[LifoResult] =
      if (remaining != 0) None
      else {
        val priceXQty = if (pxB ne null) pxB else BigInt(pxL)
        val wp =
          if (totalQty > 0) Some(BigDecimal(halfUp(priceXQty, BigInt(totalQty)), 6))
          else None
        Some(LifoResult(symbol, BigDecimal(entry.roundedMicros, 6), BigDecimal(fee.roundedMicros, 6), wp, count))
      }
  }

  /** Streaming replay over a newest-first iterator: O(1) state, and —
    * the scale property — EARLY EXIT once the position is fully
    * accounted: the (often long) older tail of the history is then only
    * counted. A pathological symbol with millions of fills costs a
    * scan, not heap. (The distributed driver in [[entryCredits]] feeds
    * the [[Fold]] from raw rows instead, so its tail never even builds
    * `Txn` objects.)
    */
  def replayStream(symbol: String, sortedNewestFirst: Iterator[Txn], currentQty: Int): Option[LifoResult] = {
    val it = sortedNewestFirst
    val f = new Fold(currentQty)
    while (it.hasNext && !f.done) {
      val txn = it.next()
      if (CloseActions.contains(txn.action)) f.close(txn.quantity)
      else if (OpenActions.contains(txn.action))
        f.openBig(txn.quantity, txn.valueEffect == "Credit", micros(txn.value), micros((txn.netValue - txn.value).abs), micros(txn.price))
      else f.other()
    }
    var n = 0
    while (it.hasNext) { it.next(); n += 1 }
    f.tail(n)
    f.finish(symbol)
  }

  // Money outputs carry (24,6): inputs are (18,6)-bounded by contract,
  // but a single fill's |net − value| fee difference legitimately
  // reaches 2×10^12 (precision 19) and the fold SUMS fees/credits over
  // a symbol's fills — the wider lattice gives the sums headroom
  // instead of an ANSI overflow at the output cast. Exactness is
  // preserved end-to-end by the rational accumulator; the a8 compare
  // surface casts to double regardless.
  val outputSchema: StructType = StructType(Seq(
    StructField("symbol", StringType),
    StructField("entry_credit", DecimalType(24, 6)),
    StructField("fees", DecimalType(24, 6)),
    StructField("weighted_price", DecimalType(24, 6), nullable = true),
    StructField("transaction_count", IntegerType)
  ))

  /** Distributed driver: `txns` needs columns (symbol, executed_at_us,
    * action, price, value, value_effect, net_value, quantity);
    * `positions` maps symbol → current absolute quantity. Symbols whose
    * history cannot account for the position are dropped (reference
    * returns None and skips the symbol).
    *
    * Shape: repartition by symbol, sort within partitions newest-first,
    * stream each symbol's run through a [[Fold]] — the sort replaces the
    * reference's in-memory `sorted(..., reverse=True)` and the engine
    * spills if a symbol's history is huge.
    *
    * The money columns cross the mapPartitions boundary as micro-unit
    * Longs, converted in the codegen'd projection (cast to the 6-dp
    * grid — Spark's decimal cast rounds HALF_UP, same as [[micros]] —
    * then ×10⁶, exact): the fold sees only primitives, so a row costs
    * zero BigDecimal allocations. The earlier Txn-per-row wiring
    * allocated 4 decimals + a Txn for every fill INCLUDING the
    * early-exited tail; at 600k fills under bench heap pressure that
    * made a8_lifo GC-bound (driver round 4: 9.2 s vs 2.3 s warm).
    */
  def entryCredits(txns: DataFrame, positions: DataFrame): DataFrame =
    foldEntryCredits(
      txns.join(positions.select(col("symbol"), col("current_qty")), Seq("symbol")),
      col("current_qty").cast("int"))

  /** The every-symbol-held-at-the-same-quantity form of
    * [[entryCredits]]: semantically identical to
    * `entryCredits(txns, txns.select("symbol").distinct()
    * .withColumn("current_qty", lit(currentQty)))` — a positions side
    * built as "all of the transaction symbols at one constant quantity"
    * makes the inner join the IDENTITY (every row matches exactly once
    * and gains only the constant), so this path drops the second scan
    * of the transaction source, the distinct exchange and the broadcast
    * join that built it (guide §3: a join whose only effect is
    * attaching a constant is not a join). The fold, ordering and
    * output surface are byte-identical (LifoSpec pins equality).
    */
  def entryCreditsUniform(txns: DataFrame, currentQty: Int): DataFrame =
    foldEntryCredits(txns, lit(currentQty).cast("int"))

  private def foldEntryCredits(
      txns: DataFrame,
      currentQtyCol: org.apache.spark.sql.Column
  ): DataFrame = {
    val dec = DecimalType(18, 6)
    def microsCol(c: org.apache.spark.sql.Column) =
      (c.cast(dec) * lit(1000000L)).cast(LongType)
    // the (net_value − value) difference of two (18,6)-bounded inputs
    // needs precision 19: re-casting it through dec(18,6) would overflow
    // to NULL (non-ANSI) for a legitimate |net − value| ≥ 10^12 and then
    // NPE in the executor's getLong. (19,6) holds the exact difference,
    // and its micros stay < 2×10^18 < Long.MaxValue.
    def microsColWide(c: org.apache.spark.sql.Column) =
      (c.cast(DecimalType(19, 6)) * lit(1000000L)).cast(LongType)
    val joined = txns
      .select(
        col("symbol"),                                                    // 0
        col("executed_at_us").cast("long"),                               // 1 (sort key)
        // coalesce: NULL action/value_effect must classify as
        // other/Debit (the Txn path's Set.contains(null) behavior),
        // not NPE in getBoolean
        coalesce(col("action").isin(CloseActions.toSeq: _*), lit(false)).as("is_close"),  // 2
        coalesce(col("action").isin(OpenActions.toSeq: _*), lit(false)).as("is_open"),    // 3
        coalesce(col("value_effect") === "Credit", lit(false)).as("is_credit"),           // 4
        microsCol(col("value")).as("value_u"),                            // 5
        microsColWide(abs(col("net_value").cast(dec) - col("value").cast(dec))).as("fee_u"), // 6
        microsCol(col("price")).as("price_u"),                            // 7
        col("quantity").cast("int").as("qty"),                            // 8
        currentQtyCol.as("current_qty_i")                                 // 9
      )
    // Each symbol's run streams straight from the sorted rows into a
    // Fold — no history Vector, no Txn objects: once the position is
    // accounted, the run's tail is only counted, so a symbol's cost is
    // O(1) heap regardless of its fill count.
    Relational.perKeyRuns(joined, Seq(col("symbol")), Seq(col("executed_at_us").desc, col("qty").desc))(
      _.getString(0)) { (sym, run) =>
      val it = run.buffered
      val f = new Fold(it.head.getInt(9))
      while (it.hasNext && !f.done) {
        val r = it.next()
        if (r.getBoolean(2)) f.close(r.getInt(8))
        else if (r.getBoolean(3))
          f.open(r.getInt(8), r.getBoolean(4), r.getLong(5), r.getLong(6), r.getLong(7))
        else f.other()
      }
      f.tail(it.size)
      f.finish(sym).iterator.map { r =>
        Row(
          sym,
          r.entryCredit.setScale(6, BigDecimal.RoundingMode.HALF_UP).bigDecimal,
          r.fees.setScale(6, BigDecimal.RoundingMode.HALF_UP).bigDecimal,
          r.weightedPrice.map(_.setScale(6, BigDecimal.RoundingMode.HALF_UP).bigDecimal).orNull,
          r.transactionCount
        )
      }
    }(Encoders.row(outputSchema))
  }
}
