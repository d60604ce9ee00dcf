package perfbench

import java.math.{BigDecimal => JBig, BigInteger, RoundingMode}

/** Independent plain-Scala indicator arithmetic, from the definitions:
  * padded WMA (positions before the series head read the first close),
  * Hull = WMA(2·WMA(c, n/2) − WMA(c, n), √n) padded with the first close,
  * MACD = EMA12 − EMA26 seeded at the first close, signal = EMA9 of MACD
  * seeded at 0.
  */
object Reference {
  def hullMacd(c: Array[Double], n: Int = 20, fast: Int = 12, slow: Int = 26, sig: Int = 9): Array[Array[Double]] = {
    val pad = c(0)
    def wma(xs: Int => Double, t: Int, p: Int): Double =
      (0 until p).map(k => (p - k) * (if (t - k >= 0) xs(t - k) else pad)).sum / (p * (p + 1) / 2.0)
    val half = math.round(n / 2.0).toInt
    val root = math.round(math.sqrt(n.toDouble)).toInt
    val diff = Array.tabulate(c.length)(t => 2 * wma(c, t, half) - wma(c, t, n))
    val (af, as, am) = (2.0 / (fast + 1), 2.0 / (slow + 1), 2.0 / (sig + 1))
    var (f, s, m) = (pad, pad, 0.0)
    c.indices.map { t =>
      f = af * c(t) + (1 - af) * f
      s = as * c(t) + (1 - as) * s
      val v = f - s
      m = am * v + (1 - am) * m
      Array(wma(diff, t, root), v, m, v - m)
    }.toArray
  }

  /** LIFO entry credit of a position of `qty`: walk the fills newest
    * first, net closes against older opens, and take surviving opens
    * pro rata until `qty` is accounted for. Fractions are kept exact
    * and rounded half-up to 6 dp once. None when the history cannot
    * account for `qty`.
    */
  def lifo(fills: Seq[Fill], qty: Int): Option[(JBig, JBig, Option[JBig], Int)] = {
    final class Frac(var n: BigInteger, var d: BigInteger) {
      def add(x: JBig, t: Int, q: Int): Unit = {
        val a = x.movePointRight(6).toBigIntegerExact.multiply(BigInteger.valueOf(t.toLong))
        n = n.multiply(BigInteger.valueOf(q.toLong)).add(a.multiply(d))
        d = d.multiply(BigInteger.valueOf(q.toLong))
      }
      def rounded: JBig = new JBig(n).divide(new JBig(d), 0, RoundingMode.HALF_UP).movePointLeft(6).setScale(6)
    }
    val credit, fee = new Frac(BigInteger.ZERO, BigInteger.ONE)
    var pxQty = JBig.ZERO
    var (remaining, buffered, taken) = (qty, 0, 0)
    fills.sortBy(f => (-f.atUs, -f.qty)).foreach { f =>
      if (remaining > 0) {
        if (!f.isOpen) buffered += f.qty
        else {
          val netted = math.min(f.qty, buffered)
          buffered -= netted
          val take = math.min(f.qty - netted, remaining)
          if (take > 0) {
            credit.add(if (f.effect == "Credit") f.value else f.value.negate, take, f.qty)
            fee.add(f.net.subtract(f.value).abs, take, f.qty)
            pxQty = pxQty.add(f.price.multiply(JBig.valueOf(take.toLong)))
            taken += take
            remaining -= take
          }
        }
      }
    }
    if (remaining != 0) None
    else Some((credit.rounded, fee.rounded,
      if (taken > 0) Some(pxQty.divide(JBig.valueOf(taken.toLong), 6, RoundingMode.HALF_UP)) else None, fills.size))
  }
}
