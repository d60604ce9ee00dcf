package perfbench

/** Comparisons used by the output checks. Each returns the failures it
  * found, one line each, prefixed with the check's name.
  */
object Checks {
  private val Shown = 3

  /** Equal as multisets. */
  def sameSet[T](name: String, expected: Seq[T], got: Seq[T]): Seq[String] = {
    def counts(xs: Seq[T]) = xs.groupBy(identity).map { case (k, v) => k -> v.size }
    val (e, g) = (counts(expected), counts(got))
    val missing = e.toSeq.flatMap { case (k, n) => Seq.fill(n - g.getOrElse(k, 0))(k) }
    val extra = g.toSeq.flatMap { case (k, n) => Seq.fill(n - e.getOrElse(k, 0))(k) }
    if (missing.isEmpty && extra.isEmpty) Nil
    else Seq(s"$name: ${missing.size} expected rows missing (e.g. ${missing.take(Shown).mkString("; ")}), " +
      s"${extra.size} unexpected rows (e.g. ${extra.take(Shown).mkString("; ")}) of ${expected.size} expected")
  }

  def equal[T](name: String, expected: T, got: T): Seq[String] =
    if (expected == got) Nil else Seq(s"$name: expected $expected, got $got")

  /** |a - b| <= tol * max(1, |a|). */
  def close(a: Double, b: Double, tol: Double): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.abs(a))

  def holds(name: String, bad: Seq[String]): Seq[String] =
    if (bad.isEmpty) Nil else Seq(s"$name: ${bad.size} violations (e.g. ${bad.take(Shown).mkString("; ")})")

  private val ET = java.time.ZoneId.of("America/New_York")

  /** Per (key, direction), signals alternate OPEN, CLOSE, starting with
    * OPEN. Each signal is (key, time_us, signal_type, direction).
    */
  def signalOrder(sigs: Seq[(String, Long, String, String)]): Seq[String] =
    holds("signal order", sigs.groupBy(s => (s._1, s._4)).toSeq.flatMap { case (k, ss) =>
      val types = ss.sortBy(_._2).map(_._3)
      val ok = types.zipWithIndex.forall { case (t, j) => t == (if (j % 2 == 0) "OPEN" else "CLOSE") }
      if (ok) Nil else Seq(s"$k: ${types.take(6).mkString(",")}")
    })

  /** No OPEN before 10:00 or at/after 15:00 ET. */
  def entryWindow(sigs: Seq[(String, Long, String, String)]): Seq[String] =
    holds("entry window", sigs.filter(_._3 == "OPEN").flatMap { case (k, t, _, dir) =>
      val et = java.time.Instant.ofEpochMilli(t / 1000).atZone(ET).toLocalTime
      if (!et.isBefore(java.time.LocalTime.of(10, 0)) && et.isBefore(java.time.LocalTime.of(15, 0))) Nil
      else Seq(s"OPEN $k $dir at $et ET")
    })

  /** A copy of `xs` with its middle element changed by `f`. */
  def corrupt[T](xs: Seq[T])(f: T => T): Seq[T] = {
    require(xs.nonEmpty, "nothing to corrupt")
    xs.updated(xs.size / 2, f(xs(xs.size / 2)))
  }

  /** A copy of `xs` with its first element that satisfies `p` changed by `f`. */
  def corruptFirst[T](xs: Seq[T])(p: T => Boolean)(f: T => T): Seq[T] = {
    val i = xs.indexWhere(p)
    require(i >= 0, "nothing to corrupt")
    xs.updated(i, f(xs(i)))
  }
}
