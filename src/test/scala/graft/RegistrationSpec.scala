package graft

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions.col

import graft.expressions.Registration

/** The bounded parameterized-expression registry: content-digested temp
  * functions must not grow the session function registry without bound
  * (a long-lived session calling e.g. `frequentNgramsSketched` once per
  * corpus registers a fresh digest every call), and eviction must be
  * oldest-first with re-registration refreshing recency.
  */
class RegistrationSpec extends SparkSpec {
  import spark.implicits._

  private implicit def s: org.apache.spark.sql.SparkSession = spark

  private def constBuilder(v: Int): Seq[Expression] => Expression = _ => Literal(v)

  private def liveNames(prefix: String): Seq[String] =
    spark.sessionState.functionRegistry
      .listFunction()
      .map(_.funcName)
      .filter(_.startsWith(prefix))

  test("registry stays bounded at maxLive distinct parameterizations") {
    val prefix = "graft_regspec_bound"
    (1 to Registration.maxLive + 10).foreach { i =>
      Registration.parameterized(prefix, s"cfg:$i", constBuilder(i), col("x"))
    }
    // this suite's prefix-local view is a lower bound on global live
    // count; the global invariant is what the helper enforces
    assert(liveNames("graft_regspec").size <= Registration.maxLive)
    // the newest registration must still resolve and compute
    val newest = Registration.parameterized(prefix, s"cfg:${Registration.maxLive + 10}",
      constBuilder(Registration.maxLive + 10), col("x"))
    val got = Seq(1).toDF("x").select(newest.as("v")).head().getInt(0)
    assert(got == Registration.maxLive + 10)
  }

  test("eviction is oldest-first and re-registration refreshes recency") {
    val prefix = "graft_regspec_lru"
    def digestName(src: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(src.getBytes("UTF-8")).map("%02x".format(_)).mkString
      s"${prefix}_$d"
    }
    // fill the whole window with known names, oldest = "keep"
    Registration.parameterized(prefix, "keep", constBuilder(1), col("x"))
    (1 until Registration.maxLive).foreach { i =>
      Registration.parameterized(prefix, s"pad:$i", constBuilder(i), col("x"))
    }
    // refresh "keep" (same digest — re-registration, not a new entry),
    // then push one more distinct entry: "pad:1" is now the oldest and
    // must be the one evicted, while "keep" survives
    Registration.parameterized(prefix, "keep", constBuilder(1), col("x"))
    Registration.parameterized(prefix, "one-more", constBuilder(99), col("x"))
    val live = liveNames(prefix).toSet
    assert(live.contains(digestName("keep")), "refreshed entry was evicted — recency not updated")
    assert(!live.contains(digestName("pad:1")), "oldest entry survived past the window")
  }

  test("concurrent registrations: immediately-applied Columns never observe eviction, registry stays bounded") {
    // The lock's contract under contention: N threads × M distinct
    // digests (N*M > maxLive) racing register→apply. A Column applied
    // IMMEDIATELY resolves eagerly at Dataset construction, and the
    // eviction window (maxLive distinct registrations between register
    // and apply) cannot close in the handful of registrations other
    // threads can interleave — so every apply must succeed with the
    // right value, no lost registrations, no unresolved-function
    // surprises, and the registry ends bounded.
    val prefix = "graft_regspec_conc"
    val nThreads = 8
    val perThread = 20
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until nThreads).map { t =>
      new Thread(() => {
        try {
          (0 until perThread).foreach { i =>
            val v = t * 1000 + i
            val c = Registration.parameterized(prefix, s"conc:$t:$i", constBuilder(v), col("x"))
            val got = Seq(0).toDF("x").select(c.as("v")).head().getInt(0)
            if (got != v) throw new AssertionError(s"thread $t digest $i: got $got, want $v")
          }
        } catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"concurrent registration failure: ${errors.peek()}")
    assert(liveNames("graft_regspec").size <= Registration.maxLive)
  }

  test("maxLive is session-configurable via spark.graft.registration.maxLive") {
    val prefix = "graft_regspec_conf"
    Sessions.withConf(spark, "spark.graft.registration.maxLive" -> "8") {
      (1 to 12).foreach { i =>
        val c = Registration.parameterized(prefix, s"cfg:$i", constBuilder(i), col("x"))
        assert(Seq(0).toDF("x").select(c.as("v")).head().getInt(0) == i)
      }
      // the lowered bound applies globally to the session's live set
      assert(liveNames("graft_regspec").size <= 8)
    }
  }

  test("an identical parameterization reuses one registration (no growth on repeat calls)") {
    val prefix = "graft_regspec_stable"
    (1 to 20).foreach { _ =>
      val c = Registration.parameterized(prefix, "same-config", constBuilder(7), col("x"))
      assert(Seq(0).toDF("x").select(c.as("v")).head().getInt(0) == 7)
    }
    assert(liveNames(prefix).size == 1)
  }
}
