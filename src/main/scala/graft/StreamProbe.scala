package graft

/** Dev tool: run named declared queries once with a streaming listener
  * attached, printing each micro-batch's duration breakdown
  * (triggerExecution / addBatch / getBatch / walCommit / queryPlanning /
  * commitOffsets / stateOperators) — the §7 "measure first" view for the
  * streaming carriers, where the noop-sink wall time hides WHERE the
  * micro-batch loop spends.
  *
  * Usage: runMain graft.StreamProbe q1 [q2 ...]
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // experiment knob: override shuffle width (= streaming state width)
    sys.env.get("SPARK_GRAFT_PROBE_SHUFFLE")
      .foreach(n => spark.conf.set("spark.sql.shuffle.partitions", n))
    // SPARK_GRAFT_PROBE_PLANS=<dir>: additionally dump each micro-batch's
    // EXECUTED plan (query.lastExecution) to <dir>/<name>_batch<id>.txt —
    // the real plan evidence for stateful streams, where explaining the
    // memory-sink read-back after the fact proves nothing (r13 verdict
    // "what's wrong" #2). Dumped from the listener while the query is
    // still active; the last batch's file shows the steady-state plan.
    val planDir = sys.env.get("SPARK_GRAFT_PROBE_PLANS")
    planDir.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    // streaming query id -> the declared query that started it. Spark
    // runs onQueryStarted before start() returns, so `current` still
    // names the declared query that called start(); the asynchronous
    // progress and termination events look their label up by query id.
    @volatile var current = ""
    val declared = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = {
        declared.put(e.id, current)
        println(s"[stream] $current started ${e.name} at ${System.nanoTime() / 1000000}ms")
      }
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val label = declared.getOrDefault(p.id, "?") + "__" + Option(p.name).getOrElse("unnamed")
        planDir.foreach { dir =>
          try {
            // StreamingQueryWrapper is Spark 4.1's internal runtime class
            spark.streams.active.find(_.id == p.id).foreach {
              case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
                java.nio.file.Files.writeString(
                  java.nio.file.Paths.get(dir, s"${label}_batch${p.batchId}.txt"),
                  w.streamingQuery.lastExecution.explainString(
                    org.apache.spark.sql.execution.FormattedMode))
              case _ => ()
            }
          } catch { case t: Throwable => System.err.println(s"[stream] plan dump failed: $t") }
        }
        val d = p.durationMs
        println(
          s"[stream] $label batch=${p.batchId} rows=${p.numInputRows} " +
            s"trigger=${d.get("triggerExecution")} addBatch=${d.get("addBatch")} " +
            s"getBatch=${d.get("getBatch")} latestOffset=${d.get("latestOffset")} " +
            s"walCommit=${d.get("walCommit")} planning=${d.get("queryPlanning")} " +
            s"commitOffsets=${d.get("commitOffsets")} " +
            s"state=${p.stateOperators.map(s => s"commit=${s.commitTimeMs}ms mem=${s.memoryUsedBytes}").mkString(";")}")
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        println(s"[stream] ${declared.getOrDefault(e.id, "?")} terminated at ${System.nanoTime() / 1000000}ms")
    })
    args.foreach { name =>
      current = name
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      println(f"PROBE $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
