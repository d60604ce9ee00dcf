package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** Feeding a file-sourced stream one micro-batch at a time, and reading
  * back what Spark reported about each batch.
  */
object Feed {

  /** Move a staged input file into the source directory and block until
    * the query has run the micro-batch that reads it. `processAllAvailable`
    * can return early when a trigger listed the directory just before the
    * move, so it is repeated until a new data batch shows in the progress.
    */
  def one(q: StreamingQuery, staged: File, srcDir: File, lastBatch: Long): StreamingQueryProgress = {
    Files.move(staged.toPath, new File(srcDir, staged.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
    var p = dataBatches(q, lastBatch)
    while (p.isEmpty) {
      q.processAllAvailable()
      p = dataBatches(q, lastBatch)
    }
    require(p.size == 1, s"one staged file ran as ${p.size} micro-batches")
    p.head
  }

  def dataBatches(q: StreamingQuery, after: Long): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq
      .filter(p => p.batchId > after && p.numInputRows > 0)
      .groupBy(_.batchId).values.map(_.last).toSeq.sortBy(_.batchId)

  def ms(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)

  /** Offset and commit-log work of one trigger. */
  def offsetsMs(p: StreamingQueryProgress): Double =
    Seq("latestOffset", "getBatch", "walCommit", "commitOffsets").map(ms(p, _)).sum

  /** Per-operation figures of the `streaming` layer, summed over the
    * triggers of the operation and the stateful operators of each query
    * (none for a stateless sink). `rowsOut` is what the sinks received.
    */
  def sampleStreaming(rec: Recorder, ps: Seq[StreamingQueryProgress], rowsOut: Double): Unit = {
    rec.sample("streaming.trigger_ms", ps.map(ms(_, "triggerExecution")).sum)
    rec.sample("streaming.add_batch_ms", ps.map(ms(_, "addBatch")).sum)
    rec.sample("streaming.planning_ms", ps.map(ms(_, "queryPlanning")).sum)
    rec.sample("streaming.offsets_ms", ps.map(offsetsMs).sum)
    val ops = ps.flatMap(_.stateOperators.toSeq)
    rec.sample("streaming.state_commit_ms", ops.map(_.commitTimeMs.toDouble).sum)
    rec.sample("streaming.state_update_ms", ops.map(_.allUpdatesTimeMs.toDouble).sum)
    rec.sample("streaming.state_rows", ops.map(_.numRowsTotal.toDouble).sum)
    rec.sample("streaming.state_mb", ops.map(_.memoryUsedBytes.toDouble).sum / 1048576.0)
    rec.sample("streaming.state_stores", ops.map(_.numStateStoreInstances.toDouble).sum)
    rec.sample("streaming.rows_out", rowsOut)
  }
}
