package graft.streaming

import graft.operators.TxBatch
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Post-trigger layout maintenance for the live index consumers — the
  * piece that keeps read fan-in bounded WITHOUT an external cron: each
  * live consumer trigger ends (after its pairs publish) by folding,
  * behind the [[TxBatch.maintainCompact]] fan-in policy,
  *
  *  1. its own pairs sink (every `_batch-<trigger id>` there is the
  *     consumer's own output, so all of them are foldable), and
  *  2. the SOURCE layout it tails — restricted to the batch ids the
  *     stream has already DELIVERED (the trigger's end-offset commit
  *     units, from the stream's own offsets log), so a batch a
  *     concurrent writer commits mid-trigger stays live instead of
  *     being folded undelivered, which would wedge the consumer on
  *     the offset-translation refusal.
  *
  * Running the source fold INSIDE foreachBatch is the one point with
  * no concurrent planning and no concurrent delivery: Spark's
  * micro-batch loop is single-threaded per query, so the fold can
  * never sweep files an in-flight scan of THIS query holds (an async
  * listener or external cron can — the fold-tolerant listings and the
  * translation refusals then apply). The next trigger's start offset
  * names the folded units and translates cleanly through the fold
  * history because, by construction, everything folded was delivered.
  *
  * Crash window, stated: a driver death BETWEEN the in-trigger fold
  * and the trigger's offset commit leaves the checkpoint replaying a
  * trigger whose end offset names swept units — the restart refuses
  * loudly with the documented fresh-checkpoint recovery (the pairs
  * publish is idempotent, so reprocessing double-counts nothing).
  * That is the same recovery any out-of-protocol interruption gets;
  * the hook narrows the exposure to one trigger's width.
  */
private[streaming] object StreamMaintenance {

  private def fnfCaused(t: Throwable): Boolean =
    t != null &&
      (graft.sources.LayoutSource.foldSweepRace(t) || fnfCaused(t.getCause))

  /** Run one trigger's probe-and-publish fold-tolerantly — the
    * EXECUTION-window twin of the connectors' fold-tolerant listings:
    * an EXTERNAL fold (cron, another pipeline's maintenance) racing an
    * in-flight trigger can sweep corpus files the probe job already
    * planned, failing a task with FileNotFoundException after every
    * listing-level guard passed. Re-running `body` re-PLANS the probe
    * — the corpus read re-lists and re-translates its start-offset
    * roots bound, which is stable across a content-preserving fold —
    * and the TxBatch pairs publish is idempotent by trigger id, so a
    * retry can never double-publish. Bounded attempts; exhaustion
    * surfaces the documented recovery, never the raw FNF. (Folds from
    * the trigger's OWN [[postTrigger]] hook need none of this — they
    * run on the stream thread with nothing in flight.) */
  def withFoldRetry(context: String)(body: => Unit): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      try { body; done = true }
      catch {
        case e: Throwable if fnfCaused(e) && attempt < 2 =>
          attempt += 1
        case e: Throwable if fnfCaused(e) =>
          throw new IllegalStateException(
            s"$context: an external compaction kept sweeping files " +
              "this trigger had planned, across fold-tolerant " +
              "replans — if a maintenance job folds this layout, " +
              "run it quiesced or through the consumer's own " +
              "post-trigger hook. Recovery: restart the consumer " +
              "(offset translation resumes it if it was caught up), " +
              "or reprocess under a FRESH checkpoint (idempotent " +
              "TxBatch sinks dedup replayed work).", e)
      }
    }
  }

  /** Run the post-trigger maintenance for trigger `batchId`:
    * `maintainPairsEvery` > 0 folds the pairs sink when its live
    * batch count reaches the threshold; `maintainLayoutEvery` > 0
    * folds the tailed source layout when ITS live count reaches the
    * threshold, restricted to the delivered ids. Zero disables the
    * corresponding fold (the default — quiesced external maintenance
    * stays available through [[TxBatch.compact]]). */
  def postTrigger(s: SparkSession, layoutPath: String,
      layoutPartitionCol: String, pairsPath: String,
      pairsSchema: StructType, checkpoint: String, batchId: Long,
      maintainLayoutEvery: Int, maintainPairsEvery: Int): Unit = {
    if (maintainPairsEvery > 0)
      TxBatch.maintainCompact(s, pairsPath, partitionCol = "bucket",
        maxLiveBatches = maintainPairsEvery,
        schema = Some(pairsSchema))
    if (maintainLayoutEvery > 0) {
      // delivered units = the trigger's END offset (offsets log entry
      // `batchId`, written before execution — so a retried trigger
      // folds the identical set)
      val delivered = StreamOffsets.startRoots(s, checkpoint,
        batchId + 1L)
      val ids = delivered.collect {
        case n if n.startsWith("_batch-") =>
          n.stripPrefix("_batch-").toLong
      }
      if (ids.nonEmpty)
        TxBatch.maintainCompact(s, layoutPath,
          partitionCol = layoutPartitionCol,
          maxLiveBatches = maintainLayoutEvery, onlyIds = Some(ids))
      ()
    }
  }
}
