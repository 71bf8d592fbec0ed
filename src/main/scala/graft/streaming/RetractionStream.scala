package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Dedup

/** Streaming takedown pipeline — the retraction companion of
  * [[NearDupStream]]'s admission gate: a stream of retraction
  * requests (doc ids with their indexed text) is applied to all
  * standing indexes per micro-batch, so a removed document stops
  * vetoing resembling crawls, stops scoring in text search, and
  * stops being served — continuously, without any index rebuild.
  *
  * Each trigger costs |batch| plus, for the cluster index, the
  * touched-cluster re-resolution: dedup-index tombstones
  * ([[graft.operators.Dedup.deleteFromMinhashIndex]]), text-index
  * tombstones + negative df/stats deltas
  * ([[graft.api.TextIndex.delete]]), and cluster-index tombstones +
  * superseding membership rows
  * ([[graft.operators.Dedup.deleteFromClusterIndex]] — so a retracted
  * doc's cluster stops counting it, relabels, splits, or dissolves
  * exactly as a rebuild without it would) are appended; nothing
  * standing is rewritten. Compaction
  * ([[graft.operators.Dedup.compactMinhashIndex]] /
  * [[graft.api.TextIndex.compact]] /
  * [[graft.operators.Dedup.compactClusterIndex]]) runs on its own
  * cadence, outside the stream. The spec proves the streamed
  * retractions leave all three indexes behaving exactly like batch
  * deletes of the same docs.
  *
  * Replay-safe: `foreachBatch` redelivers micro-batches at-least-once
  * on restart, and every sink tolerates that. All three write the
  * one tombstone log ([[graft.sources.Tombstones]]), which readers
  * anti-join by id, so a duplicate row changes nothing; a replayed
  * cluster delete finds its docs already retracted and touches no
  * cluster; and `TextIndex.delete` drops already-tombstoned ids
  * before emitting its negative df/stats deltas, so a redelivered
  * takedown batch is a no-op rather than a double-subtraction. No
  * sink collects the batch to the driver.
  */
object RetractionStream {

  /** Start the retraction pipeline over a (doc_id, text) stream of
    * takedown requests. Any index path may be absent (`None` skips
    * that index).
    */
  def retractStream(requests: DataFrame, dedupIndexPath: Option[String],
                    textIndexPath: Option[String],
                    clusterIndexPath: Option[String] = None): StreamingQuery =
    requests.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.localCheckpoint() // all deletes read it; a stream source frame is one-shot
        dedupIndexPath.foreach(p => Dedup.deleteFromMinhashIndex(b.select("doc_id"), p))
        textIndexPath.foreach(p => graft.api.TextIndex.delete(b, p))
        clusterIndexPath.foreach(p => Dedup.deleteFromClusterIndex(b.select("doc_id"), p))
      }
      .trigger(Trigger.AvailableNow())
      .start()
}
