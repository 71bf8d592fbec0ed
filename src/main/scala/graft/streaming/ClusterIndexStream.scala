package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Dedup

/** Streaming maintenance of the at-rest duplicate-cluster index —
  * the cluster twin of [[NearDupStream]]'s MinHash admission gate:
  * every arriving micro-batch of documents is folded into the
  * standing cluster index
  * ([[graft.operators.Dedup.appendToClusterIndex]]), so readers of
  * the index ([[graft.operators.Dedup.readClusterIndex]]) always see
  * the current membership without any corpus re-resolution.
  *
  * State lives in the PARTITIONED PARQUET INDEX, not the streaming
  * state store: the index's exactness contract (read-after-append ≡
  * `clustersOf` of the union corpus) is batching-independent, so the
  * post-stream membership equals the one-shot resolution of
  * everything streamed — spec-proven. Each trigger costs batch-sized
  * exchanges plus the gb-pruned, bloom-trimmed standing-postings
  * probe; the standing corpus is never re-shingled or re-resolved.
  *
  * Replay-safe: `foreachBatch` is at-least-once, and the append is
  * idempotent by construction — already-indexed doc ids are
  * anti-joined out of the batch before any evidence, edge or
  * membership row is derived, so a redelivered micro-batch is a
  * no-op rather than an evidence duplication or a relabel.
  */
object ClusterIndexStream {

  /** Start cluster maintenance over a (doc_id, text) stream.
    * `indexPath` must already hold an index
    * ([[graft.operators.Dedup.writeClusterIndex]], possibly of an
    * empty corpus).
    */
  def ingestStream(docStream: DataFrame, indexPath: String): StreamingQuery =
    docStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the append derives meta AND postings from the batch — a
        // stream source frame is one-shot, so pin it first
        Dedup.appendToClusterIndex(batch.localCheckpoint(), indexPath)
      }
      .trigger(Trigger.AvailableNow())
      .start()
}
