package graft.streaming

import graft.scale.AnnIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental ANN ingestion: a vector stream drained into a persistent IVF
  * index. Each micro-batch is assigned into the EXISTING cells, quantized,
  * and merged into the postings as a per-cell patch version —
  * [[graft.scale.AnnIndex.appendToIvfIndex]]'s O(touched cells) write, so a
  * continuous crawl pays per-batch work proportional to the batch's cell
  * footprint, never the corpus. No batch stamp is needed here (contrast
  * [[NearDupIndex.processBatch]]): the append IS a keyed upsert on nid
  * within each touched cell, so a redelivered batch merges to the identical
  * postings — replay idempotence by semantics rather than by gating.
  * Centroids stay fixed between periodic [[graft.scale.AnnIndex
  * .buildIvfIndex]] rebuilds, the standard serving compromise.
  */
object AnnStream {

  def annAppendSink(vectors: DataFrame, root: String, checkpoint: String,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    maxChainDepth: Int = 16): StreamingQuery =
    Streaming.drain(vectors, checkpoint) { (batch, _) =>
      AnnIndex.appendToIvfIndex(batch, root, idCol, vecCol)
      // patch-chain policy: per-cell patches accumulate one version per
      // batch; past maxChainDepth the chain collapses (cid partitioning
      // preserved, so probe directory-pruning survives the compaction)
      new graft.write.VersionedTable(batch.sparkSession, s"$root/postings")
        .compactIfNeeded(maxChainDepth, Seq("cid"))
      ()
    }

  /** The same drain for the graph-navigable index: each micro-batch
    * beam-walks the existing graph for its out-links and lands as an
    * O(batch) append ([[graft.scale.NnDescent.NavIndex.append]]);
    * [[graft.scale.NnDescent.NavIndex.compact]] remains the periodic
    * repair point. Replay idempotence: a redelivered batch's ids are
    * already present and no-op; a batch torn between the graph and codes
    * promotes retries BIT-IDENTICALLY (append's promote ordering — see
    * its scaladoc). Batch-ORDER, however, is semantic for an approximate
    * graph (each batch links against the graph the previous batches
    * built), so the certified drain (q235) uses a deterministic
    * single-batch arrival and the multi-batch law is pinned as
    * sequential-append equivalence in NnDescentSpec.
    */
  def navAppendSink(vectors: DataFrame, idx: graft.scale.NnDescent.NavIndex,
                    checkpoint: String,
                    beam: Int = 8, rounds: Int = 3, nSeeds: Int = 8,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): StreamingQuery =
    Streaming.drain(vectors, checkpoint) { (batch, _) =>
      idx.append(batch, beam, rounds, nSeeds, idCol, vecCol)
      ()
    }

  /** The same drain for the composed IVF+PQ index: each micro-batch is
    * assigned + PQ-encoded under the persisted models and patch-appended
    * into its touched cells ([[graft.scale.Pq.appendToIvfPqIndex]]). Replay
    * idempotence by upsert semantics, exactly as [[annAppendSink]].
    */
  def pqAppendSink(vectors: DataFrame, root: String, checkpoint: String,
                   maxChainDepth: Int = 16): StreamingQuery =
    Streaming.drain(vectors, checkpoint) { (batch, _) =>
      graft.scale.Pq.appendToIvfPqIndex(batch, root)
      new graft.write.VersionedTable(batch.sparkSession, s"$root/postings")
        .compactIfNeeded(maxChainDepth, Seq("cid"))
      ()
    }
}
