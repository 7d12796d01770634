package graft.streaming

import graft.scale.Curation
import graft.write.{BatchCommit, VersionedTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming anchor-text index — continuous maintenance of the q243
  * relation (inbound anchor terms per target registered domain) under a
  * document crawl. The state is an ADDITIVE count relation, which makes
  * the LSM protocol simpler than every keyed-merge sink here: each
  * micro-batch contributes a pre-aggregated (domain, term, cnt) PARTIAL
  * (one token-keyed shuffle over batch text only — O(batch)), appended by
  * reference ([[VersionedTable.stageAppend]]); serving re-aggregates the
  * bounded append chain (SUM is the merge), and [[compact]] collapses the
  * chain into one row per key. foreachBatch redelivery is absorbed by
  * [[graft.write.BatchCommit]]: a replayed batch skips, so counts are never
  * double-added — the additive state is exactly-once, not just convergent.
  *
  * Batch-split invariance is exact (count partials form a commutative
  * monoid), so any drain of the same corpus — one batch or one doc per
  * batch — serves bit-identical counts, and the q247 oracle is q243's
  * full-corpus replay verbatim.
  */
final class AnchorCountIndex(spark: SparkSession, root: String,
                             maxChainDepth: Int = 16,
                             build: DataFrame => DataFrame =
                               Curation.anchorTermCounts,
                             keyCols: Seq[String] = Seq("domain", "term"),
                             // every value column must be an additive
                             // monoid under SUM (counts, byte masses) —
                             // the decode-coverage drain (q306) carries two
                             valueCols: Seq[String] = Seq("cnt"),
                             // payload-shaped batches (q306) filter on
                             // their own column; the default is the
                             // text-crawl convention
                             inputFilter: DataFrame => DataFrame =
                               _.filter(col("text").isNotNull)) {

  val counts = new VersionedTable(spark, s"$root/counts")

  /** Ingest one micro-batch: append the batch's count partial. Callable
    * directly so specs drive controlled boundaries.
    */
  def processBatch(batch: DataFrame, batchId: Long): Unit =
    BatchCommit(batchId, counts) { commit =>
      commit(counts -> (() => counts.stageAppendOrCreate(
        build(inputFilter(batch)).sortWithinPartitions(keyCols.head))))
      if (counts.chainDepth > maxChainDepth) compact()
    }

  /** The merged counts a query reads: SUM over the append chain's
    * partials. Chain depth is bounded by the compaction policy, so the
    * re-aggregation cost is a small constant factor over one version.
    */
  def served(): DataFrame = {
    val aggs = valueCols.map(c => sum(c).as(c))
    counts.read().groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Collapse the partial chain into one self-contained version with one
    * row per key. Idempotent; serving is invariant (SUM of one total
    * equals the total).
    */
  def compact(): Unit = {
    counts.promote(counts.stage(
      served().sortWithinPartitions(keyCols.head)), counts.currentTag)
    ()
  }
}
