package graft.streaming

import graft.scale.Curation
import graft.write.{BatchCommit, VersionedTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming span-level eval decontamination —
  * [[graft.scale.Curation.scrubEvalSpans]] as a continuous ingest: the
  * eval gram set is FROZEN at [[ScrubIndex.seed]] time (metadata-sized by
  * contract, broadcast into each batch's scan), every arriving document
  * is scrubbed scan-locally (quoted spans excised, the rest kept — never
  * whole-doc drops), and the clean rows land as O(batch) stamped appends.
  *
  * Frozen state means admission-free determinism: a doc's scrub depends
  * only on the eval set, never on other docs or batch boundaries, so any
  * split of the same corpus drains to the same clean table (the q270
  * frozen-guard argument) and the oracle is q268's closed form verbatim.
  * Exactly-once under foreachBatch redelivery via [[graft.write.BatchCommit]].
  */
final class ScrubIndex(spark: SparkSession, root: String, n: Int = 8,
                       maxChainDepth: Int = 16) {

  /** The frozen eval gram keys (h). */
  val grams = new VersionedTable(spark, s"$root/grams")

  /** The scrubbed corpus: (doc_id, clean_text, n_scrubbed). */
  val clean = new VersionedTable(spark, s"$root/clean")

  /** Bootstrap the screen from the eval relation (doc_id, text). */
  def seed(evalDocs: DataFrame): Unit =
    grams.promote(grams.stage(Curation.evalGramSet(evalDocs, n)))

  /** Scrub one micro-batch of (doc_id, text). */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    require(grams.exists, s"ScrubIndex at $root must be seeded before draining")
    BatchCommit(batchId, clean) { commit =>
      commit(clean -> (() => clean.stageAppendOrCreate(Curation.scrubAgainstGrams(
        batch.filter(col("text").isNotNull), grams.read(), n))))
      clean.compactIfNeeded(maxChainDepth)
    }
  }
}
