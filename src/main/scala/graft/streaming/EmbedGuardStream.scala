package graft.streaming

import graft.scale.Similarity
import graft.write.{BatchCommit, VersionedTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming SEMANTIC admission guard — the q287 embedding decontamination
  * screen on the ingest path: a crawled vector is admitted iff it is not
  * cosine-close to ANY eval-panel vector. The panel is seeded once from
  * the eval relation (int8 codes + precomputed self-energies, persisted so
  * a restarted drain screens against the identical set) and NEVER grows —
  * a pure frozen screen, like [[SpanGuardIndex]] with `growSpans = false`,
  * so admission is order-invariant by construction: any drain of the same
  * vectors, one batch or one row per batch, admits the identical set, and
  * the batch oracle is q287's closed form verbatim.
  *
  * The cosine test is the exact integer cross-multiplied-squares rule
  * ([[Similarity.semanticDecontaminate]]): `dot > 0` and
  * `dot²·cosDen² ≥ cosNum²·self(c)·self(e)` — no float crosses the
  * admission decision. Per batch: one O(batch) quantize + a broadcast
  * panel join + an append of the admitted ids, committed through
  * [[graft.write.BatchCommit]]. Fails CLOSED on an
  * unseeded index — screening against an empty panel would silently
  * admit everything.
  *
  * Admission contract: a row with a NULL embedding is neither admitted
  * nor screen-rejected — it cannot be scored against the panel. Such
  * rows are recorded in the `dropped` table (same batch commit), so callers can distinguish screen-rejected ids
  * (in neither `served()` nor `droppedNull()`) from malformed input
  * (in `droppedNull()`).
  */
final class EmbedGuardIndex(spark: SparkSession, root: String,
                            cosNum: Int = 3, cosDen: Int = 4,
                            maxChainDepth: Int = 16) {
  require(cosNum >= 0 && cosDen >= 1 && cosNum <= cosDen,
    s"EmbedGuardIndex: cosine threshold $cosNum/$cosDen outside [0, 1]")

  val panel = new VersionedTable(spark, s"$root/panel")
  val admitted = new VersionedTable(spark, s"$root/admitted")
  val dropped = new VersionedTable(spark, s"$root/dropped")

  /** Seed the frozen eval panel (vec_id, embedding) — codes + self-energy
    * persist, so the screen is identical across restarts and engines.
    */
  def seed(evalVecs: DataFrame): Unit =
    panel.promote(panel.stage(
      Similarity.quantizeInt8(evalVecs.filter(col("embedding").isNotNull))
        .select(col("vec_id").cast("long").as("eid"), col("qcode").as("ec"))
        .withColumn("eself", Similarity.int8Dot(col("ec"), col("ec")))))

  /** Ingest one micro-batch of (vec_id, embedding). */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    require(panel.exists,
      "EmbedGuardIndex: processBatch before seed — an empty panel would " +
        "silently admit everything; fail closed instead")
    BatchCommit(batchId, dropped, admitted) { commit =>
      val nulls0 = batch.filter(col("embedding").isNull)
        .select(col("vec_id").cast("long").as("vec_id")).distinct()
      val nulls = if (dropped.exists)
        nulls0.join(dropped.read(), Seq("vec_id"), "left_anti") else nulls0
      val cz = Similarity.quantizeInt8(batch.filter(col("embedding").isNotNull))
        .select(col("vec_id").cast("long").as("vec_id"), col("qcode").as("cc"))
      val dot = Similarity.int8Dot(col("cc"), col("ec"))
      val cself = Similarity.int8Dot(col("cc"), col("cc"))
      val flagged = cz
        .join(broadcast(panel.read()),
          dot > 0 && dot * dot * lit(cosDen.toLong * cosDen) >=
            lit(cosNum.toLong * cosNum) * cself * col("eself"))
        .select("vec_id").distinct()
      val adm0 = cz.select("vec_id").distinct()
        .join(flagged, Seq("vec_id"), "left_anti")
      // torn-retry anti-join: a replayed batch must not duplicate ids the
      // crashed attempt already appended
      val adm = if (admitted.exists)
        adm0.join(admitted.read(), Seq("vec_id"), "left_anti") else adm0
      // dropped, then admitted; either order converges: each stage reads
      // only the batch, the frozen panel and its own pre-batch table
      commit(dropped -> (() => dropped.stageAppendOrCreate(nulls)),
        admitted -> (() => admitted.stageAppendOrCreate(adm)))
      dropped.compactIfNeeded(maxChainDepth)
      admitted.compactIfNeeded(maxChainDepth)
    }
  }

  /** Every admitted vector id. */
  def served(): DataFrame = admitted.read().select("vec_id")

  /** Ids dropped for NULL embeddings — malformed input, not screen
    * rejections (those are in neither table).
    */
  def droppedNull(): DataFrame = dropped.read().select("vec_id")
}
