package graft.streaming

import graft.write.{BatchCommit, VersionedTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming EXACT-substring admission guard: a crawl is admitted only if
  * none of its `n`-token spans has been seen in a PREVIOUS micro-batch —
  * the streaming form of suffix-array span dedup (q253 family) for the
  * ingest path, where the corpus isn't available for a global build. The
  * state is the set of md5 span hashes (md5, not xxhash64, so the whole
  * drain replays in the DuckDB oracle), maintained LSM-style: per batch
  * one O(batch) append of the batch's NEW hashes, serving is a semi-join
  * against the bounded chain, compaction collapses it.
  *
  * Admission semantics are deliberately non-recursive (the q230 TtlDedup
  * convention): EVERY seen doc's spans enter the index, admitted or not —
  * so whether a doc is admitted depends only on strictly-earlier BATCHES,
  * never on earlier admission decisions, and the oracle's closed form is
  * one min-batch-per-span aggregate. Docs sharing a span within one batch
  * are concurrent: both admit (there is no order inside a micro-batch).
  * Spans follow [[graft.expressions.DistinctShingles]]: documents shorter
  * than `n` tokens contribute their whole text as a single span.
  */
final class SpanGuardIndex(spark: SparkSession, root: String,
                           maxChainDepth: Int = 16, n: Int = 16,
                           spanFn: Option[DataFrame => DataFrame] = None,
                           growSpans: Boolean = true) {

  val spans = new VersionedTable(spark, s"$root/spans")
  val admitted = new VersionedTable(spark, s"$root/admitted")

  /** The (doc_id, h) guard keys of a batch — by default every distinct
    * `n`-token span's md5; `spanFn` swaps in any other replayable keying
    * (q262 passes winnowing fingerprints, trading exactness for ~2/(w+1)
    * index density while keeping the ≥ w+k−1-token match guarantee).
    */
  private def docSpans(batch: DataFrame): DataFrame = spanFn match {
    case Some(f) => f(batch.filter(col("text").isNotNull))
    case None =>
      val sh = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.DistinctShingles(
          org.apache.spark.sql.GraftColumnBridge.expression(col("text")), n))
      batch.filter(col("text").isNotNull)
        .select(col("doc_id"), explode(sh).as("g"))
        .select(col("doc_id"), md5(col("g")).as("h"))
        .distinct()
  }

  /** Seed the poisoned span set from a REFERENCE relation (doc_id, text)
    * without admitting it — the decontamination-guard bootstrap: with
    * `growSpans = false` the guard then screens a whole crawl against
    * EXACTLY this set (e.g. the eval suite's spans), state frozen forever.
    */
  def seed(reference: DataFrame): Unit =
    spans.promote(spans.stage(docSpans(reference).select("h").distinct()))

  /** Ingest one micro-batch of (doc_id, text). Each phase's jobs carry a
    * `spanguard batch=N: …` description; the caller's own description is
    * restored on return, normal or not.
    */
  def processBatch(batch: DataFrame, batchId: Long): Unit =
    // frozen (screen-only) mode never moves the spans table: only the
    // admitted log commits
    BatchCommit(batchId, admitted +: (if (growSpans) Seq(spans) else Nil): _*) { commit =>
      val sc = spark.sparkContext
      val callerDescription = sc.getLocalProperty("spark.job.description")
      def phase(name: String): Unit = sc.setJobDescription(s"spanguard ${commit.tag}: $name")
      try {
        phase("batch spans")
        val ds = docSpans(batch).localCheckpoint()
        val rejected =
          if (spans.exists) ds.join(spans.read(), Seq("h"), "left_semi")
            .select("doc_id").distinct()
          else ds.select("doc_id").limit(0)
        // anti-join vs the stored log: a torn retry must not duplicate
        // already-admitted ids
        val adm0 = batch.select("doc_id").distinct()
          .join(rejected, Seq("doc_id"), "left_anti")
        val adm = if (admitted.exists)
          adm0.join(admitted.read(), Seq("doc_id"), "left_anti") else adm0
        // ALL batch spans enter the index (the re-crawl rule): admission
        // never depends on earlier admissions, only on earlier batches
        val spansStage =
          if (!growSpans) Nil
          else Seq(spans -> (() => {
            val fresh =
              if (spans.exists) ds.select("h").distinct()
                .join(spans.read(), Seq("h"), "left_anti")
              else ds.select("h").distinct()
            phase("spans append")
            spans.stageAppendOrCreate(fresh)
          }))
        // admitted, then spans: the rejections read the pre-batch spans,
        // which a crash between the promotes leaves in place
        commit(Seq(admitted -> (() => {
          phase("admitted append")
          admitted.stageAppendOrCreate(adm)
        })) ++ spansStage: _*)
        phase("spans compact")
        spans.compactIfNeeded(maxChainDepth)
        phase("admitted compact")
        admitted.compactIfNeeded(maxChainDepth)
      } finally sc.setJobDescription(callerDescription)
    }
}
