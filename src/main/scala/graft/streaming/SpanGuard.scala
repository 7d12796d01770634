package graft.streaming

import graft.core.Par
import graft.write.VersionedTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

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

  /** Ingest one micro-batch of (doc_id, text). */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    val tag = s"batch=$batchId"
    // replay gate: the spans promote carries the stamp in growing mode;
    // in frozen (screen-only) mode the spans table never moves, so the
    // admitted log carries it instead
    val done =
      if (growSpans) spans.exists && spans.currentTag.contains(tag)
      else admitted.exists && admitted.currentTag.contains(tag)
    if (done) return
    val sc = spark.sparkContext
    sc.setJobDescription(s"spanguard $tag: batch spans")
    val ds = docSpans(batch).localCheckpoint()
    val rejected =
      if (spans.exists) ds.join(spans.read(), Seq("h"), "left_semi")
        .select("doc_id").distinct()
      else ds.select("doc_id").limit(0)
    // anti-join vs the stored log: a crash between the two promotes
    // (admitted landed, spans didn't) replays the batch, and the append
    // must not duplicate the already-admitted ids
    val adm0 = batch.select("doc_id").distinct()
      .join(rejected, Seq("doc_id"), "left_anti")
    val adm = if (admitted.exists)
      adm0.join(admitted.read(), Seq("doc_id"), "left_anti") else adm0
    val admTag = if (growSpans) None else Some(tag)
    // the two staging writes are independent of each other (both read only
    // the checkpointed batch spans and the PRE-promote table states), so
    // they overlap; the PROMOTES stay strictly ordered (admitted, then
    // spans) — the crash story below depends on that order
    val (admStaged, spansStaged) = Par.both({
      sc.setJobDescription(s"spanguard $tag: admitted append")
      admitted.stageAppendOrCreate(adm)
    }, {
      if (!growSpans) None
      else {
        // ALL batch spans enter the index (the re-crawl rule): admission
        // never depends on earlier admissions, only on earlier batches
        val fresh =
          if (spans.exists) ds.select("h").distinct()
            .join(spans.read(), Seq("h"), "left_anti")
          else ds.select("h").distinct()
        sc.setJobDescription(s"spanguard $tag: spans append")
        Some(spans.stageAppendOrCreate(fresh))
      }
    })
    admitted.promote(admStaged, admTag)
    spansStaged.foreach { v =>
      spans.promote(v, Some(tag))
      sc.setJobDescription(s"spanguard $tag: spans compact")
      if (spans.chainDepth > maxChainDepth) { spans.compact(); () }
    }
    sc.setJobDescription(s"spanguard $tag: admitted compact")
    if (admitted.chainDepth > maxChainDepth) { admitted.compact(); () }
    sc.setJobDescription(null)
  }
}

object SpanGuard {

  /** [[SpanGuardIndex.processBatch]] as a streaming sink. */
  def spanGuardSink(docs: DataFrame, index: SpanGuardIndex,
                    checkpoint: String): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        index.processBatch(batch, batchId)
      }
      .trigger(Trigger.AvailableNow())
      .start()
}
