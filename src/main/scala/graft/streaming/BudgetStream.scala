package graft.streaming

import graft.write.{BatchCommit, VersionedTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming token-budget admission — the mixture manifest
  * ([[graft.scale.Curation.tokenBudgetMix]]) maintained as a continuous
  * ingest: arrivals are admitted per stratum, in arrival order, while the
  * stratum's token budget remains open; the budget-crossing doc is admitted
  * (a bound stratum lands at >= its budget) and everything after it drops.
  * Strata absent from the budget list drop (whitelist semantics).
  *
  * The greedy rule is PREFIX-CLOSED within a stratum: a doc admits iff the
  * tokens admitted before it total under the budget, and once any doc is
  * dropped every later doc is too (the admitted total never grows again) —
  * so the admitted set is exactly the batch form's "cumulative-before <
  * budget" prefix in arrival order, which is what the q231 oracle replays
  * with one plain window over the whole feed.
  *
  * State is one row per stratum (consumed tokens, plus the global seq
  * watermark the fail-closed ordering guard checks) — metadata-sized
  * forever. A batch whose min seq precedes the folded watermark throws
  * rather than silently diverging from the prefix-closed semantics.
  * Per batch: one keyed window over the batch's narrow (id, stratum,
  * n_tokens) projection plus a broadcast state join; the admitted append is
  * O(batch) ([[VersionedTable.stageAppend]], chain-compacted). Exactly-once
  * under foreachBatch replay: each batch commits through
  * [[graft.write.BatchCommit]].
  */
final class BudgetAdmitIndex(
    spark: org.apache.spark.sql.SparkSession,
    root: String,
    budgets: Seq[(String, Long)],
    maxChainDepth: Int = 16) {
  require(budgets.nonEmpty && budgets.forall(_._2 >= 0),
    s"budgets must be non-negative: $budgets")

  val state = new VersionedTable(spark, s"$root/state")
  val admitted = new VersionedTable(spark, s"$root/admitted")

  /** Full state: per-stratum consumed tokens plus the global seq watermark
    * (duplicated on every row — the state is metadata-sized) that the
    * arrival-order guard in [[processBatch]] fails closed against.
    */
  private def stateDf(): DataFrame = {
    import spark.implicits._
    if (state.exists) state.read()
    else budgets.map { case (s, _) => (s, 0L, Long.MinValue) }
      .toDF("stratum", "consumed", "max_seq")
  }

  /** Per-stratum consumed (admitted) tokens so far. */
  def consumed(): DataFrame = stateDf().select("stratum", "consumed")

  /** One micro-batch of (idCol, stratumCol, nTokensCol, seqCol) arrivals;
    * `seqCol` is the arrival order within the batch (ties broken by id).
    */
  def processBatch(batch0: DataFrame, batchId: Long,
                   idCol: String = "doc_id", stratumCol: String = "stratum",
                   nTokensCol: String = "n_tokens", seqCol: String = "day"): Unit = {
    import spark.implicits._
    BatchCommit(batchId, admitted, state) { commit =>
      val b = broadcast(budgets.toDF("stratum", "__budget"))
      // lazy checkpoints + ONE fused probe (r21): batch seq span and the
      // state watermark land in a single cross-joined aggregate job that
      // also materializes both checkpoints (guide §2.4)
      val st = stateDf().localCheckpoint(false)
      val batch = batch0.select(col(idCol).cast("long").as("id"),
          col(stratumCol).cast("string").as("stratum"),
          col(nTokensCol).cast("long").as("n_tokens"),
          col(seqCol).cast("long").as("seq"))
        .localCheckpoint(false)
      // fail closed on out-of-order feeds (the TtlDedupIndex guard):
      // admission is arrival-ordered, so a batch landing below the
      // already-folded seq watermark would admit docs the prefix-closed
      // oracle has already decided against
      val span = batch.agg(min("seq"), max("seq"))
        .crossJoin(st.agg(max("max_seq"))).head()
      val batchMax = if (span.isNullAt(1)) Long.MinValue else span.getLong(1)
      if (!span.isNullAt(0)) {
        val seqPrev = span.getLong(2)
        require(span.getLong(0) >= seqPrev,
          s"BudgetAdmitIndex: batch $batchId min seq ${span.getLong(0)} " +
            s"precedes the state watermark $seqPrev — the feed must be " +
            "seq-ordered")
      }
      val adm = batch
        .join(b, Seq("stratum"))
        .join(broadcast(st), Seq("stratum"))
        .withColumn("__before", coalesce(
          sum("n_tokens").over(Window.partitionBy("stratum")
            .orderBy("seq", "id")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .filter(col("consumed") + col("__before") < col("__budget"))
        .select(col("id"), col("stratum"), col("n_tokens"), col("seq"))
        .localCheckpoint(false)
      // pinned by one count before the overlap: the admitted stage and the
      // state fold both read adm, and two recomputes could break (seq, id)
      // ties differently, splitting admissions from the consumed totals
      adm.count()
      val newState = st
        .join(adm.groupBy("stratum").agg(sum("n_tokens").as("__add")),
          Seq("stratum"), "left")
        .select(col("stratum"),
          (col("consumed") + coalesce(col("__add"), lit(0L))).as("consumed"),
          greatest(col("max_seq"), lit(batchMax)).as("max_seq"))
      // admitted first: the admission decision reads only the pre-batch
      // state, which a crash between the promotes leaves in place, so the
      // redelivery re-derives the same admitted set and the same new state
      commit(admitted -> (() => admitted.stageAppendOrCreate(adm)),
        state -> (() => state.stage(newState)))
      admitted.compactIfNeeded(maxChainDepth)
    }
  }
}
