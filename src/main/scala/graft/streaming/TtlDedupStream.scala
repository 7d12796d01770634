package graft.streaming

import graft.write.{BatchCommit, VersionedTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming exact dedup with a TTL on the suppression state — the state-size
  * answer for an unbounded crawl. The plain streaming dedup
  * ([[Streaming]]'s W3 sinks, [[NearDupIndex]]) keys state on content
  * forever: after a year of crawling, the state table holds every content
  * hash ever seen, and every batch pays a join against corpus history. Here
  * the suppression contract is explicitly windowed — an arrival is admitted
  * iff NO occurrence of the same content key landed within the previous
  * `ttl` event days — so the state can evict every key whose last sighting
  * fell behind the watermark by more than `ttl`, and both the state size and
  * the per-batch join are bounded by the TTL window's distinct contents,
  * not the crawl's lifetime. (This is also the freshness policy a training
  * crawl actually wants: a page unseen for a TTL is new data again.)
  *
  * Sightings REFRESH the window whether or not they were admitted (the
  * CCNet re-crawl rule): content arriving every day is admitted exactly
  * once, then suppressed for as long as the stream keeps seeing it.
  *
  * Ingestion contract: batches arrive in NONDECREASING event-day order (the
  * date-partitioned crawl drop — each batch may span days, ties across
  * batches allowed). Enforced fail-closed per batch: a batch whose minimum
  * day precedes the state watermark throws rather than silently mis-ruling
  * on suppression that late data would have changed. Within a batch, the
  * most recent prior occurrence is resolved by a per-key lag window in
  * (day, id) order, falling back to the state's `last_seen` for each key's
  * first in-batch row — the order contract makes state days ≤ batch days,
  * so the coalesce IS the most-recent-prior rule.
  *
  * Exactly-once under foreachBatch replay: each batch commits through
  * [[graft.write.BatchCommit]]. Per batch the admitted append is O(batch)
  * ([[VersionedTable.stageAppend]], chain-compacted); the state rewrite is
  * O(window state) — bounded by the TTL, the whole point.
  */
final class TtlDedupIndex(
    spark: org.apache.spark.sql.SparkSession,
    root: String,
    ttlDays: Long,
    maxChainDepth: Int = 16) {
  require(ttlDays >= 0, s"ttlDays must be >= 0, got $ttlDays")

  val state = new VersionedTable(spark, s"$root/state")
  val admitted = new VersionedTable(spark, s"$root/admitted")

  /** Suppression window state: (key, last_seen) for every content key
    * sighted within `ttlDays` of the watermark.
    */
  def windowState(): DataFrame =
    if (state.exists) state.read()
    else spark.range(0).select(col("id").as("key"), col("id").as("last_seen"))

  /** One micro-batch of (idCol, keyCol, dayCol) sightings. */
  def processBatch(batch0: DataFrame, batchId: Long,
                   idCol: String = "doc_id", keyCol: String = "key",
                   dayCol: String = "day"): Unit =
    BatchCommit(batchId, admitted, state) { commit =>
      // lazy checkpoints + ONE fused probe (r21): batch size, batch min day
      // and the state watermark land in a single 1×1 cross-joined
      // aggregate job that also materializes both checkpoints — replacing
      // the eager checkpoint, isEmpty and two head() jobs (guide §2.4)
      val batch = batch0.select(col(idCol).cast("long").as("id"),
        col(keyCol).cast("long").as("key"), col(dayCol).cast("long").as("day"))
        .localCheckpoint(false)
      val st = windowState().localCheckpoint(false)
      val probe = batch.agg(count(lit(1)).as("n"), min("day").as("bmin"))
        .crossJoin(st.agg(max("last_seen").as("wm")))
        .head()
      if (probe.getLong(0) > 0) {
        val batchMin = probe.getLong(1)
        val wmPrev = if (state.exists && !probe.isNullAt(2)) probe.getLong(2)
                     else Long.MinValue
        // fail closed on out-of-order feeds: suppression below the
        // watermark would have been decided differently had this batch
        // arrived on time
        require(batchMin >= wmPrev,
          s"TtlDedupIndex: batch $batchId min day $batchMin precedes the " +
            s"state watermark $wmPrev — the feed must be day-ordered")
        val prevInBatch = lag("day", 1)
          .over(Window.partitionBy("key").orderBy("day", "id"))
        val adm = batch
          .withColumn("__prev_b", prevInBatch)
          .join(st.withColumnRenamed("last_seen", "__prev_s"), Seq("key"), "left")
          .withColumn("__prev", coalesce(col("__prev_b"), col("__prev_s")))
          .filter(col("__prev").isNull || col("day") - col("__prev") > ttlDays)
          .select(col("id"), col("key"), col("day"))
        // admitted first: its rows are decided against the pre-batch
        // state, which a crash between the promotes leaves in place
        commit(admitted -> (() => admitted.stageAppendOrCreate(adm)),
          state -> (() => {
            // max-merge last sightings, evict past the watermark
            val m = st
              .unionByName(batch.groupBy("key").agg(max("day").as("last_seen")))
              .groupBy("key").agg(max("last_seen").as("last_seen"))
              .localCheckpoint(false)
            val wm = m.agg(max("last_seen")).head().getLong(0)
            state.stage(m.filter(lit(wm) - col("last_seen") <= ttlDays))
          }))
        admitted.compactIfNeeded(maxChainDepth)
      }
    }
}
