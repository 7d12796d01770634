package graft.streaming

import graft.scale.{Cluster, Curation, Dedup}
import graft.write.{BatchCommit, VersionedTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming MinHash near-dup dedup — the continuous-crawl form of the batch
  * [[graft.scale.Dedup]] q26 pipeline, and the first real need of a crawl
  * after exact dedup (q85): each arriving micro-batch must be deduplicated
  * against EVERYTHING already accepted, not just its own rows.
  *
  * State is two [[graft.write.VersionedTable]]s under one root:
  *
  *   root/survivors   (doc_id, text)     — every doc accepted so far; this
  *                    IS the deduplicated output corpus;
  *   root/signatures  (doc_id, signature) — the accepted docs' MinHash
  *                    signatures, persisted so a batch bands against stored
  *                    longs instead of re-minhashing the accumulated corpus
  *                    (per-batch cost O(batch text + index longs), never
  *                    O(index text)).
  *
  * Per batch ([[processBatch]]):
  *   1. WITHIN-batch: LSH candidates → exact-Jaccard verify → transitive
  *      clusters → keep each cluster's min-id ([[Cluster.dropNearDups]]) —
  *      so two copies arriving together collapse exactly like the batch
  *      operator, and a single-batch drain of a whole corpus equals the
  *      batch answer (q26/q69 semantics; StreamingNearDupSpec law).
  *   2. CROSS-batch: the batch's survivors band-collide against the
  *      persisted signature index and drop on verified Jaccard >=
  *      threshold ([[Curation.nearDupAgainstIndex]] — old text is read only
  *      for candidate ids, column-pruned).
  *   3. GROW: accepted rows append to both tables, committed through
  *      [[graft.write.BatchCommit]].
  *
  * Semantics: a doc survives iff it is not in the transitive near-dup
  * closure of any earlier-accepted or lower-id-same-batch doc — the greedy
  * temporal extension of batch keep-min-id. Order matters across batches by
  * construction (a crawl cannot un-accept history).
  *
  * Scale notes: every step is the already-bucketed batch machinery; the
  * index side of the banding join is narrow longs. The two writes are
  * O(batch) appends ([[graft.write.VersionedTable.stageAppend]]), their
  * chains compacted past `maxChainDepth`.
  */
final class NearDupIndex(spark: SparkSession, root: String,
                         threshold: Double = 0.8, numHashes: Int = 64,
                         bands: Int = 16, shingleSize: Int = 3,
                         maxChainDepth: Int = 16) {

  val survivors = new VersionedTable(spark, s"$root/survivors")
  val signatures = new VersionedTable(spark, s"$root/signatures")
  private val ts =
    new graft.write.TombstoneSet(spark, s"$root/tombstones", "doc_id",
      maxChainDepth)
  val tombstones: VersionedTable = ts.table

  /** Takedown-delete accepted doc ids, [[graft.scale.AnnIndex]] LSM style
    * (q205/q213): an O(batch) tombstone append — neither corpus table is
    * touched or versioned. The erased docs leave BOTH serving surfaces at
    * once: [[servedSurvivors]] (the output corpus) and the signature side
    * of every future batch's cross-batch banding — so content resembling an
    * erased doc is ADMITTED afterwards, exactly as if the erased doc had
    * never been accepted (rebuild-without-deleted parity, q213). Unknown
    * ids are legal no-ops; re-deletes are idempotent. [[compactPurge]]
    * physically drops the rows and truncates the set. Like
    * [[PostingsIndex]], growth is append, so a tombstoned id is rejected at
    * ingest while its tombstone lives (no resurrection-by-append
    * duplicates); after the purge a re-crawl re-admits it with a fresh
    * history.
    */
  def delete(deletedIds: DataFrame, idCol: String = "doc_id"): Unit =
    ts.add(deletedIds, idCol)

  private def minusTombstones(df: DataFrame): DataFrame = ts.minus(df)

  /** The deduplicated output corpus minus erased docs — what a consumer
    * reads. The tombstone side is delete-batch-sized (AQE broadcasts the
    * anti-join).
    */
  def servedSurvivors(): DataFrame = minusTombstones(survivors.read())

  /** The signature index the cross-batch banding joins against — erased
    * docs excluded, so they stop suppressing future near-dups immediately.
    */
  def servedSignatures(): DataFrame = minusTombstones(signatures.read())

  /** Physically purge tombstoned rows from both tables, then truncate the
    * tombstone set. Three promotes; a crash after either purge leaves stale
    * tombstones over already-purged rows — the anti-joins match nothing and
    * the next purge clears them (convergent, the AnnIndex argument). Both
    * purge promotes carry their table's current batch stamp so replay
    * protection survives.
    */
  def compactPurge(): Unit = ts.purge(survivors, signatures)

  /** Bootstrap the index from an ALREADY-CURATED corpus: every row is
    * accepted verbatim and only the signatures are computed. A production
    * crawl never re-deduplicates its curated corpus against itself — the
    * corpus may legitimately retain borderline pairs a fresh threshold would
    * collapse, and re-litigating them would rewrite history. Deduplication
    * applies to what arrives AFTER the bootstrap.
    */
  def seed(curated: DataFrame): Unit = {
    val b = curated.select(col("doc_id"), col("text"))
      .filter(col("text").isNotNull).localCheckpoint()
    // full refresh, not a latest-wins merge: the bootstrap accepts the
    // curated corpus verbatim, so paying a key window over the whole corpus
    // would buy nothing (re-seeding replaces the snapshot wholesale)
    survivors.fullRefresh(b)
    signatures.fullRefresh(Dedup.minhashSignatures(b, numHashes, shingleSize))
  }

  /** Dedup one micro-batch against itself and the index, then grow the
    * index with the accepted rows. Callable directly (the foreachBatch body)
    * so specs can drive controlled batch boundaries.
    *
    * Growth is an APPEND version per table — O(batch) bytes written, the
    * old files inherited by reference ([[graft.write.VersionedTable
    * .stageAppend]]) — NOT a keyed re-merge of the whole table per batch,
    * which would make each micro-batch pay an O(corpus) rewrite. Append
    * alone would duplicate rows on a foreachBatch replay, so the batch
    * commits through [[graft.write.BatchCommit]] (StreamingNearDupSpec
    * laws).
    */
  def processBatch(batch: DataFrame, batchId: Long): Unit =
    BatchCommit(batchId, survivors, signatures) { commit =>
      // tombstoned ids are rejected while their tombstone lives (see
      // [[delete]]). b is EAGER: several stages of the survivors stage's
      // action read it at once, and a lazy checkpoint drops its lineage, and
      // with it the scan's SQL metrics, when the first job over it ends, so
      // the other stages' task metrics were lost (StreamingNearDupSpec).
      // sigs and kept stay lazy (r21): each materializes inside the survivors
      // stage and the signatures stage reuses the blocks (guide §2.4)
      val b = minusTombstones(batch.select(col("doc_id"), col("text"))
        .filter(col("text").isNotNull)).localCheckpoint()
      val sigs = Dedup.minhashSignatures(b, numHashes, shingleSize)
        .localCheckpoint(false)
      // 1. within-batch transitive reduction to cluster min-ids
      val pairs = Dedup.jaccardVerify(b,
        Dedup.minhashCandidates(sigs, bands, numHashes),
        shingleSize, threshold)
      val reps = Cluster.dropNearDups(b, pairs)
      // 2. cross-batch: survivors-so-far are the "old snapshot"
      val kept = (if (!signatures.exists) reps
                  else Curation.nearDupAgainstIndex(reps, servedSignatures(),
                    servedSurvivors(), threshold, numHashes, bands, shingleSize))
        .localCheckpoint(false)
      // 3. grow both tables with the accepted rows: survivors, then
      // signatures, staged one after the other so the signatures stage
      // reuses the blocks the survivors stage materialized. In this order
      // the candidates always band against a signatures table that never
      // runs ahead of survivors, so a redelivery after a crash between the
      // promotes recomputes the same accepted rows
      commit(survivors -> (() => survivors.stageAppendOrCreate(kept)))
      commit(signatures -> (() => signatures.stageAppendOrCreate(
        sigs.join(kept.select("doc_id"), Seq("doc_id"), "left_semi"))))
      // bound the append chains a continuous crawl accumulates: read cost
      // stays O(maxChainDepth) union legs, the O(table) rewrite amortizes
      // to one every ~maxChainDepth batches (policy law in
      // StreamingNearDupSpec). Routed through the purge-aware compaction
      // so a rewrite that's being paid anyway also clears pending
      // tombstones.
      if (survivors.chainDepth > maxChainDepth ||
          signatures.chainDepth > maxChainDepth)
        compactPurge()
    }
}
