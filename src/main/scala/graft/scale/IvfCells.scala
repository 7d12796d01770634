package graft.scale

import graft.write.{TombstoneSet, VersionedTable, Writers}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The cell store both IVF flavours keep under an index root. [[AnnIndex]]
  * (int8 `code` postings) and [[Pq]] (PQ `codes` postings) differ only in
  * how a vector is encoded and scored; what happens to an encoded posting
  * after that is this one path:
  *
  *   root/postings    (nid long, codes, cid int, metaCols) partitioned by
  *                    cid, so a probe's cid IN-list prunes whole
  *                    directories (PartitionFilters, asserted in PlanSpec);
  *   root/tombstones  the [[TombstoneSet]] of LSM deletes, keyed on `nid`.
  *
  * Each lifecycle step exists once: [[append]] (keyed upsert into the
  * touched cells, un-deleting re-ingested ids), [[delete]] (an O(batch)
  * tombstone append), [[compact]] (purge the dead rows, keep the cid
  * partitioning, truncate the set) and [[candidates]] (the probe-side read
  * every scorer starts from). `maxChainDepth` bounds the tombstone append
  * chain.
  */
private[graft] final class IvfCells(spark: SparkSession, root: String,
                                    maxChainDepth: Int = 4) {

  val postings = new VersionedTable(spark, s"$root/postings")
  private val tombstones = new TombstoneSet(spark, s"$root/tombstones", "nid", maxChainDepth)

  /** Upsert an already-encoded (nid, codes, cid) batch into the cells it
    * touches: only those cells are read (directory-pruned), merged on nid
    * and rewritten as a patch version; every other cell is inherited by
    * reference ([[VersionedTable.stagePatch]]), so the write is O(touched
    * cells), not O(index).
    *
    * A re-ingested id un-deletes: its tombstone is cleared BEFORE the
    * postings promote. A crash between the two then leaves the id
    * un-tombstoned with its old (or no) posting, a state the caller's retry
    * of the append converges out of. The reverse order is NOT convergent:
    * posting promoted, id still tombstoned, and the next compaction purges
    * the fresh posting and truncates the tombstone, silently degrading
    * latest-op-wins to delete-wins.
    */
  def append(encoded: DataFrame): Unit = {
    // lazy checkpoint (r21): the touched-cid collect materializes it — one
    // job for encode + assign + collect instead of two
    val batch = encoded.localCheckpoint(false)
    val touched = batch.select("cid").distinct().collect().map(_.getInt(0))
    val merged = Writers.upsert(inCells(touched), batch, Seq("nid"))
    tombstones.remove(batch.select("nid"))
    postings.promote(postings.stagePatch(merged, Seq("cid")))
  }

  /** Tombstone `srcCol` of `deletedIds`; the postings are not touched. */
  def delete(deletedIds: DataFrame, srcCol: String): Unit =
    tombstones.add(deletedIds, srcCol)

  /** The ids currently tombstoned (an empty frame if none ever were). */
  def dead(): DataFrame =
    if (tombstones.exists) tombstones.table.read()
    else spark.range(0).select(col("id").as("nid"))

  /** Purge the tombstoned postings and truncate the set, or, with nothing
    * pending, collapse the patch chain; either way the postings are
    * restaged partitioned by cid and carry their current tag.
    */
  def compact(): Unit =
    tombstones.purgeInto((postings, identity[DataFrame] _, Seq("cid")))

  /** The streaming drains' chain policy: collapse the postings patch chain
    * past `maxDepth` versions, keeping the cid partitioning.
    */
  def compactChainIfNeeded(maxDepth: Int): Unit = {
    postings.compactIfNeeded(maxDepth, Seq("cid"))
    ()
  }

  /** The live postings of the cells `routed` names (a `cid` column): the
    * cells resolve to a driver-side IN-list over the partition column
    * (directory pruning, never a corpus scan), `pred` lands on the same
    * codes-only scan (filtered search), and tombstoned ids are anti-joined
    * out until [[compact]] drops them physically. `routed` must be
    * broadcast-small: past 65536 cells the IN-list would be a megabyte plan
    * literal, so `what` names the probe in the error.
    */
  def candidates(routed: DataFrame, pred: Option[Column], what: String): DataFrame = {
    val cids = routed.select("cid").distinct().collect().map(_.getInt(0))
    require(cids.length <= 65536,
      s"$what routed ${cids.length} distinct cells — the query table is not " +
        "broadcast-small; use Similarity.knnJoinQuantized for corpus-vs-corpus kNN")
    val scanned = inCells(cids)
    tombstones.minus(pred.fold(scanned)(scanned.filter))
  }

  private def inCells(cids: Array[Int]): DataFrame =
    postings.read().filter(col("cid").isin(cids.map(Integer.valueOf): _*))
}
