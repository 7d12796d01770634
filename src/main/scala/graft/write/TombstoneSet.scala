package graft.write

import graft.core.Par
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The shared LSM tombstone-set protocol used by every persistent index
  * with takedown deletes ([[graft.streaming.PhashIndex]],
  * [[graft.streaming.VideoPhashIndex]], [[graft.streaming.NearDupIndex]],
  * [[graft.streaming.PostingsIndex]],
  * [[graft.scale.NnDescent.NavIndex]]): a [[VersionedTable]] of one long
  * id column.
  *
  *  - [[add]]: O(delete-batch) dedup append — the primary tables are never
  *    touched or versioned by a delete. Unknown ids are legal no-ops;
  *    re-deletes are idempotent (version-pinned by the anti-join).
  *  - [[minus]]: serve-side anti-join; the tombstone side is
  *    delete-batch-sized, so AQE broadcasts it — no shuffle lands on the
  *    primary.
  *  - [[purgeInto]]: the physical compaction — rewrite each primary minus
  *    the dead ids (each promote carries its table's current batch stamp so
  *    replay protection survives), THEN truncate the set. A crash between
  *    the promotes leaves stale tombstones over already-purged rows — the
  *    anti-joins match nothing and the next purge clears them (convergent,
  *    the [[graft.scale.AnnIndex]] argument).
  *  - [[remove]]: the un-delete clear (re-admission of a tombstoned id must
  *    drop the tombstone BEFORE the primary promote — see
  *    NnDescent.NavIndex.append for the ordering argument).
  *
  * Extracted because five hand-rolled copies had already drifted in their
  * purge promote counts and chain-compaction routing.
  *
  * Job accounting (the r21 optimization pass): lifecycle queries call
  * [[dead]]/[[minus]] once per serve PHASE — historically an eager
  * localCheckpoint job plus an isEmpty job per call, dominating the
  * per-batch fixed cost. Now one lazy-checkpoint-plus-count job per
  * DISTINCT committed version: versions are immutable and every mutation
  * promotes a new one, so the (version → checkpointed rows, count) memo is
  * exact, never crosses a mutation (the key changes), and never crosses a
  * run (it holds per-instance, in-session localCheckpoints only).
  */
final class TombstoneSet(spark: SparkSession, root: String, idCol: String,
                         maxChainDepth: Int = 16) {

  /** The backing versioned table — exposed so specs can pin version/replay
    * laws directly.
    */
  val table = new VersionedTable(spark, root)

  def exists: Boolean = table.exists

  // (manifest version it was read at) → the checkpointed dead relation and
  // its row count (None = the set is empty at that version)
  private var deadMemo: Option[(Int, Option[(DataFrame, Long)])] = None

  private def deadWithCount(): Option[(DataFrame, Long)] =
    table.currentVersion match {
      case None => None
      case Some(ver) =>
        deadMemo match {
          case Some((mv, cached)) if mv == ver => cached
          case _ =>
            // lazy checkpoint + count: ONE job materializes the blocks AND
            // answers emptiness (the eager-checkpoint-then-isEmpty form
            // paid two)
            val d = table.read().localCheckpoint(false)
            val n = d.count()
            val res = if (n == 0) None else Some((d, n))
            deadMemo = Some((ver, res))
            res
        }
    }

  /** Record what the set holds at its CURRENT version without a job — used
    * by the mutators whose promote content is already checkpointed.
    */
  private def primeMemo(content: Option[(DataFrame, Long)]): Unit =
    table.currentVersion.foreach(v => deadMemo = Some((v, content)))

  /** O(batch) dedup append of deleted ids; `srcCol` (any numeric/castable
    * column) is normalized to a long `idCol`.
    */
  def add(deletedIds: DataFrame, srcCol: String): Unit = {
    val ids = deletedIds.select(col(srcCol).cast("long").as(idCol)).distinct()
    if (table.exists) {
      val fresh = ids.join(table.read(), Seq(idCol), "left_anti")
        .localCheckpoint(false)
      if (fresh.count() > 0) {
        table.promote(table.stageAppend(fresh))
        table.compactIfNeeded(maxChainDepth)
      }
    } else table.promote(table.stage(ids))
  }

  /** `df` minus tombstoned ids (no-op while the set is absent). */
  def minus(df: DataFrame): DataFrame =
    if (table.exists) df.join(table.read(), Seq(idCol), "left_anti")
    else df

  /** The current dead-id relation, checkpointed, when any ids pend. */
  def dead(): Option[DataFrame] = deadWithCount().map(_._1)

  /** Clear the given ids from the set (the un-delete path); a no-op when
    * nothing matches. Callers must invoke this BEFORE promoting the
    * re-admitted rows into a primary table.
    */
  def remove(ids: DataFrame): Unit =
    if (table.exists) deadWithCount() match {
      case None => () // empty set: nothing to clear
      case Some((tt, n)) =>
        val cleared = tt.join(ids.select(col(idCol)), Seq(idCol), "left_anti")
          .localCheckpoint(false)
        val m = cleared.count()
        if (m != n) {
          table.promote(table.stage(cleared))
          primeMemo(if (m == 0) None else Some((cleared, m)))
        }
    }

  /** Truncate the set to empty (after a physical purge). */
  def truncate(): Unit =
    if (table.exists) {
      table.promote(table.stage(table.read().limit(0)))
      primeMemo(None)
    }

  /** The full purge protocol: if ids pend, rewrite each primary table as
    * itself anti-join the dead set — `reshape` runs on the purged relation
    * (e.g. a term re-sort so row-group envelopes survive) — carrying the
    * table's current stamp, then truncate the set; with nothing pending,
    * plain-compact each primary instead (the rewrite is being paid anyway,
    * so the append chain collapses too).
    */
  def purge(primaries: VersionedTable*): Unit =
    purgeInto(primaries.map(t => (t, identity[DataFrame] _)): _*)

  /** [[purge]] with a per-table reshape hook on the purged relation. The
    * per-primary purge REWRITES are independent of each other (each reads
    * its own table's pre-promote state plus the checkpointed dead set), so
    * they stage concurrently and back-fill each other's task tails (guide
    * §2.6); the PROMOTES stay strictly ordered — primaries first, in
    * argument order, then the tombstone truncate — which is the order the
    * crash-convergence argument depends on.
    */
  def purgeInto(primaries: (VersionedTable, DataFrame => DataFrame)*): Unit =
    dead() match {
      case Some(d) =>
        val versions = Par.all(primaries.map { case (t, reshape) =>
          () => t.stage(reshape(t.read().join(d, Seq(idCol), "left_anti")))
        })
        primaries.zip(versions).foreach { case ((t, _), v) =>
          t.promote(v, t.currentTag)
        }
        table.promote(table.stage(d.limit(0)))
        primeMemo(None)
      case None =>
        primaries.foreach { case (t, _) => t.compact() }
    }
}
