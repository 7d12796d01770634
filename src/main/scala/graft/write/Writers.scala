package graft.write

import graft.core.Par
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** The reference's four idempotent write-semantics patterns, re-expressed as
  * pure DataFrame combinators (testable without I/O) plus a versioned-table
  * store that supplies the atomicity Redshift transactions provided.
  *
  * Reference patterns (see SURVEY.md §2.3, citations into /root/reference):
  *  - W1/W2 full refresh: NameGenderCSVtoRedshift.py:47-60, UpdateSymbol.py:41-58
  *  - W3 incremental append + latest-wins dedup: UpdateSymbol_v3.py:60-90
  *  - W4 keyed upsert: MySQL_to_Redshift_v2.py:51-63
  *  - W5 validated CTAS + atomic swap: plugins/redshift_summary.py:132-217
  */
object Writers {

  /** W3 dedup kernel: keep the newest row per key, ordering by `orderCols`
    * descending (reference: ROW_NUMBER() OVER (PARTITION BY date ORDER BY
    * created_date DESC) ... WHERE seq = 1, UpdateSymbol_v3.py:77-84).
    *
    * One shuffle on the key columns; at 100 TB this is the canonical
    * hash-partitioned window. Callers must pass a tie-breaking order column
    * (e.g. a monotonically increasing batch id) for determinism.
    */
  def latestWins(df: DataFrame, keys: Seq[String], orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(c => col(c).desc): _*)
    df.withColumn("__seq", row_number().over(w))
      .filter(col("__seq") === 1)
      .drop("__seq")
  }

  /** W3 incremental merge: existing ∪ incoming, then latest-wins dedup. */
  def incrementalDedup(existing: DataFrame, incoming: DataFrame,
                       keys: Seq[String], orderCols: Seq[String]): DataFrame =
    latestWins(existing.unionByName(incoming), keys, orderCols)

  /** W3 (v2 variant): exact-duplicate elimination after append
    * (SELECT DISTINCT *, UpdateSymbol_v2.py:78).
    */
  def appendDistinct(existing: DataFrame, incoming: DataFrame): DataFrame =
    existing.unionByName(incoming).distinct()

  /** W4 keyed upsert: delete-matching-then-insert = anti-join old on the keys
    * ∪ new (MySQL_to_Redshift_v2.py:60-61). Both sides shuffle on the key —
    * broadcast the incoming batch when it is small relative to the table.
    */
  def upsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    existing.join(incoming, keys, "left_anti").unionByName(incoming)

  /** CDC changelog apply — W4's general form: `changes` carries (key cols,
    * `seqCol` total order, `opCol` ∈ {I, U, D}, payload); the latest op per
    * key wins, a terminal D deletes the row, anything else upserts the
    * payload. One rank-1 reduction over the changelog (the
    * RankOneWindowToAggregate rule turns it into a plain aggregate — no
    * sort) plus the same anti-join ∪ shape as [[upsert]]: both sides
    * shuffle once on the key. This is the operator a Debezium/binlog feed
    * lands through; replaying any prefix-extension of the changelog is
    * idempotent-by-construction (latest-wins).
    *
    * `changes` must carry exactly snapshot.columns ∪ {seqCol, opCol};
    * ties on `seqCol` within a key are a caller error (the order must be
    * total), enforced here rather than silently resolved.
    */
  def applyChangelog(snapshot: DataFrame, changes: DataFrame,
                     keys: Seq[String], seqCol: String, opCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(seqCol).desc)
    // The tie check is GLOBAL over the changelog: a duplicate seq anywhere
    // in a key's history breaks the total order, not just a duplicate at
    // the winning position. A window-count + CASE on the output column is
    // NOT enough — the optimizer folds it into a short-circuit filter
    // conjunct that non-winning rows never evaluate. Instead a 1-row
    // broadcast aggregate of duplicate (keys, seq) groups is folded into
    // seqCol itself: row_number's sort REQUIRES seqCol, so the guard is
    // structurally unprunable and fires before any winner is picked.
    val dups = changes
      .groupBy((keys.map(col) :+ col(seqCol)): _*)
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1)
      .agg(count(lit(1)).as("__ndups"),
        min(concat_ws(",", keys.map(c => col(c).cast("string")): _*)).as("__dupkey"))
    val checked = changes.crossJoin(broadcast(dups))
      .withColumn(seqCol,
        when(col("__ndups") > 0,
          raise_error(concat(lit(s"applyChangelog: duplicate $seqCol for key "),
            coalesce(col("__dupkey"), lit("?")))))
          .otherwise(col(seqCol)))
      .drop("__ndups", "__dupkey")
    val latest = checked
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val survivors = latest.filter(col(opCol) =!= "D")
      .drop("__rn", seqCol, opCol)
    snapshot.join(latest.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(survivors)
  }

  /** F6: audit column stamped at write time — the reference's
    * `created_date timestamp default GETDATE()` (UpdateSymbol_v3.py:56,
    * Weather_to_Redshift_v2.py:51). W3's latest-wins ordering keys on
    * exactly this column in the reference.
    */
  def withAudit(df: DataFrame, colName: String = "created_date"): DataFrame =
    df.withColumn(colName, current_timestamp())

  /** Type-2 slowly-changing-dimension merge — the history-preserving
    * counterpart of [[upsert]] (the reference's W4 keyed upsert,
    * MySQL_to_Redshift_v2.py:51-63, overwrites attribute history; a
    * dimension consumer who needs "what was this customer's segment last
    * quarter" needs SCD2).
    *
    * `dim` carries `keys ++ attrs ++ (validFrom, validTo, isCurrent)`;
    * `batch` carries `keys ++ attrs`. Per batch key:
    *   - attrs changed vs the current slice → the current row closes
    *     (`validTo = effective`, `isCurrent = false`) and a new open row
    *     appears (`validFrom = effective`, `validTo = openEnd`);
    *   - key absent from the dimension → a new open row appears;
    *   - attrs unchanged → no-op (which makes the merge idempotent: a
    *     replayed batch matches the rows it just wrote and falls through).
    *
    * Scale shape: ONE hash shuffle, on the keys — a single full-outer join
    * of the current slice against the batch, after which each joined row
    * expands locally into its 0–2 output rows (survivor / closed / insert)
    * via an array-explode, so the join output is consumed exactly once.
    * Closed history rows never enter the join: they union straight through
    * without shuffling, which is what keeps a 100 TB dimension's
    * ever-growing history out of every merge. Attribute comparison is
    * null-safe (`<=>`), so a null attribute does not spuriously re-open.
    */
  def scd2Merge(dim: DataFrame, batch: DataFrame,
                keys: Seq[String], attrs: Seq[String],
                effective: Column, openEnd: Column,
                validFrom: String = "valid_from", validTo: String = "valid_to",
                isCurrent: String = "is_current"): DataFrame = {
    val outCols = keys ++ attrs ++ Seq(validFrom, validTo, isCurrent)
    val hist = dim.filter(!col(isCurrent)).select(outCols.map(col): _*)
    val cur = dim.filter(col(isCurrent)).select(
      keys.map(col) ++ attrs.map(a => col(a).as(s"__d_$a")) ++
        Seq(col(validFrom).as("__d_from"), lit(true).as("__d_exists")): _*)
    val inc = batch.select(
      keys.map(col) ++ attrs.map(a => col(a).as(s"__b_$a")) :+
        lit(true).as("__b_exists"): _*)

    val j = cur.join(inc, keys, "full_outer")
    val hasD = coalesce(col("__d_exists"), lit(false))
    val hasB = coalesce(col("__b_exists"), lit(false))
    val changed = attrs.map(a => !(col(s"__d_$a") <=> col(s"__b_$a"))).reduce(_ || _)

    def out(attrSide: String, from: Column, to: Column, open: Boolean) =
      struct(attrs.map(a => col(s"__${attrSide}_$a").as(a)) ++
        Seq(from.as(validFrom), to.as(validTo), lit(open).as(isCurrent)): _*)

    val rows = array(
      when(hasD && (!hasB || !changed), out("d", col("__d_from"), openEnd, open = true)),
      when(hasD && hasB && changed, out("d", col("__d_from"), effective, open = false)),
      when(hasB && (!hasD || changed), out("b", effective, openEnd, open = true)))

    j.select(keys.map(col) :+ explode(filter(rows, r => r.isNotNull)).as("__r"): _*)
      .select(keys.map(col) ++ Seq(validFrom, validTo, isCurrent)
        .foldLeft(attrs)(_ :+ _).map(c => col(s"__r.$c").as(c)): _*)
      .unionByName(hist)
  }
}

/** A parquet table with versioned directories and an atomically-swapped
  * manifest — the engine's stand-in for the reference's
  * `BEGIN; DROP old; ALTER TABLE temp RENAME; END` swap
  * (plugins/redshift_summary.py:171-178).
  *
  * Layout:  root/v{n}/part-*.parquet  +  root/_MANIFEST (contains "n").
  * Writers stage a full new version, then promote by writing the manifest to
  * a temp file and ATOMIC_MOVE-ing it over the old one. Readers resolve
  * through the manifest, so a crash mid-write leaves the previous version
  * live — the same guarantee the reference gets from Redshift transactions.
  * On a real deployment root would be an object-store prefix and the manifest
  * swap a conditional PUT; the protocol is unchanged.
  */
final class VersionedTable(spark: SparkSession, root: String) {
  private val manifest = Paths.get(root, "_MANIFEST")

  /** The committed (version, tag), read in one pass over `_MANIFEST`. */
  private def committed: Option[(Int, Option[String])] =
    if (!Files.exists(manifest)) None
    else {
      val lines = new String(Files.readAllBytes(manifest), StandardCharsets.UTF_8)
        .linesIterator
      val v = lines.next().trim.toInt
      Some((v, lines.find(_.nonEmpty).map(_.trim)))
    }

  def currentVersion: Option[Int] = committed.map(_._1)

  /** The tag recorded with the last promote, if any — used by idempotent
    * streaming sinks to stamp the micro-batch id a version corresponds to,
    * atomically with the version flip itself (one manifest write): a
    * replayed batch compares its id against the tag and skips, which is
    * what makes APPEND versions (no keyed merge to absorb a redelivery)
    * exactly-once.
    */
  def currentTag: Option[String] = committed.flatMap(_._2)

  def exists: Boolean = currentVersion.isDefined

  def read(): DataFrame = {
    val v = currentVersion.getOrElse(
      throw new IllegalStateException(s"no committed version at $root"))
    readVersion(v)
  }

  /** Time-travel read: versions are immutable directories that promote
    * never deletes, so any previously committed version stays readable —
    * the audit/rollback affordance the reference's DROP-and-RENAME swap
    * destroys. Fails on a version that was never staged.
    *
    * A PATCH version ([[stagePatch]]) resolves through its `_FILELIST`: one
    * parquet scan per contributing version (each with its own hive
    * partition discovery, so partition pruning survives), unioned by name.
    */
  def readVersion(version: Int): DataFrame = {
    require(version >= 0 && Files.exists(Paths.get(root, s"v$version")),
      s"version $version does not exist at $root")
    // fail closed on a vacuumed version: its directory may survive (it can
    // still hold units inherited by RETAINED versions' file lists) but its
    // own read view is gone — without this marker a vacuumed patch version
    // would fall into the whole-directory branch below and silently serve
    // only its surviving units as if they were the complete table
    require(!Files.exists(Paths.get(root, s"v$version", "_VACUUMED")),
      s"version $version at $root was removed by vacuum")
    if (!Files.exists(fileListPath(version)))
      reader(version).parquet(s"$root/v$version")
    else {
      val legs = entries(version).groupBy(_._1).toSeq.sortBy(_._1)
      legs.map { case (v, es) =>
        val paths = es.map { case (_, d) => s"$root/v$v/$d" }
        // partition-dir entries need the version dir as basePath so hive
        // discovery recovers the partition column; file entries read plainly
        if (es.exists(_._2.contains("=")))
          reader(v).option("basePath", s"$root/v$v").parquet(paths: _*)
        else reader(v).parquet(paths: _*)
      }.reduceLeft(_.unionByName(_))
    }
  }

  private def fileListPath(v: Int) = Paths.get(root, s"v$v", "_FILELIST")

  private def schemaPath(v: Int) = Paths.get(root, s"v$v", "_SCHEMA")

  /** Record the version's READ schema beside its data, once, at stage time:
    * every later read supplies it explicitly, which spares the per-read
    * schema-resolution Spark job a bare `spark.read.parquet` pays — the
    * dominant fixed cost of the read-heavy index lifecycles (tens of reads
    * per query at bench scale; the same manifest-carries-the-schema move
    * Delta/Iceberg make at 100 TB). Captured by reading the STAGED files
    * back (one job, off the serve path), so the stored schema — column
    * order, partition-column placement and types, nullability — is exactly
    * what inference would have produced; a version without the sidecar
    * (pre-existing tables, vacuumed dirs) falls back to inference.
    */
  private def captureSchema(v: Int): Unit = {
    scala.util.Try {
      val sch = spark.read.parquet(s"$root/v$v").schema
      Files.write(schemaPath(v), sch.json.getBytes(StandardCharsets.UTF_8))
    }
    ()
  }

  private def schemaOf(v: Int): Option[org.apache.spark.sql.types.StructType] = {
    val p = schemaPath(v)
    if (!Files.exists(p)) None
    else scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      .asInstanceOf[org.apache.spark.sql.types.StructType]).toOption
  }

  private def reader(v: Int): org.apache.spark.sql.DataFrameReader =
    schemaOf(v).fold(spark.read)(spark.read.schema)

  /** The names directly under `dir`, sorted; none if it is not a directory. */
  private def names(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val stream = Files.list(dir)
      try stream.iterator.asScala.map(_.getFileName.toString).toVector.sorted
      finally stream.close()
    }

  /** Hive partition directories (`col=value`) directly under version `v`. */
  private def partitionDirs(v: Int): Seq[String] =
    names(Paths.get(root, s"v$v")).filter(_.contains("="))

  /** Data files (`part-*.parquet`) directly under version `v` — the
    * entry unit for unpartitioned append chains.
    */
  private def partFiles(v: Int): Seq[String] =
    names(Paths.get(root, s"v$v"))
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))

  /** Per-unit provenance of a version: (sourceVersion, name) pairs, where a
    * name is a hive partition directory (partitioned tables) or a data file
    * (unpartitioned append chains). A whole-directory version owns every
    * unit under it; a patch/append version's `_FILELIST` inherits the rest
    * of its base by reference, so provenance chains resolve without copying
    * data.
    */
  private def entries(v: Int): Seq[(Int, String)] = {
    val fl = fileListPath(v)
    if (!Files.exists(fl)) {
      val dirs = partitionDirs(v)
      if (dirs.nonEmpty) dirs.map(d => (v, d)) else partFiles(v).map(f => (v, f))
    } else {
      Files.readAllLines(fl, StandardCharsets.UTF_8).asScala.toSeq
        .filter(_.nonEmpty)
        .map { line =>
          val Array(ver, dir) = line.split('\t')
          (ver.toInt, dir)
        }
    }
  }

  /** Stage a PATCH version: `touched` must hold the COMPLETE replacement
    * rows for every partition value it contains; all other partitions of the
    * current version are inherited by reference through the new version's
    * `_FILELIST` — no file is written for an untouched partition, so the
    * write cost is O(touched partitions), not O(table). The version is still
    * immutable and atomically promoted like any other: readers resolve the
    * file list only after the manifest flips, and the base version's files
    * are never modified. On an object store the file list is the same
    * manifest-of-objects a Delta/Iceberg commit writes.
    */
  def stagePatch(touched: DataFrame, partitionCols: Seq[String]): Int = {
    require(partitionCols.size == 1,
      "stagePatch supports exactly one partition column")
    val base = currentVersion.getOrElse(throw new IllegalStateException(
      s"stagePatch needs a committed base version at $root"))
    val next = base + 1
    touched.write.mode("overwrite").partitionBy(partitionCols: _*)
      .parquet(s"$root/v$next")
    captureSchema(next)
    val newDirs = partitionDirs(next)
    val inherited = entries(base).filterNot { case (_, d) => newDirs.contains(d) }
    val all = (inherited ++ newDirs.map(d => (next, d))).sortBy(_._2)
    Files.write(fileListPath(next),
      all.map { case (v, d) => s"$v\t$d" }.mkString("\n").getBytes(StandardCharsets.UTF_8))
    next
  }

  /** Collapse a patch/append chain: rewrite the current version's LOGICAL
    * content as a self-contained whole-directory version and promote it —
    * the LSM compaction step that bounds how many historical versions a
    * read must union across. The promote carries the current tag forward,
    * so an exactly-once streaming sink's replay protection survives a
    * compaction running between batches. Pass the table's partition
    * column(s) to keep directory pruning for partitioned chains.
    */
  def compact(partitionCols: Seq[String] = Nil): Int = {
    val v = stage(read(), partitionCols)
    promote(v, currentTag)
    v
  }

  /** How many DISTINCT source versions the current version's read unions
    * across — the depth a patch/append chain has grown to (1 = fully
    * self-contained). This is exactly the per-read cost a chain imposes:
    * one parquet scan + union leg per contributing version.
    */
  def chainDepth: Int =
    currentVersion.map(v => entries(v).map(_._1).distinct.size).getOrElse(0)

  /** The auto-compaction policy (r12 verdict item 8): collapse the chain
    * when its depth exceeds `maxDepth`. Streaming sinks call this after
    * every promote, so a long-running drain keeps read cost bounded at
    * O(maxDepth) legs while paying the O(table) rewrite only every
    * ~maxDepth batches — amortized O(table/maxDepth) per batch, the LSM
    * trade. The compaction promote carries the current tag, so exactly-once
    * batch stamping survives it. Returns whether a compaction fired.
    */
  def compactIfNeeded(maxDepth: Int, partitionCols: Seq[String] = Nil): Boolean = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    if (exists && chainDepth > maxDepth) { compact(partitionCols); true }
    else false
  }

  /** Every staged version present on disk, ascending (the committed one is
    * `currentVersion`; later entries are staged-but-unpromoted).
    */
  def versions: Seq[Int] =
    names(Paths.get(root)).filter(_.matches("v\\d+")).map(_.drop(1).toInt).sorted

  /** Retention vacuum: physically reclaim every version older than the
    * last `keep` committed ones, without breaking the retained versions'
    * reads. Promote never deletes (that is what makes time travel and
    * crash-safety free), so a long-lived table accretes every version ever
    * staged; this is the missing half of that protocol — the reference
    * counting that makes retention SAFE for patch/append chains, where a
    * retained version's `_FILELIST` reaches units living under much older
    * version directories.
    *
    * Mechanics: the retained versions' provenance entries form the
    * reachable (version, unit) set; every unit of an expired version NOT in
    * that set is deleted (a unit = one hive partition directory or one data
    * file — the same granularity the file lists reference). An expired
    * directory left holding reachable units gets a `_VACUUMED` marker so
    * its own read view fails closed ([[readVersion]]) instead of silently
    * serving the survivors as a whole table; a directory with none is
    * removed outright. Versions staged ABOVE the current manifest are an
    * in-flight promote and are never touched.
    *
    * Crash-convergent: the manifest is never written, deletion is
    * idempotent, and the `_VACUUMED` marker is written BEFORE the first
    * delete — so a crash mid-vacuum leaves either an untouched version or
    * a marked (fail-closed) one holding extra still-correct units for the
    * next run — the same argument as the index compactions. On an
    * object store this is the lifecycle-delete pass over unreferenced
    * objects (Delta VACUUM / Iceberg expire_snapshots).
    *
    * Returns (fully removed versions, units deleted).
    */
  def vacuum(keep: Int = 1): (Seq[Int], Long) = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val current = currentVersion.getOrElse(throw new IllegalStateException(
      s"vacuum needs a committed version at $root"))
    val expired = versions.filter(v => v <= current - keep)
    val retained = versions.filter(v => v > current - keep && v <= current)
    val reachable: Set[(Int, String)] = retained.flatMap(entries).toSet
    var removedUnits = 0L
    val removedVersions = scala.collection.mutable.ArrayBuffer.empty[Int]
    def deleteRecursively(p: Path): Unit = {
      names(p).foreach(n => deleteRecursively(p.resolve(n)))
      Files.deleteIfExists(p)
    }
    expired.foreach { v =>
      val dir = Paths.get(root, s"v$v")
      val own = partitionDirs(v) ++ partFiles(v)
      val (kept, dead) = own.partition(u => reachable.contains((v, u)))
      // Fail closed BEFORE touching any unit: once the marker exists, the
      // whole-directory read branch refuses this version, so a crash at any
      // point of the sweep below only leaves extra (still-correct) bytes —
      // never a partial directory silently served as the complete table.
      if (dead.nonEmpty || kept.nonEmpty)
        Files.write(dir.resolve("_VACUUMED"), Array.emptyByteArray)
      dead.foreach { u => deleteRecursively(dir.resolve(u)); removedUnits += 1 }
      Files.deleteIfExists(fileListPath(v))
      if (kept.isEmpty) { deleteRecursively(dir); removedVersions += v }
      else
        // mark, then sweep leftovers the unit walk does not cover
        // (_SUCCESS, checksum sidecars) so only data units remain.
        // _SCHEMA survives the sweep: retained versions' file lists
        // still read this dir's kept units through reader(v), and
        // deleting the sidecar would silently restore the per-read
        // schema-inference job captureSchema exists to remove (r21)
        names(dir)
          .filterNot(n => kept.contains(n) || n == "_VACUUMED" || n == "_SCHEMA")
          .foreach(n => deleteRecursively(dir.resolve(n)))
    }
    (removedVersions.toSeq, removedUnits)
  }

  /** Stage `df` as the next version; returns the staged version number
    * WITHOUT promoting it (used by the validated-CTAS flow, W5).
    */
  def stage(df: DataFrame): Int = stage(df, Nil)

  /** Stage with hive-style partition directories — readers filtering on a
    * partition column then prune whole directories (PartitionFilters), which
    * is what lets an index probe scan only the cells it needs
    * ([[graft.scale.AnnIndex]]).
    */
  def stage(df: DataFrame, partitionCols: Seq[String]): Int = {
    val next = currentVersion.getOrElse(-1) + 1
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(s"$root/v$next")
    captureSchema(next)
    next
  }

  /** Atomically promote a staged version: temp manifest + atomic rename. */
  def promote(version: Int): Unit = promote(version, None)

  /** Promote with a tag recorded in the same atomic manifest write — see
    * [[currentTag]].
    */
  def promote(version: Int, tag: Option[String]): Unit = {
    Files.createDirectories(Paths.get(root))
    val tmp = Paths.get(root, s"_MANIFEST.tmp$version")
    val body = version.toString + tag.map("\n" + _).getOrElse("")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifest, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Stage an APPEND version for an UNPARTITIONED table: only the incoming
    * rows are written; every data file of the current version is inherited
    * by reference through the new version's `_FILELIST`. This is the W3
    * append when the caller guarantees the incoming keys are new (e.g. an
    * exactly-once streaming sink gating on [[currentTag]]) — O(batch) bytes
    * written per batch instead of the keyed merge's O(table) rewrite, same
    * atomic-promote protocol.
    */
  def stageAppend(df: DataFrame): Int = {
    val base = currentVersion.getOrElse(throw new IllegalStateException(
      s"stageAppend needs a committed base version at $root"))
    require(partitionDirs(base).isEmpty && entries(base).forall(!_._2.contains("=")),
      s"stageAppend is for unpartitioned tables; $root/v$base has partition dirs")
    val next = base + 1
    df.write.mode("overwrite").parquet(s"$root/v$next")
    captureSchema(next)
    val all = entries(base) ++ partFiles(next).map(f => (next, f))
    Files.write(fileListPath(next),
      all.map { case (v, d) => s"$v\t$d" }.mkString("\n").getBytes(StandardCharsets.UTF_8))
    next
  }

  /** The append-only logs' growth step: [[stageAppend]] onto the current
    * version, or [[stage]] the first one.
    */
  def stageAppendOrCreate(df: DataFrame): Int =
    if (exists) stageAppend(df) else stage(df)

  /** W1/W2 full refresh: stage + promote. */
  def fullRefresh(df: DataFrame): Unit = promote(stage(df))

  /** W3: merge incoming into the current version with latest-wins dedup. */
  def incrementalDedup(incoming: DataFrame, keys: Seq[String],
                       orderCols: Seq[String]): Unit = {
    val merged =
      if (exists) Writers.incrementalDedup(read(), incoming, keys, orderCols)
      else Writers.latestWins(incoming, keys, orderCols)
    promote(stage(merged))
  }

  /** W4: keyed upsert into the current version. */
  def upsert(incoming: DataFrame, keys: Seq[String]): Unit = {
    val merged = if (exists) Writers.upsert(read(), incoming, keys) else incoming
    promote(stage(merged))
  }
}

/** One micro-batch's exactly-once commit across the [[VersionedTable]]s a
  * streaming sink grows: W5's stage-then-atomic-swap run once per
  * foreachBatch call, with the batch id stamped into each table's manifest
  * ([[VersionedTable.currentTag]]) by the same atomic write that flips it.
  *
  * Protocol: [[BatchCommit.apply]] skips the whole batch when every table
  * already carries its stamp. Otherwise the sink computes its stage inputs
  * and calls [[apply]] with (table, stage) pairs: the stages of the tables
  * not yet stamped run together ([[graft.core.Par.all]]), every stage
  * settles before any promote, and the promotes follow argument order.
  * A sink that must stage one table after another's promote calls
  * [[apply]] once per table.
  *
  * Crash convergence: Spark redelivers a micro-batch whose checkpoint
  * commit did not land, under the same id, so a crash anywhere in a sink
  * ends in a redelivery. Each promote is one atomic manifest rename, so the
  * redelivery finds every table either stamped (its promote landed: its
  * stage is skipped) or exactly at its pre-batch version (its stage runs
  * again). A failed stage promotes nothing, and no orphaned stage is still
  * writing into a version directory a retry stages into. Promotes land in
  * argument order, so the stamped tables are always a prefix of it; each
  * sink picks the order under which recomputing the unstamped rest, against
  * the stamped prefix's post-batch state, yields the uninterrupted rows —
  * and states its reason where it commits. Compactions carry the current
  * tag forward ([[VersionedTable.compact]]), so the stamp survives them.
  */
final class BatchCommit private (val tag: String, tables: Seq[VersionedTable],
                                 pending: Seq[VersionedTable]) {

  /** Stage the listed tables' thunks together, skipping tables already
    * stamped with this batch, then promote in argument order.
    */
  def apply(stages: (VersionedTable, () => Int)*): Unit = {
    require(stages.forall(s => tables.exists(_ eq s._1)),
      "BatchCommit: stage for a table the commit was not opened on")
    val todo = stages.filter(s => pending.exists(_ eq s._1))
    val versions = Par.all(todo.map(_._2))
    todo.zip(versions).foreach { case ((t, _), v) => t.promote(v, Some(tag)) }
  }
}

object BatchCommit {

  /** Open micro-batch `batchId` over `tables` and run `body` with it,
    * unless every table already carries the batch's stamp.
    */
  def apply(batchId: Long, tables: VersionedTable*)(body: BatchCommit => Unit): Unit = {
    val tag = s"batch=$batchId"
    val pending = tables.filterNot(_.currentTag.contains(tag))
    if (pending.nonEmpty) body(new BatchCommit(tag, tables, pending))
  }
}

/** The 100 TB form of the incremental write: a date-partitioned parquet table
  * where each run overwrites ONLY its run-date partition (dynamic partition
  * overwrite). The reference's W3/W4 merge patterns rewrite the whole table —
  * fine at reference scale, ruinous at 100 TB where a day is 1/365th of the
  * data. Combined with runDateSlice ingestion this makes every daily run
  * touch O(day) bytes, and re-runs are idempotent by construction (the
  * partition is replaced wholesale).
  */
final class DatePartitionedTable(spark: SparkSession, root: String,
                                 dateCol: String = "run_date") {

  /** Overwrite the partitions present in `df` (and only those). */
  def overwritePartitions(df: DataFrame): Unit = {
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try df.write.mode("overwrite").partitionBy(dateCol).parquet(root)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None    => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Write one run's slice: stamps the partition column from the run date. */
  def writeRun(df: DataFrame, runDate: java.time.LocalDate): Unit =
    overwritePartitions(df.withColumn(dateCol, lit(java.sql.Date.valueOf(runDate))))

  def read(): DataFrame = spark.read.parquet(root)

  /** Partition-pruned read of one day (the filter prunes directories, not
    * files — check PartitionFilters in the scan).
    */
  def readDay(runDate: java.time.LocalDate): DataFrame =
    read().filter(col(dateCol) === lit(java.sql.Date.valueOf(runDate)))
}

/** W5: validated CTAS + atomic swap, the reference's most deliberate operator
  * (plugins/redshift_summary.py). Input gates run before the expensive build,
  * output gates run on the staged result, and only then is the manifest
  * flipped — short-circuiting exactly like the reference
  * (redshift_summary.py:185-211).
  */
final case class CountCheck(sql: String, threshold: Long, op: String = ">=") {
  def passes(n: Long): Boolean = op match {
    case "eq" => n == threshold
    case _    => n >= threshold
  }
}

/** @param inputs   source relations the spec's SQL refers to by name; the
  *                 builder registers them as temp views for the duration of
  *                 the build only (dropped in a finally), so specs never leak
  *                 session-global view names.
  * @param preSql   statements run after the input gates and before the main
  *                 CTAS (reference: redshift_summary.py:132-137's pre_sql) —
  *                 typically staging DDL/temp views the main query reads.
  */
final case class SummarySpec(
    table: String,
    mainSql: String,
    inputChecks: Seq[CountCheck] = Nil,
    outputChecks: Seq[(DataFrame => Long, Long, String)] = Nil,
    after: Option[DataFrame => Unit] = None,
    inputs: Map[String, DataFrame] = Map.empty,
    preSql: Seq[String] = Nil)

class CheckFailedException(msg: String) extends RuntimeException(msg)

final class SummaryBuilder(spark: SparkSession, warehouseRoot: String) {

  private def runCheck(c: CountCheck): Unit = {
    val n = spark.sql(c.sql).head().getLong(0)
    if (!c.passes(n))
      throw new CheckFailedException(
        s"input check failed: [${c.sql}] returned $n, wanted ${c.op} ${c.threshold}")
  }

  /** Build a summary table: gates → CTAS to a staged version → output gates →
    * atomic promote. Row counts are Spark actions over the staged parquet —
    * never driver-side collects of data.
    */
  def build(spec: SummarySpec): VersionedTable = {
    spec.inputs.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    try {
      spec.inputChecks.foreach(runCheck)
      // pre-SQL runs between the gates and the CTAS (commands execute
      // eagerly on spark.sql; a bare SELECT here would be a lazy no-op)
      spec.preSql.foreach(spark.sql(_))
      val table = new VersionedTable(spark, s"$warehouseRoot/${spec.table}")
      val df = spark.sql(spec.mainSql)
      val staged = table.stage(df)
      val stagedDf = spark.read.parquet(s"$warehouseRoot/${spec.table}/v$staged")
      spec.outputChecks.foreach { case (measure, threshold, op) =>
        val n = measure(stagedDf)
        val ok = if (op == "eq") n == threshold else n >= threshold
        if (!ok) throw new CheckFailedException(
          s"output check failed on ${spec.table}: got $n, wanted $op $threshold")
      }
      table.promote(staged)
      spec.after.foreach(_(stagedDf))
      table
    } finally spec.inputs.keys.foreach(spark.catalog.dropTempView)
  }
}
