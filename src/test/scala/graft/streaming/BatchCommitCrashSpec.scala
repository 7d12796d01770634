package graft.streaming

import graft.SparkSpec
import graft.core.Tables
import graft.write.VersionedTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crash convergence of every multi-table sink on [[graft.write.BatchCommit]],
  * table-driven and without a fault hook. For each sink and each promote
  * boundary k, batch 1 runs to completion; then the manifests of the tables
  * after the first k in promote order are rewound to their pre-batch
  * (version, tag) through the public `promote` — the disk state a crash
  * after the k-th promote leaves, staged-but-unpromoted versions included.
  * Redelivering batch 1 must then serve exactly what the uninterrupted run
  * serves, with every table stamped as that run stamped it.
  */
class BatchCommitCrashSpec extends SparkSpec {
  import spark.implicits._

  /** One sink instance: its committed tables in promote order, a feed that
    * processes fixture batch i under batch id i, and the served result.
    */
  private final case class Sink(tables: Seq[VersionedTable], feed: Int => Unit,
                                served: () => Any)

  private def root(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-crash-$name").toString

  private def set(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def postings(r: String): Sink = {
    val idx = new PostingsIndex(spark, r)
    val batches = Seq(
      Seq((1L, "spark merge spark"), (2L, "merge dup"), (3L, "spark")),
      Seq((10L, "dup dup dup"), (11L, "merge spark merge")))
    Sink(Seq(idx.postings, idx.lengths, idx.stats),
      i => idx.processBatch(batches(i).toDF("doc_id", "text"), i.toLong),
      () => (set(idx.served()), set(idx.servedLengths()), idx.corpusTotals()))
  }

  private def fieldedPostings(r: String): Sink = {
    val idx = new FieldedPostingsIndex(spark, r, fields = Seq("title", "text"))
    val batches = Seq(
      Seq((1L, "merge doc one", "zebra guide"), (2L, "merge pad", "plain guide")),
      Seq((3L, "doc three merge", "zebra"), (4L, "pad pad", "plain guide")))
    Sink(Seq(idx.postings, idx.lengths, idx.stats),
      i => idx.processBatch(batches(i).toDF("doc_id", "text", "title"), i.toLong),
      () => (set(idx.served()), set(idx.servedLengths()),
        idx.corpusTotals(Map("title" -> 3L, "text" -> 1L))))
  }

  private def budget(r: String): Sink = {
    val idx = new BudgetAdmitIndex(spark, r, Seq("en" -> 12L, "de" -> 10L))
    val batches = Seq(
      Seq((1L, "en", 5L, 0L), (2L, "en", 4L, 0L), (3L, "de", 9L, 0L), (4L, "en", 6L, 1L)),
      Seq((5L, "de", 2L, 1L), (6L, "zz", 7L, 1L), (7L, "en", 3L, 2L), (8L, "de", 1L, 2L)))
    Sink(Seq(idx.admitted, idx.state),
      i => idx.processBatch(
        batches(i).toDF("doc_id", "stratum", "n_tokens", "day"), i.toLong),
      () => (set(idx.admitted.read()), set(idx.consumed())))
  }

  private def ttlDedup(r: String): Sink = {
    val idx = new TtlDedupIndex(spark, r, ttlDays = 1)
    val batches = Seq(
      Seq((1L, 10L, 0L), (2L, 20L, 0L)),
      Seq((3L, 10L, 1L), (4L, 30L, 1L), (5L, 20L, 2L)))
    Sink(Seq(idx.admitted, idx.state),
      i => idx.processBatch(batches(i).toDF("doc_id", "key", "day"), i.toLong),
      () => (set(idx.admitted.read()), set(idx.windowState())))
  }

  private def embedGuard(r: String): Sink = {
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
      .withColumn("embedding",
        when(col("vec_id") % 5 === 0, lit(null)).otherwise(col("embedding"))
          .cast("array<float>"))
    val idx = new EmbedGuardIndex(spark, r)
    idx.seed(emb.filter(col("vec_id") % 10 === 3)
      .withColumn("vec_id", col("vec_id") + 100000))
    Sink(Seq(idx.dropped, idx.admitted),
      i => idx.processBatch(
        emb.filter(col("vec_id") >= i * 30 && col("vec_id") < i * 30 + 30), i.toLong),
      () => (set(idx.served()), set(idx.droppedNull())))
  }

  private def spanGuard(growSpans: Boolean)(r: String): Sink = {
    val idx = new SpanGuardIndex(spark, r, n = 4, growSpans = growSpans)
    if (!growSpans) idx.seed(Seq((100L, "a b c d")).toDF("doc_id", "text"))
    val batches = Seq(
      Seq((1L, "a b c d x"), (2L, "e f g h")),
      Seq((3L, "x e f g h"), (4L, "q r s t"), (5L, "z a b c d")))
    Sink(if (growSpans) Seq(idx.admitted, idx.spans) else Seq(idx.admitted),
      i => idx.processBatch(batches(i).toDF("doc_id", "text"), i.toLong),
      () => (set(idx.admitted.read()), set(idx.spans.read())))
  }

  private def nearDup(r: String): Sink = {
    val tA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val tB = "mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray"
    val tC = "zulu amber birch cedar dogwood elm fir ginkgo hazel ironwood juniper katsura"
    val idx = new NearDupIndex(spark, r)
    val batches = Seq(
      Seq((1L, tA), (2L, tB)),
      Seq((301L, tA), (302L, tB.split(' ').drop(1).mkString(" ")), (303L, tC)))
    Sink(Seq(idx.survivors, idx.signatures),
      i => idx.processBatch(batches(i).toDF("doc_id", "text"), i.toLong),
      () => (set(idx.servedSurvivors()), set(idx.servedSignatures())))
  }

  private def triangles(r: String): Sink = {
    val s = new TriangleStream(new VersionedTable(spark, s"$r/edges"),
      new VersionedTable(spark, s"$r/stats"))
    val k5 = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val batches = Seq(k5.take(6), k5.drop(4))
    Sink(Seq(s.stats, s.edges),
      i => s.processBatch(batches(i).toDF("u", "v"), i.toLong),
      () => (set(s.stats.read()), set(s.edges.read())))
  }

  private val sinks: Seq[(String, String => Sink)] = Seq(
    "PostingsIndex" -> postings,
    "FieldedPostingsIndex" -> fieldedPostings,
    "BudgetAdmitIndex" -> budget,
    "TtlDedupIndex" -> ttlDedup,
    "EmbedGuardIndex" -> embedGuard,
    "SpanGuardIndex (growing)" -> spanGuard(growSpans = true),
    "SpanGuardIndex (frozen)" -> spanGuard(growSpans = false),
    "NearDupIndex" -> nearDup,
    "TriangleStream" -> triangles)

  sinks.foreach { case (name, make) =>
    test(s"$name: redelivery after a crash at any promote boundary serves the uninterrupted result") {
      val clean = make(root("clean"))
      clean.feed(0)
      clean.feed(1)
      val want = clean.served()
      val wantTags = clean.tables.map(_.currentTag)
      clean.feed(1) // a redelivery with every promote landed is a no-op
      assert(clean.served() === want)
      for (k <- clean.tables.indices) {
        val s = make(root(s"k$k"))
        s.feed(0)
        val before = s.tables.map(t => (t.currentVersion.get, t.currentTag))
        s.feed(1)
        s.tables.zip(before).drop(k).foreach { case (t, (v, tag)) => t.promote(v, tag) }
        s.feed(1)
        assert(s.served() === want, s"crash after promote $k of ${s.tables.size}")
        assert(s.tables.map(_.currentTag) === wantTags)
      }
    }
  }

  test("main code drains streams and stamps batches only through the two helpers") {
    val main = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(main),
      s"run from the repository root (cwd ${new java.io.File(".").getAbsolutePath})")
    // each construct and the one file allowed to spell it out
    val homes = Seq(
      "writeStream" -> "graft/streaming/Streaming.scala",
      "Trigger.AvailableNow" -> "graft/streaming/Streaming.scala",
      "\"batch=" -> "graft/write/Writers.scala")
    val walk = java.nio.file.Files.walk(main)
    val offenders = try {
      import scala.jdk.CollectionConverters._
      walk.iterator.asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
        val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        homes.collect { case (c, home) if text.contains(c) && !p.endsWith(home) => s"$p: $c" }
      }.toList
    } finally walk.close()
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** One IVF flavour's lifecycle over the fixture embeddings, probed at
    * full coverage (every cell, k = corpus size) so cell routing cannot
    * mask a liveness difference.
    */
  private final case class Ivf(build: (DataFrame, String) => Unit,
                               append: (DataFrame, String) => Unit,
                               delete: (DataFrame, String) => Unit,
                               compact: String => Unit,
                               probe: (String, DataFrame, Int) => DataFrame)

  private val ivfs: Seq[(String, Ivf)] = Seq(
    "AnnIndex" -> Ivf(
      (c, r) => graft.scale.AnnIndex.buildIvfIndex(c, r),
      (b, r) => graft.scale.AnnIndex.appendToIvfIndex(b, r),
      (d, r) => graft.scale.AnnIndex.deleteFromIvfIndex(d, r),
      r => graft.scale.AnnIndex.compactIvfIndex(spark, r),
      (r, q, k) => graft.scale.AnnIndex.probeIvf(spark, r, q, k, nProbe = Int.MaxValue)),
    "Pq" -> Ivf(
      (c, r) => graft.scale.Pq.buildIvfPqIndex(c, r),
      (b, r) => graft.scale.Pq.appendToIvfPqIndex(b, r),
      (d, r) => graft.scale.Pq.deleteFromIvfPqIndex(d, r),
      r => graft.scale.Pq.compactIvfPqIndex(spark, r),
      (r, q, k) => graft.scale.Pq.probeIvfPq(spark, r, q, k, nProbe = graft.scale.Pq.Cells)))

  private lazy val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
  private lazy val deleted = emb.filter(col("vec_id") % 7 === 1)
  // re-ingests some deleted ids (un-delete) beside new twin ids
  private lazy val batch = deleted.filter(col("vec_id") < 40).unionByName(
    emb.filter(col("vec_id") < 5).withColumn("vec_id", col("vec_id") + 100000))

  /** Build on the fixture, tombstone `deleted`, and return the two tables. */
  private def ivfWithPendingDeletes(ivf: Ivf, r: String): (VersionedTable, VersionedTable) = {
    ivf.build(emb, r)
    ivf.delete(deleted.select("vec_id"), r)
    (new VersionedTable(spark, s"$r/postings"), new VersionedTable(spark, s"$r/tombstones"))
  }

  private def fullProbe(ivf: Ivf, r: String): Set[Seq[Any]] =
    set(ivf.probe(r, emb.filter(col("vec_id") < 3), emb.count().toInt + 10))

  ivfs.foreach { case (name, ivf) =>
    test(s"$name: an append over a pending tombstone redone after a crash between its promotes serves the uninterrupted result") {
      val clean = root(s"$name-append-clean")
      ivfWithPendingDeletes(ivf, clean)
      ivf.append(batch, clean)
      val want = fullProbe(ivf, clean)
      val r = root(s"$name-append-crash")
      val (postings, tombstones) = ivfWithPendingDeletes(ivf, r)
      val (pv, tv) = ((postings.currentVersion.get, postings.currentTag), tombstones.currentVersion)
      ivf.append(batch, r)
      assert(tombstones.currentVersion !== tv, "the append cleared no tombstone")
      // the crash: the tombstone clear landed, the postings promote did not
      postings.promote(pv._1, pv._2)
      ivf.append(batch, r)
      assert(fullProbe(ivf, r) === want)
    }

    test(s"$name: a compaction redone after a crash between the purge and the truncate serves the uninterrupted result") {
      val clean = root(s"$name-compact-clean")
      ivfWithPendingDeletes(ivf, clean)
      val served = fullProbe(ivf, clean)
      ivf.compact(clean)
      val want = fullProbe(ivf, clean)
      assert(want === served)
      val r = root(s"$name-compact-crash")
      val (_, tombstones) = ivfWithPendingDeletes(ivf, r)
      val tv = (tombstones.currentVersion.get, tombstones.currentTag)
      ivf.compact(r)
      // the crash: the postings purge landed, the truncate did not
      tombstones.promote(tv._1, tv._2)
      assert(fullProbe(ivf, r) === want)
      ivf.compact(r)
      assert(fullProbe(ivf, r) === want)
      assert(tombstones.read().count() === 0)
    }
  }

  test("main code builds a tombstone table only through TombstoneSet") {
    val main = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(main),
      s"run from the repository root (cwd ${new java.io.File(".").getAbsolutePath})")
    val byHand = Seq("tombstonesTable".r, "\"tombstones\"".r,
      "VersionedTable\\([^)]*tombstones".r)
    val walk = java.nio.file.Files.walk(main)
    val offenders = try {
      import scala.jdk.CollectionConverters._
      walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") && !p.endsWith("graft/write/TombstoneSet.scala"))
        .flatMap { p =>
          val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          byHand.flatMap(_.findFirstIn(text)).map(m => s"$p: $m")
        }.toList
    } finally walk.close()
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
