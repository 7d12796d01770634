package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Cross-batch laws for the streaming near-dup index. Batch boundaries are
  * driven directly through [[NearDupIndex.processBatch]] (the foreachBatch
  * body), so each law controls exactly what the stream would deliver when.
  */
class StreamingNearDupSpec extends SparkSpec {
  import spark.implicits._

  private def root(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-ndi-$tag").toString + "/ndi"

  // distinct-vocabulary sentences: zero shingle overlap across them
  private val tA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
  private val tB = "mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray"
  private val tC = "zulu amber birch cedar dogwood elm fir ginkgo hazel ironwood juniper katsura"
  private val tD = "larch maple nutmeg oak pine quince rowan spruce teak ulmus vine willow"
  private def dropFirstWord(s: String) = s.split(' ').drop(1).mkString(" ")

  test("within one batch: exact clones and near-dups collapse to the min id (batch q26 semantics)") {
    val idx = new NearDupIndex(spark, root("batch1"))
    // 1 and 101 exact clones; 201 a near-dup of 1 (first word dropped,
    // jaccard 9/10); 2 unrelated
    val b1 = Seq((1L, tA), (101L, tA), (201L, dropFirstWord(tA)), (2L, tB))
      .toDF("doc_id", "text")
    idx.processBatch(b1, 0L)
    assert(idx.survivors.read().select("doc_id").as[Long].collect().sorted
      === Array(1L, 2L))
  }

  test("cross-batch: a later batch drops against earlier survivors, fresh docs pass") {
    val idx = new NearDupIndex(spark, root("cross"))
    idx.processBatch(Seq((1L, tA), (2L, tB)).toDF("doc_id", "text"), 0L)
    // 301 exact re-crawl of 1; 302 trivially-edited re-crawl of 2; 303 fresh
    idx.processBatch(Seq((301L, tA), (302L, dropFirstWord(tB)), (303L, tC))
      .toDF("doc_id", "text"), 1L)
    assert(idx.survivors.read().select("doc_id").as[Long].collect().sorted
      === Array(1L, 2L, 303L))
    // the signature index grew with the accepted doc only
    assert(idx.signatures.read().select("doc_id").as[Long].collect().sorted
      === Array(1L, 2L, 303L))
  }

  test("batch-split invariance on dup-free batches; order decides the survivor id") {
    // the same four docs in one batch vs split across two batches accept the
    // same CONTENT; the kept id for a dup pair is the min id in one batch
    // and the earlier-arriving id across batches
    val one = new NearDupIndex(spark, root("one"))
    one.processBatch(Seq((1L, tA), (2L, tB), (3L, tC), (10L, tA)).toDF("doc_id", "text"), 0L)
    val two = new NearDupIndex(spark, root("two"))
    two.processBatch(Seq((10L, tA), (2L, tB)).toDF("doc_id", "text"), 0L)
    two.processBatch(Seq((1L, tA), (3L, tC)).toDF("doc_id", "text"), 1L)
    assert(one.survivors.read().select("doc_id").as[Long].collect().sorted
      === Array(1L, 2L, 3L))
    // 10 arrived first, so it — not the globally-minimal 1 — holds the slot
    assert(two.survivors.read().select("doc_id").as[Long].collect().sorted
      === Array(2L, 3L, 10L))
  }

  test("seed accepts a curated corpus verbatim; later batches still dedup against it") {
    val idx = new NearDupIndex(spark, root("seed"))
    // the curated corpus legitimately contains a borderline pair (1 ~ 4):
    // seeding must NOT re-litigate it
    idx.seed(Seq((1L, tA), (4L, dropFirstWord(tA)), (2L, tB)).toDF("doc_id", "text"))
    assert(idx.survivors.read().count() === 3)
    // but a crawl doc near-dupping either seeded entry is dropped
    idx.processBatch(Seq((301L, tA), (303L, tC)).toDF("doc_id", "text"), 0L)
    assert(idx.survivors.read().select("doc_id").as[Long].collect().sorted
      === Array(1L, 2L, 4L, 303L))
  }

  test("replaying a micro-batch is idempotent: survivors and signatures unchanged") {
    val idx = new NearDupIndex(spark, root("replay"))
    idx.processBatch(Seq((1L, tA), (2L, tB)).toDF("doc_id", "text"), 0L)
    val b2 = Seq((301L, tA), (303L, tC), (304L, tD)).toDF("doc_id", "text")
    idx.processBatch(b2, 1L)
    val before = idx.survivors.read().collect().map(_.toSeq).toSet
    // a failure after the index writes but before the checkpoint commit
    // redelivers the same batch id — the manifest stamp makes the replay a
    // pure no-op: nothing is appended twice, nothing self-annihilates
    idx.processBatch(b2, 1L)
    val after = idx.survivors.read().collect().map(_.toSeq).toSet
    assert(after === before)
    assert(before.map(_.head) === Set(1L, 2L, 303L, 304L))
    assert(idx.signatures.read().count() === 4)
    val v = idx.survivors.currentVersion.get
    assert(idx.survivors.currentTag.contains("batch=1"))
    // and the replayed promote did not even stage a new version
    assert(idx.survivors.versions.max === v)
  }

  test("appends are O(batch): a later batch's version inherits prior files by reference") {
    val r = root("append")
    val idx = new NearDupIndex(spark, r)
    idx.seed(Seq((1L, tA), (2L, tB)).toDF("doc_id", "text"))
    idx.processBatch(Seq((303L, tC)).toDF("doc_id", "text"), 0L)
    idx.processBatch(Seq((304L, tD)).toDF("doc_id", "text"), 1L)
    // the logical table accumulated everything across the chain
    assert(idx.survivors.read().select("doc_id").as[Long].collect().sorted
      === Array(1L, 2L, 303L, 304L))
    assert(idx.survivors.readVersion(2).count() === 4)
    // each append version's own directory holds ONLY its batch's rows —
    // earlier rows are inherited through the file list, never rewritten
    def ownRows(v: Int): Long = {
      val d = java.nio.file.Paths.get(s"$r/survivors/v$v")
      val s = java.nio.file.Files.list(d)
      val files = try {
        val it = s.iterator(); val out = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) { val n = it.next().getFileName.toString
          if (n.startsWith("part-") && n.endsWith(".parquet")) out += s"$d/$n" }
        out.toSeq
      } finally s.close()
      if (files.isEmpty) 0L else spark.read.parquet(files: _*).count()
    }
    assert(ownRows(1) === 1L) // batch 0: one new doc
    assert(ownRows(2) === 1L) // batch 1: one new doc, seed+batch0 inherited
  }

  test("delete is O(batch) and reaches BOTH serving surfaces (corpus and suppression)") {
    val idx = new NearDupIndex(spark, root("tomb"))
    idx.seed(Seq((1L, tA), (2L, tB), (3L, tC)).toDF("doc_id", "text"))
    val (sv, gv) = (idx.survivors.currentVersion, idx.signatures.currentVersion)
    idx.delete(Seq(1L).toDF("doc_id"))
    // footprint law: neither corpus table is rewritten or even versioned
    assert(idx.survivors.currentVersion === sv &&
      idx.signatures.currentVersion === gv)
    // surface 1: the erased doc leaves the served corpus immediately
    assert(idx.servedSurvivors().select("doc_id").as[Long].collect().sorted
      === Array(2L, 3L))
    // surface 2: the erased doc stops suppressing — a clone of tA is now
    // ADMITTED, while a clone of the still-live tB still drops
    idx.processBatch(Seq((50L, tA), (60L, tB)).toDF("doc_id", "text"), 0L)
    assert(idx.servedSurvivors().select("doc_id").as[Long].collect().sorted
      === Array(2L, 3L, 50L))
    // re-delete idempotent; unknown id a legal no-op
    val tv = idx.tombstones.currentVersion
    idx.delete(Seq(1L).toDF("doc_id"))
    assert(idx.tombstones.currentVersion === tv)
    idx.delete(Seq(999L).toDF("doc_id"))
    assert(idx.servedSurvivors().count() === 3)
  }

  test("compactPurge: physical purge + truncate; tombstoned id rejected until purged, then re-admittable") {
    val idx = new NearDupIndex(spark, root("purge"))
    idx.seed(Seq((1L, tA), (2L, tB), (3L, tC)).toDF("doc_id", "text"))
    idx.delete(Seq(3L).toDF("doc_id"))
    // while the tombstone lives, re-ingesting id 3 is rejected (append
    // growth cannot upsert); an unrelated doc in the same batch is admitted
    idx.processBatch(Seq((3L, tC), (70L, tD)).toDF("doc_id", "text"), 0L)
    assert(idx.servedSurvivors().select("doc_id").as[Long].collect().sorted
      === Array(1L, 2L, 70L))
    idx.compactPurge()
    // physically gone from both tables; tombstone set truncated
    assert(idx.survivors.read().filter(col("doc_id") === 3L).count() === 0)
    assert(idx.signatures.read().filter(col("doc_id") === 3L).count() === 0)
    assert(idx.tombstones.read().count() === 0)
    // the purge cleared the way: a re-crawl of id 3 re-admits with a
    // fresh history — exactly one row, no resurrection duplicates
    idx.processBatch(Seq((3L, tC)).toDF("doc_id", "text"), 1L)
    assert(idx.servedSurvivors().filter(col("doc_id") === 3L).count() === 1)
    assert(idx.servedSurvivors().select("doc_id").as[Long].collect().sorted
      === Array(1L, 2L, 3L, 70L))
  }

  test("a drain loses no task metrics: no update reaches a collected accumulator") {
    // the TriangleStreamSpec probe, with a GC after every batch and a
    // steady GC pressure during it, over a drain that crosses every
    // per-batch path: first batch (no index yet), cross-batch dedup
    // against the index, a pending tombstone, and the chain compaction
    val idx = new NearDupIndex(spark, root("metrics"), maxChainDepth = 2)
    val words = (tA + " " + tB + " " + tC + " " + tD).split(' ')
    val batches = (0 until 5).map { i =>
      Seq((10L * i + 1, words.slice(i, i + 12).mkString(" ")),
        (10L * i + 2, words.slice(i + 24, i + 36).mkString(" ")),
        (10L * i + 3, dropFirstWord(words.slice(i, i + 12).mkString(" "))))
    }
    val (perBatch, lost) = graft.JobProbes.lostAccumulatorUpdates(gcEveryMs = 50) {
      batches.zipWithIndex.map { case (b, i) =>
        if (i == 2) idx.delete(Seq(1L).toDF("doc_id"))
        val (_, jobs) = graft.JobProbes.jobs(spark) {
          idx.processBatch(b.toDF("doc_id", "text"), i.toLong)
        }
        System.gc()
        jobs
      }
    }
    info(s"jobs per batch: ${perBatch.mkString(", ")}")
    assert(idx.servedSurvivors().count() > 0)
    assert(lost === 0, s"$lost task metric updates were lost")
  }
}
