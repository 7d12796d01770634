package graft.write

import graft.SparkSpec
import java.nio.file.Files

/** W5 atomicity: readers see the old version until promote; a failed output
  * gate aborts before the swap (the reference's redshift_summary.py:185-211
  * short-circuit).
  */
class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-vt").toString

  test("fullRefresh then read round-trips") {
    val t = new VersionedTable(spark, tmp())
    t.fullRefresh(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    assert(t.read().as[(Int, String)].collect().toSet === Set((1, "a"), (2, "b")))
  }

  test("stage without promote leaves the old version live (crash-safety)") {
    val t = new VersionedTable(spark, tmp())
    t.fullRefresh(Seq((1, "old")).toDF("id", "v"))
    t.stage(Seq((1, "new")).toDF("id", "v")) // crash before promote
    assert(t.read().as[(Int, String)].collect().toSet === Set((1, "old")))
  }

  test("promote flips the reader to the staged version") {
    val t = new VersionedTable(spark, tmp())
    t.fullRefresh(Seq((1, "old")).toDF("id", "v"))
    val v = t.stage(Seq((1, "new")).toDF("id", "v"))
    t.promote(v)
    assert(t.read().as[(Int, String)].collect().toSet === Set((1, "new")))
  }

  test("time travel: every committed version stays readable after later promotes") {
    val t = new VersionedTable(spark, tmp())
    t.fullRefresh(Seq((1, "v0")).toDF("id", "v"))
    t.fullRefresh(Seq((1, "v1")).toDF("id", "v"))
    t.fullRefresh(Seq((1, "v2")).toDF("id", "v"))
    assert(t.versions === Seq(0, 1, 2))
    assert(t.currentVersion === Some(2))
    assert(t.readVersion(0).as[(Int, String)].head() === ((1, "v0")))
    assert(t.readVersion(1).as[(Int, String)].head() === ((1, "v1")))
    assert(t.read().as[(Int, String)].head() === ((1, "v2")))
    intercept[IllegalArgumentException](t.readVersion(7))
  }

  test("incrementalDedup through the table keeps newest per key") {
    val t = new VersionedTable(spark, tmp())
    t.incrementalDedup(Seq((1, 1, "a"), (2, 1, "b")).toDF("k", "ver", "v"),
      Seq("k"), Seq("ver"))
    t.incrementalDedup(Seq((1, 2, "a2"), (3, 1, "c")).toDF("k", "ver", "v"),
      Seq("k"), Seq("ver"))
    assert(t.read().as[(Int, Int, String)].collect().toSet ===
      Set((1, 2, "a2"), (2, 1, "b"), (3, 1, "c")))
  }

  test("SummaryBuilder aborts pre-swap when the output gate fails") {
    val wh = tmp()
    Seq((1, "a"), (2, "b")).toDF("id", "v").createOrReplaceTempView("gate_input")
    val spec = SummarySpec(
      table = "gated",
      mainSql = "SELECT id, v FROM gate_input",
      inputChecks = Seq(CountCheck("SELECT count(1) FROM gate_input", 1)),
      outputChecks = Seq((_.count(), 100L, ">="))) // impossible gate
    val builder = new SummaryBuilder(spark, wh)
    intercept[CheckFailedException] { builder.build(spec) }
    // nothing promoted: the table must not be readable
    intercept[IllegalStateException] { new VersionedTable(spark, s"$wh/gated").read() }
  }

  test("SummaryBuilder input gate short-circuits before the build") {
    val wh = tmp()
    Seq((1, "a")).toDF("id", "v").createOrReplaceTempView("short_input")
    val spec = SummarySpec(
      table = "gated2",
      mainSql = "SELECT missing_column FROM nonexistent_table", // would explode if built
      inputChecks = Seq(CountCheck("SELECT count(1) FROM short_input", 1000)))
    intercept[CheckFailedException] { new SummaryBuilder(spark, wh).build(spec) }
  }

  test("SummaryBuilder runs preSql before the CTAS; inputs views are build-scoped") {
    val wh = tmp()
    val spec = SummarySpec(
      table = "pre_hooked",
      // the staging view only exists if preSql ran first
      mainSql = "SELECT id, v FROM pre_staged",
      preSql = Seq(
        "CREATE OR REPLACE TEMPORARY VIEW pre_staged AS SELECT id, v FROM pre_raw WHERE id > 1"),
      inputs = Map("pre_raw" -> Seq((1, "drop"), (2, "keep"), (3, "keep")).toDF("id", "v")),
      inputChecks = Seq(CountCheck("SELECT count(1) FROM pre_raw", 3, "eq")))
    val out = new SummaryBuilder(spark, wh).build(spec).read()
    assert(out.as[(Int, String)].collect().toSet === Set((2, "keep"), (3, "keep")))
    // the builder-registered input view must not outlive the build
    assert(!spark.catalog.tableExists("pre_raw"))
    spark.catalog.dropTempView("pre_staged") // preSql views are the spec's own business
  }

  test("compact collapses an append chain into one self-contained version") {
    val root = s"${tmp()}/t"
    val t = new VersionedTable(spark, root)
    t.promote(t.stage(Seq((1L, "a"), (2L, "b")).toDF("id", "v")))
    t.promote(t.stageAppend(Seq((3L, "c")).toDF("id", "v")), Some("batch=0"))
    t.promote(t.stageAppend(Seq((4L, "d")).toDF("id", "v")), Some("batch=1"))
    val before = t.read().collect().map(_.toSeq).toSet
    val cv = t.compact()
    // logical content unchanged; the compacted version is whole-directory
    // (no file list to resolve) and the batch stamp survives, so a stream
    // replay arriving after a compaction still skips
    assert(t.read().collect().map(_.toSeq).toSet === before)
    assert(t.currentVersion.contains(cv))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, s"v$cv", "_FILELIST")))
    assert(t.currentTag.contains("batch=1"))
    // the pre-compaction chain stays readable (time travel is not rewritten)
    assert(t.readVersion(cv - 1).count() === 4)
  }

  test("compactIfNeeded policy: chain depth stays bounded across a long drain") {
    val root = s"${tmp()}/t"
    val t = new VersionedTable(spark, root)
    assert(t.chainDepth === 0)
    t.promote(t.stage(Seq((0L, "seed")).toDF("id", "v")))
    assert(t.chainDepth === 1)
    var fired = 0
    for (b <- 1 to 20) {
      t.promote(t.stageAppend(Seq((b.toLong, s"r$b")).toDF("id", "v")), Some(s"batch=$b"))
      if (t.compactIfNeeded(maxDepth = 4)) fired += 1
      // the policy invariant: a reader never unions more than maxDepth + 1
      // legs (depth can reach maxDepth + 1 for the one promote that
      // triggers the collapse, never beyond)
      assert(t.chainDepth <= 4, s"batch $b left chain depth ${t.chainDepth}")
    }
    // the rewrite amortizes: ~every maxDepth batches, not every batch
    assert(fired >= 3 && fired <= 7, s"compaction fired $fired times in 20 batches")
    // nothing lost, latest stamp intact
    assert(t.read().count() === 21)
    assert(t.currentTag.contains("batch=20"))
  }

  test("compactIfNeeded preserves partition pruning for partitioned chains") {
    val root = s"${tmp()}/t"
    val t = new VersionedTable(spark, root)
    t.promote(t.stage(Seq((1L, 0), (2L, 1)).toDF("id", "cell"), Seq("cell")))
    for (b <- 1 to 6)
      t.promote(t.stagePatch(
        Seq((10L + b, b % 3)).toDF("id", "cell"), Seq("cell")), Some(s"b$b"))
    assert(t.chainDepth > 1)
    assert(t.compactIfNeeded(maxDepth = 2, Seq("cell")))
    assert(t.chainDepth === 1)
    // hive layout survives: the compacted version has cell= directories
    val dirs = java.nio.file.Files.list(
      java.nio.file.Paths.get(root, s"v${t.currentVersion.get}"))
    try {
      import scala.jdk.CollectionConverters._
      assert(dirs.iterator().asScala.exists(_.getFileName.toString.startsWith("cell=")))
    } finally dirs.close()
  }

  test("BatchCommit: a stamped batch skips its body; stages settle before promotes in argument order") {
    val a = new VersionedTable(spark, s"${tmp()}/a")
    val b = new VersionedTable(spark, s"${tmp()}/b")
    def rows(x: Long) = Seq(x).toDF("id")
    BatchCommit(0L, a, b) { c =>
      c(a -> (() => a.stageAppendOrCreate(rows(1))), b -> (() => b.stageAppendOrCreate(rows(1))))
    }
    assert(a.currentTag === b.currentTag && a.currentTag.nonEmpty)
    var ran = false
    BatchCommit(0L, a, b)(_ => ran = true)
    assert(!ran, "a batch every table carries the stamp of must not run")
    // a failing stage promotes nothing, even the table whose stage passed
    val before = (a.currentVersion, b.currentVersion)
    intercept[IllegalStateException] {
      BatchCommit(1L, a, b) { c =>
        c(a -> (() => a.stageAppendOrCreate(rows(2))),
          b -> (() => throw new IllegalStateException("stage failed")))
      }
    }
    assert((a.currentVersion, b.currentVersion) === before)
    // a redelivery stages only the tables the batch has not stamped
    BatchCommit(1L, a) { c => c(a -> (() => a.stageAppend(rows(2)))) }
    val staged = scala.collection.mutable.ArrayBuffer.empty[String]
    BatchCommit(1L, a, b) { c =>
      c(a -> (() => { staged += "a"; a.stageAppend(rows(2)) }),
        b -> (() => { staged += "b"; b.stageAppend(rows(2)) }))
    }
    assert(staged === Seq("b"))
    assert(a.read().count() === 2 && b.read().count() === 2)
    assert(a.currentTag === b.currentTag)
    // a stage for a table the commit was not opened on is a caller bug
    intercept[IllegalArgumentException] {
      BatchCommit(2L, a) { c => c(b -> (() => b.stageAppend(rows(3)))) }
    }
  }

  test("SummaryBuilder eq gate requires exact count") {
    val wh = tmp()
    Seq((1, "a"), (2, "b")).toDF("id", "v").createOrReplaceTempView("eq_input")
    val ok = SummarySpec("eq_ok", "SELECT * FROM eq_input",
      outputChecks = Seq((_.count(), 2L, "eq")))
    new SummaryBuilder(spark, wh).build(ok)
    assert(new VersionedTable(spark, s"$wh/eq_ok").read().count() === 2)
    val bad = SummarySpec("eq_bad", "SELECT * FROM eq_input",
      outputChecks = Seq((_.count(), 3L, "eq")))
    intercept[CheckFailedException] { new SummaryBuilder(spark, wh).build(bad) }
  }
}
