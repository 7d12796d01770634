package graft.streaming

import graft.SparkSpec
import graft.scale.Retrieval
import org.apache.spark.sql.functions._

/** Cross-batch laws for the streaming postings index. Batch boundaries are
  * driven directly through [[PostingsIndex.processBatch]] (the foreachBatch
  * body), the [[StreamingNearDupSpec]] convention.
  */
class PostingsStreamSpec extends SparkSpec {
  import spark.implicits._

  private def root(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-lex-$tag").toString + "/lex"

  private val b1 = Seq(
    (1L, "spark merge spark"), (2L, "merge dup"), (3L, "spark"))
  private val b2 = Seq(
    (10L, "dup dup dup"), (11L, "merge spark merge"))

  private def postings(rows: Seq[(Long, String)]) =
    Retrieval.invertedIndex(rows.toDF("doc_id", "text"))
      .select("term", "doc_id", "tf").as[(String, Long, Long)].collect().toSet

  test("multi-batch drain equals the batch build over the union") {
    val idx = new PostingsIndex(spark, root("grow"))
    idx.processBatch(b1.toDF("doc_id", "text"), 0L)
    idx.processBatch(b2.toDF("doc_id", "text"), 1L)
    val drained = idx.postings.read()
      .select("term", "doc_id", "tf").as[(String, Long, Long)].collect().toSet
    assert(drained === postings(b1 ++ b2))
  }

  test("auto-compaction policy: a long drain keeps chain depth bounded, content exact") {
    val idx = new PostingsIndex(spark, root("policy"), maxChainDepth = 3)
    val all = (0 until 12).map { b =>
      Seq((100L * b, s"spark batch$b"), (100L * b + 1, "merge spark"))
    }
    all.zipWithIndex.foreach { case (rows, b) =>
      idx.processBatch(rows.toDF("doc_id", "text"), b.toLong)
      // the sink-level policy law: a reader never pays more than
      // maxChainDepth union legs no matter how long the drain runs
      assert(idx.postings.chainDepth <= 3,
        s"batch $b left chain depth ${idx.postings.chainDepth}")
    }
    val drained = idx.postings.read()
      .select("term", "doc_id", "tf").as[(String, Long, Long)].collect().toSet
    assert(drained === postings(all.flatten))
    // the latest stamp survived every compaction: a replay is still a no-op
    idx.processBatch(all.last.toDF("doc_id", "text"), 11L)
    assert(idx.postings.read().count() === drained.size)
  }

  test("a redelivered batch is a no-op (batch-stamped promote)") {
    val idx = new PostingsIndex(spark, root("replay"))
    idx.processBatch(b1.toDF("doc_id", "text"), 0L)
    idx.processBatch(b2.toDF("doc_id", "text"), 1L)
    val before = idx.postings.currentVersion
    idx.processBatch(b2.toDF("doc_id", "text"), 1L) // redelivery
    assert(idx.postings.currentVersion === before)
    val drained = idx.postings.read()
      .select("term", "doc_id", "tf").as[(String, Long, Long)].collect().toSet
    assert(drained === postings(b1 ++ b2))
  }

  test("appends write O(batch): version bytes are the batch postings, not the corpus") {
    val idx = new PostingsIndex(spark, root("obatch"))
    idx.processBatch(b1.toDF("doc_id", "text"), 0L)
    val v0 = idx.postings.currentVersion.get
    idx.processBatch(b2.toDF("doc_id", "text"), 1L)
    val v1 = idx.postings.currentVersion.get
    assert(v1 > v0)
    // the append version resolves to the old files PLUS the batch's rows:
    // reading version v1 minus version v0 is exactly batch 2's postings
    val before = idx.postings.readVersion(v0)
      .select("term", "doc_id", "tf").as[(String, Long, Long)].collect().toSet
    val after = idx.postings.readVersion(v1)
      .select("term", "doc_id", "tf").as[(String, Long, Long)].collect().toSet
    assert(after -- before === postings(b2))
    assert(before === postings(b1))
  }

  test("champion lists over the drained index equal the batch q120 form; compaction preserves them") {
    val idx = new PostingsIndex(spark, root("serve"))
    idx.processBatch(b1.toDF("doc_id", "text"), 0L)
    idx.processBatch(b2.toDF("doc_id", "text"), 1L)
    def champions = Retrieval.topPostings(idx.postings.read(), k = 2)
      .select("term", "rnk", "doc_id", "tf")
      .as[(String, Long, Long, Long)].collect().toSet
    val batchForm = Retrieval.topPostings(
        Retrieval.invertedIndex((b1 ++ b2).toDF("doc_id", "text")), k = 2)
      .select("term", "rnk", "doc_id", "tf")
      .as[(String, Long, Long, Long)].collect().toSet
    val served = champions
    assert(served === batchForm)
    idx.postings.compact()
    assert(champions === batchForm)
  }

  test("delete is O(batch): tombstones append, postings untouched; idempotent; unknown id no-op") {
    val idx = new PostingsIndex(spark, root("tomb"))
    idx.processBatch(b1.toDF("doc_id", "text"), 0L)
    idx.processBatch(b2.toDF("doc_id", "text"), 1L)
    val pv = idx.postings.currentVersion
    idx.delete(Seq(2L).toDF("doc_id"))
    idx.delete(Seq(10L).toDF("doc_id"))
    // the footprint law: deletes never rewrite (or even version) the postings
    assert(idx.postings.currentVersion === pv)
    val tv = idx.tombstones.currentVersion
    idx.delete(Seq(2L).toDF("doc_id")) // re-delete: set stays a set, no version
    assert(idx.tombstones.currentVersion === tv)
    assert(idx.tombstones.read().as[Long].collect().toSet === Set(2L, 10L))
    idx.delete(Seq(999L).toDF("doc_id")) // unknown id: legal no-op for serving
    assert(idx.served().filter(col("doc_id") === 999L).count() === 0)
  }

  test("delete-then-serve == rebuild-without-deleted, before and after compaction") {
    val idx = new PostingsIndex(spark, root("tombeq"))
    idx.processBatch(b1.toDF("doc_id", "text"), 0L)
    idx.processBatch(b2.toDF("doc_id", "text"), 1L)
    idx.delete(Seq(2L, 11L).toDF("doc_id"))
    val want = postings((b1 ++ b2).filterNot(r => r._1 == 2L || r._1 == 11L))
    def served = idx.served()
      .select("term", "doc_id", "tf").as[(String, Long, Long)].collect().toSet
    assert(served === want && want.nonEmpty)
    idx.compact()
    assert(served === want)
    // compaction PHYSICALLY dropped the rows and truncated the tombstones
    assert(idx.postings.read().filter(col("doc_id").isin(2L, 11L)).count() === 0)
    assert(idx.tombstones.read().count() === 0)
    assert(idx.postings.chainDepth === 1)
  }

  test("a tombstoned id is rejected at ingest; re-admitted cleanly after the purge") {
    val idx = new PostingsIndex(spark, root("reject"))
    idx.processBatch(b1.toDF("doc_id", "text"), 0L)
    idx.delete(Seq(2L).toDF("doc_id"))
    // while the tombstone lives, re-ingesting id 2 would duplicate its
    // not-yet-purged rows — it is rejected, the fresh doc admitted
    idx.processBatch(Seq((2L, "merge dup"), (20L, "dup spark")).toDF("doc_id", "text"), 1L)
    assert(idx.served().filter(col("doc_id") === 2L).count() === 0)
    assert(idx.served().filter(col("doc_id") === 20L).count() === 2)
    idx.compact() // physical purge clears the way
    idx.processBatch(Seq((2L, "merge dup")).toDF("doc_id", "text"), 2L)
    val want = postings(Seq((1L, "spark merge spark"), (3L, "spark"),
      (20L, "dup spark"), (2L, "merge dup")))
    assert(idx.served()
      .select("term", "doc_id", "tf").as[(String, Long, Long)].collect().toSet
      === want)
  }

  test("bm25Serve == bm25FromIndex's candidate rows across appends, deletes, compaction") {
    val idx = new PostingsIndex(spark, root("sidecar"))
    idx.processBatch(b1.toDF("doc_id", "text"), 0L)
    idx.processBatch(b2.toDF("doc_id", "text"), 1L)
    val terms = Seq("spark", "dup")
    def got = idx.bm25Serve(terms)
      .select(col("doc_id"), col("len"), col("score"))
      .as[(Long, Long, Long)].collect().toSet
    def want = Retrieval.bm25FromIndex(idx.served(), terms)
      .filter(col("tf_spark") + col("tf_dup") > 0) // the candidate set
      .select(col("doc_id"), col("len"), col("score"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got === want && want.nonEmpty)
    // deletes shift N/avg immediately (no compaction yet)
    idx.delete(Seq(2L, 10L).toDF("doc_id"))
    assert(got === want && want.nonEmpty)
    idx.compact()
    assert(got === want)
    // and a post-compaction append keeps tracking
    idx.processBatch(Seq((30L, "dup spark dup")).toDF("doc_id", "text"), 2L)
    assert(got === want)
  }

  test("corpusTotals is the served sidecar's truth at every lifecycle step") {
    val idx = new PostingsIndex(spark, root("totals"))
    def truth: (Long, Long) = {
      val r = idx.servedLengths()
        .agg(count(lit(1)).cast("long"), coalesce(sum("len"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    idx.processBatch(b1.toDF("doc_id", "text"), 0L)
    assert(idx.corpusTotals() === truth && truth === ((3L, 6L)))
    idx.processBatch(b2.toDF("doc_id", "text"), 1L)
    assert(idx.corpusTotals() === truth && truth === ((5L, 12L)))
    idx.delete(Seq(1L).toDF("doc_id")) // 3 tokens leave the stats pre-purge
    assert(idx.corpusTotals() === truth && truth === ((4L, 9L)))
    idx.compact()
    assert(idx.corpusTotals() === truth && truth === ((4L, 9L)))
    // the stats chain collapsed to one physical row at compaction
    assert(idx.stats.read().count() === 1L)
  }

  test("a crash between the three batch promotes converges on redelivery") {
    val idx = new PostingsIndex(spark, root("torn"))
    idx.processBatch(b1.toDF("doc_id", "text"), 0L)
    idx.processBatch(b2.toDF("doc_id", "text"), 1L)
    val wantTotals = idx.corpusTotals()
    val wantPostings = idx.served()
      .select("term", "doc_id", "tf").as[(String, Long, Long)].collect().toSet
    // crash sim: postings+lengths landed batch 1, stats rolled back to batch 0
    idx.stats.promote(0, Some("batch=0"))
    assert(idx.corpusTotals() !== wantTotals) // torn window visible
    idx.processBatch(b2.toDF("doc_id", "text"), 1L) // redelivery completes it
    assert(idx.corpusTotals() === wantTotals)
    assert(idx.served().select("term", "doc_id", "tf")
      .as[(String, Long, Long)].collect().toSet === wantPostings)
  }

  test("a failed stage promotes nothing; redelivery with a working build equals the uninterrupted index") {
    val r = root("failstage")
    val boom = udf { (t: String) =>
      if (t.contains("MARKER")) throw new IllegalStateException("marker doc")
      t
    }
    val failing = new PostingsIndex(spark, r,
      build = df => Retrieval.invertedIndex(df.withColumn("text", boom(col("text")))))
    failing.processBatch(b1.toDF("doc_id", "text"), 0L)
    val tables = Seq(failing.postings, failing.lengths, failing.stats)
    def committed = tables.map(t => (t.currentVersion, t.currentTag))
    val before = committed
    val marked = (b2 :+ ((12L, "MARKER spark"))).toDF("doc_id", "text")
    intercept[Exception](failing.processBatch(marked, 1L))
    // the lengths and stats stages succeeded, yet none of the three promoted
    assert(committed === before)
    val idx = new PostingsIndex(spark, r)
    idx.processBatch(marked, 1L)
    val want = new PostingsIndex(spark, root("failstage-want"))
    want.processBatch(b1.toDF("doc_id", "text"), 0L)
    want.processBatch(marked, 1L)
    def content(ix: PostingsIndex) = (
      ix.served().select("term", "doc_id", "tf").as[(String, Long, Long)].collect().toSet,
      ix.servedLengths().select("doc_id", "len").as[(Long, Long)].collect().toSet,
      ix.corpusTotals())
    assert(content(idx) === content(want))
    assert(Seq(idx.postings, idx.lengths, idx.stats).forall(_.currentTag.contains("batch=1")))
  }

  test("bm25Serve plan: one term-pruned postings scan, no full-index aggregate") {
    val idx = new PostingsIndex(spark, root("plan"))
    idx.processBatch(b1.toDF("doc_id", "text"), 0L)
    idx.processBatch(b2.toDF("doc_id", "text"), 1L)
    idx.compact() // chain depth 1 so scan counting is deterministic
    val plan = idx.bm25Serve(Seq("spark", "dup")).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the term IN filter reaches the postings scan
    assert(plan.contains("PushedFilters: [In(term"), plan)
    // exactly one scan touches the postings table (the candidate tf pivot);
    // the old O(index) form aggregated a SECOND, unfiltered postings scan
    // for doc lengths — that scan must not exist
    assert("/postings/".r.findAllIn(plan).size === 1, plan)
    assert("/lengths/".r.findAllIn(plan).size === 1, plan)
  }

  test("the positional builder shares the whole protocol: phrase serving honors deletes") {
    val idx = new PostingsIndex(spark, root("pos"),
      build = df => Retrieval.positionalIndex(df))
    idx.processBatch(Seq((1L, "big table part small"), (2L, "table part table part"),
      (3L, "part table")).toDF("doc_id", "text"), 0L)
    def hits = Retrieval.phraseMatches(idx.served(), Seq("table", "part"))
      .as[(Long, Long)].collect().toMap
    assert(hits === Map(1L -> 1L, 2L -> 2L))
    idx.delete(Seq(2L).toDF("doc_id"))
    assert(hits === Map(1L -> 1L))
    idx.compact()
    assert(hits === Map(1L -> 1L))
    assert(idx.postings.read().filter(col("doc_id") === 2L).count() === 0)
  }
}
