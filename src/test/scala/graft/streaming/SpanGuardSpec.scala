package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Streaming exact-substring guard laws: earlier-batch spans reject,
  * within-batch sharers are concurrent, REJECTED docs still poison the
  * index (non-recursive state), short docs guard on their whole text,
  * redelivery is a no-op.
  */
class SpanGuardSpec extends SparkSpec {
  import spark.implicits._

  private def root(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-guard-$tag").toString + "/g"

  private def admittedSet(idx: SpanGuardIndex): Set[Long] =
    idx.admitted.read().as[Long].collect().toSet

  test("admission depends on earlier batches only; rejected docs still poison") {
    val idx = new SpanGuardIndex(spark, root("laws"), n = 4)
    // batch 0: docs 1 and 2 share "a b c d" WITHIN the batch — concurrent,
    // both admit
    idx.processBatch(Seq((1L, "a b c d x"), (2L, "a b c d y"))
      .toDF("doc_id", "text"), 0L)
    assert(admittedSet(idx) === Set(1L, 2L))
    // batch 1: doc 3 repeats the seen span -> rejected; doc 4 is clean
    idx.processBatch(Seq((3L, "z a b c d"), (4L, "q r s t"))
      .toDF("doc_id", "text"), 1L)
    assert(admittedSet(idx) === Set(1L, 2L, 4L))
    // batch 2: doc 5 repeats "z a b c" — a span introduced ONLY by the
    // REJECTED doc 3 — and must still reject (all seen spans poison)
    idx.processBatch(Seq((5L, "z a b c w")).toDF("doc_id", "text"), 2L)
    assert(admittedSet(idx) === Set(1L, 2L, 4L))
    // redelivery of the last batch is a no-op
    idx.processBatch(Seq((5L, "z a b c w")).toDF("doc_id", "text"), 2L)
    assert(admittedSet(idx) === Set(1L, 2L, 4L))
  }

  test("frozen (screen-only) mode: only the seeded set rejects; batch order is irrelevant") {
    def run(batches: Seq[Seq[(Long, String)]]): Set[Long] = {
      val idx = new SpanGuardIndex(spark, root("frozen"), n = 4,
        growSpans = false)
      idx.seed(Seq((0L, "e1 e2 e3 e4 e5")).toDF("doc_id", "text"))
      val sv = idx.spans.currentVersion
      batches.zipWithIndex.foreach { case (b, i) =>
        idx.processBatch(b.toDF("doc_id", "text"), i.toLong)
      }
      // the poisoned set never grows: screening is against the seed alone
      assert(idx.spans.currentVersion === sv)
      admittedSet(idx)
    }
    val docs = Seq(
      (1L, "x e2 e3 e4 e5"),  // quotes the eval -> rejected
      (2L, "a b c d shared"), // clean, admitted
      (3L, "a b c d shared"), // SAME spans as doc 2 — still admitted
      (4L, "e1 e2 e3 zz"))    // 3-token overlap only, below n=4: admitted
    // any batch arrangement, any order: identical admissions
    assert(run(Seq(docs)) === Set(2L, 3L, 4L))
    assert(run(docs.reverse.map(Seq(_))) === Set(2L, 3L, 4L))
    // redelivery is a no-op in frozen mode too (admitted log is stamped)
    val idx = new SpanGuardIndex(spark, root("frozenrd"), n = 4,
      growSpans = false)
    idx.seed(Seq((0L, "e1 e2 e3 e4 e5")).toDF("doc_id", "text"))
    idx.processBatch(docs.toDF("doc_id", "text"), 0L)
    val v = idx.admitted.currentVersion
    idx.processBatch(docs.toDF("doc_id", "text"), 0L)
    assert(idx.admitted.currentVersion === v)
  }

  test("short docs guard on their whole text as one span") {
    val idx = new SpanGuardIndex(spark, root("short"), n = 4)
    idx.processBatch(Seq((1L, "p q")).toDF("doc_id", "text"), 0L)
    idx.processBatch(Seq((2L, "p q"), (3L, "p r"))
      .toDF("doc_id", "text"), 1L)
    assert(admittedSet(idx) === Set(1L, 3L))
  }

  test("a batch that throws leaves the caller's job description in place") {
    val sc = spark.sparkContext
    val key = "spark.job.description"
    val boom = udf { (t: String) =>
      if (t.contains("boom")) throw new IllegalStateException("span failure")
      t
    }
    // the failure fires inside the eager batch-spans checkpoint
    val idx = new SpanGuardIndex(spark, root("throws"), n = 4,
      spanFn = Some(df => df.select(col("doc_id"), md5(boom(col("text"))).as("h"))))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .getOrElse("<none>"))
    }
    sc.setJobDescription("caller")
    try {
      intercept[Exception] {
        idx.processBatch(Seq((1L, "boom a b c d")).toDF("doc_id", "text"), 0L)
      }
      assert(sc.getLocalProperty(key) === "caller")
    } finally sc.setJobDescription(null)
    intercept[Exception] {
      idx.processBatch(Seq((2L, "boom e f g h")).toDF("doc_id", "text"), 1L)
    }
    sc.addSparkListener(listener)
    try {
      spark.range(1).count()
      org.apache.spark.GraftListenerBridge.flushListeners(sc)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val descs = seen.asScala.toSeq
    assert(descs.nonEmpty && !descs.exists(_.startsWith("spanguard")), descs)
  }
}
