package graft.streaming

import graft.SparkSpec
import graft.scale.Graph
import graft.write.VersionedTable
import org.apache.spark.sql.DataFrame

/** Cross-batch laws for the streaming triangle sink. Batch boundaries are
  * driven directly through [[TriangleStream.processBatch]] (the foreachBatch
  * body), the [[StreamingNearDupSpec]] convention.
  */
class TriangleStreamSpec extends SparkSpec {
  import spark.implicits._

  private def mk(tag: String, maxChainDepth: Int = 4): TriangleStream = {
    val root = java.nio.file.Files.createTempDirectory(s"graft-tri-$tag").toString
    new TriangleStream(
      new VersionedTable(spark, s"$root/edges"),
      new VersionedTable(spark, s"$root/stats"),
      maxChainDepth)
  }

  private def edgesDF(es: Seq[(Long, Long)]): DataFrame = es.toDF("u", "v")

  private def fullCount(es: Seq[(Long, Long)]): Long =
    Graph.triangleCount(edgesDF(es)).as[Long].head()

  // K5 on nodes 1..5 (every pair an edge): C(5,3) = 10 triangles, split so
  // every batch-multiplicity case (1, 2, 3 new edges per triangle) occurs
  private val k5: Seq[(Long, Long)] =
    (for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)).toSeq

  test("multi-batch drain lands the exact full-recount total") {
    val s = mk("exact")
    k5.grouped(3).zipWithIndex.foreach { case (b, i) =>
      s.processBatch(edgesDF(b), i.toLong)
    }
    assert(s.stats.read().as[Long].head() === fullCount(k5))
    assert(s.stats.read().as[Long].head() === 10L)
  }

  test("redelivered batch is a no-op; repeated edges across batches don't double-count") {
    val s = mk("replay")
    val b0 = k5.take(6); val b1 = k5.drop(6)
    s.processBatch(edgesDF(b0), 0L)
    val (ev, sv) = (s.edges.currentVersion, s.stats.currentVersion)
    s.processBatch(edgesDF(b0), 0L) // foreachBatch redelivery
    assert(s.edges.currentVersion === ev && s.stats.currentVersion === sv)
    // an at-least-once feed repeats old edges inside a NEW batch id: the
    // anti-join must drop them from both the count and the table
    s.processBatch(edgesDF(b0.take(3) ++ b1), 1L)
    assert(s.stats.read().as[Long].head() === fullCount(k5))
    assert(s.edges.read().count() === k5.size.toLong)
  }

  test("sink writes O(batch): an append version's delta is exactly the new edges") {
    val s = mk("obatch")
    val b0 = k5.take(6); val b1 = k5.drop(6)
    s.processBatch(edgesDF(b0), 0L)
    val v0 = s.edges.currentVersion.get
    s.processBatch(edgesDF(b1), 1L)
    val v1 = s.edges.currentVersion.get
    val before = s.edges.readVersion(v0).as[(Long, Long)].collect().toSet
    val after = s.edges.readVersion(v1).as[(Long, Long)].collect().toSet
    assert(before === b0.toSet)
    assert(after -- before === b1.toSet)
  }

  test("auto-compaction policy: 12-batch drain keeps chain depth bounded, count exact") {
    // a 13-node clique = C(13,3) = 286 triangles over 78 edges, drained in
    // 12 batches so the append chain would reach depth 12 uncompacted
    val kN: Seq[(Long, Long)] =
      (for (a <- 1L to 13L; b <- (a + 1) to 13L) yield (a, b)).toSeq
    val s = mk("policy", maxChainDepth = 3)
    kN.grouped((kN.size + 11) / 12).zipWithIndex.foreach { case (b, i) =>
      s.processBatch(edgesDF(b), i.toLong)
      assert(s.edges.chainDepth <= 3,
        s"batch $i left chain depth ${s.edges.chainDepth}")
    }
    assert(s.stats.read().as[Long].head() === fullCount(kN))
    assert(s.stats.read().as[Long].head() === 286L)
    // the latest stamp survived compaction: a replay is still a no-op
    val (ev, sv) = (s.edges.currentVersion, s.stats.currentVersion)
    s.processBatch(edgesDF(kN.takeRight(3)), 11L)
    assert(s.edges.currentVersion === ev && s.stats.currentVersion === sv)
  }

  test("a drain loses no task metrics: no update reaches a collected accumulator") {
    // the DAGScheduler logs "Failed to update accumulator" when a task
    // reports into an SQL metric the driver no longer holds. The session,
    // and with it Spark's log4j setup, must exist before the appender
    // attaches; the GC after each batch collects unreachable metrics.
    val s = mk("metrics", maxChainDepth = 3)
    val lost = new java.util.concurrent.atomic.AtomicInteger
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "lost-accumulators", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("Failed to update accumulator"))
          lost.incrementAndGet()
    }
    appender.start()
    val logger = org.apache.logging.log4j.LogManager
      .getLogger("org.apache.spark.scheduler.DAGScheduler")
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    logger.addAppender(appender)
    try k5.grouped(2).zipWithIndex.foreach { case (b, i) =>
      s.processBatch(edgesDF(b), i.toLong)
      System.gc()
    }
    finally logger.removeAppender(appender)
    assert(s.stats.read().as[Long].head() === 10L)
    assert(lost.get === 0, s"${lost.get} task metric updates were lost")
  }
}
