package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Streaming budget-admission laws: any batch split of the feed lands the
  * same admitted prefix as one global window (the prefix-closure argument
  * on the sink's scaladoc), the crossing doc overflows by design, replay
  * is exactly once, and unlisted strata drop. The full-drain value
  * certification is q231's oracle.
  */
class BudgetStreamSpec extends SparkSpec {
  import spark.implicits._

  private def newIndex(budgets: (String, Long)*): BudgetAdmitIndex = {
    val root = java.nio.file.Files.createTempDirectory("graft-bud").toString
    new BudgetAdmitIndex(spark, s"$root/bud", budgets.toSeq)
  }

  // (id, stratum, n_tokens, seq)
  private def rows(data: (Long, String, Long, Long)*) =
    data.toDF("doc_id", "stratum", "n_tokens", "day")

  private def admitted(ix: BudgetAdmitIndex): Set[(Long, String, Long, Long)] =
    ix.admitted.read().select("id", "stratum", "n_tokens", "seq")
      .as[(Long, String, Long, Long)].collect().toSet

  private val feed = Seq(
    (1L, "en", 5L, 0L), (2L, "en", 4L, 0L), (3L, "de", 9L, 0L),
    (4L, "en", 6L, 1L), (5L, "de", 2L, 1L), (6L, "zz", 7L, 1L),
    (7L, "en", 3L, 2L), (8L, "de", 1L, 2L))

  // greedy reference: admit while admitted-before < budget
  private def reference(budgets: Map[String, Long]): Set[(Long, String, Long, Long)] =
    feed.groupBy(_._2).toSeq.flatMap { case (s, docs) =>
      budgets.get(s).toSeq.flatMap { b =>
        var consumed = 0L
        docs.sortBy(d => (d._4, d._1)).flatMap { d =>
          if (consumed < b) { consumed += d._3; Some(d) } else None
        }
      }
    }.toSet

  test("any batch split == the global greedy prefix (incl. one-doc batches)") {
    val budgets = Map("en" -> 12L, "de" -> 10L)
    for (splits <- Seq(Seq(feed), feed.grouped(3).toSeq, feed.map(Seq(_)))) {
      val ix = newIndex(budgets.toSeq: _*)
      splits.zipWithIndex.foreach { case (chunk, i) =>
        ix.processBatch(rows(chunk: _*), i.toLong)
      }
      assert(admitted(ix) === reference(budgets),
        s"split sizes ${splits.map(_.size)} diverged")
    }
  }

  test("crossing doc admits and overflows; subsequent docs drop; whitelist drops zz") {
    val ix = newIndex("en" -> 12L, "de" -> 10L)
    ix.processBatch(rows(feed: _*), 0)
    val adm = admitted(ix)
    // en: 5 + 4 = 9 < 12 -> doc 4 (6 tokens) crosses to 15; doc 7 drops
    assert(adm.map(_._1) === Set(1L, 2L, 3L, 4L, 5L))
    val consumed = ix.consumed().as[(String, Long)].collect().toMap
    assert(consumed === Map("en" -> 15L, "de" -> 11L))
    assert(!adm.exists(_._2 == "zz"))
  }

  test("out-of-order batch fails closed (seq below the folded watermark)") {
    val ix = newIndex("en" -> 12L, "de" -> 10L)
    ix.processBatch(rows(feed.drop(4): _*), 0) // folds days 1,1,2,2
    val late = intercept[IllegalArgumentException] {
      ix.processBatch(rows(feed.take(3): _*), 1) // day-0 docs arrive late
    }
    assert(late.getMessage.contains("seq-ordered"))
    // equal-seq continuation is allowed (one-doc batch splits rely on it)
    ix.processBatch(rows((9L, "en", 1L, 2L)), 2)
  }

  test("replay of a processed batch is a no-op; crash between promotes converges") {
    val ix = newIndex("en" -> 12L, "de" -> 10L)
    ix.processBatch(rows(feed.take(4): _*), 0)
    ix.processBatch(rows(feed.drop(4): _*), 1)
    val (a1, s1) = (admitted(ix), ix.consumed().as[(String, Long)].collect().toMap)
    ix.processBatch(rows(feed.drop(4): _*), 1) // clean replay
    assert(admitted(ix) === a1)
    // crash sim: admitted stamped for batch 1, state rolled back to batch 0
    ix.state.promote(0, Some("batch=0"))
    ix.processBatch(rows(feed.drop(4): _*), 1)
    assert(admitted(ix) === a1 &&
      ix.consumed().as[(String, Long)].collect().toMap === s1)
  }

  test("a batch repeating an (id, seq) row: admitted tokens == folded consumed") {
    val ix = newIndex("en" -> 10L, "de" -> 6L)
    // id 1 and id 5 arrive twice at the same seq with different token
    // counts: the window's order among the tied rows is unspecified, so
    // the admitted stage and the state fold must read ONE materialization
    val batch = rows((1L, "en", 6L, 0L), (1L, "en", 3L, 0L), (2L, "en", 4L, 0L),
      (5L, "de", 5L, 0L), (5L, "de", 2L, 0L), (3L, "en", 2L, 1L), (4L, "de", 1L, 1L))
      .repartition(3)
    ix.processBatch(batch, 0)
    ix.processBatch(rows((6L, "en", 1L, 2L), (7L, "de", 1L, 2L)), 1)
    val adm = ix.admitted.read().groupBy("stratum").agg(sum("n_tokens"))
      .as[(String, Long)].collect().toMap
    assert(ix.consumed().as[(String, Long)].collect().toMap === adm)
  }
}
