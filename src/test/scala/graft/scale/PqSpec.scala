package graft.scale

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PqSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(n: Int) = {
    val dim = Pq.M * Pq.SubDim
    (0 until n).map { i =>
      (i.toLong, (0 until dim).map(j =>
        (((i * 31 + j * 7) % 17) - 8) / 8.0f).toArray.toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("subvectors: M rows per vector, SubDim elements each, sid decodes back") {
    val subs = Pq.subvectors(corpus(6)).cache()
    assert(subs.count() === 6L * Pq.M)
    assert(subs.filter(size(col("embedding")) =!= Pq.SubDim).count() === 0)
    assert(subs.filter(col("sid") =!= col("vec_id") * Pq.M + col("m")).count() === 0)
    subs.unpersist()
  }

  test("encode emits one code per (vector, subspace), all within the codebook") {
    val subs = Pq.subvectors(corpus(20))
    val cents = Pq.trainCodebook(subs)
    assert(cents.length === Pq.K && cents.forall(_.length === Pq.SubDim))
    val codes = Pq.encode(subs, cents).cache()
    assert(codes.count() === 20L * Pq.M)
    assert(codes.filter(col("cid") < 0 || col("cid") >= Pq.K).count() === 0)
    // duplicate subvectors encode identically: vector i and i+copy share codes
    codes.unpersist()
  }

  test("ADC score is exactly the sum of per-subspace centroid distances") {
    val subs = Pq.subvectors(corpus(20)).cache()
    val cents = Pq.trainCodebook(subs)
    val codes = Pq.encode(subs, cents)
    val qsubs = subs.filter(col("vec_id") < 2)
    val topk = Pq.adcTopK(spark, codes, qsubs, cents, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

    // reference: driver-side replay over the same grid integers
    val g = Kmeans.quantizeGrid(subs)
      .select(col("vec_id"), col("m"), col("gcode"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Long](2).toArray).toMap
    def nearest(v: Array[Long]): Int =
      cents.zipWithIndex.minBy { case (c, i) =>
        (c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum, i) }._2
    for (q <- 0L until 2L; v <- 0L until 20L) {
      val expected = (0 until Pq.M).map { m =>
        val cid = nearest(g((v, m.toLong)))
        cents(cid).zip(g((q, m.toLong))).map { case (a, b) => (a - b) * (a - b) }.sum
      }.sum
      assert(topk((q, v)) === expected, s"q=$q v=$v")
    }
    subs.unpersist()
  }

  test("IVF+PQ with nProbe = all cells equals index-free ADC exactly") {
    // the index is a PRUNING structure: probing every cell must reproduce
    // the pure ADC scores bit-for-bit (same codebook, same arithmetic)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val root = graft.core.Scratch.dir("graft-pqspec") + "/ivfpq"
    Pq.buildIvfPqIndex(emb, root)
    val queries = emb.filter(col("vec_id") < 3)
    val full = Pq.probeIvfPq(spark, root, queries, k = 5, nProbe = Pq.Cells)
      .select("qid", "nid", "score")
    val subs = Pq.subvectors(emb)
    val cents = Pq.trainCodebook(subs)
    val adc = Pq.adcTopK(spark, Pq.encode(subs, cents),
        subs.filter(col("vec_id") < 3), cents, k = 5)
      .select(col("qid"), col("vec_id").as("nid"), col("score"))
    assert(full.except(adc).count() === 0 && adc.except(full).count() === 0)
  }

  test("IVF+PQ probe reads only codes: ReadSchema excludes any vector column") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val root = graft.core.Scratch.dir("graft-pqspec2") + "/ivfpq"
    Pq.buildIvfPqIndex(emb, root)
    val plan = Pq.probeIvfPq(spark, root, emb.filter(col("vec_id") < 3), k = 5)
      .queryExecution.executedPlan.toString
    // the query side reads its own embeddings; the INDEX scan must not —
    // the postings scan line must carry only (nid, codes) + the cid
    // partition column, and no vector column can exist there at all
    val postingScans = plan.linesIterator.filter(_.contains("/postings")).toSeq
    assert(postingScans.nonEmpty, "expected a postings FileScan in the probe plan")
    assert(postingScans.forall(!_.contains("embedding")),
      s"postings scan must never touch raw vectors:\n${postingScans.mkString("\n")}")
  }

  test("residual IVF+PQ: full probe sees every vector, probes are deterministic") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val root = graft.core.Scratch.dir("graft-pqspec3") + "/ivfpq-res"
    Pq.buildIvfPqResidualIndex(emb, root)
    val queries = emb.filter(col("vec_id") < 2)
    // k = corpus size + full routing → every corpus vector must be scored
    // for every query (the index prunes, it never loses candidates)
    val all = Pq.probeIvfPqResidual(spark, root, queries, k = n.toInt, nProbe = Pq.Cells)
      .cache()
    assert(all.groupBy("qid").count().collect().forall(_.getLong(1) === n))
    // a second probe of the same index returns the identical relation
    val again = Pq.probeIvfPqResidual(spark, root, queries, k = n.toInt, nProbe = Pq.Cells)
    assert(all.except(again).count() === 0 && again.except(all).count() === 0)
    all.unpersist()
  }

  test("IVF+PQ append: O(batch) cell footprint; equals encode-under-fixed-models of the union") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val base = emb.filter(col("vec_id") < 150)
    val batch = emb.filter(col("vec_id") >= 150 && col("vec_id") < 155)
    val root = graft.core.Scratch.dir("graft-pqspec4") + "/ivfpq"
    Pq.buildIvfPqIndex(base, root)
    Pq.appendToIvfPqIndex(batch, root)
    // O(batch): the patch version stages at most the batch's cells on disk
    def cellDirs(v: Int): Set[String] = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/postings/v$v"))
      try {
        val it = s.iterator(); val out = scala.collection.mutable.Set.empty[String]
        while (it.hasNext) { val n = it.next().getFileName.toString
          if (n.startsWith("cid=")) out += n }
        out.toSet
      } finally s.close()
    }
    assert(cellDirs(1).size <= 5, s"append staged ${cellDirs(1).size} cells for a 5-vector batch")
    // fixed-models law: the appended table equals assigning + encoding the
    // UNION corpus under the base-trained coarse/codebook models
    val t = new graft.write.VersionedTable(spark, s"$root/postings")
    val coarse = Kmeans.lloyd(Kmeans.quantizeGrid(base), Pq.Cells, Pq.CoarseIters)
    val book = Pq.trainCodebook(Pq.subvectors(base))
    val expected = Kmeans.assignNearest(
        Kmeans.quantizeGrid(base.unionByName(batch)), coarse)
      .select(col("vec_id").cast("long").as("nid"),
        Pq.pqCodesExpr(book, col("gcode")).as("codes"), col("cid"))
    val got = t.read().select("nid", "codes", "cid")
    assert(got.except(expected).count() === 0 && expected.except(got).count() === 0)
  }

  test("append assertNewIds: rejects a nid re-routed to a different cell, passes clean batches") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val base = emb.filter(col("vec_id") < 150)
    val root = graft.core.Scratch.dir("graft-pqspec5") + "/ivfpq"
    Pq.buildIvfPqIndex(base, root)
    // clean batch: genuinely new ids — the assertion must not fire
    val fresh = emb.filter(col("vec_id") >= 150 && col("vec_id") < 155)
    Pq.appendToIvfPqIndex(fresh, root, assertNewIds = true)
    // mutated re-ingest: take an indexed vector and swap its embedding for
    // another cell's member so assignment routes it elsewhere — the stale-row
    // hazard the precondition exists for. Build the collision deterministically
    // from the persisted assignments rather than hoping two ids differ.
    val t = new graft.write.VersionedTable(spark, s"$root/postings")
    val byCell = t.read().select("nid", "cid").collect().groupBy(_.getInt(1))
    val (cellA, cellB) = {
      val cells = byCell.keys.toSeq.sorted
      assume(cells.size >= 2, "fixture corpus landed in one cell")
      (cells.head, cells.last)
    }
    val victim = byCell(cellA).map(_.getLong(0)).min
    val donor = byCell(cellB).map(_.getLong(0)).min
    val mutated = emb.filter(col("vec_id") === donor)
      .select(lit(victim).as("vec_id"), col("embedding"))
    val ex = intercept[IllegalArgumentException] {
      Pq.appendToIvfPqIndex(mutated, root, assertNewIds = true)
    }
    assert(ex.getMessage.contains("different cell"))
    // default (unasserted) append still honors the documented contract for
    // same-cell replays: re-ingesting an unchanged vector upserts in place
    Pq.appendToIvfPqIndex(emb.filter(col("vec_id") === victim), root)
    assert(t.read().filter(col("nid") === victim).count() === 1)
  }

  test("tombstone deletes: O(batch) footprint, probe parity, compaction purges, append un-deletes") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val root = graft.core.Scratch.dir("graft-pqspec5") + "/ivfpq"
    Pq.buildIvfPqIndex(emb, root)
    val pt = new graft.write.VersionedTable(spark, s"$root/postings")
    val pv = pt.currentVersion
    val dead = emb.select("vec_id").filter(col("vec_id") % 13 === 2)
    Pq.deleteFromIvfPqIndex(dead, root)
    // footprint: deletes never version the postings
    assert(pt.currentVersion === pv)
    val nDead = Pq.pqTombstones(spark, root).count()
    assert(nDead === dead.count())
    // full probe == full ADC over the corpus minus the deleted ids
    val queries = emb.filter(col("vec_id") < 2)
    def full() = Pq.probeIvfPq(spark, root, queries, k = n.toInt, nProbe = Pq.Cells)
      .collect().map(_.toSeq).toSet
    val served = full()
    assert(served.nonEmpty)
    assert(!served.exists(r => r(1).asInstanceOf[Long] % 13 == 2),
      "a tombstoned id was served")
    Pq.compactIvfPqIndex(spark, root)
    assert(full() === served)
    assert(Pq.pqTombstones(spark, root).count() === 0)
    assert(pt.read().filter(col("nid") % 13 === 2).count() === 0)
    // append un-deletes: re-ingest one deleted vector, it serves again
    val victim = emb.filter(col("vec_id") === 2)
    Pq.deleteFromIvfPqIndex(victim.select("vec_id"), root)
    Pq.appendToIvfPqIndex(victim, root)
    assert(Pq.pqTombstones(spark, root).count() === 0)
    assert(full().exists(r => r(1).asInstanceOf[Long] == 2L))
  }

  test("filtered PQ probe == tombstone-delete of the reject set; predicate pushed") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .withColumn("lang", expr(
        "CASE CAST(vec_id % 4 AS INT) WHEN 0 THEN 'en' ELSE 'xx' END"))
    val queries = emb.filter(col("vec_id") < 3)
    val rootF = graft.core.Scratch.dir("graft-pqfilt") + "/ivfpq"
    Pq.buildIvfPqIndex(emb, rootF, metaCols = Seq("lang"))
    val filtered = Pq.probeIvfPq(spark, rootF, queries, k = 5,
        nProbe = Pq.Cells, pred = Some(col("lang") === "en"))
      .collect().map(_.toSeq).toSet
    val rootD = graft.core.Scratch.dir("graft-pqfiltdel") + "/ivfpq"
    Pq.buildIvfPqIndex(emb, rootD, metaCols = Seq("lang"))
    Pq.deleteFromIvfPqIndex(emb.filter(col("lang") =!= "en").select("vec_id"), rootD)
    val deleted = Pq.probeIvfPq(spark, rootD, queries, k = 5, nProbe = Pq.Cells)
      .collect().map(_.toSeq).toSet
    assert(filtered === deleted && filtered.nonEmpty)
    // the predicate reaches the codes-only postings scan
    val plan = Pq.probeIvfPq(spark, rootF, queries, k = 5, nProbe = Pq.Cells,
        pred = Some(col("lang") === "en"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*lang[^\\]]*\\].*"), plan)
  }

  test("filtered residual probe == rank-then-filter of the full probe at full coverage") {
    import org.apache.spark.sql.expressions.Window
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .withColumn("lang", expr(
        "CASE CAST(vec_id % 4 AS INT) WHEN 0 THEN 'en' ELSE 'xx' END"))
    val queries = emb.filter(col("vec_id") < 3)
    val root = graft.core.Scratch.dir("graft-pqresfilt") + "/ivfpqr"
    Pq.buildIvfPqResidualIndex(emb, root, metaCols = Seq("lang"))
    val got = Pq.probeIvfPqResidual(spark, root, queries, k = 5,
        nProbe = Pq.Cells, pred = Some(col("lang") === "en"))
      .select("qid", "nid", "score").collect().map(_.toSeq).toSet
    // at full coverage, filtering pre-heap == ranking everything then
    // keeping the predicate's rows (same ADC scores, same tiebreaks)
    val full = Pq.probeIvfPqResidual(spark, root, queries, k = 100000,
        nProbe = Pq.Cells)
    val want = full.join(emb.select(col("vec_id").as("nid"), col("lang")), "nid")
      .filter(col("lang") === "en")
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("score").asc, col("nid").asc)))
      .filter(col("rn") <= 5)
      .select("qid", "nid", "score").collect().map(_.toSeq).toSet
    assert(got === want && got.nonEmpty)
  }

  test("residual probe honours deletes: no tombstoned id served, same answer after compaction") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val root = graft.core.Scratch.dir("graft-pqresdel") + "/ivfpq-res"
    Pq.buildIvfPqResidualIndex(emb, root)
    Pq.deleteFromIvfPqIndex(emb.select("vec_id").filter(col("vec_id") % 13 === 2), root)
    val queries = emb.filter(col("vec_id") < 3)
    def full() = Pq.probeIvfPqResidual(spark, root, queries, k = n.toInt, nProbe = Pq.Cells)
      .collect().map(_.toSeq).toSet
    val served = full()
    assert(served.nonEmpty)
    assert(!served.exists(r => r(1).asInstanceOf[Long] % 13 == 2),
      "a tombstoned id was served")
    Pq.compactIvfPqIndex(spark, root)
    assert(full() === served)
  }

  test("exact duplicates share codes and scores") {
    val base = corpus(10)
    val twins = base.withColumn("vec_id", col("vec_id") + 100)
    val subs = Pq.subvectors(base.unionByName(twins))
    val cents = Pq.trainCodebook(subs)
    val codes = Pq.encode(subs, cents)
    val mismatch = codes.filter(col("vec_id") < 100).alias("a")
      .join(codes.filter(col("vec_id") >= 100).alias("b"),
        col("a.vec_id") === col("b.vec_id") - 100 && col("a.m") === col("b.m"))
      .filter(col("a.cid") =!= col("b.cid"))
    assert(mismatch.count() === 0)
  }
}
