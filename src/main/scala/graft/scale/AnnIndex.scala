package graft.scale

import graft.core.{Par, Q, Tables}
import graft.write.VersionedTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent ANN index: the build/probe split of [[Similarity.ivfTopKQuantized]].
  *
  * `ivfTopK*` retrain centroids and re-assign the whole corpus on every call —
  * right for a one-shot analytical query, wrong for a serving path where one
  * corpus snapshot answers many query batches. Here the expensive parts run
  * ONCE ([[buildIvfIndex]]) and are written as tables; [[probeIvf]] then reads
  * only what a query batch needs:
  *
  *   root/centroids  (cid int, centroid array<double>)   — nCentroids × dim
  *                   doubles, metadata-sized (the k-means model);
  *   root/postings   (nid long, code array<tinyint>) partitioned by cid —
  *                   the int8-quantized corpus, hive-partitioned by cell so a
  *                   probe's cid filter prunes whole directories
  *                   (PartitionFilters, asserted in PlanSpec).
  *
  * Both are [[graft.write.VersionedTable]]s: a rebuild stages a full new
  * version and atomically flips the manifest, so probes running concurrently
  * with a rebuild keep reading a consistent snapshot — the same stage+promote
  * protocol as the W5 summary tables.
  *
  * Probe cost shape: a query batch touches nProbe cells ≈ nProbe/√n of the
  * corpus (directory-pruned, never a full scan), reads 1-byte codes instead
  * of 8-byte doubles (the raw `embedding` column is never stored in the
  * index, so the probe CANNOT scan it — ReadSchema is (nid, code)), and
  * reranks through the native integer MAC ([[graft.expressions.Int8DotProduct]])
  * with exact BIGINT scores. With nProbe = nCentroids the probe equals
  * [[Similarity.quantizedTopK]] exactly (SimilaritySpec parity law).
  */
object AnnIndex {

  /** Handle to a built index (paths + the parameters baked into it). */
  final case class IvfIndex(root: String, nCentroids: Int)

  private def centroidsTable(spark: SparkSession, root: String) =
    new VersionedTable(spark, s"$root/centroids")
  private def postingsTable(spark: SparkSession, root: String) =
    new IvfCells(spark, root).postings

  /** Build (or rebuild) the index at `root`: train centroids over a bounded
    * sample, assign every corpus vector its nearest cell, quantize to int8
    * codes, and write both tables — each scan-shaped job runs exactly once.
    * The corpus never shuffles: assignment and quantization are codegen'd
    * projections and the partitioned write's directory split replaces any
    * key shuffle.
    */
  def buildIvfIndex(corpus: DataFrame, root: String,
                    nCentroids: Int = -1, trainIters: Int = 4,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    metaCols: Seq[String] = Nil): IvfIndex = {
    val nCents = Similarity.resolveNCentroids(corpus, nCentroids)
    buildIvfIndexWith(corpus, root,
      Similarity.centroidsFor(corpus, nCents, trainIters, idCol, vecCol),
      idCol, vecCol, metaCols)
  }

  /** [[buildIvfIndex]] with a caller-supplied centroid model (unit-norm
    * doubles, ids 0..n-1) instead of the sample-trained default — the hook
    * for FULL-CORPUS training: [[Kmeans.lloyd]] refines centroids with
    * distributed rounds that touch every vector, then
    * [[Kmeans.unitCentroids]] projects them onto the sphere the dot-product
    * assignment expects. Same storage, probe and append contracts.
    */
  def buildIvfIndexWith(corpus: DataFrame, root: String,
                        cents: Array[(Int, Seq[Double])],
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        metaCols: Seq[String] = Nil): IvfIndex = {
    val spark = corpus.sparkSession
    Similarity.requireNumericId(corpus, idCol, "buildIvfIndex")

    import spark.implicits._
    val centsDf = cents.toSeq.toDF("cid", "centroid")
    val ct = centroidsTable(spark, root)
    ct.promote(ct.stage(centsDf))

    // filterable attributes ride WITH the codes (the payload-index scheme
    // every filtered-ANN server uses): a probe predicate on them pushes
    // into the same codes-only parquet scan the cid pruning reads
    val postings = Similarity.quantizeInt8(corpus, vecCol)
      .withColumn("cid", element_at(
        Similarity.nearestCidsExpr(cents, col(vecCol).cast("array<double>"), 1), 1))
      .select(col(idCol).cast("long").as("nid") +: col("qcode").as("code") +:
        col("cid") +: metaCols.map(col): _*)
    val pt = postingsTable(spark, root)
    pt.promote(pt.stage(postings, Seq("cid")))
    IvfIndex(root, cents.length)
  }

  /** Append a batch of new vectors to an existing index WITHOUT retraining:
    * assign each one to its nearest EXISTING centroid, quantize, and merge
    * into the postings as a keyed upsert on nid (a re-crawled id replaces
    * its old posting — the W4 semantic, [[graft.write.Writers.upsert]]),
    * staged and atomically promoted. Centroids are unchanged — the standard
    * serving compromise: appends between periodic rebuilds keep working by
    * assigning into the existing cells, a full [[buildIvfIndex]] re-trains.
    * Under a full probe the appended index answers exactly like a fresh
    * index over the union corpus (AnnIndexSpec law — cell assignment can
    * differ, the scanned set cannot), and re-appending the same batch is a
    * no-op (idempotence law). A re-ingested tombstoned id un-deletes
    * ([[IvfCells.append]] holds the crash-order argument).
    *
    * Write cost is O(touched cells), NOT O(corpus): only the cells the batch
    * assigns into are read (directory-pruned), merged, and rewritten; every
    * untouched cell is inherited by reference through the patch version's
    * file list ([[graft.write.VersionedTable.stagePatch]] — zero files
    * written for an untouched cid, asserted in AnnIndexSpec). A crawl
    * appending small batches between rebuilds therefore pays per-batch work
    * proportional to the batch's cell footprint.
    *
    * Contract: the upsert is exact within a cell. A re-crawled id whose NEW
    * vector assigns to a DIFFERENT cell than its old posting leaves the
    * stale posting in the old cell (same-vector re-appends are unaffected —
    * the assignment is deterministic); crossing-cell re-crawls need a
    * periodic [[buildIvfIndex]] rebuild, the IVF analogue of LSM
    * compaction. The touched-cid collect is bounded by the batch's distinct
    * cell count, ≤ nCentroids — the same metadata class as the centroids
    * themselves.
    */
  def appendToIvfIndex(newVectors: DataFrame, root: String,
                       idCol: String = "vec_id", vecCol: String = "embedding"): IvfIndex = {
    val spark = newVectors.sparkSession
    Similarity.requireNumericId(newVectors, idCol, "appendToIvfIndex")
    val cents = readCentroids(spark, root)
    new IvfCells(spark, root).append(Similarity.quantizeInt8(newVectors, vecCol)
      .withColumn("cid", element_at(
        Similarity.nearestCidsExpr(cents, col(vecCol).cast("array<double>"), 1), 1))
      .select(col(idCol).cast("long").as("nid"), col("qcode").as("code"), col("cid")))
    IvfIndex(root, cents.length)
  }

  /** Delete a batch of vector ids from the index WITHOUT touching the
    * postings: the ids land as TOMBSTONES — an O(batch) append to a sidecar
    * versioned table ([[graft.write.VersionedTable.stageAppend]], old files
    * inherited by reference) — and every probe anti-joins them out until
    * [[compactIvfIndex]] physically rewrites the postings without the dead
    * rows and truncates the tombstone set. This is the LSM delete: the
    * per-delete cost is the batch, the O(index) rewrite amortizes into the
    * periodic compaction that was already part of the index lifecycle.
    *
    * Unknown ids are legal no-ops (their tombstone matches nothing — same
    * as deleting an absent key from a log-structured store); re-deletes are
    * idempotent (the set stays a set via anti-join). A later
    * [[appendToIvfIndex]] of a tombstoned id un-deletes it. AnnIndexSpec
    * holds the laws; q205 oracles delete-then-probe == index built without
    * the deleted vectors, before and after compaction.
    */
  def deleteFromIvfIndex(deletedIds: DataFrame, root: String,
                         idCol: String = "vec_id",
                         maxChainDepth: Int = 4): Unit =
    new IvfCells(deletedIds.sparkSession, root, maxChainDepth).delete(deletedIds, idCol)

  /** The ids currently tombstoned (empty frame if none ever were). */
  def tombstones(spark: SparkSession, root: String): DataFrame =
    new IvfCells(spark, root).dead()

  /** Collapse the postings patch chain an append-heavy crawl accumulates
    * ([[appendToIvfIndex]] patches only touched cells, so each append adds a
    * version resolving most cells by file-list reference) into ONE
    * self-contained whole-directory version — the LSM compaction step.
    * Re-staged partitioned by cid, so probe directory-pruning is preserved;
    * probe answers are identical before and after (q111 certifies this
    * through the oracle). Run periodically, between appends — the promote
    * carries the current tag, so any batch-stamped protocol survives.
    */
  def compactIvfIndex(spark: SparkSession, root: String): Unit =
    new IvfCells(spark, root).compact()

  /** Split oversized cells — the maintenance op the append path makes
    * necessary: [[appendToIvfIndex]] assigns every new vector into the
    * EXISTING cells, so a crawl that keeps landing near one region grows
    * one cell without bound, and a probe routed there degrades toward a
    * linear scan of that cell. Rebalance restores the IVF cost model
    * without the full retrain: every cell larger than `maxFactor` × the
    * median cell splits in two by a deterministic 2-means over its OWN
    * int8 codes (seeds = the cell's md5-order-first members, `splitIters`
    * assign/recenter rounds through [[Kmeans]]'s integer kernels — the
    * index stores codes, so the split never needs the raw embeddings).
    *
    * Writes: ONE postings patch whose partitions are exactly the touched
    * cells (survivor halves under their old cid, split halves under fresh
    * sequential cids — [[graft.write.VersionedTable.stagePatch]] inherits
    * every untouched cell by reference), plus the metadata-sized centroid
    * table restaged with the split cells' routing centroids (each sub-cell's
    * integer code mean, unit-normalized — the same serving compromise as
    * append: probes route through refreshed cell geometry, exact scoring
    * is unchanged because scores come from the stored codes, not the
    * centroids). Tombstones ride untouched: they key on nid.
    *
    * Driver cost: the cell-size aggregate (≤ nCells rows) plus
    * O(hot × splitIters) small Spark jobs, each over ONE directory-pruned
    * cell — the same lifecycle-job shape as the PageRank index appends.
    * Probe answers under a full-coverage probe are EXACTLY invariant (the
    * postings multiset is only re-partitioned, q228's oracle certifies it
    * value-level); balance and footprint laws live in AnnIndexSpec.
    *
    * Returns the split cell ids (empty = index already balanced).
    */
  def rebalanceIvfIndex(spark: SparkSession, root: String,
                        maxFactor: Long = 2, splitIters: Int = 2): Seq[Int] = {
    require(maxFactor >= 1, s"maxFactor must be >= 1, got $maxFactor")
    val pt = postingsTable(spark, root)
    val sizes = pt.read().groupBy("cid").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val sorted = sizes.map(_._2).sorted
    val median = sorted((sorted.length - 1) / 2)
    val hot = sizes.filter(_._2 > maxFactor * median).map(_._1)
    if (hot.isEmpty) return Nil
    val cents = readCentroids(spark, root).toMap
    var nextCid = cents.keys.max + 1
    val split = scala.collection.mutable.ArrayBuffer.empty[Int]
    val patches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val newCents = scala.collection.mutable.Map.empty[Int, Seq[Double]]
    def unitMean(c: Array[Long], fallback: Seq[Double]): Seq[Double] = {
      val norm = math.sqrt(c.map(x => x.toDouble * x.toDouble).sum)
      if (norm == 0d) fallback else c.map(_.toDouble / norm).toSeq
    }
    // Per-cell split work is INDEPENDENT across hot cells (each reads only
    // its own directory-pruned partition), so the Lloyd rounds of different
    // cells overlap on the bounded pool; the fresh-cid assignment below
    // stays sequential in hot order, so minted cell ids — and with them the
    // output — are bit-identical to the serial walk.
    val perCell = Par.all(hot.toSeq.map { h => () =>
      val members = pt.read().filter(col("cid") === h)
        .withColumn("gcode", col("code").cast("array<bigint>"))
        .localCheckpoint(false)
      val sub = Kmeans.lloyd(members, k = 2, iters = splitIters, idCol = "nid")
      val assigned = Kmeans.assignNearest(members, sub, codeCol = "gcode")
        .localCheckpoint(false)
      // a degenerate cell (all codes identical) assigns everything to one
      // sub-centroid — leave it alone rather than minting an empty cell
      (sub, assigned, assigned.select("cid").distinct().count())
    })
    hot.zip(perCell).foreach { case (h, (sub, assigned, nSub)) =>
      if (nSub == 2) {
        val fresh = nextCid; nextCid += 1; split += h
        patches += assigned
          .withColumn("cid", when(col("cid") === 0, lit(h)).otherwise(lit(fresh)))
          .select(col("nid"), col("code"), col("cid"))
        newCents(h) = unitMean(sub(0), cents(h))
        newCents(fresh) = unitMean(sub(1), cents(h))
      }
    }
    if (split.isEmpty) return Nil
    pt.promote(pt.stagePatch(patches.reduce(_ unionByName _), Seq("cid")),
      pt.currentTag)
    import spark.implicits._
    val ct = centroidsTable(spark, root)
    val updated = (cents ++ newCents).toSeq.sortBy(_._1).toDF("cid", "centroid")
    ct.promote(ct.stage(updated), ct.currentTag)
    split.toSeq
  }

  /** Read the centroid model back as the driver-side array the assignment
    * kernel needs — nCentroids × dim doubles, the same metadata-bounded
    * collect class as centroid training itself.
    */
  private def readCentroids(spark: SparkSession, root: String): Array[(Int, Seq[Double])] =
    centroidsTable(spark, root).read()
      .select(col("cid"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_._1)

  /** Probe a prebuilt index: route each query to its `nProbe` nearest cells,
    * scan ONLY those cells' live postings ([[IvfCells.candidates]]: a
    * driver-resolved cid IN list over the partition column, the optional
    * `pred` pushed into the same scan, tombstones anti-joined out), and
    * rerank by the exact int8 dot product. Output (qid, rnk, nid, score),
    * the [[Similarity.quantizedTopK]] shape.
    *
    * The probed-cid collect is bounded by |queries| × nProbe — queries must
    * be broadcast-small, the same contract as every top-k form here.
    */
  def probeIvf(spark: SparkSession, root: String, queries: DataFrame, k: Int,
               nProbe: Int = 3,
               idCol: String = "vec_id", vecCol: String = "embedding",
               pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    Similarity.requireNumericId(queries, idCol, "probeIvf")
    val cents = readCentroids(spark, root)
    // LAZY localCheckpoint: the quantize + centroid-assignment job runs ONCE
    // — the candidate read's cell collect materializes the blocks and the
    // scoring join reuses them (a second evaluation would double the
    // query-side work on the path built for probe-many serving); lazy, so
    // the collect is the ONE job instead of checkpoint + collect (r21)
    val q = Similarity.quantizeInt8(queries, vecCol)
      .withColumn("cid", explode(
        Similarity.nearestCidsExpr(cents, col(vecCol).cast("array<double>"),
          math.min(nProbe, cents.length))))
      .select(col(idCol).cast("long").as("qid"), col("qcode").as("qc"), col("cid"))
      .localCheckpoint(false)
    val postings = new IvfCells(spark, root).candidates(q, pred, "probeIvf")
    val scored = postings.join(broadcast(q), Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), Similarity.int8Dot(col("qc"), col("code")).as("score"))
    Similarity.longScoreTopK(scored, k)
  }

  /** Semi-hard negative mining SERVED FROM the IVF index — the
    * [[Similarity.semiHardNegatives]] rule applied inside the index's
    * top-`kCand` probe window per anchor (the practical serving form:
    * mine from the retrieval window, never rescan the corpus). The
    * positive scores come from the index too: the positives' codes are
    * postings rows (an id-filtered, broadcast-joined read), so the whole
    * mining pass touches only probed cells plus a label-sized postings
    * slice. Window semantics are part of the contract — a qualifying
    * negative below the kCand window is out of scope BY DEFINITION, and
    * the oracle replays the same bounded rule — so at full probe the
    * answer is value-exact against quantized brute force (the q105
    * full-probe exactness), while smaller nProbe trades recall for cells
    * scanned exactly like every other probe here.
    */
  def mineHardNegativesIvf(spark: SparkSession, root: String,
                           anchors: DataFrame, labels: DataFrame,
                           k: Int, kCand: Int,
                           marginNum: Int, marginDen: Int,
                           nProbe: Int = 3,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && kCand >= k && marginNum >= 0 && marginDen >= 1,
      s"mineHardNegativesIvf: k=$k kCand=$kCand margin=$marginNum/$marginDen")
    import org.apache.spark.sql.expressions.Window
    val cand = probeIvf(spark, root, anchors, kCand, nProbe, idCol, vecCol)
    val lb = labels.select(col("qid").cast("long").as("qid"),
      col("pos_id").cast("long").as("pos_id"))
    val anc = Similarity.quantizeInt8(anchors, vecCol)
      .select(col(idCol).cast("long").as("qid"), col("qcode").as("qc"))
    val posCodes = postingsTable(spark, root).read()
      .join(broadcast(lb.select("pos_id").distinct()), col("nid") === col("pos_id"))
      .select(col("pos_id"), col("code").as("pc"))
    val panel = lb.join(anc, "qid").join(posCodes, "pos_id")
      .select(col("qid"), col("pos_id"),
        Similarity.int8Dot(col("qc"), col("pc")).as("pos_score"))
      .filter(col("pos_score") > 0)
    val mined = cand.join(broadcast(panel), Seq("qid"))
      .filter(col("nid") =!= col("pos_id") &&
        col("score") < col("pos_score") &&
        (col("pos_score") - col("score")) * marginDen <= col("pos_score") * marginNum)
    // heap + rank keyed by (qid, pos_id): with multiple positives per anchor
    // each pair gets its own k budget and a per-pair neg_rank (mirrors
    // Similarity.semiHardNegatives)
    val topk = graft.ops.TopK.topKPerKey(mined, Seq("qid", "pos_id"),
      Seq(col("score").desc, col("nid").asc), k)
    val w = Window.partitionBy("qid", "pos_id").orderBy(col("score").desc, col("nid"))
    topk.withColumn("neg_rank", row_number().over(w).cast("long"))
      .select(col("qid"), col("pos_id"), col("neg_rank"), col("nid").as("neg_id"),
        col("score"), (col("pos_score") - col("score")).as("gap"))
  }

  // ---- declared queries ----------------------------------------------------

  val queries: Seq[Q] = Seq(

    // Build-once/probe-many IVF serving path, driver-certified with the q31
    // planted-twin invariant on the q83 quantized arithmetic: each query
    // vector gets a near-identical twin under qid+100000 (sim ≈ 0.99 vs
    // ≤ 0.52 for any random pair — the int8 dot preserves that margin), so
    // the oracle computes the true rank-1 by quantized brute force while the
    // engine must reach it through a PREBUILT index: centroids + int8
    // postings written as versioned tables, then probed with nProbe=3 —
    // scanning only the probed cells' directories, never the raw vectors
    // (the index stores codes only). Scores are exact BIGINTs (q83's
    // IEEE-identical quantization), so the row hash-compares value-exact.
    Q("q88_ann_index_probe",
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | corp AS (SELECT vec_id, v FROM base
        |          UNION ALL
        |          SELECT vec_id + 100000,
        |            CAST(list_transform(embedding, x -> x + CAST(0.02 AS FLOAT)) AS DOUBLE[])
        |          FROM embeddings WHERE vec_id < 5),
        | qz AS (
        |  SELECT vec_id,
        |    CASE WHEN smax = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(round(x / smax * 127) AS BIGINT))
        |    END AS code
        |  FROM (SELECT vec_id, v,
        |          list_max(list_transform(v, x -> abs(x))) AS smax FROM corp)),
        | q AS (SELECT vec_id AS qid, code AS qc FROM qz WHERE vec_id < 5),
        | c AS (SELECT vec_id AS nid, code AS cc FROM qz),
        | scored AS (
        |   SELECT qid, nid, CAST(list_dot_product(qc, cc) AS BIGINT) AS score
        |   FROM q, c WHERE qid <> nid),
        | ranked AS (SELECT qid, nid, score,
        |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rnk
        |   FROM scored)
        |SELECT qid, nid, score FROM ranked WHERE rnk = 1 ORDER BY qid""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val probes = emb.filter(col("vec_id") < 5)
      val twins = probes
        .withColumn("vec_id", col("vec_id") + 100000)
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(0.02f)).cast("array<float>"))
      val root = s"${graft.core.Scratch.dir("graft-q88")}/ivf"
      buildIvfIndex(emb.unionByName(twins), root)
      probeIvf(s, root, probes, k = 1, nProbe = 3)
        .filter(col("rnk") === 1)
        .select("qid", "nid", "score")
        .orderBy("qid")
    },

    // FILTERED ANN serving (the "top-k WHERE lang='en'" ask): the corpus
    // carries a lang metadata column that [[buildIvfIndexWith]] stores
    // WITH the int8 codes, and the probe pushes the predicate into the
    // codes-only postings scan (pre-heap — PlanSpec law). The planted
    // invariant makes the answer exact at nProbe=3: each query gets a
    // near-identical DECOY twin (+100000, +0.02, lang='de' — the
    // unfiltered rank-1 the filter must reject) and a near-identical
    // ANSWER twin (+200000, +0.04, lang='en' — the filtered rank-1, in
    // the query's own top cell like every near-twin). The oracle is
    // quantized brute force restricted to the lang='en' rows — a probe
    // that ignores the predicate, or a build that drops the metadata,
    // surfaces the decoy and hash-fails.
    Q("q265_ann_filtered",
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | corp AS (SELECT vec_id, v FROM base
        |          UNION ALL
        |          SELECT vec_id + 100000,
        |            CAST(list_transform(embedding, x -> x + CAST(0.02 AS FLOAT)) AS DOUBLE[])
        |          FROM embeddings WHERE vec_id < 5
        |          UNION ALL
        |          SELECT vec_id + 200000,
        |            CAST(list_transform(embedding, x -> x + CAST(0.04 AS FLOAT)) AS DOUBLE[])
        |          FROM embeddings WHERE vec_id < 5),
        | qz AS (
        |  SELECT vec_id,
        |    CASE WHEN smax = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(round(x / smax * 127) AS BIGINT))
        |    END AS code
        |  FROM (SELECT vec_id, v,
        |          list_max(list_transform(v, x -> abs(x))) AS smax FROM corp)),
        | q AS (SELECT vec_id AS qid, code AS qc FROM qz WHERE vec_id < 5),
        | c AS (SELECT vec_id AS nid, code AS cc FROM qz
        |       WHERE (vec_id < 100000 AND vec_id % 4 = 0) OR vec_id >= 200000),
        | scored AS (
        |   SELECT qid, nid, CAST(list_dot_product(qc, cc) AS BIGINT) AS score
        |   FROM q, c WHERE qid <> nid),
        | ranked AS (SELECT qid, nid, score,
        |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rnk
        |   FROM scored)
        |SELECT qid, nid, score FROM ranked WHERE rnk = 1 ORDER BY qid""".stripMargin) { (s, d) =>
      val lang = expr("CASE CAST(vec_id % 4 AS INT) WHEN 0 THEN 'en' " +
        "WHEN 1 THEN 'de' WHEN 2 THEN 'fr' ELSE 'zh' END")
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
        .withColumn("lang", lang)
      val probes = emb.filter(col("vec_id") < 5)
      val decoys = probes
        .withColumn("vec_id", col("vec_id") + 100000)
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(0.02f)).cast("array<float>"))
        .withColumn("lang", lit("de"))
      val answers = probes
        .withColumn("vec_id", col("vec_id") + 200000)
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(0.04f)).cast("array<float>"))
        .withColumn("lang", lit("en"))
      val root = s"${graft.core.Scratch.dir("graft-q265")}/ivf"
      buildIvfIndex(emb.unionByName(decoys).unionByName(answers), root,
        metaCols = Seq("lang"))
      probeIvf(s, root, probes, k = 1, nProbe = 3,
          pred = Some(col("lang") === "en"))
        .filter(col("rnk") === 1)
        .select("qid", "nid", "score")
        .orderBy("qid")
    },

    // Incremental serving: the q88 invariant reached through an APPENDED
    // index — the base index is built WITHOUT the twins, which then arrive
    // as a later crawl batch via appendToIvfIndex (assigned into the
    // existing cells, no retrain, atomic promote). The probe must surface
    // each twin at rank 1 exactly as if it had been indexed from the start;
    // a twin assigns to its query's own top cell (near-identical vectors,
    // same argmax centroid), so nProbe=3 reaches it through unchanged
    // centroids. Same quantized brute-force oracle as q88: the serving
    // answer is index-lifecycle-invariant.
    Q("q93_ann_index_append",
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | corp AS (SELECT vec_id, v FROM base
        |          UNION ALL
        |          SELECT vec_id + 100000,
        |            CAST(list_transform(embedding, x -> x + CAST(0.02 AS FLOAT)) AS DOUBLE[])
        |          FROM embeddings WHERE vec_id < 5),
        | qz AS (
        |  SELECT vec_id,
        |    CASE WHEN smax = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(round(x / smax * 127) AS BIGINT))
        |    END AS code
        |  FROM (SELECT vec_id, v,
        |          list_max(list_transform(v, x -> abs(x))) AS smax FROM corp)),
        | q AS (SELECT vec_id AS qid, code AS qc FROM qz WHERE vec_id < 5),
        | c AS (SELECT vec_id AS nid, code AS cc FROM qz),
        | scored AS (
        |   SELECT qid, nid, CAST(list_dot_product(qc, cc) AS BIGINT) AS score
        |   FROM q, c WHERE qid <> nid),
        | ranked AS (SELECT qid, nid, score,
        |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rnk
        |   FROM scored)
        |SELECT qid, nid, score FROM ranked WHERE rnk = 1 ORDER BY qid""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val probes = emb.filter(col("vec_id") < 5)
      val twins = probes
        .withColumn("vec_id", col("vec_id") + 100000)
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(0.02f)).cast("array<float>"))
      val root = s"${graft.core.Scratch.dir("graft-q93")}/ivf"
      buildIvfIndex(emb, root)
      appendToIvfIndex(twins, root)
      probeIvf(s, root, probes, k = 1, nProbe = 3)
        .filter(col("rnk") === 1)
        .select("qid", "nid", "score")
        .orderBy("qid")
    },

    // q93's lifecycle with a compaction in the middle: build → append (the
    // postings are now a patch chain) → compactIvfIndex (chain collapses to
    // one self-contained cid-partitioned version) → probe. The answer must
    // be byte-identical to q93's — compaction is invisible to serving.
    Q("q111_ann_compact",
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | corp AS (SELECT vec_id, v FROM base
        |          UNION ALL
        |          SELECT vec_id + 100000,
        |            CAST(list_transform(embedding, x -> x + CAST(0.02 AS FLOAT)) AS DOUBLE[])
        |          FROM embeddings WHERE vec_id < 5),
        | qz AS (
        |  SELECT vec_id,
        |    CASE WHEN smax = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(round(x / smax * 127) AS BIGINT))
        |    END AS code
        |  FROM (SELECT vec_id, v,
        |          list_max(list_transform(v, x -> abs(x))) AS smax FROM corp)),
        | q AS (SELECT vec_id AS qid, code AS qc FROM qz WHERE vec_id < 5),
        | c AS (SELECT vec_id AS nid, code AS cc FROM qz),
        | scored AS (
        |   SELECT qid, nid, CAST(list_dot_product(qc, cc) AS BIGINT) AS score
        |   FROM q, c WHERE qid <> nid),
        | ranked AS (SELECT qid, nid, score,
        |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rnk
        |   FROM scored)
        |SELECT qid, nid, score FROM ranked WHERE rnk = 1 ORDER BY qid""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val probes = emb.filter(col("vec_id") < 5)
      val twins = probes
        .withColumn("vec_id", col("vec_id") + 100000)
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(0.02f)).cast("array<float>"))
      val root = s"${graft.core.Scratch.dir("graft-q111")}/ivf"
      buildIvfIndex(emb, root)
      appendToIvfIndex(twins, root)
      compactIvfIndex(s, root)
      probeIvf(s, root, probes, k = 1, nProbe = 3)
        .filter(col("rnk") === 1)
        .select("qid", "nid", "score")
        .orderBy("qid")
    },

    // Tombstone deletes through the index lifecycle: each query gets TWO
    // planted twins (+0.02 closest, +0.03 second) and the index is built
    // over the union; deleting the organic %17 stratum and then (a second
    // delete batch — the tombstone APPEND path) every closest twin must
    // surface the SECOND twin at rank 1, first through the probe-time
    // anti-join ('served' phase) and byte-identically again after
    // compaction physically drops the dead rows ('compacted' phase). The
    // oracle is quantized brute force over corpus-minus-deleted, crossed
    // with both phases: delete-then-probe == index built without the
    // deleted vectors, at every point of the lifecycle.
    Q("q205_ann_delete",
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | corp AS (SELECT vec_id, v FROM base
        |          UNION ALL
        |          SELECT vec_id + 100000,
        |            CAST(list_transform(embedding, x -> x + CAST(0.02 AS FLOAT)) AS DOUBLE[])
        |          FROM embeddings WHERE vec_id < 5
        |          UNION ALL
        |          SELECT vec_id + 200000,
        |            CAST(list_transform(embedding, x -> x + CAST(0.03 AS FLOAT)) AS DOUBLE[])
        |          FROM embeddings WHERE vec_id < 5),
        | qz AS (
        |  SELECT vec_id,
        |    CASE WHEN smax = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(round(x / smax * 127) AS BIGINT))
        |    END AS code
        |  FROM (SELECT vec_id, v,
        |          list_max(list_transform(v, x -> abs(x))) AS smax FROM corp)),
        | q AS (SELECT vec_id AS qid, code AS qc FROM qz WHERE vec_id < 5),
        | alive AS (SELECT vec_id AS nid, code AS cc FROM qz
        |           WHERE NOT ((vec_id >= 100000 AND vec_id < 200000) OR vec_id % 17 = 3)),
        | scored AS (
        |   SELECT qid, nid, CAST(list_dot_product(qc, cc) AS BIGINT) AS score
        |   FROM q, alive WHERE qid <> nid),
        | ranked AS (SELECT qid, nid, score,
        |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rnk
        |   FROM scored),
        | top AS (SELECT qid, nid, score FROM ranked WHERE rnk = 1)
        |SELECT phase, qid, nid, score
        |FROM top CROSS JOIN (SELECT unnest(['served','compacted']) AS phase)
        |ORDER BY phase, qid""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val probes = emb.filter(col("vec_id") < 5)
      def twin(off: Int, eps: Float) = probes
        .withColumn("vec_id", col("vec_id") + off)
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(eps)).cast("array<float>"))
      val root = s"${graft.core.Scratch.dir("graft-q205")}/ivf"
      // the INPUT build (corpus + both twin strata) is deterministic
      // substrate, cached once per JVM and cloned per execution; the
      // CERTIFIED lifecycle — both delete batches, both probes, the
      // compaction — runs on the private clone every time (r18 task 1)
      graft.core.FixtureCache.copied(s"ivf-q205@$d", root) { p =>
        buildIvfIndex(
          emb.unionByName(twin(100000, 0.02f)).unionByName(twin(200000, 0.03f)), p)
        ()
      }
      deleteFromIvfIndex(emb.select("vec_id").filter(col("vec_id") % 17 === 3), root)
      deleteFromIvfIndex(
        probes.select((col("vec_id") + 100000).as("vec_id")), root)
      val served = probeIvf(s, root, probes, k = 1, nProbe = 3)
        .filter(col("rnk") === 1).select("qid", "nid", "score")
        .withColumn("phase", lit("served"))
        .localCheckpoint() // pin the pre-compaction answer before compacting
      compactIvfIndex(s, root)
      val compacted = probeIvf(s, root, probes, k = 1, nProbe = 3)
        .filter(col("rnk") === 1).select("qid", "nid", "score")
        .withColumn("phase", lit("compacted"))
      served.unionByName(compacted)
        .select("phase", "qid", "nid", "score")
        .orderBy("phase", "qid")
    },

    // Hot-cell rebalance through the full lifecycle that CAUSES the skew:
    // build over corpus+twins, then append a 240-vector clump (60
    // near-copies of each of vectors 0..3 — appends assign into existing
    // cells, so the clump piles onto a handful of them), rebalance (the
    // query REQUIRES at least one cell split — the fixture must exercise
    // the op), and serve three phases against ONE brute-force oracle:
    // 'pre' (nProbe=3 before the split), 'post' (nProbe=3 after — probes
    // route through the refreshed split-cell centroids), and 'full'
    // (full-coverage probe after — the postings multiset was only
    // re-partitioned, so full coverage is EXACTLY brute force; any posting
    // lost, duplicated, or code-corrupted by the split rewrite hash-fails).
    // For queries 0..3 the brute-force rank-1 is the clump's exact copy
    // (r % 7 = 0 twins tie on score, min nid wins); query 4 keeps its
    // +0.02 twin — so the answer set spans both clump-split and untouched
    // cells. Balance/footprint/determinism laws live in AnnIndexSpec.
    Q("q228_ann_rebalance",
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | corp AS (SELECT vec_id, v FROM base
        |          UNION ALL
        |          SELECT vec_id + 100000,
        |            CAST(list_transform(embedding, x -> x + CAST(0.02 AS FLOAT)) AS DOUBLE[])
        |          FROM embeddings WHERE vec_id < 5
        |          UNION ALL
        |          SELECT 200000 + vec_id * 100 + r,
        |            CAST(list_transform(embedding,
        |              x -> x + CAST(0.003 AS FLOAT) * CAST(r % 7 AS FLOAT)) AS DOUBLE[])
        |          FROM embeddings, range(0, 60) t(r) WHERE vec_id < 4),
        | qz AS (
        |  SELECT vec_id,
        |    CASE WHEN smax = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(round(x / smax * 127) AS BIGINT))
        |    END AS code
        |  FROM (SELECT vec_id, v,
        |          list_max(list_transform(v, x -> abs(x))) AS smax FROM corp)),
        | q AS (SELECT vec_id AS qid, code AS qc FROM qz WHERE vec_id < 5),
        | c AS (SELECT vec_id AS nid, code AS cc FROM qz),
        | scored AS (
        |   SELECT qid, nid, CAST(list_dot_product(qc, cc) AS BIGINT) AS score
        |   FROM q, c WHERE qid <> nid),
        | ranked AS (SELECT qid, nid, score,
        |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rnk
        |   FROM scored),
        | top AS (SELECT qid, nid, score FROM ranked WHERE rnk = 1)
        |SELECT phase, qid, nid, score
        |FROM top CROSS JOIN (SELECT unnest(['full','post','pre']) AS phase)
        |ORDER BY phase, qid""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val probes = emb.filter(col("vec_id") < 5)
      val twins = probes
        .withColumn("vec_id", col("vec_id") + 100000)
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(0.02f)).cast("array<float>"))
      val clump = emb.filter(col("vec_id") < 4)
        .crossJoin(broadcast(s.range(60).select(col("id").as("r"))))
        .select((lit(200000L) + col("vec_id") * 100 + col("r")).as("vec_id"),
          transform(col("embedding"),
            x => x + lit(0.003f) * pmod(col("r"), lit(7)).cast("float"))
            .cast("array<float>").as("embedding"))
      val root = s"${graft.core.Scratch.dir("graft-q228")}/ivf"
      // cached INPUT build, cloned per execution (r18 task 1); the clump
      // append that CAUSES the skew, the rebalance, and all three serve
      // phases are the certified lifecycle and re-run on the clone
      graft.core.FixtureCache.copied(s"ivf-q228@$d", root) { p =>
        buildIvfIndex(emb.unionByName(twins), p); ()
      }
      appendToIvfIndex(clump, root)
      def serve(phase: String, nProbe: Int) =
        probeIvf(s, root, probes, k = 1, nProbe = nProbe)
          .filter(col("rnk") === 1).select("qid", "nid", "score")
          .withColumn("phase", lit(phase))
      val pre = serve("pre", 3).localCheckpoint()
      val split = rebalanceIvfIndex(s, root, maxFactor = 2)
      require(split.nonEmpty,
        "q228 fixture must leave at least one hot cell for rebalance to split")
      pre.unionByName(serve("post", 3)).unionByName(serve("full", 4096))
        .select("phase", "qid", "nid", "score")
        .orderBy("phase", "qid")
    },

    // Hard-negative mining served FROM the index: the q282 margin rule
    // applied inside the index's top-64 probe window, with positive
    // scores read from the postings slice — never a corpus rescan. Full
    // probe makes the window the exact quantized brute-force top-64, so
    // the oracle replays window → margin → ranked cut as BIGINTs; a
    // probe that leaks the positive, misses a window member, or drifts
    // the margin fails the hash.
    Q("q292_hard_negatives_ivf",
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | corp AS (SELECT vec_id, v FROM base
        |          UNION ALL
        |          SELECT vec_id + 100000,
        |            CAST(list_transform(embedding, x -> x + CAST(0.02 AS FLOAT)) AS DOUBLE[])
        |          FROM embeddings WHERE vec_id % 20 = 0),
        | qz AS (
        |  SELECT vec_id,
        |    CASE WHEN smax = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(round(x / smax * 127) AS BIGINT))
        |    END AS code
        |  FROM (SELECT vec_id, v,
        |          list_max(list_transform(v, x -> abs(x))) AS smax FROM corp)),
        | lab AS (SELECT vec_id AS qid, vec_id + 100000 AS pos_id
        |         FROM embeddings WHERE vec_id % 20 = 0),
        | pan AS (SELECT * FROM (
        |   SELECT l.qid, l.pos_id,
        |     CAST(list_dot_product(q.code, p.code) AS BIGINT) AS pos_score
        |   FROM lab l JOIN qz q ON q.vec_id = l.qid JOIN qz p ON p.vec_id = l.pos_id)
        |  WHERE pos_score > 0),
        | win AS (SELECT qid, nid, score FROM (
        |   SELECT l.qid, c.vec_id AS nid,
        |     CAST(list_dot_product(q.code, c.code) AS BIGINT) AS score,
        |     row_number() OVER (PARTITION BY l.qid
        |       ORDER BY CAST(list_dot_product(q.code, c.code) AS BIGINT) DESC,
        |                c.vec_id) AS rnk
        |   FROM lab l JOIN qz q ON q.vec_id = l.qid
        |   JOIN qz c ON c.vec_id <> l.qid)
        |  WHERE rnk <= 64),
        | sh AS (SELECT w.qid, p.pos_id, p.pos_score, w.nid, w.score
        |        FROM win w JOIN pan p USING (qid)
        |        WHERE w.nid <> p.pos_id AND w.score < p.pos_score
        |          AND (p.pos_score - w.score) * 4 <= p.pos_score * 3),
        | rk AS (SELECT qid, pos_id, nid, score, pos_score - score AS gap,
        |   CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid)
        |        AS BIGINT) AS neg_rank
        |  FROM sh)
        |SELECT qid, pos_id, neg_rank, nid AS neg_id, score, gap FROM rk
        |WHERE neg_rank <= 5 ORDER BY qid, neg_rank""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val twins = emb.filter(col("vec_id") % 20 === 0)
        .withColumn("vec_id", col("vec_id") + 100000)
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(0.02f)).cast("array<float>"))
      // mining never mutates the index — serve straight from the cached
      // INPUT build (no per-execution clone needed, r18 task 1)
      val root = graft.core.FixtureCache.dir(s"ivf-q292@$d") { p =>
        buildIvfIndex(emb.unionByName(twins), p); ()
      }
      val anchors = emb.filter(col("vec_id") % 20 === 0)
      val labels = anchors
        .select(col("vec_id").as("qid"), (col("vec_id") + 100000).as("pos_id"))
      mineHardNegativesIvf(s, root, anchors, labels,
        k = 5, kCand = 64, marginNum = 3, marginDen = 4, nProbe = 4096)
        .orderBy("qid", "neg_rank")
    },
  )
}
