package graft.scale

import graft.core.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization — the memory-scale path for billion-vector ANN.
  *
  * IVF ([[AnnIndex]]) prunes WHICH vectors a query scans; PQ shrinks WHAT
  * each scanned vector costs: every vector is split into [[M]] subvectors,
  * each subvector is replaced by the id of its nearest codebook centroid,
  * and a query scores a vector by summing M table lookups (asymmetric
  * distance computation) instead of a full-dimension arithmetic pass. At
  * [[M]]=4 codes per 64-dim vector the corpus representation drops from 64
  * floats to 4 small ints — the compression that lets a 10⁹-vector index
  * live in cluster memory. Production systems compose both: IVF cells of
  * PQ codes; this module keeps PQ itself isolated and oracled.
  *
  * This variant trains ONE codebook shared by all subspaces (all M·N
  * subvectors pooled into a single [[Kmeans.lloyd]] run) rather than M
  * per-subspace codebooks — same operator shape, 1/M the training state,
  * and the whole trajectory stays a pure function of the data, so the
  * DuckDB oracle replays training, encoding, and ADC scoring exactly
  * (everything is the [[Kmeans]] integer grid arithmetic).
  *
  * Scale shape at 100 TB: training is Lloyd over the pooled subvector
  * relation (iters × one scan, k-bounded driver state); encoding is a pure
  * codegen'd projection ([[graft.expressions.ArgMinCentroidL2]]); the query
  * path broadcasts a (queries × M × k)-row distance table — metadata-sized
  * under the same bounded-queries contract as [[Similarity.topKCosine]] —
  * onto the code relation, and the only wide operation is the (qid, vec)
  * partial-aggregated score reduction feeding a bounded
  * [[graft.ops.TopK.topKPerKey]] heap. Raw vectors never leave the
  * training/encode scans; the serving plan touches codes only.
  */
object Pq {

  /** Subspace count (codes per vector). */
  val M = 4

  /** Dimensions per subspace (input dim = M · SubDim). */
  val SubDim = 16

  /** Shared-codebook size. */
  val K = 8

  /** Lloyd rounds for codebook training. */
  val Iters = 2

  /** Explode (vec_id, embedding float[M·SubDim]) into the pooled subvector
    * relation (sid, vec_id, m, embedding float[SubDim]) with
    * `sid = vec_id·M + m` — unique per subvector, so the pooled relation
    * feeds [[Kmeans.lloyd]] unchanged.
    */
  def subvectors(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      posexplode(array((0 until M).map(m =>
        slice(col("embedding"), m * SubDim + 1, SubDim)): _*)).as(Seq("m", "sub")))
      .select((col("vec_id") * M + col("m")).as("sid"),
        col("vec_id"), col("m").cast("long").as("m"),
        col("sub").as("embedding"))

  /** Train the shared codebook: grid-quantize the pooled subvectors and run
    * [[Kmeans.lloyd]]. Returns the k × SubDim centroid matrix.
    */
  def trainCodebook(subs: DataFrame, k: Int = K, iters: Int = Iters): Array[Array[Long]] =
    Kmeans.lloyd(Kmeans.quantizeGrid(subs), k, iters, idCol = "sid")

  /** Encode the corpus: (vec_id, m, cid) — each subvector replaced by its
    * nearest codebook id. One kernel scan, no shuffle.
    */
  def encode(subs: DataFrame, cents: Array[Array[Long]]): DataFrame =
    Kmeans.assignNearest(Kmeans.quantizeGrid(subs), cents)
      .select(col("vec_id"), col("m"), col("cid"))

  /** ADC top-k: exact integer L2² between each query subvector and each
    * centroid builds the (qid, m, cid, d) distance table; scoring a corpus
    * vector is Σ_m dt[m, code(m)] — M narrow lookups, summed map-side, fed
    * to the bounded per-key heap. `queries` must satisfy the bounded-
    * queries contract (the distance table is queries × M × k rows).
    */
  def adcTopK(spark: SparkSession, codes: DataFrame, querySubs: DataFrame,
              cents: Array[Array[Long]], k: Int): DataFrame = {
    import spark.implicits._
    val centsDf = cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cid", "cent")
    val sq = aggregate(
      zip_with(col("gcode"), col("cent"), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, v) => acc + v)
    val dt = Kmeans.quantizeGrid(querySubs)
      .select(col("vec_id").as("qid"), col("m"), col("gcode"))
      .crossJoin(centsDf)
      .select(col("qid"), col("m"), col("cid"), sq.as("d"))
    codes.join(broadcast(dt), Seq("m", "cid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum("d").as("score"))
      .transform(graft.ops.TopK.topKPerKey(_, Seq("qid"),
        Seq(col("score").asc, col("vec_id").asc), k))
  }

  // ---- IVF + PQ: the composed production index ---------------------------

  /** Coarse cell count / Lloyd rounds for the IVF layer of [[buildIvfPqIndex]]. */
  val Cells = 4
  val CoarseIters = 2

  /** Handle to a built IVF+PQ index. */
  final case class IvfPqIndex(root: String, nCells: Int)

  private def table(spark: SparkSession, root: String, name: String) =
    new graft.write.VersionedTable(spark, s"$root/$name")

  /** PQ code array as a pure projection: element m is the nearest-codebook
    * id of the m-th subvector — M fused [[graft.expressions.ArgMinCentroidL2]]
    * kernel calls over slices of the full-dimension grid code, no explode,
    * no shuffle. `gcodeCol` must hold the [[Kmeans.quantizeGrid]] codes.
    */
  def pqCodesExpr(cents: Array[Array[Long]], gcodeCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val ncol = org.apache.spark.sql.GraftColumnBridge.column _
    val nexpr = org.apache.spark.sql.GraftColumnBridge.expression _
    array((0 until M).map { m =>
      ncol(graft.expressions.ArgMinCentroidL2(
        nexpr(slice(gcodeCol, m * SubDim + 1, SubDim)),
        cents.flatten, cents.length, cents.head.length)).getField("cid")
    }: _*)
  }

  /** Build the composed index at `root`: a full-corpus coarse quantizer
    * ([[Kmeans.lloyd]] over 64-dim grid codes — the IVF routing layer) plus
    * the shared PQ codebook ([[trainCodebook]] over pooled subvectors), with
    * postings (nid, codes int[M]) hive-partitioned by the coarse cell so a
    * probe's cell filter prunes whole directories. Raw vectors appear in the
    * two training scans and the single encode projection — never in storage,
    * so the serving path CANNOT touch them. Both models and the postings are
    * [[graft.write.VersionedTable]]s under the same stage+promote protocol
    * as [[AnnIndex]].
    */
  def buildIvfPqIndex(corpus: DataFrame, root: String,
                      nCells: Int = Cells, coarseIters: Int = CoarseIters,
                      metaCols: Seq[String] = Nil): IvfPqIndex = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val g = Kmeans.quantizeGrid(corpus)
    val coarse = Kmeans.lloyd(g, nCells, coarseIters)
    val book = trainCodebook(subvectors(corpus))
    def centsDf(cs: Array[Array[Long]]) =
      cs.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cid", "cent")
    val ct = table(spark, root, "coarse"); ct.promote(ct.stage(centsDf(coarse)))
    val bt = table(spark, root, "book");   bt.promote(bt.stage(centsDf(book)))
    // filterable attributes ride with the PQ codes (the AnnIndex scheme)
    val postings = Kmeans.assignNearest(g, coarse)
      .select(col("vec_id").cast("long").as("nid") +:
        pqCodesExpr(book, col("gcode")).as("codes") +: col("cid") +:
        metaCols.map(col): _*)
    val pt = table(spark, root, "postings")
    pt.promote(pt.stage(postings, Seq("cid")))
    IvfPqIndex(root, nCells)
  }

  private def readCents(spark: SparkSession, root: String, name: String): Array[Array[Long]] =
    table(spark, root, name).read().select("cid", "cent").collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1).toArray).sortBy(_._1).map(_._2)

  /** Append a crawl batch to an existing IVF+PQ index WITHOUT retraining:
    * assign + encode the batch under the PERSISTED coarse/codebook models,
    * upsert into the touched cells only, promote a patch version — the
    * [[AnnIndex.appendToIvfIndex]] protocol carried over to PQ postings.
    * Write cost is O(touched cells), not O(corpus): untouched cells are
    * inherited by file-list reference (PqSpec asserts no files for an
    * untouched cid). The standard serving compromise applies: models stay
    * fixed between periodic [[buildIvfPqIndex]] rebuilds, so the appended
    * index equals the ENCODE-UNDER-FIXED-MODELS of the union corpus
    * (PqSpec law) — not a fresh retrain over it.
    *
    * HARD PRECONDITION — new or same-cell nids only. The upsert replaces an
    * existing nid only within TOUCHED cells; a re-ingested vector whose
    * changed embedding routes to a different cell leaves its stale row
    * alive in the untouched old cell (duplicate nid on probe). Callers
    * re-ingesting MUTATED vectors must delete-then-append or rebuild.
    * `assertNewIds = true` enforces the precondition with a single
    * nid-column anti-scan of the postings (O(index) ids, not codes —
    * columnar pruning keeps it cheap relative to a rebuild, but it is NOT
    * O(batch), so it is opt-in for ingest paths that can't prove the
    * contract upstream rather than always-on).
    */
  def appendToIvfPqIndex(newVectors: DataFrame, root: String,
                         assertNewIds: Boolean = false): IvfPqIndex = {
    val spark = newVectors.sparkSession
    val coarse = readCents(spark, root, "coarse")
    val book = readCents(spark, root, "book")
    val newPostings = Kmeans.assignNearest(Kmeans.quantizeGrid(newVectors), coarse)
      .select(col("vec_id").cast("long").as("nid"),
        pqCodesExpr(book, col("gcode")).as("codes"), col("cid"))
      // lazy: the encode runs once, in the precondition check when it runs,
      // else in the cell store's touched-cell collect
      .localCheckpoint(false)
    val cells = new IvfCells(spark, root)
    if (assertNewIds) {
      val stale = cells.postings.read().select("nid", "cid")
        .join(newPostings.select(col("nid"), col("cid").as("new_cid")), "nid")
        .filter(col("cid") =!= col("new_cid")).limit(1).count()
      require(stale == 0L,
        s"appendToIvfPqIndex: incoming nid already exists in a different cell " +
          s"of $root/postings — delete-then-append or rebuild (see scaladoc)")
    }
    // a re-ingested id un-deletes (the [[AnnIndex.appendToIvfIndex]]
    // latest-op-wins rule, crash order in [[IvfCells.append]])
    cells.append(newPostings)
    IvfPqIndex(root, coarse.length)
  }

  /** Tombstone deletes for the IVF+PQ index — the same LSM-delete protocol
    * as [[AnnIndex.deleteFromIvfIndex]]: an O(batch) append to a sidecar
    * versioned id set, probes anti-join it, [[compactIvfPqIndex]]
    * physically drops the dead postings and truncates the set, and a later
    * [[appendToIvfPqIndex]] of a tombstoned id un-deletes it. This also
    * DISCHARGES the append path's delete-then-append prescription for
    * cross-cell re-ingestion: delete the moved ids, then append.
    */
  def deleteFromIvfPqIndex(deletedIds: DataFrame, root: String,
                           idCol: String = "vec_id",
                           maxChainDepth: Int = 4): Unit =
    new IvfCells(deletedIds.sparkSession, root, maxChainDepth).delete(deletedIds, idCol)

  /** The ids currently tombstoned (empty frame if none ever were). */
  def pqTombstones(spark: SparkSession, root: String): DataFrame =
    new IvfCells(spark, root).dead()

  /** Collapse the postings patch chain; if tombstones are pending, the
    * rewrite drops the dead rows and a second promote truncates the set
    * (crash between the two leaves stale tombstones over purged postings —
    * the anti-join then matches nothing, convergent like
    * [[AnnIndex.compactIvfIndex]]).
    */
  def compactIvfPqIndex(spark: SparkSession, root: String): Unit =
    new IvfCells(spark, root).compact()

  /** Probe: route each query to its `nProbe` nearest coarse cells (exact
    * integer distances, ties to the smaller cid), scan ONLY those cells'
    * live postings ([[IvfCells.candidates]]: partition-pruned cid IN list,
    * tombstones anti-joined out), and ADC-score candidates via
    * the broadcast (qid, m, cid, d) distance table — the [[adcTopK]]
    * arithmetic behind an index. Candidates explode to M narrow rows that
    * reduce map-side into the (qid, nid) score; the bounded per-key heap
    * cuts to k. Queries must be broadcast-small (same contract as
    * [[AnnIndex.probeIvf]]).
    */
  def probeIvfPq(spark: SparkSession, root: String, queries: DataFrame,
                 k: Int, nProbe: Int = 2,
                 pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import spark.implicits._
    val coarse = readCents(spark, root, "coarse")
    val book = readCents(spark, root, "book")
    val qg = Kmeans.quantizeGrid(queries).localCheckpoint(false)
    // routing: per (query, cell) exact distances over the tiny cross of
    // queries × nCells, ranked (dist, cid) — deterministic on any engine
    val coarseDf = coarse.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("ccid", "ccent")
    val cdist = aggregate(
      zip_with(col("gcode"), col("ccent"), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, v) => acc + v)
    val route = qg.select(col("vec_id").as("qid"), col("gcode"))
      .crossJoin(broadcast(coarseDf))
      .select(col("qid"), col("gcode"), col("ccid"), cdist.as("cdist"))
      .transform(graft.ops.TopK.topKPerKey(_, Seq("qid"),
        Seq(col("cdist").asc, col("ccid").asc), nProbe))
      .select(col("qid"), col("ccid").as("cid"))
      // lazy: the candidate read's cell collect is the one materializing
      // job (r21)
      .localCheckpoint(false)
    val postings = new IvfCells(spark, root).candidates(route, pred, "probeIvfPq")
    // distance table: query subvectors × codebook, qid × M × K rows
    val dt = qg.select(col("vec_id").as("qid"),
        posexplode(array((0 until M).map(m =>
          slice(col("gcode"), m * SubDim + 1, SubDim)): _*)).as(Seq("m", "sub")))
      .crossJoin(broadcast(book.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("bcid", "bcent")))
      .select(col("qid"), col("m").cast("long").as("m"), col("bcid"),
        aggregate(zip_with(col("sub"), col("bcent"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, v) => acc + v).as("d"))
    val cand = postings.join(broadcast(route), Seq("cid"))
    val scored = cand
      .select(col("qid"), col("nid"), posexplode(col("codes")).as(Seq("m", "bcid")))
      .withColumn("m", col("m").cast("long"))
      .join(broadcast(dt), Seq("qid", "m", "bcid"))
      .groupBy("qid", "nid")
      .agg(sum("d").as("score"))
      .transform(graft.ops.TopK.topKPerKey(_, Seq("qid"),
        Seq(col("score").asc, col("nid").asc), k))
    scored
  }

  private[graft] val TopN = 10

  // Oracle: the Kmeans Lloyd prefix over the pooled subvector relation
  // (vec_id in the prefix = sid here), then decode sid back to (vid, m),
  // build the query distance table from the SAME quantized subvectors (CTE
  // e) and final centroids (CTE c<Iters>), and replay ADC + the top-10 cut.
  private val q130Sql: String =
    s"""${Kmeans.lloydPrefixSql(
         s"""SELECT vec_id * $M + t.m AS vec_id,
            |       embedding[$SubDim * t.m + 1 : $SubDim * t.m + $SubDim] AS embedding
            |FROM embeddings
            |CROSS JOIN (SELECT unnest([${(0 until M).mkString(", ")}]) AS m) t""".stripMargin,
         k = K, iters = Iters, dim = SubDim)},
       |a AS (SELECT vec_id // $M AS vid, vec_id % $M AS m, cid FROM af),
       |qs AS (SELECT vec_id // $M AS qid, vec_id % $M AS m, g
       |       FROM e WHERE vec_id // $M < 5),
       |dt AS (
       |  SELECT qs.qid, qs.m, c.cid,
       |         SUM((qs.g[t.i] - c.cent[t.i]) * (qs.g[t.i] - c.cent[t.i])) AS d
       |  FROM qs CROSS JOIN c$Iters c CROSS JOIN range(1, ${SubDim + 1}) t(i)
       |  GROUP BY 1, 2, 3),
       |sc AS (
       |  SELECT dt.qid, a.vid, SUM(dt.d) AS score
       |  FROM a JOIN dt ON a.m = dt.m AND a.cid = dt.cid
       |  GROUP BY 1, 2)
       |SELECT CAST(qid AS BIGINT) AS qid,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY score, vid) AS BIGINT) AS rnk,
       |  CAST(vid AS BIGINT) AS vec_id, CAST(score AS BIGINT) AS score
       |FROM sc
       |QUALIFY rnk <= $TopN
       |ORDER BY qid, rnk""".stripMargin

  // ---- residual IVF+PQ: encode (vector − coarse centroid) -----------------

  /** Offset keeping residual codes nonnegative: grid codes and centroids
    * both live in [0, 2·GridOffset], so `g − cent + ResOffset` lands in
    * [0, 2·ResOffset] and the Lloyd M-step's truncating division stays
    * engine-exact (the [[Kmeans]] nonnegativity contract).
    */
  val ResOffset: Long = 2L * Kmeans.GridOffset

  /** Residual encoding — the faiss-standard refinement of [[buildIvfPqIndex]]:
    * the codebook quantizes `vector − its coarse centroid` instead of the
    * raw vector, so codebook capacity is spent on WITHIN-cell variation
    * (what actually distinguishes candidates sharing a cell) rather than
    * re-describing which cell a vector is in. Same storage layout and
    * versioning; the residual join is one broadcast of the metadata-sized
    * centroid table, and the re-used residual relation is materialized once
    * for the codebook training + encode pair of scans.
    */
  def buildIvfPqResidualIndex(corpus: DataFrame, root: String,
                              nCells: Int = Cells, coarseIters: Int = CoarseIters,
                              metaCols: Seq[String] = Nil): IvfPqIndex = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def centsDf(cs: Array[Array[Long]], idc: String, cc: String) =
      cs.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq.toDF(idc, cc)
    val g = Kmeans.quantizeGrid(corpus)
    val coarse = Kmeans.lloyd(g, nCells, coarseIters)
    val withRes = Kmeans.assignNearest(g, coarse)
      .select(col("vec_id") +: col("gcode") +: col("cid") +: metaCols.map(col): _*)
      .join(broadcast(centsDf(coarse, "ccid", "ccent")), col("cid") === col("ccid"))
      .select(col("vec_id") +: col("cid") +:
        zip_with(col("gcode"), col("ccent"),
          (a, b) => a - b + lit(ResOffset)).as("rcode") +: metaCols.map(col): _*)
      .localCheckpoint(false)
    val subs = withRes.select(col("vec_id"),
        posexplode(array((0 until M).map(m =>
          slice(col("rcode"), m * SubDim + 1, SubDim)): _*)).as(Seq("m", "sub")))
      .select((col("vec_id") * M + col("m")).as("sid"), col("sub"))
    val book = Kmeans.lloyd(subs, K, Iters, idCol = "sid", codeCol = "sub")
    val ct = table(spark, root, "coarse"); ct.promote(ct.stage(centsDf(coarse, "cid", "cent")))
    val bt = table(spark, root, "book");   bt.promote(bt.stage(centsDf(book, "cid", "cent")))
    val postings = withRes.select(col("vec_id").cast("long").as("nid") +:
      pqCodesExpr(book, col("rcode")).as("codes") +: col("cid") +:
      metaCols.map(col): _*)
    val pt = table(spark, root, "postings")
    pt.promote(pt.stage(postings, Seq("cid")))
    IvfPqIndex(root, nCells)
  }

  /** Probe the residual index: routing as in [[probeIvfPq]], but the query
    * re-expresses itself as a residual AGAINST EACH ROUTED CELL before the
    * ADC table builds — the distance table is keyed (qid, cell, m, code),
    * queries × nProbe × M × k rows, still metadata-sized under the
    * broadcast-small-queries contract. Candidates come from the same
    * [[IvfCells.candidates]] read, so tombstoned ids are never served.
    */
  def probeIvfPqResidual(spark: SparkSession, root: String, queries: DataFrame,
                         k: Int, nProbe: Int = 2,
                         pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import spark.implicits._
    val coarse = readCents(spark, root, "coarse")
    val book = readCents(spark, root, "book")
    val coarseDf = coarse.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("ccid", "ccent")
    val bookDf = book.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("bcid", "bcent")
    val qg = Kmeans.quantizeGrid(queries).localCheckpoint(false)
    val cdist = aggregate(
      zip_with(col("gcode"), col("ccent"), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, v) => acc + v)
    val route = qg.select(col("vec_id").as("qid"), col("gcode"))
      .crossJoin(broadcast(coarseDf))
      .select(col("qid"), col("gcode"), col("ccid"), col("ccent"), cdist.as("cdist"))
      .transform(graft.ops.TopK.topKPerKey(_, Seq("qid"),
        Seq(col("cdist").asc, col("ccid").asc), nProbe))
      .select(col("qid"), col("ccid").as("cid"),
        zip_with(col("gcode"), col("ccent"), (a, b) => a - b + lit(ResOffset)).as("rq"))
      .localCheckpoint(false)
    val postings = new IvfCells(spark, root).candidates(route, pred, "probeIvfPqResidual")
    val dt = route.select(col("qid"), col("cid"),
        posexplode(array((0 until M).map(m =>
          slice(col("rq"), m * SubDim + 1, SubDim)): _*)).as(Seq("m", "sub")))
      .crossJoin(broadcast(bookDf))
      .select(col("qid"), col("cid"), col("m").cast("long").as("m"), col("bcid"),
        aggregate(zip_with(col("sub"), col("bcent"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, v) => acc + v).as("d"))
    postings.join(broadcast(route.select("qid", "cid")), Seq("cid"))
      .select(col("qid"), col("cid"), col("nid"), posexplode(col("codes")).as(Seq("m", "bcid")))
      .withColumn("m", col("m").cast("long"))
      .join(broadcast(dt), Seq("qid", "cid", "m", "bcid"))
      .groupBy("qid", "nid")
      .agg(sum("d").as("score"))
      .transform(graft.ops.TopK.topKPerKey(_, Seq("qid"),
        Seq(col("score").asc, col("nid").asc), k))
  }

  private[graft] val NProbe = 2

  private[scale] def subvecSql: String =
    s"""SELECT vec_id * $M + t.m AS vec_id,
       |       embedding[$SubDim * t.m + 1 : $SubDim * t.m + $SubDim] AS embedding
       |FROM embeddings
       |CROSS JOIN (SELECT unnest([${(0 until M).mkString(", ")}]) AS m) t""".stripMargin

  // Oracle for the composed index: TWO side-by-side Lloyd replays (f_ = the
  // 64-dim coarse quantizer, p_ = the 16-dim codebook over pooled
  // subvectors), then the probe replay — route each query to its NProbe
  // nearest coarse cells, restrict candidates to those cells' assignments,
  // ADC-score through the codebook distance table, cut to the top-10.
  private val q132Sql: String =
    s"""WITH ${Kmeans.lloydCtes("SELECT vec_id, embedding FROM embeddings",
         Cells, CoarseIters, 64, "f_")},
       |${Kmeans.lloydCtes(subvecSql, K, Iters, SubDim, "p_")},
       |a AS (SELECT vec_id // $M AS vid, vec_id % $M AS m, cid FROM p_af),
       |fr AS (
       |  SELECT e.vec_id AS qid, c.cid,
       |         SUM((e.g[t.i] - c.cent[t.i]) * (e.g[t.i] - c.cent[t.i])) AS dist
       |  FROM f_e e CROSS JOIN f_c$CoarseIters c CROSS JOIN range(1, 65) t(i)
       |  WHERE e.vec_id < 5
       |  GROUP BY 1, 2),
       |route AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY dist, cid) AS rn
       |    FROM fr) WHERE rn <= $NProbe),
       |qs AS (SELECT vec_id // $M AS qid, vec_id % $M AS m, g
       |       FROM p_e WHERE vec_id // $M < 5),
       |dt AS (
       |  SELECT qs.qid, qs.m, c.cid,
       |         SUM((qs.g[t.i] - c.cent[t.i]) * (qs.g[t.i] - c.cent[t.i])) AS d
       |  FROM qs CROSS JOIN p_c$Iters c CROSS JOIN range(1, ${SubDim + 1}) t(i)
       |  GROUP BY 1, 2, 3),
       |cand AS (SELECT r.qid, f.vec_id AS vid FROM route r JOIN f_af f ON f.cid = r.cid),
       |sc AS (
       |  SELECT cand.qid, cand.vid, SUM(dt.d) AS score
       |  FROM cand JOIN a ON a.vid = cand.vid
       |  JOIN dt ON dt.qid = cand.qid AND dt.m = a.m AND dt.cid = a.cid
       |  GROUP BY 1, 2)
       |SELECT CAST(qid AS BIGINT) AS qid,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY score, vid) AS BIGINT) AS rnk,
       |  CAST(vid AS BIGINT) AS vec_id, CAST(score AS BIGINT) AS score
       |FROM sc QUALIFY rnk <= $TopN ORDER BY qid, rnk""".stripMargin

  // Oracle for the residual index: the coarse replay (f_), the residual
  // derivation r0 (g − assigned centroid + offset), the codebook replay
  // (p_, raw codes) over pooled residual subvectors, then the probe —
  // routing, PER-CELL query residuals, the (qid, cell, m, code) ADC table,
  // and the top-10 cut.
  private val q134Sql: String =
    s"""WITH ${Kmeans.lloydCtes("SELECT vec_id, embedding FROM embeddings",
         Cells, CoarseIters, 64, "f_")},
       |r0 AS (
       |  SELECT e.vec_id,
       |         list_transform(range(1, 65),
       |           i -> e.g[CAST(i AS INT)] - c.cent[CAST(i AS INT)] + $ResOffset) AS r
       |  FROM f_e e JOIN f_af a USING (vec_id) JOIN f_c$CoarseIters c ON c.cid = a.cid),
       |${Kmeans.lloydCtes(
           s"""SELECT vec_id * $M + t.m AS vec_id,
              |       r[$SubDim * t.m + 1 : $SubDim * t.m + $SubDim] AS embedding
              |FROM r0 CROSS JOIN (SELECT unnest([${(0 until M).mkString(", ")}]) AS m) t""".stripMargin,
           K, Iters, SubDim, "p_", raw = true)},
       |a AS (SELECT vec_id // $M AS vid, vec_id % $M AS m, cid AS bcid FROM p_af),
       |fr AS (
       |  SELECT e.vec_id AS qid, c.cid,
       |         SUM((e.g[t.i] - c.cent[t.i]) * (e.g[t.i] - c.cent[t.i])) AS dist
       |  FROM f_e e CROSS JOIN f_c$CoarseIters c CROSS JOIN range(1, 65) t(i)
       |  WHERE e.vec_id < 5 GROUP BY 1, 2),
       |route AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY dist, cid) AS rn
       |    FROM fr) WHERE rn <= $NProbe),
       |qr AS (
       |  SELECT r.qid, r.cid,
       |         list_transform(range(1, 65),
       |           i -> e.g[CAST(i AS INT)] - c.cent[CAST(i AS INT)] + $ResOffset) AS rq
       |  FROM route r JOIN f_e e ON e.vec_id = r.qid JOIN f_c$CoarseIters c ON c.cid = r.cid),
       |qs AS (
       |  SELECT qid, cid, t.m, rq[$SubDim * t.m + 1 : $SubDim * t.m + $SubDim] AS sub
       |  FROM qr CROSS JOIN (SELECT unnest([${(0 until M).mkString(", ")}]) AS m) t),
       |dt AS (
       |  SELECT qs.qid, qs.cid, qs.m, b.cid AS bcid,
       |         SUM((qs.sub[t.i] - b.cent[t.i]) * (qs.sub[t.i] - b.cent[t.i])) AS d
       |  FROM qs CROSS JOIN p_c$Iters b CROSS JOIN range(1, ${SubDim + 1}) t(i)
       |  GROUP BY 1, 2, 3, 4),
       |cand AS (SELECT r.qid, r.cid, f.vec_id AS vid
       |         FROM route r JOIN f_af f ON f.cid = r.cid),
       |sc AS (
       |  SELECT cand.qid, cand.vid, SUM(dt.d) AS score
       |  FROM cand JOIN a ON a.vid = cand.vid
       |  JOIN dt ON dt.qid = cand.qid AND dt.cid = cand.cid
       |         AND dt.m = a.m AND dt.bcid = a.bcid
       |  GROUP BY 1, 2)
       |SELECT CAST(qid AS BIGINT) AS qid,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY score, vid) AS BIGINT) AS rnk,
       |  CAST(vid AS BIGINT) AS vec_id, CAST(score AS BIGINT) AS score
       |FROM sc QUALIFY rnk <= $TopN ORDER BY qid, rnk""".stripMargin

  // Oracle for the append lifecycle: models replayed from the BASE corpus
  // only (build never saw the twins), the twin batch assigned and encoded
  // under those fixed models in extra CTEs, the union relations probed
  // exactly as q132 — so the append path is value-certified end to end,
  // not just law-tested.
  /** The q139 build→append→probe replay, parameterized: `candFilter` is an
    * extra predicate on candidate ids (q208's tombstone filter — deleted
    * ids must not be scored), `phases` crosses the answer with the
    * served/compacted phase axis (q208 must serve identically before and
    * after the physical purge).
    */
  private def appendLifecycleSql(candFilter: String, phases: Boolean): String = {
    val tail =
      if (!phases)
        s"""SELECT CAST(qid AS BIGINT) AS qid,
           |  CAST(row_number() OVER (PARTITION BY qid ORDER BY score, vid) AS BIGINT) AS rnk,
           |  CAST(vid AS BIGINT) AS vec_id, CAST(score AS BIGINT) AS score
           |FROM sc QUALIFY rnk <= $TopN ORDER BY qid, rnk""".stripMargin
      else
        s""",topk AS (
           |  SELECT CAST(qid AS BIGINT) AS qid,
           |    CAST(row_number() OVER (PARTITION BY qid ORDER BY score, vid) AS BIGINT) AS rnk,
           |    CAST(vid AS BIGINT) AS vec_id, CAST(score AS BIGINT) AS score
           |  FROM sc QUALIFY rnk <= $TopN)
           |SELECT phase, qid, rnk, vec_id, score
           |FROM topk CROSS JOIN (SELECT unnest(['served','compacted']) AS phase)
           |ORDER BY phase, qid, rnk""".stripMargin
    s"""WITH ${Kmeans.lloydCtes("SELECT vec_id, embedding FROM embeddings",
         Cells, CoarseIters, 64, "f_")},
       |${Kmeans.lloydCtes(subvecSql, K, Iters, SubDim, "p_")},
       |tw AS (
       |  SELECT vec_id + 100000 AS vid,
       |         list_transform(embedding, x -> x + CAST(0.02 AS FLOAT)) AS embedding
       |  FROM embeddings WHERE vec_id < 5),
       |twg AS (
       |  SELECT vid,
       |         list_transform(embedding, x ->
       |           CAST(round(least(greatest(CAST(x AS DOUBLE), -2.0), 2.0) * 256)
       |                AS BIGINT) + 512) AS g
       |  FROM tw),
       |twd AS (
       |  SELECT t.vid, c.cid,
       |         SUM((t.g[i.i] - c.cent[i.i]) * (t.g[i.i] - c.cent[i.i])) AS dist
       |  FROM twg t CROSS JOIN f_c$CoarseIters c CROSS JOIN range(1, 65) i(i)
       |  GROUP BY 1, 2),
       |twa AS (
       |  SELECT vid, cid FROM (
       |    SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY dist, cid) AS rn
       |    FROM twd) WHERE rn = 1),
       |tws AS (
       |  SELECT vid, t.m, g[$SubDim * t.m + 1 : $SubDim * t.m + $SubDim] AS sub
       |  FROM twg CROSS JOIN (SELECT unnest([${(0 until M).mkString(", ")}]) AS m) t),
       |twpd AS (
       |  SELECT s.vid, s.m, b.cid,
       |         SUM((s.sub[i.i] - b.cent[i.i]) * (s.sub[i.i] - b.cent[i.i])) AS dist
       |  FROM tws s CROSS JOIN p_c$Iters b CROSS JOIN range(1, ${SubDim + 1}) i(i)
       |  GROUP BY 1, 2, 3),
       |twcode AS (
       |  SELECT vid, m, cid AS bcid FROM (
       |    SELECT vid, m, cid, row_number() OVER (PARTITION BY vid, m ORDER BY dist, cid) AS rn
       |    FROM twpd) WHERE rn = 1),
       |ua AS (SELECT vec_id AS vid, cid FROM f_af UNION ALL SELECT vid, cid FROM twa),
       |uc AS (SELECT vec_id // $M AS vid, vec_id % $M AS m, cid AS bcid FROM p_af
       |       UNION ALL SELECT vid, m, bcid FROM twcode),
       |fr AS (
       |  SELECT e.vec_id AS qid, c.cid,
       |         SUM((e.g[t.i] - c.cent[t.i]) * (e.g[t.i] - c.cent[t.i])) AS dist
       |  FROM f_e e CROSS JOIN f_c$CoarseIters c CROSS JOIN range(1, 65) t(i)
       |  WHERE e.vec_id < 5 GROUP BY 1, 2),
       |route AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY dist, cid) AS rn
       |    FROM fr) WHERE rn <= $NProbe),
       |qs AS (SELECT vec_id // $M AS qid, vec_id % $M AS m, g
       |       FROM p_e WHERE vec_id // $M < 5),
       |dt AS (
       |  SELECT qs.qid, qs.m, c.cid,
       |         SUM((qs.g[t.i] - c.cent[t.i]) * (qs.g[t.i] - c.cent[t.i])) AS d
       |  FROM qs CROSS JOIN p_c$Iters c CROSS JOIN range(1, ${SubDim + 1}) t(i)
       |  GROUP BY 1, 2, 3),
       |cand AS (SELECT r.qid, f.vid FROM route r JOIN ua f ON f.cid = r.cid$candFilter),
       |sc AS (
       |  SELECT cand.qid, cand.vid, SUM(dt.d) AS score
       |  FROM cand JOIN uc a ON a.vid = cand.vid
       |  JOIN dt ON dt.qid = cand.qid AND dt.m = a.m AND dt.cid = a.bcid
       |  GROUP BY 1, 2)
       |$tail""".stripMargin
  }

  private val q139Sql: String = appendLifecycleSql("", phases = false)

  private val q208Sql: String = appendLifecycleSql(
    """
      |         WHERE NOT (f.vid < 100000 AND f.vid % 13 = 2)
      |           AND NOT (f.vid >= 100000 AND f.vid % 2 = 0)""".stripMargin,
    phases = true)

  val queries: Seq[Q] = Seq(
    Q("q130_pq_topk", q130Sql) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val subs = subvectors(Tables.embeddings(s, d).select("vec_id", "embedding"))
      val cents = trainCodebook(subs)
      val codes = encode(subs, cents)
      val qsubs = subs.filter(col("vec_id") < 5)
      val topk = adcTopK(s, codes, qsubs, cents, TopN)
      // rank the k·|queries| survivors (bounded) for a stable output shape
      topk.select(col("qid").cast("long").as("qid"),
          row_number().over(Window.partitionBy("qid")
            .orderBy(col("score").asc, col("vec_id").asc)).cast("long").as("rnk"),
          col("vec_id").cast("long").as("vec_id"),
          col("score").cast("long").as("score"))
        .orderBy("qid", "rnk")
    },

    // The composed production index end-to-end: build (coarse quantizer +
    // codebook + cell-partitioned code postings as versioned tables), then
    // probe — cell routing, partition-pruned candidate scan, broadcast-ADC
    // scoring, bounded heap cut. The oracle replays BOTH trainings and the
    // full probe arithmetic, so routing, encoding, and scoring are all
    // value-certified, not just "returns k rows".
    Q("q132_ivfpq_topk", q132Sql) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val root = s"${graft.core.Scratch.dir("graft-q132")}/ivfpq"
      buildIvfPqIndex(emb, root)
      probeIvfPq(s, root, emb.filter(col("vec_id") < 5), k = TopN, nProbe = NProbe)
        .select(col("qid").cast("long").as("qid"),
          row_number().over(Window.partitionBy("qid")
            .orderBy(col("score").asc, col("nid").asc)).cast("long").as("rnk"),
          col("nid").cast("long").as("vec_id"),
          col("score").cast("long").as("score"))
        .orderBy("qid", "rnk")
    },

    // q132's serving answer reached through the APPEND path: build on the
    // base corpus, stream the twin batch in via appendToIvfPqIndex (fixed
    // models, patched cells), probe — every append-side number
    // (assignment, codes, scores) value-checked against the SQL replay.
    Q("q139_ivfpq_append", q139Sql) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val twins = emb.filter(col("vec_id") < 5)
        .withColumn("vec_id", col("vec_id") + 100000)
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(0.02f)).cast("array<float>"))
      val root = s"${graft.core.Scratch.dir("graft-q139")}/ivfpq"
      buildIvfPqIndex(emb, root)
      appendToIvfPqIndex(twins, root)
      probeIvfPq(s, root, emb.filter(col("vec_id") < 5), k = TopN, nProbe = NProbe)
        .select(col("qid").cast("long").as("qid"),
          row_number().over(Window.partitionBy("qid")
            .orderBy(col("score").asc, col("nid").asc)).cast("long").as("rnk"),
          col("nid").cast("long").as("vec_id"),
          col("score").cast("long").as("score"))
        .orderBy("qid", "rnk")
    },

    // q139's lifecycle extended with TOMBSTONE DELETES: build on the base
    // corpus, append the twins, then delete the %13 organic stratum (first
    // batch — tombstone stage path) and every even twin (second batch —
    // the stageAppend path), probe through the anti-join ('served'),
    // physically purge via compaction and probe again ('compacted'). The
    // oracle is the full q139 replay with the deleted ids excluded from
    // the candidate set, crossed with both phases: delete-then-probe ==
    // index-built-without-deleted at every lifecycle point.
    Q("q208_ivfpq_delete", q208Sql) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val twins = emb.filter(col("vec_id") < 5)
        .withColumn("vec_id", col("vec_id") + 100000)
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(0.02f)).cast("array<float>"))
      val root = s"${graft.core.Scratch.dir("graft-q208")}/ivfpq"
      buildIvfPqIndex(emb, root)
      appendToIvfPqIndex(twins, root)
      deleteFromIvfPqIndex(emb.select("vec_id").filter(col("vec_id") % 13 === 2), root)
      deleteFromIvfPqIndex(
        twins.select("vec_id").filter(col("vec_id") % 2 === 0), root)
      def probe(phase: String) = probeIvfPq(
          s, root, emb.filter(col("vec_id") < 5), k = TopN, nProbe = NProbe)
        .select(col("qid").cast("long").as("qid"),
          row_number().over(Window.partitionBy("qid")
            .orderBy(col("score").asc, col("nid").asc)).cast("long").as("rnk"),
          col("nid").cast("long").as("vec_id"),
          col("score").cast("long").as("score"))
        .withColumn("phase", lit(phase))
      val served = probe("served").localCheckpoint()
      compactIvfPqIndex(s, root)
      served.unionByName(probe("compacted"))
        .select("phase", "qid", "rnk", "vec_id", "score")
        .orderBy("phase", "qid", "rnk")
    },

    // The faiss-standard residual refinement: same lifecycle as q132 but
    // the codebook quantizes (vector − coarse centroid) and the probe
    // builds per-cell query residuals. Both trainings, the residual
    // derivation, routing, and per-cell ADC replayed value-exact.
    Q("q134_ivfpq_residual", q134Sql) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val root = s"${graft.core.Scratch.dir("graft-q134")}/ivfpq-res"
      buildIvfPqResidualIndex(emb, root)
      probeIvfPqResidual(s, root, emb.filter(col("vec_id") < 5), k = TopN, nProbe = NProbe)
        .select(col("qid").cast("long").as("qid"),
          row_number().over(Window.partitionBy("qid")
            .orderBy(col("score").asc, col("nid").asc)).cast("long").as("rnk"),
          col("nid").cast("long").as("vec_id"),
          col("score").cast("long").as("score"))
        .orderBy("qid", "rnk")
    },
  )
}
