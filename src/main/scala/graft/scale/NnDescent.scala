package graft.scale

import graft.core.Par
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-navigable ANN: a k-NN graph built by NN-descent (Dong, Moses &
  * Li, WWW 2011) served by greedy beam search — the HNSW/NSG family's
  * flat-graph core, INTEGER-EXACT end to end so the whole structure is
  * value-oracle-able: similarities are the int8 BIGINT dot (ties to the
  * smaller id), candidate generation and pruning are set algebra +
  * rank-with-explicit-tiebreaks, and the deterministic "randomness" the
  * algorithm needs (init graph, reverse-edge sampling, entry points) is
  * md5 order — the same cross-engine random permutation the sampling
  * operators use.
  *
  * Scale shape:
  *   - init: q193's hash-bucketed successor pairing — one keyed window
  *     over (bucket, md5-order), no cross product;
  *   - each descent round: the LOCAL JOIN of NN-descent — candidates are
  *     pairs of nodes sharing a neighbor, so the work is Σ_w deg(w)²,
  *     with deg capped at 2k by the reverse-edge cap (the paper's reverse
  *     sampling, made deterministic) — never N²; one shuffle per round on
  *     the shared-neighbor key, one on the node key for the top-k prune;
  *   - probe: each beam round touches beam×k candidate rows per query
  *     against the broadcast query panel — index-probe-bounded, the
  *     corpus is never scanned after the graph is built.
  */
object NnDescent {

  private def hh(c: Column): Column = md5(c.cast("string"))

  /** Per-round lineage cut for this family's loops. MEASURED both ways in
    * r21: the lazy form (materialize all rounds inside one terminal
    * action) looked right by the jobs-per-query argument but REGRESSED
    * q232/q233 in-suite (+26%/+34%, q232 cold 8.9 s → 22 s) — a round's
    * output is consumed by 2–3 stages of the SAME downstream job (the
    * undirected self-join, the candidate union), and concurrent stages
    * racing a not-yet-materialized persisted RDD duplicate the whole
    * round's compute. Eager per-round checkpoints serialize that
    * materialization exactly once, which is worth more than the saved
    * job launches. Kept as the policy call it always was.
    */
  private def cut(df: DataFrame, policy: CheckpointPolicy): DataFrame =
    policy.checkpoint(df)

  /** (nid, cc[, meta...]) int8 code relation for a corpus. `metaCols`
    * ride along for predicate-filtered probes (the AnnIndex payload
    * scheme) — the descent and the walk ignore them.
    */
  def codes(corpus: DataFrame, idCol: String = "vec_id",
            vecCol: String = "embedding",
            metaCols: Seq[String] = Nil): DataFrame =
    Similarity.quantizeInt8(corpus, vecCol)
      .select(col(idCol).cast("long").as("nid") +: col("qcode").as("cc") +:
        metaCols.map(col): _*)

  /** Deterministic init graph: within each of `buckets` md5 buckets, each
    * node points at its next `k` successors in (md5, nid) order — arbitrary
    * but hash-scattered, which is all NN-descent needs to converge; tail
    * nodes of a bucket start with fewer out-edges and are healed by the
    * reverse edges of round one.
    */
  def initGraph(ids: DataFrame, k: Int, buckets: Int = 16): DataFrame = {
    val h = ids.select(col("nid"), hh(col("nid")).as("__h"),
      (conv(substring(hh(col("nid")), 1, 15), 16, 10).cast("long") % buckets)
        .as("__b"))
    val w = Window.partitionBy("__b").orderBy(col("__h"), col("nid"))
    val leads = array((1 to k).map(j => lead(col("nid"), j).over(w)): _*)
    // two selects: a generator's argument cannot contain window expressions
    h.select(col("nid").as("u"), leads.as("__ls"))
      .select(col("u"), explode(col("__ls")).as("v"))
      .filter(col("v").isNotNull)
  }

  /** Forward edges plus reverse edges capped at `k` per target (md5-order
    * deterministic sample) — bounds every node's undirected degree at 2k,
    * which is what keeps the local join quadratic-in-k, not in the hub's
    * in-degree.
    */
  private[scale] def undirected(e: DataFrame, k: Int): DataFrame = {
    val rev = e.select(col("v").as("u"), col("u").as("v"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("u").orderBy(hh(col("v")), col("v"))))
      .filter(col("__rn") <= k).drop("__rn")
    e.select("u", "v").unionByName(rev).distinct()
  }

  /** One NN-descent round: every pair of nodes sharing a neighbor (in the
    * degree-capped undirected graph) becomes a candidate, the union with
    * the current edges is rescored, and each node keeps its `k` best
    * (score DESC, id ASC).
    */
  def descentRound(e: DataFrame, cz: DataFrame, k: Int,
                   policy: CheckpointPolicy = CheckpointPolicy.Local): DataFrame = {
    val und = cut(undirected(e, k), policy)
    val pairs = und.select(col("u").as("w"), col("v").as("x1"))
      .join(und.select(col("u").as("w"), col("v").as("x2")), "w")
      .filter(col("x1") =!= col("x2"))
      .select(col("x1").as("u"), col("x2").as("v"))
    val cand = e.select("u", "v").unionByName(pairs).distinct()
    val scored = cand
      .join(cz.select(col("nid").as("u"), col("cc").as("cu")), "u")
      .join(cz.select(col("nid").as("v"), col("cc").as("cv")), "v")
      .select(col("u"), col("v"),
        Similarity.int8Dot(col("cu"), col("cv")).as("score"))
    scored.withColumn("__rn", row_number().over(
        Window.partitionBy("u").orderBy(col("score").desc, col("v"))))
      .filter(col("__rn") <= k)
      .select("u", "v", "score")
  }

  /** Build the k-NN graph: init + `iters` descent rounds. Returns
    * (u, v, score) with exactly ≤ k out-edges per node.
    */
  def buildKnnGraph(corpus: DataFrame, k: Int = 8, iters: Int = 2,
                    buckets: Int = 16, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    policy: CheckpointPolicy = CheckpointPolicy.Local): DataFrame = {
    require(k >= 1 && iters >= 1)
    val cz = cut(codes(corpus, idCol, vecCol), policy)
    var e = cut(initGraph(cz.select("nid"), k, buckets), policy)
    for (_ <- 1 to iters) e = cut(descentRound(e, cz, k, policy), policy)
    e
  }

  /** Greedy beam search over a built graph (monotone variant: the beam is
    * the top-`beam` of EVERYTHING visited so far, which makes each round a
    * pure rank over an accumulating set — replayable as chained SQL).
    * Entry points are the `nSeeds` smallest nodes in (md5, id) order;
    * each round expands the beam's (degree-capped undirected) neighbors,
    * scores only the unvisited ones against the query, and re-ranks.
    * Output: (qid, rnk, nid, score), k rows per query — self-matches
    * excluded like every top-k form here.
    */
  def beamProbe(graph: DataFrame, cz: DataFrame, queries: DataFrame, k: Int,
                beam: Int, rounds: Int, graphK: Int = 8, nSeeds: Int = 8,
                idCol: String = "vec_id", vecCol: String = "embedding",
                exclude: Option[DataFrame] = None,
                allow: Option[DataFrame] = None): DataFrame = {
    val qz = Similarity.quantizeInt8(queries, vecCol)
      .select(col(idCol).cast("long").as("qid"), col("qcode").as("qc"))
    val seeds = cz.select("nid").orderBy(hh(col("nid")), col("nid")).limit(nSeeds)
    beamLoop(graph, qz.select("qid").crossJoin(seeds),
      k, beam, rounds, graphK, exclude, int8Scorer(cz, qz), allow)
  }

  /** Deterministic upper-layer membership: md5-derived value mod `s` == 0
    * — the HNSW level draw (Malkov & Yashunin 2016 assign each node a
    * geometric random level; hash-mod sampling is the same distribution
    * for one extra layer, made deterministic so the whole structure stays
    * value-oracle-able). Same hash→integer pairing as [[initGraph]]'s
    * bucketing, so both engines agree bit-for-bit on membership.
    */
  def layerPredicate(id: Column, s: Int): Column =
    conv(substring(md5(id.cast("string")), 1, 15), 16, 10).cast("long") % s === 0

  /** Two-layer hierarchical probe: greedy beam walk over the UPPER layer's
    * graph (a 1/`s` md5 sample of the corpus — small diameter, so a fixed
    * seed set stays adequate as the corpus grows), whose top results
    * become per-query entry points for the full lower-layer walk — the
    * HNSW descent, flattened to two layers. This removes the fixed-seed
    * scale problem WITHOUT a side-structure: at 100× corpus the upper
    * layer grows 100× but its walk still starts from md5 seeds over a
    * relation 1/s the size, and the lower walk starts already near the
    * answer. Budget accounting is honest: the upper walk's scored
    * candidates count toward the probe budget (see
    * [[Recall.hierRecallTable]]).
    */
  def hierProbe(gU: DataFrame, czU: DataFrame, gL: DataFrame, czL: DataFrame,
                queries: DataFrame, k: Int, beam: Int, rounds: Int,
                upperBeam: Int = 4, graphK: Int = 8, nSeeds: Int = 8,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val entries = beamProbe(gU, czU, queries, nSeeds, upperBeam, rounds,
        graphK, nSeeds, idCol, vecCol)
      .select("qid", "nid")
    beamProbeSeeded(gL, czL, queries, entries, k, beam, rounds, graphK,
      idCol, vecCol)
  }

  /** [[beamProbe]] with PER-QUERY entry points `(qid, nid)` instead of the
    * fixed md5-order global seeds — the routed form. Fixed seeds make the
    * walk length grow with corpus diameter (at 100× scale a random entry
    * is simply far from everything); routing each query through an IVF
    * coarse quantizer to its nearest cells' representative nodes
    * ([[Recall.ivfEntryPoints]]) starts the greedy walk already near the
    * answer — the standard coarse-quantizer entry-point fix (the r14
    * verdict's missing #4). q215 certifies the recall gain at equal
    * candidate budget; the dominance law lives in NnDescentSpec.
    */
  def beamProbeSeeded(graph: DataFrame, cz: DataFrame, queries: DataFrame,
                      seeds: DataFrame, k: Int, beam: Int, rounds: Int,
                      graphK: Int = 8,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      exclude: Option[DataFrame] = None): DataFrame = {
    val qz = Similarity.quantizeInt8(queries, vecCol)
      .select(col(idCol).cast("long").as("qid"), col("qcode").as("qc"))
    beamLoop(graph, seeds.select("qid", "nid"), k, beam, rounds, graphK,
      exclude, int8Scorer(cz, qz))
  }

  /** DiskANN-style compressed serve (Subramanya et al., NeurIPS 2019): the
    * SAME navigable graph — built at full (int8) precision — walked with
    * candidates scored from PRODUCT-QUANTIZED codes only: per query one
    * (m, cid) → distance table over the [[Pq]] codebook (M·K integer
    * entries, broadcast), each candidate scored as Σ_m dt[m, code_m] — so
    * the walk never touches a full vector, the 100 TB serving memory
    * story. The ADC distance is negated into the walk's score-DESC
    * machinery (ties to the smaller nid either way). The walk's
    * ADC-top-`rerankN` survivors are then RERANKED with the exact int8
    * dot (DiskANN's full-precision rerank from disk) and cut to `k`.
    * Budget accounting: the rerank's `rerankN` exact scorings count
    * toward the probe budget (see [[Recall.pqWalkTable]]).
    */
  def beamProbePq(graph: DataFrame, pqCodes: DataFrame,
                  cents: Array[Array[Long]], cz: DataFrame,
                  queries: DataFrame, k: Int, beam: Int, rounds: Int,
                  rerankN: Int, graphK: Int = 8, nSeeds: Int = 8,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  exclude: Option[DataFrame] = None): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val centsDf = cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cid", "cent")
    val sq = aggregate(
      zip_with(col("gcode"), col("cent"), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, v) => acc + v)
    val dt = Kmeans.quantizeGrid(Pq.subvectors(queries))
      .select(col(idCol).cast("long").as("qid"), col("m"), col("gcode"))
      .crossJoin(centsDf)
      .select(col("qid"), col("m"), col("cid"), sq.as("d"))
      .localCheckpoint(false)
    val adcScorer: DataFrame => DataFrame = cand => cand
      .filter(col("qid") =!= col("nid"))
      .join(pqCodes.select(col("vec_id").cast("long").as("nid"),
        col("m"), col("cid")), "nid")
      .join(broadcast(dt), Seq("qid", "m", "cid"))
      .groupBy("qid", "nid").agg((-sum("d")).as("score"))
    val seeds = cz.select("nid").orderBy(hh(col("nid")), col("nid")).limit(nSeeds)
    val qids = dt.select("qid").distinct()
    val walked = beamLoop(graph, qids.crossJoin(seeds), rerankN, beam, rounds,
      graphK, exclude, adcScorer)
    val qz = Similarity.quantizeInt8(queries, vecCol)
      .select(col(idCol).cast("long").as("qid"), col("qcode").as("qc"))
    Similarity.longScoreTopK(
      int8Scorer(cz, qz)(walked.select("qid", "nid")), k)
  }

  /** The int8-dot candidate scorer every non-compressed walk uses:
    * (qid, nid) pairs → (qid, nid, score), self-matches dropped.
    */
  private def int8Scorer(cz: DataFrame, qz: DataFrame): DataFrame => DataFrame =
    cand => cand
      .filter(col("qid") =!= col("nid"))
      .join(cz, "nid").join(broadcast(qz), "qid")
      .select(col("qid"), col("nid"),
        Similarity.int8Dot(col("qc"), col("cc")).as("score"))

  /** `exclude` is the soft-delete serve filter (a one-column `nid`
    * relation): excluded nodes still ROUTE — they enter the beam and their
    * neighbors expand exactly as before, the HNSW tombstone semantics —
    * but are dropped from the final ranking, so the result is the best k
    * SURVIVING nodes of the identical walk. `scorer` maps candidate
    * (qid, nid) pairs to (qid, nid, score) — higher is closer (compressed
    * scorers negate their distance), ties to the smaller nid throughout.
    */
  private def beamLoop(graph: DataFrame, seeds: DataFrame, k: Int, beam: Int,
                       rounds: Int, graphK: Int,
                       exclude: Option[DataFrame],
                       scorer: DataFrame => DataFrame,
                       allow: Option[DataFrame] = None): DataFrame = {
    // visited stays EAGER per round: each round's set is consumed by
    // THREE stages of the next round's job (beam rank, the anti-join, the
    // union), and lazy materialization lets those stages race and
    // recompute the walk (measured in-suite r21: q233 +34%). und is the
    // single-consumer side, so its lazy checkpoint folds into round 1's
    // eager job for free.
    val und = undirected(graph, graphK).localCheckpoint(false)
    var visited = scorer(seeds).localCheckpoint()
    for (_ <- 1 to rounds) {
      val beamDf = visited.withColumn("__rn", row_number().over(
          Window.partitionBy("qid").orderBy(col("score").desc, col("nid"))))
        .filter(col("__rn") <= beam)
      val nbrs = beamDf.select(col("qid"), col("nid"))
        .join(und.withColumnRenamed("u", "nid"), "nid")
        .select(col("qid"), col("v").as("nid")).distinct()
      val fresh = nbrs.join(visited.select("qid", "nid"), Seq("qid", "nid"), "left_anti")
      visited = visited.unionByName(scorer(fresh)).localCheckpoint()
    }
    val excluded = exclude.fold(visited)(d =>
      visited.join(d.select("nid"), Seq("nid"), "left_anti"))
    // `allow` is the predicate-filtered serve (the exclusion's dual): the
    // walk routes through every node, the ranking keeps matching ones only
    val served = allow.fold(excluded)(a =>
      excluded.join(a.select("nid"), Seq("nid"), "left_semi"))
    Similarity.longScoreTopK(served, k)
  }

  /** Persistent graph-navigable ANN index with the house LSM lifecycle
    * (build / probe / takedown-delete / compact), completing the delete
    * story across every index family (q205/q208 IVF+PQ, q212 postings,
    * q213 near-dup signatures, q217 PageRank).
    *
    * Deletes are SOFT (the HNSW tombstone scheme): an O(batch) tombstone
    * append; probes keep walking THROUGH tombstoned nodes — severing their
    * edges would disconnect routes and silently lose recall — but never
    * return them. [[compactPurge]] is this family's rebuild point: a
    * navigable graph's neighbor lists cannot be locally repaired without
    * changing what a fresh build would produce, so compaction re-runs the
    * (deterministic) NN-descent build on the surviving codes and truncates
    * the tombstones — after it, the index is BIT-IDENTICAL to one built
    * from scratch on the surviving corpus (the q218 law, phase
    * 'compacted'; the soft phase is oracled as the identical walk with
    * tombstones filtered from the final ranking only).
    */
  final class NavIndex(spark: org.apache.spark.sql.SparkSession, root: String,
                       graphK: Int = 8, iters: Int = 2, buckets: Int = 16,
                       maxChainDepth: Int = 4,
                       policy: CheckpointPolicy = CheckpointPolicy.Local,
                       metaCols: Seq[String] = Nil) {
    import graft.write.VersionedTable

    val codes = new VersionedTable(spark, s"$root/codes")
    val graph = new VersionedTable(spark, s"$root/graph")
    private val ts =
      new graft.write.TombstoneSet(spark, s"$root/tombstones", "nid",
        maxChainDepth)
    val tombstones: VersionedTable = ts.table

    def build(corpus: DataFrame, idCol: String = "vec_id",
              vecCol: String = "embedding"): Unit = {
      val cz = cut(NnDescent.codes(corpus, idCol, vecCol, metaCols), policy)
      codes.promote(codes.stage(cz))
      var e = cut(initGraph(cz.select("nid"), graphK, buckets), policy)
      for (_ <- 1 to iters)
        e = cut(descentRound(e, cz, graphK, policy), policy)
      graph.promote(graph.stage(e))
    }

    /** O(batch) tombstone append; unknown ids are no-ops, re-deletes
      * idempotent (the [[graft.streaming.NearDupIndex]] protocol).
      */
    def delete(ids: DataFrame, idCol: String = "vec_id"): Unit =
      ts.add(ids, idCol)

    /** Append a batch of new vectors WITHOUT the full rebuild — the
      * incremental-insert half of the lifecycle ([[graft.scale.AnnIndex]]'s
      * append, for the graph family). Each new vector beam-walks the
      * EXISTING graph exactly like a query (tombstoned waypoints route,
      * never link) and its top-`graphK` surviving results become its
      * out-neighbor list; the new (codes, edges) rows land as O(batch)
      * APPEND versions ([[graft.write.VersionedTable.stageAppend]]) — no
      * existing neighbor list is rewritten. New nodes are immediately
      * REACHABLE because probes route over the degree-capped undirected
      * view, which symmetrizes the new out-edges into back-edges at read
      * time; what an append does NOT do is repair the old lists toward
      * what a fresh NN-descent would produce — that is [[compact]]'s job
      * (the deterministic rebuild on the union), the same
      * append-between-rebuilds compromise as the IVF family and the HNSW
      * insert's local-link scheme.
      *
      * Ids already present no-op (delete-then-append to replace content —
      * the PQ family's prescription); appending a TOMBSTONED id clears its
      * tombstone FIRST, in its own promote, so a crash between the two
      * converges on retry (the r14 ADVICE ordering). The batch must be
      * broadcast-small — it rides the probe machinery's query side.
      *
      * Crash convergence of the two data promotes: the GRAPH patch lands
      * first, anti-joined on already-present sources. A crash between the
      * graph and codes promotes leaves edge rows whose sources have no
      * codes — invisible to every walk (candidates are scored through an
      * inner join on the code relation) — and the retry's recomputed
      * links are discarded by the anti-join, so the retry completes with
      * the ORIGINAL pre-crash links: bit-identical to the un-crashed
      * append, not merely convergent-to-valid.
      */
    def append(batch: DataFrame, beam: Int = 8, rounds: Int = 3,
               nSeeds: Int = 8, idCol: String = "vec_id",
               vecCol: String = "embedding"): Unit = {
      require(graph.exists, s"append needs a built index at $root")
      // lazy checkpoints + one count (r21): ids/existing/fresh materialize
      // inside the first consuming job instead of paying an eager job each
      val ids = batch.select(col(idCol).cast("long").as("nid")).distinct()
        .localCheckpoint(false)
      // clear any tombstones on re-appended ids FIRST, in their own
      // promote, so a crash between the two converges on retry (the r14
      // ADVICE ordering)
      ts.remove(ids)
      val existing = codes.read().localCheckpoint(false)
      val newIds = ids.join(existing.select("nid"), Seq("nid"), "left_anti")
      val fresh = batch.join(newIds,
        batch(idCol).cast("long") === newIds("nid")).drop("nid")
        .localCheckpoint(false)
      if (fresh.count() == 0) return
      val dead = ts.dead()
      // carry the probe's score: it is the SAME int8 dot descentRound
      // stages, so the appended rows match the (u, v, score) base schema
      val links = beamProbe(graph.read(), existing, fresh, graphK, beam,
          rounds, graphK, nSeeds, idCol, vecCol, dead)
        .select(col("qid").as("u"), col("nid").as("v"), col("score"))
      val gNew = links.join(graph.read().select("u").distinct(),
        Seq("u"), "left_anti").localCheckpoint(false)
      // the codes append stages while the walk runs; graph promotes first,
      // then codes (the crash argument above)
      val (codesStaged, _) = Par.both(
        codes.stageAppend(NnDescent.codes(fresh, idCol, vecCol, metaCols)),
        // the count is the walk's ONE action: seeds, rounds and the
        // anti-join all materialize here through the lazy checkpoint chain
        if (gNew.count() > 0) graph.promote(graph.stageAppend(gNew)))
      codes.promote(codesStaged)
      graph.compactIfNeeded(maxChainDepth)
      codes.compactIfNeeded(maxChainDepth)
    }

    /** Rebuild point: re-run the deterministic NN-descent build over the
      * CURRENT surviving codes (appended nodes included, tombstoned nodes
      * dropped) and truncate the tombstones — after it the index is
      * bit-identical to a fresh build on the surviving corpus, which is
      * both the delete purge and the append repair.
      */
    def compact(): Unit = {
      val dead = ts.dead()
      val cz = policy.checkpoint(ts.minus(codes.read()))
      // the codes stage overlaps the graph rebuild (both read only the
      // checkpointed cz); codes promotes first, then graph
      val (codesStaged, e) = Par.both(codes.stage(cz), {
        var g = cut(initGraph(cz.select("nid"), graphK, buckets), policy)
        for (_ <- 1 to iters)
          g = cut(descentRound(g, cz, graphK, policy), policy)
        g
      })
      codes.promote(codesStaged)
      graph.promote(graph.stage(e))
      if (dead.nonEmpty) ts.truncate()
    }

    /** Beam-search serve: seeds and routing over the FULL persisted graph
      * (tombstoned nodes included — they are waypoints), tombstones
      * excluded from the final ranking only.
      */
    def probe(queries: DataFrame, k: Int, beam: Int, rounds: Int,
              nSeeds: Int = 8, idCol: String = "vec_id",
              vecCol: String = "embedding",
              denied: Option[DataFrame] = None,
              pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
      // filtered search, graph style, two forms. `denied` nodes (a reject
      // set, one `nid` column) ride the SAME exclusion as tombstones —
      // walked THROUGH as waypoints, never ranked. `pred` is the direct
      // predicate form over the metaCols stored WITH the codes (the
      // AnnIndex payload scheme): the allow set comes from a
      // predicate-pushed scan of the codes table, the walk still routes
      // through non-matching nodes, and only matching ones rank — the
      // reject set's complement without ever materializing it. For
      // high-selectivity predicates prefer the IVF family's pushed
      // metadata postings ([[graft.scale.AnnIndex.probeIvf]]); the graph
      // walk has no postings scan to push into.
      val excl = (ts.dead(), denied.map(_.select(col("nid")).distinct())) match {
        case (Some(a), Some(b)) =>
          Some(a.select("nid").unionByName(b).distinct())
        case (a, b) => a.orElse(b)
      }
      val allow = pred.map(p => codes.read().filter(p).select("nid"))
      beamProbe(graph.read(), codes.read(), queries, k, beam, rounds, graphK,
        nSeeds, idCol, vecCol, excl, allow)
    }

    /** Purge: [[compact]] when there is anything to purge (drop tombstoned
      * codes, rebuild, truncate tombstones); no-op otherwise. The promotes
      * are crash-convergent: stale tombstones over already-purged codes
      * anti-join nothing and the next purge clears them (the AnnIndex
      * argument).
      */
    def compactPurge(): Unit = if (ts.dead().nonEmpty) compact()
  }
}
