package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.core.{Q, Tables}
import graft.scale.{AnnIndex, Similarity}
import graft.streaming.PostingsIndex
import graft.write.VersionedTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Registry queries as ops. Timed passes materialize them the way
  * `graft.Bench` does (`queryExecution.toRdd.count()`, which keeps every
  * final sort); the first warm-up pass collects each answer instead, and the check
  * writes those answers with each query's DuckDB oracle SQL for `run.py`'s
  * oracle compare, so checking costs no extra query run.
  */
final class Registry(ctx: Ctx, names: Seq[String]) {
  val qs: Seq[Q] = names.map { n =>
    graft.SparkEntry.registry.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"no registry query $n"))
  }
  private val answers = mutable.Map.empty[String, (Array[Row], StructType)]

  def ops(pass: Int): Seq[Op] = qs.map { q =>
    Op(q.name, "registry") { () =>
      val df = q.fn(ctx.spark, ctx.conf.data)
      if (pass == -1) answers(q.name) = (df.collect(), df.schema)
      else df.queryExecution.toRdd.count()
      Some(df)
    }
  }

  /** Writes each collected answer (one file, as the oracle compare reads
    * it) and `oracles.json` under `work/results`.
    */
  def dumpForOracle(): Seq[(String, String)] = {
    val dir = ctx.work("results")
    val oracles = qs.collect { case Q(n, _, Some(sql)) => n -> sql }
    Files.write(Paths.get(dir, "oracles.json"),
      Json.render(Json.Obj(oracles)).getBytes(StandardCharsets.UTF_8))
    qs.flatMap { q =>
      answers.get(q.name) match {
        case None => Some(q.name -> "no answer collected")
        case Some((rows, schema)) =>
          ctx.spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write
            .mode("overwrite").parquet(s"$dir/${q.name}.parquet")
          None
      }
    }
  }
}

object Registry {
  /** A fresh seeded order per pass. */
  def permuted[T](xs: Seq[T], seed: Long, pass: Int): Seq[T] =
    new Random(seed * 1000003L + pass).shuffle(xs)
}

/** Vectors and local batches. */
object Vecs {
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType)))

  def vecDf(spark: SparkSession, rows: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(rows.map { case (i, v) => Row(i, v.toSeq) }.asJava, VecSchema)

  def docDf(spark: SparkSession, rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(rows.map { case (i, t) => Row(i, t) }.asJava, DocSchema)

  def idDf(spark: SparkSession, ids: Seq[Long], col: String): DataFrame =
    spark.createDataFrame(ids.map(Row(_)).asJava,
      StructType(Seq(StructField(col, LongType, nullable = false))))

  def collectVecs(df: DataFrame): Array[(Long, Array[Float])] =
    df.select(col("vec_id").cast("long"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  /** A unit-norm copy of `v` moved by seeded Gaussian noise of scale `eps`. */
  def perturb(v: Array[Float], rnd: Random, eps: Double): Array[Float] = {
    val w = v.map(x => x + eps * rnd.nextGaussian())
    val n = math.sqrt(w.map(x => x * x).sum)
    w.map(x => (x / n).toFloat)
  }

  /** recall@k of probe answers against exact answers, both (qid, nid) rows. */
  def recall(probe: Seq[(Long, Long)], exact: Seq[(Long, Long)]): Double = {
    val p = probe.groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val hits = exact.groupBy(_._1).toSeq.map { case (q, xs) =>
      xs.map(_._2).count(p.getOrElse(q, Set.empty[Long]).contains) }.sum
    if (exact.isEmpty) 0d else hits.toDouble / exact.size
  }
}

/** `sql_batch`: the reference's SQL surface — short read-only registry
  * queries where Catalyst planning, the `plans` rules and per-query driver
  * overhead are a large share of wall time. None of them writes.
  */
final class SqlBatch(ctx: Ctx) extends Workload {
  private val registry = new Registry(ctx, Seq(
    "q01_pricing_summary", "q02_mau", "q03_channel_summary", "q04_nps_summary",
    "q07_join_agg", "q11_monthly_orders", "q15_count_gate", "q17_top_orders",
    "q57_ranking"))
  // the warm-up pass collects the answers (and is cold)
  def warmupPasses = 1
  def minPasses = 2
  def passOps(pass: Int): Seq[Op] = Registry.permuted(registry.ops(pass), ctx.conf.seed, pass)
  def check(runs: Seq[OpRun]): Seq[(String, String)] = registry.dumpForOracle()
  def metrics(runs: Seq[OpRun]): Seq[(String, (Double, String))] = Nil
}

/** `index_churn`: writes beside reads. Each pass is one step plus
  * maintenance: a seeded micro-batch of documents goes into a streaming
  * postings index and one of vectors into the IVF index, seeded older rows
  * are deleted, both indexes are served read-after-write, and both are
  * compacted and every versioned table vacuumed. Ids are offset on each
  * cycle over the corpus, so every batch admits new rows, and deletes match
  * ingests, so every pass starts from the same live size.
  */
final class IndexChurn(ctx: Ctx) extends Workload {
  import ctx.spark
  private val seed = ctx.conf.seed
  private val rnd = new Random(seed)
  // sorted on the driver: a Spark sort would add jobs to set-up
  private val docs: Array[(Long, String)] = Tables.documents(spark, ctx.conf.data)
    .select(col("doc_id").cast("long"), col("text")).filter(col("text").isNotNull)
    .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
  private val vecs: Array[(Long, Array[Float])] =
    Vecs.collectVecs(Tables.embeddings(spark, ctx.conf.data)).sortBy(_._1)
  private val docOrder = rnd.shuffle(docs.indices.toVector)
  private val vecOrder = rnd.shuffle(vecs.indices.toVector)
  val BaseDocs: Int = docs.length / 10
  val BaseVecs: Int = vecs.length / 2
  val StepDocs: Int = math.max(1, docs.length / 20)
  val StepVecs: Int = math.max(1, vecs.length / 10)
  val K = 10
  val NProbe = 4
  val NCentroids = 16
  val ServeQueries = 16
  // probing 4 of 16 cells picked at random would find about a quarter of
  // the true neighbours; the engine's probes found 0.57-0.68 of them over
  // seeds 1-25
  val MinRecall = 0.4
  val Words: Seq[String] = Seq("spark", "vector", "stream", "window", "join", "merge")
  private val CycleOffset = 10000000L

  // ---- the driver-side model of what the index should hold
  private var root = ""
  private var postings: PostingsIndex = _
  private var docPos = 0L
  private var vecPos = 0L
  private var batchNo = 0L
  private val liveDocs = mutable.LinkedHashMap.empty[Long, String]
  private val liveVecs = mutable.LinkedHashMap.empty[Long, Array[Float]]
  private var cents: Array[(Int, Seq[Double])] = Array.empty

  private def ivfRoot = s"$root/ann"
  private def tables: Seq[VersionedTable] =
    Seq(postings.postings, postings.tombstones, postings.lengths, postings.stats) ++
      Seq("centroids", "postings", "tombstones").map(t => new VersionedTable(spark, s"$ivfRoot/$t"))

  private def nextDocs(n: Int, tag: String): Seq[(Long, String)] = (0 until n).map { _ =>
    val (id, text) = docs(docOrder((docPos % docs.length).toInt))
    val out = (id + (docPos / docs.length) * CycleOffset, s"$text $tag")
    docPos += 1
    out
  }
  private def nextVecs(n: Int): Seq[(Long, Array[Float])] = (0 until n).map { _ =>
    val (id, v) = vecs(vecOrder((vecPos % vecs.length).toInt))
    val out = (id + (vecPos / vecs.length) * CycleOffset, v)
    vecPos += 1
    out
  }

  override def fixture(): Unit = {
    root = ctx.work("warehouse")
    val baseVecs = nextVecs(BaseVecs)
    val baseDocs = nextDocs(BaseDocs, "b0")
    ctx.span("ann.build") { AnnIndex.buildIvfIndex(Vecs.vecDf(spark, baseVecs), ivfRoot, NCentroids) }
    postings = new PostingsIndex(spark, s"$root/postings")
    ctx.span("streaming.batch") { postings.processBatch(Vecs.docDf(spark, baseDocs), 0L) }
    liveDocs ++= baseDocs
    liveVecs ++= baseVecs
    cents = new VersionedTable(spark, s"$ivfRoot/centroids").read().collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    lastWarehouse = walk(Paths.get(root))
    lastVersions = versions()
  }
  // the fixture runs the ingest and commit paths; one timed step, the run
  // budget holds no second (README.md, "Budget")
  def warmupPasses = 0
  def minPasses = 1

  // ---- per-pass plans and the answers the serves returned
  /** A pass's batch, its serves' inputs, and the rows live when they ran
    * (after the pass's ingest and deletes; maintenance leaves them as they
    * are).
    */
  final case class Step(batch: Long, docs: Seq[(Long, String)], vecs: Seq[(Long, Array[Float])],
                        terms: Seq[String], queries: Seq[(Long, Array[Float])],
                        liveDocsAtServe: Seq[(Long, String)],
                        liveVecsAtServe: Seq[(Long, Array[Float])])
  private val steps = mutable.Map.empty[Int, Step]
  private val bm25Answers = mutable.Map.empty[Int, Seq[(Long, Long)]]
  private val probeAnswers = mutable.Map.empty[Int, Seq[(Long, Long, Long)]]
  private val wrong = mutable.ArrayBuffer.empty[(String, String)]
  private val ingestBytes = mutable.Map.empty[Int, Double]
  private val warehouseAfterVacuum = mutable.Map.empty[Int, Double]
  private var spaceAmp = Double.NaN
  private var recallAt10 = Double.NaN
  private var recallMin = Double.NaN

  // serves return the DataFrame they collect, so its planning tracker
  // feeds the plan.* metrics
  private def bm25Df(p: PostingsIndex, terms: Seq[String]): DataFrame =
    p.bm25Serve(terms).orderBy(col("score").desc, col("doc_id")).limit(K)
      .select(col("doc_id").cast("long"), col("score").cast("long"))
  private def rows2(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
  private def probeDf(ivf: String, queries: Seq[(Long, Array[Float])]): DataFrame =
    AnnIndex.probeIvf(spark, ivf, Vecs.vecDf(spark, queries), K, NProbe)
      .select(col("qid"), col("nid"), col("score").cast("long"))
  private def rows3(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  def passOps(pass: Int): Seq[Op] = {
    val prnd = new Random(seed * 1000003L + pass)
    batchNo += 1
    val b = batchNo
    val dBatch = nextDocs(StepDocs, s"b$b")
    val vBatch = nextVecs(StepVecs)
    liveDocs ++= dBatch
    liveVecs ++= vBatch
    val batchDocIds = dBatch.map(_._1).toSet
    val batchVecIds = vBatch.map(_._1).toSet
    val queries = prnd.shuffle(vBatch).take(ServeQueries).zipWithIndex
      .map { case ((_, v), i) => (3000000000L + b * 1000 + i, Vecs.perturb(v, prnd, 0.02)) }
    val terms = Seq(s"b$b", Words(prnd.nextInt(Words.size)))
    val delDocs = prnd.shuffle(liveDocs.keys.filterNot(batchDocIds).toVector).take(StepDocs)
    val delVecs = prnd.shuffle(liveVecs.keys.filterNot(batchVecIds).toVector).take(StepVecs)
    liveDocs --= delDocs
    liveVecs --= delVecs
    val st = Step(b, dBatch, vBatch, terms, queries, liveDocs.toSeq, liveVecs.toSeq)
    steps(pass) = st
    ingestBytes(pass) = dBatch.map(8 + _._2.getBytes(StandardCharsets.UTF_8).length).sum +
      vBatch.map(8 + 4 * _._2.length).sum.toDouble
    val ingest = Seq(
      Op("ingest_docs", "ingest") { () =>
        ctx.span("streaming.batch") { postings.processBatch(Vecs.docDf(spark, dBatch), b) }
        ctx.count("streaming.rows_admitted", dBatch.size)
        ctx.count("streaming.rows_rejected", 0)
        None
      },
      Op("ingest_vecs", "ingest") { () =>
        ctx.span("ann.append") { AnnIndex.appendToIvfIndex(Vecs.vecDf(spark, vBatch), ivfRoot) }
        ctx.count("ann.rows_admitted", vBatch.size)
        None
      })
    val serve = Seq(
      Op("serve_bm25", "serve") { () =>
        ctx.span("retrieval.serve") {
          val df = bm25Df(postings, st.terms)
          bm25Answers(pass) = rows2(df)
          Some(df)
        }
      },
      Op("serve_probe", "serve") { () =>
        ctx.span("ann.probe") {
          val df = probeDf(ivfRoot, queries)
          probeAnswers(pass) = rows3(df)
          Some(df)
        }
      })
    val delete = Seq(
      Op("delete_docs", "delete") { () =>
        ctx.span("write.delete") { postings.delete(Vecs.idDf(spark, delDocs, "doc_id")) }
        None
      },
      Op("delete_vecs", "delete") { () =>
        ctx.span("ann.delete") {
          AnnIndex.deleteFromIvfIndex(Vecs.idDf(spark, delVecs, "vec_id"), ivfRoot)
        }
        None
      })
    val maintain = Seq(
      Op("compact", "maintain") { () =>
        ctx.span("write.compact") { postings.compact() }
        ctx.span("write.compact") { AnnIndex.compactIvfIndex(spark, ivfRoot) }
        None
      },
      Op("vacuum", "maintain") { () =>
        ctx.span("write.vacuum") { tables.foreach(_.vacuum(1)) }
        None
      })
    prnd.shuffle(ingest) ++ prnd.shuffle(delete) ++ prnd.shuffle(serve) ++ maintain
  }

  // ---- bytes on disk: files new or changed since the last write op
  private var lastWarehouse: Map[String, (Long, Long)] = Map.empty
  private var lastVersions: Seq[Int] = Nil
  private def walk(dir: Path): Map[String, (Long, Long)] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis * 1000000L +
        (Files.getLastModifiedTime(p).toInstant.getNano % 1000000))
    }.toMap
    finally s.close()
  }
  private def dirBytes(dir: Path): Double = walk(dir).values.map(_._1.toDouble).sum
  private def versions(): Seq[Int] = tables.map(_.currentVersion.getOrElse(-1))

  override def afterOp(op: Op, run: OpRun): Unit = {
    if (op.kind != "serve") {
      val now = walk(Paths.get(root))
      val written = now.filter { case (p, v) => !lastWarehouse.get(p).contains(v) }
      ctx.count("write.bytes_written", written.values.map(_._1.toDouble).sum)
      ctx.count("write.files_written", written.size)
      val vs = versions()
      ctx.count("write.versions_promoted", vs.zip(lastVersions).map { case (a, b) => math.max(0, a - b) }.sum)
      ctx.gauge("write.chain_depth", (postings.postings.chainDepth +:
        Seq(new VersionedTable(spark, s"$ivfRoot/postings").chainDepth)).max)
      lastWarehouse = now
      lastVersions = vs
      if (op.name == "vacuum") {
        val b = now.values.map(_._1.toDouble).sum
        ctx.gauge("write.warehouse_bytes", b)
        if (run.pass >= 0) warehouseAfterVacuum(run.pass) = b
      }
    }
    if (run.pass >= 0 && op.kind == "serve" && run.error.isEmpty) {
      // read-after-write: the serve must return rows of this pass's batch
      val st = steps(run.pass)
      val ids = (st.docs.map(_._1) ++ st.vecs.map(_._1)).toSet
      val hit =
        if (op.name == "serve_bm25") bm25Answers(run.pass).exists(r => ids(r._1))
        else probeAnswers(run.pass).exists(r => ids(r._2))
      if (!hit) wrong += (op.name -> s"pass ${run.pass}: serve missed batch ${st.batch}")
    }
  }

  /** Builds a fresh index from the rows live at pass `p`'s serves, with
    * the same centroids, and compares its answers to the same queries with
    * (1) the pass's read-after-write serves, answered through the pass's
    * patch and tombstones, and (2) the index as the pass's compaction and
    * vacuum left it — the live rows are the same, since maintenance deletes
    * nothing live. Returns the errors and the fresh index's bytes on disk.
    */
  private def compareFresh(p: Int): (Seq[(String, String)], Double) = {
    val st = steps(p)
    val afterBm25 = rows2(bm25Df(postings, st.terms))
    val afterProbe = rows3(probeDf(ivfRoot, st.queries)).sorted
    val fresh = ctx.work(s"fresh-p$p")
    val fp = new PostingsIndex(spark, s"$fresh/postings")
    fp.processBatch(Vecs.docDf(spark, st.liveDocsAtServe), 1L)
    AnnIndex.buildIvfIndexWith(Vecs.vecDf(spark, st.liveVecsAtServe), s"$fresh/ann", cents)
    val freshBm25 = rows2(bm25Df(fp, st.terms))
    val freshProbe = rows3(probeDf(s"$fresh/ann", st.queries)).sorted
    def differs(op: String, what: String, same: Boolean) =
      if (same) Nil else Seq(op -> s"pass $p: $what differs from a fresh index over the live rows")
    val errs =
      differs("serve_bm25", "read-after-write bm25", bm25Answers.get(p).contains(freshBm25)) ++
      differs("serve_probe", "read-after-write probe", probeAnswers.get(p).map(_.sorted).contains(freshProbe)) ++
      differs("compact", "bm25 after compaction", afterBm25 == freshBm25) ++
      differs("compact", "probe after compaction", afterProbe == freshProbe)
    (errs, dirBytes(Paths.get(fresh)))
  }

  /** Compares the last timed pass with a fresh index (one fresh build and
    * its serves cost 4-6 s of the run), and scores every timed pass's
    * read-after-write probe against brute force over the vectors live when
    * it ran.
    */
  def check(runs: Seq[OpRun]): Seq[(String, String)] = {
    val last = steps.keys.max
    val c0 = System.nanoTime()
    val (freshErrs, freshBytes) = compareFresh(last)
    PerfBench.log(f"check: fresh-index compare ${(System.nanoTime() - c0) / 1e9}%.2fs")
    spaceAmp = warehouseAfterVacuum(last) / freshBytes
    val recalls = (0 to last).map { p =>
      val exact = Similarity.bruteForceTopK(Vecs.vecDf(spark, steps(p).liveVecsAtServe),
          Vecs.vecDf(spark, steps(p).queries), K)
        .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSeq
      Vecs.recall(probeAnswers.getOrElse(p, Nil).map(r => (r._1, r._2)), exact)
    }
    // the first pass's recall is the metric: the pass count can vary by run
    recallAt10 = recalls.head
    recallMin = recalls.min
    val lowRecall = recalls.zipWithIndex.collect { case (r, p) if r < MinRecall =>
      "serve_probe" -> s"pass $p: recall@$K $r below $MinRecall" }
    wrong.toSeq ++ freshErrs ++ lowRecall
  }

  def metrics(runs: Seq[OpRun]): Seq[(String, (Double, String))] = {
    val ingest = runs.filter(_.kind == "ingest")
    val admitted = ingest.map(r => r.counters.getOrElse("streaming.rows_admitted", 0d) +
      r.counters.getOrElse("ann.rows_admitted", 0d)).sum
    val byPass = runs.groupBy(_.pass).values.map(_.sortBy(_.seq)).toSeq
    // per pass: from the start of each batch's ingest call to the end of the
    // serve that returns its rows (the ops run back to back); the slower of
    // the two indexes
    val fresh = byPass.map { ops =>
      def upTo(a: String, b: String) = {
        val i = ops.indexWhere(_.name == a); val j = ops.indexWhere(_.name == b)
        ops.slice(i, j + 1).map(_.wallNs).sum / 1e9
      }
      math.max(upTo("ingest_docs", "serve_bm25"), upTo("ingest_vecs", "serve_probe"))
    }
    val serve = byPass.map(_.filter(_.kind == "serve").map(_.wallNs).sum / 1e9)
    val written = runs.filter(_.pass == 0).map(_.counters.getOrElse("write.bytes_written", 0d)).sum
    Seq(
      "ingest_rows_per_s" -> (admitted / (ingest.map(_.wallNs).sum / 1e9), "1/s"),
      "freshness_s" -> (PerfBench.median(fresh), "s"),
      "serve_s" -> (PerfBench.median(serve), "s"),
      "write_amp" -> (written / ingestBytes(0), "count"),
      "space_amp" -> (spaceAmp, "count"),
      "recall_at_10" -> (recallAt10, "fraction"),
      "recall_at_10_min" -> (recallMin, "fraction"))
  }
}
