package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One unit of client work. `body` returns the DataFrame it materialized
  * last (its planning tracker feeds the plan.* metrics), if any.
  */
final case class Op(name: String, kind: String)(val body: () => Option[DataFrame])

/** One timed execution of an op. `counters` holds the workload's own
  * counts for it (rows admitted, bytes written, ...).
  */
final case class OpRun(seq: Int, pass: Int, name: String, kind: String,
                       traced: Boolean, startMs: Long, endMs: Long, wallNs: Long,
                       error: Option[String], plan: Map[String, Double],
                       gcMs: Long, counters: Map[String, Double]) {
  def ms: Double = wallNs / 1e6
}

/** What a workload gives the runner. */
trait Workload {
  /** Builds the workload's starting state (indexes, warehouse); counted in
    * set-up, so a change that moves work into set-up shows.
    */
  def fixture(): Unit = ()
  /** Untimed passes before the clock starts (JIT, codegen, FixtureCache). */
  def warmupPasses: Int
  /** Timed passes a run makes at least, however long they take. */
  def minPasses: Int
  /** The ops of pass `pass` (negative for warm-up passes), in run order. */
  def passOps(pass: Int): Seq[Op]
  /** Untimed work after an op (counting bytes on disk, checking a serve);
    * counts it records still belong to the op.
    */
  def afterOp(op: Op, run: OpRun): Unit = ()
  /** Untimed output checks after the timed passes: (op name, error) for
    * every op found to return a wrong answer.
    */
  def check(runs: Seq[OpRun]): Seq[(String, String)]
  /** Workload-specific end-to-end metrics: name -> (value, unit). */
  def metrics(runs: Seq[OpRun]): Seq[(String, (Double, String))]
}

/** The benchmark's per-run context shared by the workloads. */
final class Ctx(val spark: SparkSession, val conf: PerfBench.Conf, val tracer: Tracer) {
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  def count(key: String, v: Double): Unit = counters(key) = counters.getOrElse(key, 0d) + v
  def gauge(key: String, v: Double): Unit = counters(key) = v
  def takeCounters(): Map[String, Double] = { val m = counters.toMap; counters.clear(); m }
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  def work(sub: String): String = {
    val p = Paths.get(conf.work, sub)
    Files.createDirectories(p)
    p.toString
  }
}

/** Benchmark main: runs one named workload with one seed in this JVM and
  * writes a JSON artifact (metrics, per-op records, checks, environment).
  * `run.py` builds it, generates the inputs and prints the result line.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --data DIR --out FILE
  *       --work DIR
  */
object PerfBench {
  /** Spark's local[k]: one task thread. The host's cores are shared, and
    * every op is bound by per-job driver work, not by data (README.md,
    * "Run shape").
    */
  val Cores = 1

  final case class Conf(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, out: String, work: String,
                        cores: Int)

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("data"), m("out"), m("work"),
      Cores)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(c: Conf): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName(s"perfbench-${c.workload}")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config(graft.core.Tables.NanosConfKey, "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(c.work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(c.work, "spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Heap in use after a full GC. Spark's ContextCleaner frees the blocks
    * of unreachable broadcasts and checkpoints only after a GC has found
    * them, on its own thread, so the heap is read after the third of three
    * GCs 200 ms apart.
    */
  private def liveHeapMb(): Double = {
    for (_ <- 1 to 2) { System.gc(); Thread.sleep(200) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val conf = parse(args)
    Files.createDirectories(Paths.get(conf.work))
    val spark = session(conf)
    val sparkS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer
    val ctx = new Ctx(spark, conf, tracer)
    val wl: Workload = conf.workload match {
      case "sql_batch" => new SqlBatch(ctx)
      case "index_churn" => new IndexChurn(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val sessionS = (System.nanoTime() - t0) / 1e9

    // ---- set-up: fixture build + warm-up passes
    val f0 = System.nanoTime()
    wl.fixture()
    val fixtureS = (System.nanoTime() - f0) / 1e9
    val listener = new ExecListener
    var seq = 0
    val runs = mutable.ArrayBuffer.empty[OpRun]

    def runPass(pass: Int, traced: Boolean): Seq[OpRun] = {
      tracer.enabled = traced
      val out = wl.passOps(pass).map { op =>
        tracer.opSeq = seq
        ctx.takeCounters()
        val gc0 = if (traced) gcMs() else 0L
        val s0 = System.currentTimeMillis()
        val n0 = System.nanoTime()
        var last: Option[DataFrame] = None
        val err =
          try { last = tracer.span("op:" + op.name)(op.body()); None }
          catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}".take(400)) }
        val wall = System.nanoTime() - n0
        if (pass < 0 || err.nonEmpty) log(f"pass $pass ${op.name} ${wall / 1e9}%.3fs${err.fold("")(" " + _)}")
        val s1 = System.currentTimeMillis()
        val plan =
          if (!traced) Map.empty[String, Double]
          else last.map { df =>
            df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
          }.getOrElse(Map.empty)
        val gc = if (traced) gcMs() - gc0 else 0L
        val r0 = OpRun(seq, pass, op.name, op.kind, traced, s0, s1, wall, err, plan, gc, Map.empty)
        wl.afterOp(op, r0)
        seq += 1
        r0.copy(counters = ctx.takeCounters())
      }
      tracer.enabled = false
      out
    }

    val warmS = (0 until wl.warmupPasses).map { w =>
      val w0 = System.nanoTime(); runPass(-1 - w, traced = false); (System.nanoTime() - w0) / 1e9
    }
    log(f"setup: session $sessionS%.2fs fixture $fixtureS%.2fs warm-up ${warmS.map(x => f"$x%.2f").mkString(",")}")
    val setupS = sessionS + fixtureS + warmS.sum

    // ---- timed passes. A traced run interleaves traced and untraced passes
    // (T U U T, repeated) so the tracing overhead is measured inside one JVM
    // with a linear warm-up drift cancelling out.
    val heap0 = liveHeapMb()
    var heapPeak = 0d
    val passWall = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val passHeap = mutable.ArrayBuffer.empty[Double]
    // four passes when traced: T U U T
    val minPasses = if (conf.trace) 4 else wl.minPasses
    val m0 = System.nanoTime()
    var pass = 0
    while (pass < minPasses || (System.nanoTime() - m0) / 1e9 < conf.seconds) {
      val traced = conf.trace && (pass % 4 == 0 || pass % 4 == 3)
      if (traced) spark.sparkContext.addSparkListener(listener)
      val cpu0 = osBean.getProcessCpuTime
      val rs = runPass(pass, traced)
      passCpu += (osBean.getProcessCpuTime - cpu0) / 1e9
      if (traced) {
        org.apache.spark.GraftListenerBridge.flushListeners(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      runs ++= rs
      passWall += ((pass, traced, rs.map(_.wallNs).sum / 1e9))
      log(f"pass $pass traced=$traced ${passWall.last._3}%.3fs")
      passHeap += liveHeapMb()
      heapPeak = math.max(heapPeak, passHeap.last)
      pass += 1
    }
    val measuredS = passWall.map(_._3).sum

    // ---- output checks (untimed)
    val c0 = System.nanoTime()
    val wrong = wl.check(runs.toSeq)
    val checkS = (System.nanoTime() - c0) / 1e9

    val untracedPass = passWall.filter(!_._2).map(_._3).toSeq
    val tracedPass = passWall.filter(_._2).map(_._3).toSeq
    val endToEnd: Seq[(String, (Double, String))] = Seq(
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (median(if (conf.trace) tracedPass else untracedPass), "s"),
      "pass_cpu_s" -> (median(passCpu.toSeq), "s"),
      "ops_per_s" -> (runs.size / measuredS, "1/s"),
      "live_heap_peak_mb" -> (heapPeak, "MB"),
    ) ++ wl.metrics(runs.toSeq)

    val layers = if (conf.trace) Layers.perOp(runs.toSeq, listener, tracer) else Map.empty[Int, Map[String, Double]]
    val perLayer =
      if (!conf.trace) Nil
      else Layers.passTotals(runs.filter(_.traced).toSeq, layers)
    val traceOverhead =
      if (conf.trace && untracedPass.nonEmpty && tracedPass.nonEmpty)
        Some(median(tracedPass) - median(untracedPass))
      else None

    val rb = ManagementFactory.getRuntimeMXBean
    val artifact = Json.obj(
      "workload" -> conf.workload,
      "seed" -> conf.seed,
      "trace" -> conf.trace,
      "seconds" -> conf.seconds,
      "cores" -> conf.cores,
      "passes" -> passWall.size,
      "measured_s" -> measuredS,
      "attempted" -> runs.size,
      "metrics" -> Json.Obj(endToEnd.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }),
      "per_layer" -> Json.Obj(perLayer.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }),
      "trace_overhead_s" -> traceOverhead,
      "setup" -> Json.obj("session_s" -> sessionS, "spark_start_s" -> sparkS, "fixture_s" -> fixtureS,
        "warmup_pass_s" -> warmS, "check_s" -> checkS),
      "pass_wall_s" -> passWall.indices.map { i =>
        val (p, t, w) = passWall(i)
        Json.obj("pass" -> p, "traced" -> t, "s" -> w, "cpu_s" -> passCpu(i), "heap_mb" -> passHeap(i)) },
      "heap_mb" -> Json.obj("after_setup" -> heap0, "peak" -> heapPeak),
      "op_medians_ms" -> Json.Obj(runs.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, rs) =>
        n -> Json.obj("kind" -> rs.head.kind, "n" -> rs.size, "median_ms" -> median(rs.map(_.ms).toSeq),
          "min_ms" -> rs.map(_.ms).min, "max_ms" -> rs.map(_.ms).max)
      }),
      // the first error of each op that threw or answered wrong
      "failures" -> (runs.filter(_.error.nonEmpty).groupBy(_.name).map { case (n, rs) => n -> rs.head.error.get } ++
        wrong.groupBy(_._1).map { case (n, es) => n -> es.head._2 }),
      "ops" -> runs.map { r =>
        Json.obj("seq" -> r.seq, "pass" -> r.pass, "name" -> r.name, "kind" -> r.kind,
          "traced" -> r.traced, "ms" -> r.ms, "ok" -> r.error.isEmpty,
          "counters" -> r.counters,
          "layers" -> layers.get(r.seq))
      },
      "spans" -> (if (conf.trace) tracer.spans.map { s =>
        Json.obj("id" -> s.id, "name" -> s.name, "op" -> s.opSeq, "parent" -> s.parent,
          "start_ns" -> (s.startNs - t0), "end_ns" -> (s.endNs - t0))
      } else Nil),
      "env" -> Json.obj(
        "jvm_flags" -> rb.getInputArguments.asScala.toSeq,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "spark_version" -> spark.version,
        "spark_conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap),
    )
    Files.write(Paths.get(conf.out), Json.render(artifact).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
