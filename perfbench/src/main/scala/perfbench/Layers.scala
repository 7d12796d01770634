package perfbench

/** Splits each traced op's wall time into layers: Catalyst planning (from
  * the final DataFrame's planning tracker), time inside Spark jobs (the
  * listener's jobs whose start falls in the op's call window; one client,
  * so windows never overlap), the benchmark's own spans around engine calls,
  * and the driver remainder.
  */
object Layers {
  val PassUnits: Seq[(String, String)] = Seq(
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms",
    "plan.planning_ms" -> "ms", "plan.sql_executions" -> "count",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.job_busy_ms" -> "ms", "exec.task_run_ms" -> "ms",
    "exec.task_cpu_ms" -> "ms", "exec.cpu_ns_per_input_row" -> "ns",
    "exec.task_sched_delay_ms" -> "ms", "exec.shuffle_write_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.input_bytes" -> "bytes",
    "exec.input_rows" -> "count", "exec.task_failures" -> "count",
    "driver.other_ms" -> "ms", "driver.gc_ms" -> "ms")

  /** Length of the union of [start, end] intervals, clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur: Option[(Long, Long)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0L)
  }

  /** Per-op layer metrics for every traced op, keyed by op seq. */
  def perOp(runs: Seq[OpRun], l: ExecListener, tracer: Tracer): Map[Int, Map[String, Double]] =
    l.synchronized {
      val traced = runs.filter(_.traced).sortBy(_.startMs)
      // a job belongs to the latest op that started at or before it, if it
      // started before that op returned
      def owner(tMs: Long): Option[OpRun] =
        traced.takeWhile(_.startMs <= tMs).lastOption.filter(_.endMs >= tMs)
      val jobsByOp = l.jobs.values.toSeq.groupBy(j => owner(j.startMs).map(_.seq))
      val sqlByOp = l.sqlStartsMs.toSeq.groupBy(t => owner(t).map(_.seq))
      val spansByOp = tracer.spans.toSeq.groupBy(_.opSeq)
      traced.map { r =>
        val jobs = jobsByOp.getOrElse(Some(r.seq), Nil)
        val jobIds = jobs.map(_.id).toSet
        val stages = l.stagesRun.filter(s => l.stageJob.get(s).exists(jobIds))
        val aggs = l.stageTasks.collect { case (s, a) if l.stageJob.get(s).exists(jobIds) => a }
        def sum(f: l.TaskAgg => Long): Double = aggs.map(f).sum.toDouble
        val busy = unionMs(jobs.map(j => (j.startMs, j.endMs)), r.startMs, r.endMs).toDouble
        val planMs = Seq("analysis", "optimization", "planning").map(k => r.plan.getOrElse(k, 0d))
        val inputRows = sum(_.inputRows)
        val spans = spansByOp.getOrElse(r.seq, Nil)
        val self = tracer.selfNs(spans)
        val spanMetrics = spans.filterNot(_.name.startsWith("op:")).groupBy(_.name).toSeq
          .flatMap { case (n, ss) =>
            Seq(s"${n}_ms" -> ss.map(_.ns).sum / 1e6,
              s"${n}.self_ms" -> ss.map(s => self(s.id)).sum / 1e6)
          }
        r.seq -> (Map(
          "plan.analysis_ms" -> planMs(0), "plan.optimization_ms" -> planMs(1),
          "plan.planning_ms" -> planMs(2),
          "plan.sql_executions" -> sqlByOp.getOrElse(Some(r.seq), Nil).size.toDouble,
          "exec.jobs" -> jobs.size.toDouble, "exec.stages" -> stages.size.toDouble,
          "exec.tasks" -> sum(_.tasks), "exec.job_busy_ms" -> busy,
          "exec.task_run_ms" -> sum(_.runMs), "exec.task_cpu_ms" -> sum(_.cpuNs) / 1e6,
          "exec.cpu_ns_per_input_row" -> (if (inputRows > 0) sum(_.cpuNs) / inputRows else 0d),
          "exec.task_sched_delay_ms" -> sum(_.schedDelayMs),
          "exec.shuffle_write_bytes" -> sum(_.shuffleWriteBytes),
          "exec.spill_bytes" -> sum(_.spillBytes), "exec.input_bytes" -> sum(_.inputBytes),
          "exec.input_rows" -> inputRows, "exec.task_failures" -> sum(_.failures),
          "driver.other_ms" -> math.max(0d, r.ms - busy - planMs.sum),
          "driver.gc_ms" -> r.gcMs.toDouble,
        ) ++ spanMetrics ++ r.counters)
      }.toMap
    }

  /** Per-pass totals of the layer metrics over traced passes, as the median
    * across those passes. cpu-per-row is recomputed from the pass totals.
    */
  def passTotals(traced: Seq[OpRun], layers: Map[Int, Map[String, Double]]): Seq[(String, (Double, String))] = {
    val perPass = traced.groupBy(_.pass).values.map { rs =>
      val ms = rs.flatMap(r => layers.get(r.seq))
      def tot(k: String) = ms.map(_.getOrElse(k, 0d)).sum
      PassUnits.map { case (k, _) =>
        k -> (if (k == "exec.cpu_ns_per_input_row") {
          val rows = tot("exec.input_rows")
          if (rows > 0) tot("exec.task_cpu_ms") * 1e6 / rows else 0d
        } else tot(k))
      }.toMap
    }.toSeq
    PassUnits.map { case (k, u) => k -> (PerfBench.median(perPass.map(_(k))), u) }
  }
}
