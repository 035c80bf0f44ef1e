package graft.perfbench

import Main.{Ctx, median, tail}

/** Turns a finished workload into `result.json`: the end-to-end
  * metrics (always), the generic per-layer metrics (traced run), and a
  * workload-specific `detail` object for the artifact. */
object Report {
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case other => json(other.toString)
  }

  private def union(iv: Seq[(Long, Long)]): Double =
    Intervals.unionNs(iv).toDouble // inputs are ms already

  def build(ctx: Ctx, heapMb: Double, gcDuring: Long): String = {
    val ops = ctx.ops.toSeq
    val bulk = ops.filter(_.cls == "bulk")
    val step = ops.filter(_.cls == "step")
    val (tailPct, tailMs) =
      if (step.isEmpty) (0, Double.NaN) else tail(step.map(_.ms))
    // the step is gated on its process CPU time: its wall time follows
    // the host's steal far more than the bulk pass does (see the notes)
    val e2e = Map(
      "setup_s" -> ctx.setupS,
      "bulk_ms" -> median(
        if (ctx.bulkSamples.nonEmpty) ctx.bulkSamples else bulk.map(_.ms)),
      "step_cpu_ms_p50" -> median(step.map(_.cpuMs)),
      "heap_retained_mb" -> heapMb)
    val timedOps = bulk ++ step
    ctx.detail("step_ms_p50") = median(step.map(_.ms))
    ctx.detail("rows_per_s") = median(step.map(o => o.rows * 1000.0 / o.ms))
    ctx.detail("host_steal_share") = timedOps.map(_.stealMs).sum /
      (timedOps.map(_.ms).sum * Runtime.getRuntime.availableProcessors)
    val failedOps = ops.count(!_.ok)
    val aborted = ctx.failures.exists(_.startsWith("workload aborted"))
    val orphan = ctx.failures.nonEmpty && failedOps == 0
    val layers = ctx.probe.map { p =>
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Any]
      for (c <- Seq("bulk", "step")) {
        val cops = ops.filter(_.cls == c)
        val a = p.total(c)
        m(s"graft.call_ms.$c") = cops.map(_.callMs).sum
        m(s"graft.self_ms.$c") = cops.map(o =>
          o.callMs - union(p.jobsWithin(o.callWindow._1, o.callWindow._2))).sum
        m(s"spark.plan.ms.$c") = a.planMs
        m(s"spark.sched.jobs.$c") = a.jobs
        m(s"spark.sched.stages.$c") = a.stages
        m(s"spark.sched.tasks.$c") = a.tasks
        m(s"spark.sched.driver_gap_ms.$c") = cops.map(o =>
          o.ms - union(p.jobsWithin(o.startMs, o.endMs))).sum
        m(s"spark.exec.task_run_ms.$c") = a.taskRunMs
        m(s"spark.exec.task_cpu_ms.$c") = a.taskCpuNs / 1e6
      }
      val both = Seq(p.total("bulk"), p.total("step"))
      m("spark.exec.gc_ms") = gcDuring
      m("spark.exec.shuffle_read_bytes") = both.map(_.shuffleRead).sum
      m("spark.exec.shuffle_write_bytes") = both.map(_.shuffleWrite).sum
      m("spark.exec.result_bytes") = both.map(_.resultBytes).sum
      m("spark.exec.input_rows") = both.map(_.inputRows).sum
      m("spark.exec.spill_bytes") = both.map(_.spillBytes).sum
      val self = Trace.selfMs(Trace.spans)
      ctx.detail("span_self_ms") = self.toSeq.sortBy(_._1).toMap
      ctx.detail("spans") = Trace.spans.size
      m
    }
    ctx.detail("step_ms_tail") = tailMs
    ctx.detail("step_tail_pct") = tailPct
    ctx.detail("n_bulk") = bulk.size
    ctx.detail("n_step") = step.size
    ctx.detail("measured_s") = (ctx.measureEndMs - ctx.measureStartMs) / 1000.0
    json(Map(
      "workload" -> ctx.workload,
      "seed" -> ctx.seed,
      "attempted" -> (ops.size + (if (orphan || aborted) 1 else 0)),
      "failed" -> (failedOps + (if (orphan || aborted) 1 else 0)),
      "failures" -> ctx.failures.toSeq.take(50),
      "e2e" -> e2e,
      "layers" -> layers.getOrElse(Map.empty),
      "ops" -> ops.map(o => Map("cls" -> o.cls, "name" -> o.name,
        "ms" -> o.ms, "rows" -> o.rows, "ok" -> o.ok, "cpu_ms" -> o.cpuMs,
        "steal_ms" -> o.stealMs)),
      "detail" -> ctx.detail))
  }

  def spansJson(): String = {
    val spans = Trace.spans
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    json(spans.map(s => Map("id" -> s.id, "name" -> s.name,
      "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
      "parent" -> s.parent, "run_id" -> s.runId, "cls" -> s.cls)))
  }
}
