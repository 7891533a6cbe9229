package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions.castToImpl

/** Per-layer figures of the traced run, derived from the spans and the
  * listener's per-operation counts of the traced blocks. */
object Layers {
  /** Layer metrics every workload reports; BENCHMARK.json lists them. */
  val ContractNames: Seq[(String, String)] = Seq(
    "plan.call_s" -> "s", "plan.phase_analysis_s" -> "s",
    "plan.phase_optimization_s" -> "s", "plan.phase_planning_s" -> "s",
    "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.run_s" -> "s", "exec.cpu_s" -> "s",
    "exec.sched_delay_s" -> "s", "exec.shuffle_read_mb" -> "MB",
    "exec.shuffle_write_mb" -> "MB", "exec.task_skew" -> "ratio",
    "exec.driver_s" -> "s", "session.start_s" -> "s",
    "catalog.register_s" -> "s", "warmup_s" -> "s",
    "trace.accounted_frac" -> "ratio", "trace.overhead_frac" -> "ratio")

  /** Largest share of operation wall time the blocking spans may leave
    * unexplained before the gap is reported as unaccounted. */
  val Tolerance = 0.05

  def contract(detail: Seq[Metric]): Seq[Metric] = {
    val byName = detail.map(m => m.name -> m).toMap
    ContractNames.map { case (n, u) =>
      byName.get(n).filterNot(_.value.isNaN).getOrElse(
        throw new IllegalStateException(s"layer metric $n was not measured"))
        .copy(unit = u)
    }
  }

  /** Planning phase times (analysis, optimization, planning) of an
    * executed DataFrame, seconds. */
  def phases(df: DataFrame): Map[String, Double] =
    castToImpl(df).queryExecution.tracker.phases.map { case (k, v) =>
      k -> v.durationMs / 1e3 }

  def metrics(tracer: Tracer, ops: Seq[OpRecord], traced: Set[Int],
      untraced: Set[Int]): Seq[Metric] = {
    val spans = tracer.allSpans.filter(s => traced.contains(s.op))
    val tOps = ops.filter(o => traced.contains(o.id))
    val uOps = ops.filter(o => untraced.contains(o.id))
    val exec = tracer.execByOp()
    val zero = ExecCounts(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1.0, Nil)
    val ex = tOps.map(o => o -> exec.getOrElse(o.id, zero))
    def mean(f: ExecCounts => Double) = Stats.mean(ex.map(e => f(e._2)))
    val children = spans.filter(_.parent == "op")
    val roots = spans.filter(_.parent == "")
    val wall = roots.map(_.seconds).sum
    // self time of a layer: its spans minus the spans nested in them
    val nested = spans.groupBy(s => (s.op, s.parent)).view
      .mapValues(_.map(_.seconds).sum).toMap
    val self = spans.filter(_.parent != "").groupBy(_.layer).toSeq.map {
      case (layer, ss) =>
        Metric(s"self.$layer" + "_s", Stats.mean(ss.map(s =>
          s.seconds - nested.getOrElse((s.op, s.layer), 0.0))), "s")
    }
    val accounted = if (wall > 0) children.map(_.seconds).sum / wall else 0.0
    // tracing overhead: per template, traced median over untraced median
    val overhead = {
      val rs = tOps.groupBy(_.kind).toSeq.flatMap { case (k, ts) =>
        val us = uOps.filter(_.kind == k)
        if (us.isEmpty) None
        else Some(Stats.median(ts.map(_.seconds)) / Stats.median(us.map(_.seconds)))
      }
      if (rs.isEmpty) Double.NaN else Stats.median(rs) - 1.0
    }
    val phase = (p: String) =>
      Stats.median(tOps.flatMap(_.phases.get(p)))
    Seq(
      Metric("plan.call_s", Stats.median(spans.filter(_.layer == "plan.call")
        .map(_.seconds)), "s"),
      Metric("plan.phase_analysis_s", phase("analysis"), "s"),
      Metric("plan.phase_optimization_s", phase("optimization"), "s"),
      Metric("plan.phase_planning_s", phase("planning"), "s"),
      Metric("exec.jobs", mean(_.jobs.toDouble), "count"),
      Metric("exec.stages", mean(_.stages.toDouble), "count"),
      Metric("exec.tasks", mean(_.tasks.toDouble), "count"),
      Metric("exec.run_s", mean(_.runS), "s"),
      Metric("exec.cpu_s", mean(_.cpuS), "s"),
      Metric("exec.gc_s", mean(_.gcS), "s"),
      Metric("exec.sched_delay_s", mean(_.schedDelayS), "s"),
      Metric("exec.shuffle_read_mb", mean(_.shuffleReadMb), "MB"),
      Metric("exec.shuffle_write_mb", mean(_.shuffleWriteMb), "MB"),
      Metric("exec.spill_mb", mean(_.spillMb), "MB"),
      Metric("exec.task_skew", Stats.median(ex.filter(_._2.stages > 0)
        .map(_._2.maxSkew)), "ratio"),
      Metric("exec.driver_s", Stats.mean(ex.map { case (o, e) =>
        o.seconds - Tracer.covered(e.jobIntervalsMs, o.startMs, o.endMs) / 1e3
      }), "s"),
      Metric("trace.accounted_frac", accounted, "ratio"),
      Metric("trace.within_tolerance",
        if (1.0 - accounted <= Tolerance) 1.0 else 0.0, "bool"),
      Metric("trace.overhead_frac", overhead, "ratio"),
      Metric("trace.ops", tOps.size.toDouble, "count")) ++ self
  }

  def writeSpans(path: String, tracer: Tracer, ops: Seq[OpRecord]): Unit = {
    val exec = tracer.execByOp()
    val kinds = ops.map(o => o.id -> o.kind).toMap
    val lines = tracer.allSpans.sortBy(s => (s.op, s.startNs)).map { s =>
      Json.obj(Seq("op" -> s.op.toString,
        "kind" -> Json.str(kinds.getOrElse(s.op, "")),
        "layer" -> Json.str(s.layer), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString, "parent" -> Json.str(s.parent)))
    } ++ exec.toSeq.sortBy(_._1).map { case (op, e) =>
      Json.obj(Seq("op" -> op.toString, "layer" -> Json.str("exec"),
        "jobs" -> e.jobs.toString, "stages" -> e.stages.toString,
        "tasks" -> e.tasks.toString, "run_s" -> Json.num(e.runS),
        "cpu_s" -> Json.num(e.cpuS), "gc_s" -> Json.num(e.gcS),
        "sched_delay_s" -> Json.num(e.schedDelayS),
        "shuffle_read_mb" -> Json.num(e.shuffleReadMb),
        "shuffle_write_mb" -> Json.num(e.shuffleWriteMb),
        "spill_mb" -> Json.num(e.spillMb), "task_skew" -> Json.num(e.maxSkew)))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
