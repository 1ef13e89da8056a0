package perfbench

/** Per-layer metrics of a traced run, normalized per timed call (one query
  * of `analytics_mix`, one job of the pipelines). Every number comes from
  * the spans and the listeners in [[Tracer]].
  */
object Layers {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Milliseconds of [lo, hi] covered by at least one of the intervals. */
  private def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total, reach = 0L
    intervals.map { case (a, b) => (a max lo, b min hi) }.filter { case (a, b) => b > a }
      .sortBy(_._1).foreach { case (a, b) =>
        if (a > reach) { total += b - a; reach = b }
        else if (b > reach) { total += b - reach; reach = b }
      }
    total
  }

  def apply(tr: Tracer, wl: Workload, cores: Int, tracedTags: Seq[String],
      untracedWalls: Seq[Double], tracedWalls: Seq[Double], probes: Map[String, Double],
      segmentWall: Double, samplesPerUnit: Double): Map[String, Double] = {
    val units = tr.spans.filter(s => s.run == "traced" && s.parent == -1).toSeq
    val n = (units.size * samplesPerUnit) max 1.0
    val all = units.flatMap(tr.subtree)
    val ids = all.map(_.id).toSet
    def idsOf(prefix: String): Set[Int] =
      all.filter(_.name.startsWith(prefix)).flatMap(tr.subtree).map(_.id).toSet
    val tasks = tr.tasksIn(ids)
    val qes = tr.qesIn(ids)
    val sinkIds = idsOf("sinks.")
    val sinkTasks = tr.tasksIn(sinkIds)
    val wallS = units.map(_.seconds).sum

    val idleMs = units.map { u =>
      val ts = tr.tasksIn(tr.subtree(u).map(_.id).toSet).map(t => (t.launch, t.finish))
      (u.endMs - u.startMs) - covered(ts, u.startMs, u.endMs)
    }.sum
    val skew = tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(t => ((t.finish - t.launch) max 1L).toDouble)
      d.max / median(d)
    }.foldLeft(1.0)(_ max _)
    val sinkSeconds = all.filter(_.name.startsWith("sinks.")).map(_.seconds).sum
    val writeS =
      if (wl.outputProbes.isEmpty) 0.0
      else ((sinkSeconds / units.size.max(1) - wl.outputProbes.map(probes.getOrElse(_, 0.0)).sum) max 0.0) /
        samplesPerUnit
    val stageMetrics = all.filter(_.name.startsWith("stage.")).groupBy(_.name).map { case (k, ss) =>
      s"operators.${k.stripPrefix("stage.")}_s" -> ss.map(_.seconds).sum / n
    }
    val selfSum = tr.spans.map(tr.selfSeconds).sum
    val overhead =
      if (tracedWalls.isEmpty) 0.0
      else tracedWalls.sum / tracedWalls.size - untracedWalls.sum / untracedWalls.size

    Map(
      "operators.build_s" -> all.filter(_.name.startsWith("operators.")).map(_.seconds).sum / n,
      "operators.build_jobs" -> tr.jobsIn(idsOf("operators.")).size / n,
      "catalyst.analysis_s" -> qes.map(_.analysisMs).sum / 1000.0 / n,
      "catalyst.optimization_s" -> qes.map(_.optimizationMs).sum / 1000.0 / n,
      "catalyst.planning_s" -> qes.map(_.planningMs).sum / 1000.0 / n,
      "catalyst.plan_nodes" -> qes.map(_.nodes).sum / n,
      "catalyst.exchanges" -> qes.map(_.exchanges).sum / n,
      "codegen.compile_s" -> units.map(u => u.cgNs1 - u.cgNs0).sum / 1e9 / n,
      "codegen.classes" -> units.map(u => u.cgN1 - u.cgN0).sum / n,
      "scheduler.jobs" -> tr.jobsIn(ids).size / n,
      "scheduler.stages" -> tasks.map(_.stage).distinct.size / n,
      "scheduler.tasks" -> tasks.size / n,
      "scheduler.task_run_s" -> tasks.map(_.runMs).sum / 1000.0 / n,
      "scheduler.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9 / n,
      "scheduler.gc_s" -> tasks.map(_.gcMs).sum / 1000.0 / n,
      "scheduler.idle_s" -> idleMs / 1000.0 / n,
      "scheduler.core_util" -> (if (wallS > 0) tasks.map(_.runMs).sum / 1000.0 / (wallS * cores) else 0.0),
      "scheduler.max_task_skew" -> skew,
      "scheduler.failed_tasks" -> tasks.count(!_.ok).toDouble,
      "sources.input_bytes" -> tasks.map(_.inBytes).sum / n,
      "sources.input_records" -> tasks.map(_.inRecs).sum / n,
      "sources.files" -> wl.inputFiles.toDouble,
      "shuffle.write_bytes" -> tasks.map(_.shWrite).sum / n,
      "shuffle.read_bytes" -> tasks.map(_.shRead).sum / n,
      "shuffle.spill_bytes" -> tasks.map(_.spill).sum / n,
      "shuffle.fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1000.0 / n,
      "sinks.write_s" -> writeS,
      "sinks.output_bytes" -> sinkTasks.map(_.outBytes).sum / n,
      "sinks.output_rows" -> sinkTasks.map(_.outRecs).sum / n,
      "sinks.output_files" -> tracedTags.map(wl.outputFiles).sum / n,
      "memory.peak_exec_mb" -> tasks.map(_.peakExec).foldLeft(0L)(_ max _) / 1048576.0,
      "trace.overhead_s" -> overhead / samplesPerUnit,
      "trace.wall_s" -> segmentWall,
      "trace.coverage" -> (if (segmentWall > 0) selfSum / segmentWall else 0.0)
    ) ++ stageMetrics ++ probes.filter { case (k, _) => !k.startsWith("out.") }
  }

  /** "Where does the traced wall time go": self seconds per span name. */
  def report(tr: Tracer): String = {
    val traced = tr.spans.filter(_.run == "traced").toSeq
    val wall = traced.filter(_.parent == -1).map(_.seconds).sum
    val bySelf = traced.groupBy(s => if (s.name.startsWith("query.")) "query" else s.name)
      .map { case (k, ss) => k -> ss.map(tr.selfSeconds).sum }.toSeq.sortBy(-_._2)
    (bySelf.map { case (k, v) => f"  $k%-28s self ${v}%9.3f s  ${100 * v / (wall max 1e-9)}%5.1f%%" } ++
      tr.spans.filter(_.run == "probe").map(s => f"  ${s.name}%-28s      ${s.seconds}%9.3f s  (alone)"))
      .mkString("\n")
  }
}
