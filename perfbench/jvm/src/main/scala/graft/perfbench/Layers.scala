package graft.perfbench

/** Per-layer metrics of a traced run. Steady-state values are means per
  * traced steady pass (persisted peak: the max); `_cold` values are the
  * first pass's.
  */
object Layers {
  private val MB = 1048576.0

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Milliseconds of [lo, hi] that no task window covers. */
  private def uncovered(lo: Long, hi: Long, windows: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = lo
    for ((a, b) <- windows.sortBy(_._1)) {
      val (s, e) = (math.max(a, reach), math.min(b, hi))
      if (e > s) { covered += e - s; reach = e }
    }
    (hi - lo) - covered
  }

  def apply(run: Run): Map[String, Double] = {
    val spans = run.tracer.spans.toSeq
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    def work(ss: Seq[Span]): Work = {
      val w = new Work
      ss.foreach(s => w.add(run.profile.workOf(s.id)))
      w
    }

    def passMetrics(p: PassRec): Map[String, Double] = {
      val ps = spans.filter(_.pass == p.pass)
      val opsOf = run.ops.filter(_.pass == p.pass)
      def layer(l: String) = ps.filter(_.layer == l)
      val all = work(ps)
      val core = work(layer("core"))
      val triggers = ps.filter(_.name == "trigger")
      val driverOnlyMs = ps.filter(_.layer == "op").map { op =>
        uncovered(op.startMs, op.endMs, work(subtree(op)).taskWindows.toSeq).toDouble
      }.sum
      def phase(k: String) = opsOf.map(_.phasesMs.getOrElse(k, 0.0)).sum
      Map(
        "queries.build_s" -> layer("queries").map(_.seconds).sum,
        "queries.build_jobs" -> work(layer("queries")).jobs.toDouble,
        "plan.analyze_ms" -> phase("analysis"),
        "plan.optimize_ms" -> phase("optimization"),
        "plan.physical_ms" -> phase("planning"),
        "plan.codegen_n" -> p.codegenN.toDouble,
        "plan.codegen_ms" -> p.codegenNs / 1e6,
        "sched.jobs" -> all.jobs.toDouble,
        "sched.stages" -> all.stages.toDouble,
        "sched.tasks" -> all.tasks.toDouble,
        "sched.task_run_s" -> all.taskRunMs / 1e3,
        "sched.task_cpu_s" -> all.taskCpuNs / 1e9,
        "sched.core_util" -> all.taskRunMs / (p.ms * run.cores),
        "sched.driver_only_s" -> driverOnlyMs / 1e3,
        "shuffle.write_mb" -> all.shuffleWriteB / MB,
        "shuffle.read_mb" -> all.shuffleReadB / MB,
        "shuffle.records" -> all.shuffleRecords.toDouble,
        "shuffle.spill_mem_mb" -> all.spillMemB / MB,
        "shuffle.spill_disk_mb" -> all.spillDiskB / MB,
        "ops.persisted_peak_mb" -> p.peakPersistedB / MB,
        "ops.leaked_rdds" -> p.leakedRdds.toDouble,
        "ops.leaked_mb" -> p.leakedB / MB,
        "core.map_stage_s" -> core.mapStageMs / 1e3,
        "core.reduce_stage_s" -> core.resultStageMs / 1e3,
        "core.input_mb" -> core.inputB / MB,
        "core.output_mb" -> core.outputB / MB,
        "stream.trigger_jobs" ->
          (if (triggers.isEmpty) 0.0 else work(triggers).jobs.toDouble / triggers.size),
        "stream.state_write_mb" -> work(triggers).outputB / MB,
        "stream.state_files" -> p.stateFiles.toDouble,
        "stream.compact_s" -> ps.filter(_.name == "compaction").map(_.seconds).sum,
        "jvm.gc_ms" -> p.gcMs.toDouble,
        "jvm.jit_ms" -> p.jitMs.toDouble)
    }

    val steady = run.passes.filter(_.pass > 0)
    val traced = steady.filter(_.traced).map(passMetrics).toSeq
    val keys = traced.head.keys
    val perPass = keys.map { k =>
      k -> (if (k == "ops.persisted_peak_mb") traced.map(_(k)).max else mean(traced.map(_(k))))
    }.toMap
    val cold = passMetrics(run.passes.head)
    val coldKeys = Seq("plan.analyze_ms", "plan.optimize_ms", "plan.physical_ms",
      "plan.codegen_n", "plan.codegen_ms", "jvm.gc_ms", "jvm.jit_ms")
    perPass ++ coldKeys.map(k => s"${k}_cold" -> cold(k)) ++ Map(
      "trace.overhead_ms" ->
        (median(steady.filter(_.traced).map(_.ms).toSeq) -
          median(steady.filterNot(_.traced).map(_.ms).toSeq)))
  }
}
