package perfbench

/** Per-layer metrics of a traced run, measured from outside the engine:
  * spans around public calls, the job listener and the plan listener.
  * Every name is always emitted (0 where the workload never touches the
  * layer), so runs of different workloads stay comparable by name. */
object Layers {
  val Families = Seq("cc", "bpe", "quantile", "text", "dedup")
  val StoreFamilies = Seq("bm25", "ivf", "lines", "contam")

  val names: Seq[String] = Seq(
    "dialect.parse_ms", "dialect.compile_ms",
    "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
    "sources.scan_mb", "sources.scan_rows", "sources.rows_scanned_per_row_out",
    "sources.arrow_export_ms", "functions.codegen_fallback_exprs",
    "operators.construct_s", "operators.construct_jobs",
    "operators.cc_s", "operators.cc_jobs", "operators.bpe_s",
    "operators.bpe_jobs", "operators.quantile_s", "operators.quantile_jobs",
    "operators.text_s", "operators.dedup_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
    "exec.task_cpu_s", "exec.gc_s", "exec.core_busy_frac", "exec.driver_gap_s",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.spill_mb",
    "shuffle.peak_stage_mb") ++
    StoreFamilies.flatMap(f => Seq(s"store.append_ms.$f", s"store.serve_ms.$f")) ++
    Seq("store.compact_ms", "store.disk_mb", "store.live_files", "store.epoch",
      "store.commit_ok_frac", "cache.release_ms", "cache.storage_peak_mb")

  private val MB = 1048576.0

  /** Length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def metrics(r: Runner, cfg: Config, ops: Seq[Sample], jobs: JobListener,
              plans: PlanListener): Map[String, Double] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    names.foreach(m(_) = 0.0)
    if (ops.isEmpty) return m.toMap
    val (jobRecs, stageRecs) = jobs.synchronized((jobs.jobs.values.toSeq, jobs.stages.toSeq))
    val qeRecs = plans.synchronized(plans.recs.toSeq)
    val jobsBy = jobRecs.groupBy(_.group)
    val stagesBy = stageRecs.groupBy(_.group)
    def jobsOf(s: Sample) = jobsBy.getOrElse(s.group, Nil)
    def stagesOf(s: Sample) = stagesBy.getOrElse(s.group, Nil)
    val qesBy = ops.map(s => s.group ->
      qeRecs.filter(q => q.startMs >= s.startMs && q.startMs <= s.endMs)).toMap
    def qes(s: Sample) = qesBy(s.group)
    def perOp(f: Sample => Double): Double = Stats.mean(ops.map(f))

    m("exec.jobs") = perOp(jobsOf(_).size)
    m("exec.stages") = perOp(stagesOf(_).size)
    m("exec.tasks") = perOp(stagesOf(_).map(_.tasks).sum)
    m("exec.task_run_s") = perOp(stagesOf(_).map(_.runMs).sum / 1e3)
    m("exec.task_cpu_s") = perOp(stagesOf(_).map(_.cpuNs).sum / 1e9)
    m("exec.gc_s") = perOp(stagesOf(_).map(_.gcMs).sum / 1e3)
    m("exec.core_busy_frac") =
      ops.map(stagesOf(_).map(_.runMs).sum).sum /
        (ops.map(_.latS).sum * 1e3 * cfg.cpus)
    m("exec.driver_gap_s") = perOp { s =>
      val iv = jobsOf(s).filter(_.endMs >= 0)
        .map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
        .filter(x => x._2 > x._1)
      math.max(0.0, s.latS - unionMs(iv) / 1e3)
    }
    m("shuffle.write_mb") = perOp(stagesOf(_).map(_.shuffleWrite).sum / MB)
    m("shuffle.read_mb") = perOp(stagesOf(_).map(_.shuffleRead).sum / MB)
    m("shuffle.spill_mb") = perOp(stagesOf(_).map(_.spill).sum / MB)
    m("shuffle.peak_stage_mb") =
      (0L +: ops.flatMap(stagesOf).map(_.shuffleWrite)).max / MB

    m("plan.analysis_ms") = perOp(qes(_).map(_.analysisMs).sum.toDouble)
    m("plan.optimization_ms") = perOp(qes(_).map(_.optimizationMs).sum.toDouble)
    m("plan.planning_ms") = perOp(qes(_).map(_.planningMs).sum.toDouble)
    m("sources.scan_mb") = perOp(qes(_).map(_.scanBytes).sum / MB)
    m("sources.scan_rows") = perOp(qes(_).map(_.scanRows).sum.toDouble)
    val rowsOut = ops.map(qes(_).map(_.rowsOut).sum).sum
    m("sources.rows_scanned_per_row_out") =
      if (rowsOut > 0) ops.map(qes(_).map(_.scanRows).sum).sum.toDouble / rowsOut
      else 0.0
    m("functions.codegen_fallback_exprs") =
      perOp(qes(_).map(_.fallbacks).sum.toDouble)

    val spans = r.tracer.spans.toSeq
    def spanMean(layer: String, name: String): Double =
      Stats.mean(spans.filter(s => s.layer == layer && s.name == name).map(_.ms))
    m("dialect.parse_ms") = spanMean("dialect", "parse")
    m("dialect.compile_ms") = spanMean("dialect", "compile")
    m("sources.arrow_export_ms") = spanMean("sources", "arrow_export")

    val built = ops.filter(_.constructMs._2 > 0)
    m("operators.construct_s") =
      Stats.mean(built.map(s => (s.constructMs._2 - s.constructMs._1) / 1e3))
    m("operators.construct_jobs") = Stats.mean(built.map { s =>
      jobsOf(s).count(j => j.startMs >= s.constructMs._1 &&
        j.startMs <= s.constructMs._2).toDouble
    })
    Families.foreach { f =>
      val fo = ops.filter(_.op.family == f)
      m(s"operators.${f}_s") = Stats.mean(fo.map(_.latS))
      if (m.contains(s"operators.${f}_jobs"))
        m(s"operators.${f}_jobs") = Stats.mean(fo.map(jobsOf(_).size.toDouble))
    }
    m("cache.release_ms") = Stats.mean(r.releaseMs)
    m("cache.storage_peak_mb") = r.storagePeakMb
    m.toMap
  }
}
