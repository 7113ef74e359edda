package perfbench

/** Per-layer figures of a traced run, from the client's spans and the
  * Spark work attributed to each operation.
  */
object Layers {
  val CommitOps = Seq("append", "upsert_mor", "delete", "update", "merge",
    "compact", "expire", "rewrite_manifests")

  private def med(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  private def num(m: Map[String, Any], k: String): Double = m.get(k) match {
    case Some(n: Number) => n.doubleValue
    case _ => 0.0
  }

  def of(t: Tracer, c: Client, checks: Map[String, Any]): Map[String, Double] = {
    val ops = c.ops.toSeq
    def work(o: OpRecord): OpWork = t.work.getOrElse(o.id, new OpWork)
    def jobMs(o: OpRecord): Double = Tracer.unionMs(work(o).jobIntervals.toSeq.map {
      case (s, e) => (math.max(s, o.startMs), math.min(e, o.endMs)) }).toDouble
    def driverMs(o: OpRecord): Double = math.max(0.0, o.ms - jobMs(o))
    def perOp(f: OpWork => Double): Double =
      if (ops.isEmpty) 0.0 else ops.map(o => f(work(o))).sum / ops.size

    def section(k: String): Map[String, Any] =
      checks.get(k).collect { case m: Map[String, Any] @unchecked => m }.getOrElse(Map.empty)
    val storage = section("storage")
    val sources = section("sources")
    val planning = section("planning").values.collect { case m: Map[String, Any] @unchecked => m }
    val sqlOps = ops.filter(o => o.kind == "sql" || o.kind == "sqltime")
    val commits = CommitOps.flatMap { k =>
      val os = ops.filter(o => o.cls == "commit" && o.kind == k && o.ok)
      Seq(s"tables.commit_ms.$k" -> med(os.map(_.ms)),
        s"tables.commit_jobs.$k" -> med(os.map(o => work(o).jobs.toDouble)),
        s"tables.commit_driver_ms.$k" -> med(os.map(driverMs)))
    }
    val refreshes = ops.filter(o => o.cls == "refresh" && o.ok)
    // per pass, over complete passes of the pipeline's gate set
    val passes = checks.get("passes").collect { case n: Int => n }.getOrElse(0)
    val gates = checks.get("gates").collect { case g: Seq[_] => g.size }.getOrElse(0)
    val operators = Pipeline.modules.map(_._1).flatMap { m =>
      val os = ops.take(passes * gates).filter(_.cls == m)
      val n = math.max(1, passes)
      Seq(s"operators.${m}_s" -> os.map(_.ms).sum / 1e3 / n,
        s"operators.${m}_jobs" -> os.map(o => work(o).jobs).sum.toDouble / n)
    }
    Map(
      "sources.sql_dispatch_ms" -> med(t.spanMs("graft.sources", "sql")),
      "sources.sql_files_scanned" -> med(sqlOps.filter(_.ok).map(o => work(o).filesScanned.toDouble)),
      "sources.sql_failed" -> (sqlOps.count(!_.ok) + num(checks, "probe_failed")),
      "sources.sql_range_files_scanned" -> num(sources, "sql_range_files_scanned"),
      "sources.sql_range_todf_files" -> num(sources, "sql_range_todf_files"),
      "tables.plan_ms" -> med(t.spanMs("graft.tables", "plannedFiles")),
      "tables.plan_files_total" -> planning.map(num(_, "files_total")).sum,
      "tables.plan_files_kept" -> planning.map(num(_, "files_kept")).sum,
      "tables.plan_manifests_total" -> planning.map(num(_, "manifests_total")).sum,
      "tables.plan_manifests_kept" -> planning.map(num(_, "manifests_kept")).sum,
      "tables.meta_load_cold_ms" -> med(t.spanMs("graft.tables", "meta_load_cold")),
      "tables.meta_load_warm_ms" -> med(t.spanMs("graft.tables", "meta_load_warm")),
      "tables.travel_plan_ms" -> med(t.spanMs("graft.tables", "asOf")),
      "tables.refresh_ms" -> med(refreshes.map(_.ms)),
      "tables.refresh_jobs" -> med(refreshes.map(o => work(o).jobs.toDouble)),
      "tables.view_delete_files" -> num(storage, "view_delete_files"),
      "tables.data_files_live" -> num(storage, "data_files_live"),
      "tables.delete_files_live" -> num(storage, "delete_files_live"),
      "tables.data_bytes_live" -> num(storage, "data_bytes_live"),
      "tables.bytes_on_disk" -> num(storage, "bytes_on_disk"),
      "tables.meta_bytes_per_commit" -> num(storage, "meta_bytes_per_commit"),
      "tables.write_amp" -> num(storage, "write_amp"),
      "spark.jobs" -> perOp(_.jobs),
      "spark.stages" -> perOp(_.stages),
      "spark.tasks" -> perOp(_.tasks),
      "spark.job_ms" -> (if (ops.isEmpty) 0.0 else ops.map(jobMs).sum / ops.size),
      "spark.driver_gap_ms" -> (if (ops.isEmpty) 0.0 else ops.map(driverMs).sum / ops.size),
      "spark.task_run_ms" -> perOp(_.taskRunMs),
      "spark.task_cpu_ms" -> perOp(_.taskCpuNs / 1e6),
      "spark.task_deser_ms" -> perOp(_.taskDeserMs),
      "spark.shuffle_read_bytes" -> perOp(_.shuffleRead),
      "spark.shuffle_write_bytes" -> perOp(_.shuffleWrite),
      "spark.spill_bytes" -> perOp(_.spill),
      "spark.input_bytes" -> perOp(_.input),
      "spark.unattributed_jobs" -> (if (ops.isEmpty) 0.0
        else t.unattributedBetween(ops.head.startMs, ops.last.endMs).toDouble),
      "spark.unreconciled_ops" -> t.unreconciled(ops).size.toDouble,
      "catalyst.analysis_ms" -> perOp(_.analysisMs),
      "catalyst.optimization_ms" -> perOp(_.optimizationMs),
      "catalyst.planning_ms" -> perOp(_.planningMs)) ++ commits ++ operators
  }

  /** Per operation class: Spark work and the span tree, for the trace file. */
  def detail(t: Tracer, c: Client): Map[String, Any] = {
    val byClass = c.ops.toSeq.groupBy(o => s"${o.cls}.${o.kind}").map { case (k, os) =>
      val ws = os.map(o => t.work.getOrElse(o.id, new OpWork))
      k -> Map("n" -> os.size, "wall_ms" -> os.map(_.ms).sum,
        "jobs" -> ws.map(_.jobs).sum, "stages" -> ws.map(_.stages).sum,
        "tasks" -> ws.map(_.tasks).sum, "task_run_ms" -> ws.map(_.taskRunMs).sum,
        "job_ms" -> os.zip(ws).map { case (o, w) => Tracer.unionMs(w.jobIntervals.toSeq.map {
          case (s, e) => (math.max(s, o.startMs), math.min(e, o.endMs)) }) }.sum,
        "analysis_ms" -> ws.map(_.analysisMs).sum, "optimization_ms" -> ws.map(_.optimizationMs).sum,
        "planning_ms" -> ws.map(_.planningMs).sum)
    }
    Map("by_class" -> byClass, "unreconciled_ops" -> t.unreconciled(c.ops.toSeq),
      "jobs_attributed_by_time" -> t.byWindow.get,
      "spans" -> t.spans.map(s => Seq(s.id, s.op, s.layer, s.name, s.parent, s.startNs, s.endNs)))
  }
}
