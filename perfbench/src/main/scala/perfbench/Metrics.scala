package perfbench

import BenchMain.{median, quantile}

/** Derives the reported metrics from the timed rounds, the job ledger and
  * the spans. Per-layer counts and times are per round (a file load, a
  * sweep or a query pass), averaged over the traced rounds.
  */
object Metrics {
  /** Operations in a round: its files (pipeline) or queries. */
  private def ops(r: Round): Int = math.max(r.files, r.opLat.size)

  /** The end-to-end metrics. `work` holds each round's Spark (jobs, tasks),
    * counted in the round's interval.
    */
  def endToEnd(rounds: Seq[Round], work: Seq[(Long, Long)], setupS: Double,
               heapMb: Double): Map[String, Double] = {
    val n = rounds.map(ops).sum.toDouble
    Map(
      "setup_s" -> setupS,
      "jobs_per_op" -> work.map(_._1).sum / n,
      "tasks_per_op" -> work.map(_._2).sum / n,
      "heap_retained_mb" -> heapMb)
  }

  /** Figures measured on the untraced rounds that are reported with the
    * per-layer metrics: wall and CPU times, which do not repeat within a
    * tenth on a host with CPU steal, and figures that apply to one
    * workload only.
    */
  private def workloadFigures(plain: Seq[Round]): Map[String, Double] = {
    val wall = plain.map(_.wallS).sum
    val lat = plain.flatMap(_.opLat)
    Map(
      "e2e.load_s" -> median(plain.map(_.wallS)),
      "e2e.load_cpu_s" -> median(plain.map(_.cpuS)),
      "e2e.op_p50_s" -> median(lat),
      "e2e.ops_per_s" -> plain.map(ops).sum / wall,
      "e2e.samples" -> lat.size.toDouble,
      "e2e.rows_per_s" -> plain.map(_.rowsRead).sum / wall,
      "e2e.paper_rows_per_s" -> median(plain.flatMap(_.extra.get("paper_rows_per_s"))),
      "e2e.files_per_s" -> plain.map(_.files).sum / wall,
      "e2e.op_p75_s" -> quantile(lat, 0.75),
      "e2e.op_p90_s" -> quantile(lat, 0.90),
      "e2e.target_read_s" -> median(plain.flatMap(_.targetReadS)),
      "e2e.stored_bytes_per_input_byte" ->
        plain.lastOption.flatMap(_.extra.get("stored_bytes_per_input_byte")).getOrElse(0.0))
  }

  def perLayer(workload: String, plain: Seq[Round], traced: Seq[Round],
               jobs: Seq[JobRec], spans: Spans, cores: Int): Map[String, Double] = {
    val n = math.max(1, traced.size).toDouble
    val all = spans.all
    def spanS(name: String): Double = all.filter(_.name == name).map(_.seconds).sum / n
    def of(labels: String*): Seq[JobRec] = jobs.filter(j => labels.contains(j.label))
    def secs(js: Seq[JobRec]): Double = js.map(_.seconds).sum / n
    def cnt(js: Seq[JobRec]): Double = js.size / n
    def taskS(js: Seq[JobRec]): Double = js.map(_.taskMs).sum / 1e3 / n
    def maxTaskS(js: Seq[JobRec]): Double =
      if (js.isEmpty) 0.0 else js.map(_.maxTaskMs).max / 1e3
    def sumL(js: Seq[JobRec])(f: JobRec => Long): Double = js.map(f).sum / n
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

    val inWindow = jobs.filter(j => traced.exists(r => j.startUs >= r.startUs && j.startUs <= r.endUs))
    val wall = traced.map(_.wallS).sum
    val rowsRead = traced.map(_.rowsRead).sum.toDouble
    val fileOps = traced.flatMap(_.ops).filter(_.get("kind").contains("file"))
    def opSum(k: String): Double =
      fileOps.flatMap(_.get(k)).collect { case x: Long => x.toDouble }.sum
    val changed = opSum("inserts") + opSum("updates")

    val read = of("read"); val validate = of("validate"); val audit = of("audit")
    val publish = of("publish"); val unlabelled = of("sweep")
    val housekeeping = of("dup-probe", "dlq-cleanup", "sidecar-append",
      "log-append", "rebucket-gauge") ++ unlabelled
    val construct = of("construct"); val exec = of("exec")
    val targetRead = of("target-read")

    val unattributed = traced.map { r =>
      val iv = jobs.filter(j => j.desc != null && j.desc.startsWith("pipeline:") &&
        j.startUs >= r.startUs && j.startUs <= r.endUs)
        .map(j => (math.max(j.startUs, r.startUs), math.min(j.endUs, r.endUs)))
      r.wallS - Intervals.covered(iv)
    }.sum / n

    def family(q: String): String =
      if (q.contains("stream")) "streaming"
      else if (q.contains("index") || q.contains("ivf")) "index"
      else if (q.matches("q[0-9]+_.*")) "relational"
      else "training"
    val queryByFamily = all.filter(_.name == "query").groupBy(s => family(s.runId))
      .map { case (f, ss) => f -> ss.map(_.seconds).sum / n }

    val isQuery = workload == "query_suite"
    workloadFigures(plain) ++ Map(
      "sources.read_s" -> secs(read),
      "sources.jobs" -> cnt(read),
      "sources.input_bytes" -> sumL(read ++ validate)(_.inputBytes),
      "sources.rows" -> rowsRead / n,
      "validator.s" -> secs(validate),
      "validator.tasks" -> sumL(validate)(_.tasks),
      "validator.task_s" -> taskS(validate),
      "validator.max_task_s" -> maxTaskS(validate),
      "validator.rows_validated_ratio" ->
        ratio((validate ++ unlabelled).map(_.inputRecords).sum, rowsRead),
      "validator.dlq_rows" -> opSum("failed") / n,
      "audit.s" -> secs(audit),
      "audit.jobs" -> cnt(audit),
      "audit.shuffle_bytes" -> sumL(audit)(j => j.shuffleRead + j.shuffleWrite),
      "publish.s" -> secs(publish),
      "publish.jobs" -> cnt(publish),
      "publish.task_s" -> taskS(publish),
      "publish.max_task_s" -> maxTaskS(publish),
      "publish.shuffle_bytes" -> sumL(publish)(j => j.shuffleRead + j.shuffleWrite),
      "publish.output_bytes" -> sumL(publish)(_.outputBytes),
      "publish.output_rows" -> sumL(publish)(_.outputRecords),
      "publish.files_written" -> traced.map(_.extra.getOrElse("target_files_written", 0.0)).sum / n,
      "publish.rewrite_ratio" -> ratio(publish.map(_.outputRecords).sum, changed),
      "store.target_read_s" -> ratio(spanS("store.target_read") * n,
        all.count(_.name == "store.target_read")),
      "store.target_read_bytes" -> sumL(targetRead)(_.inputBytes),
      "store.target_files" -> traced.lastOption.flatMap(_.extra.get("target_files")).getOrElse(0.0),
      "store.warehouse_bytes" -> traced.lastOption.flatMap(_.extra.get("warehouse_bytes")).getOrElse(0.0),
      "store.warehouse_files" -> traced.lastOption.flatMap(_.extra.get("warehouse_files")).getOrElse(0.0),
      "runner.dup_probe_s" -> secs(of("dup-probe")),
      "runner.dlq_write_s" -> secs(of("dlq-write")),
      "runner.dlq_cleanup_s" -> secs(of("dlq-cleanup")),
      "runner.sidecar_s" -> secs(of("sidecar-append")),
      "runner.log_append_s" -> secs(of("log-append")),
      "runner.rebucket_gauge_s" -> secs(of("rebucket-gauge")),
      "runner.housekeeping_jobs" -> cnt(housekeeping),
      "processor.sweep_s" -> (if (isQuery) 0.0 else median(traced.map(_.wallS))),
      "processor.queue_wait_s" -> median(traced.flatMap(_.queueWait)),
      "processor.unattributed_s" -> (if (isQuery) 0.0 else unattributed),
      "queries.construct_s" -> spanS("queries.construct"),
      "queries.construct_jobs" -> cnt(construct),
      "queries.plan_s" -> spanS("queries.plan"),
      "queries.exec_s" -> spanS("queries.exec"),
      "queries.exec_jobs" -> cnt(exec),
      "queries.tasks" -> sumL(exec)(_.tasks),
      "queries.task_s" -> taskS(exec),
      "queries.max_task_s" -> maxTaskS(exec),
      "queries.shuffle_bytes" -> sumL(exec)(j => j.shuffleRead + j.shuffleWrite),
      "queries.spill_bytes" -> sumL(exec)(_.spill),
      "queries.relational_s" -> queryByFamily.getOrElse("relational", 0.0),
      "queries.training_s" -> queryByFamily.getOrElse("training", 0.0),
      "queries.streaming_s" -> queryByFamily.getOrElse("streaming", 0.0),
      "queries.index_s" -> queryByFamily.getOrElse("index", 0.0),
      "spark.jobs" -> cnt(inWindow),
      "spark.stages" -> inWindow.map(_.stages).sum / n,
      "spark.tasks" -> sumL(inWindow)(_.tasks),
      "spark.task_s" -> taskS(inWindow),
      "spark.gc_s" -> sumL(inWindow)(_.gcMs) / 1e3,
      "spark.sched_overhead_s" -> sumL(inWindow)(j => j.taskMs - j.runMs) / 1e3,
      "spark.core_util" -> ratio(inWindow.map(_.taskMs).sum / 1e3, wall * cores),
      "spark.single_task_stages" -> inWindow.map(_.singleTaskStages).sum / n,
      "spark.max_task_share" -> ratio(inWindow.map(_.stageMaxTaskMs).sum.toDouble,
        inWindow.map(_.taskMs).sum.toDouble),
      "spark.shuffle_read_bytes" -> sumL(inWindow)(_.shuffleRead),
      "spark.shuffle_write_bytes" -> sumL(inWindow)(_.shuffleWrite),
      "spark.spill_bytes" -> sumL(inWindow)(_.spill),
      "spark.output_bytes" -> sumL(inWindow)(_.outputBytes),
      "trace.overhead_s" -> (median(traced.map(_.wallS)) - median(plain.map(_.wallS))))
  }
}
