package graft.perfbench

import LayerTrace.{Span, Totals}

/** Per-layer metrics of one traced pass, named after the program's
  * modules. A layer a workload does not run reports 0. */
object LayerMetrics {
  def apply(layers: Map[String, Totals], spans: Seq[Span], pass: TracedPass,
            gcSeconds: Double): Map[String, Double] = {
    val work = layers.filter { case (k, _) => k != Workloads.Bookkeeping }
    def t(l: String): Totals = work.getOrElse(l, new Totals)
    def c(k: String): Double = pass.counts.getOrElse(k, 0.0)
    def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
    def wall(l: String): Double = spans.filter(_.layer == l).map(_.seconds).sum
    val total = new Totals
    work.values.foreach(total.add)
    val scanRows = if (c("scan.rows") > 0) c("scan.rows") else total.inputRecords.toDouble
    val out = pass.output.rows.toDouble
    val (write, counters) = (t(LayerTrace.Write), t(LayerTrace.Counters))
    val backendWall = wall(LayerTrace.Backend)
    Map(
      "scan.rows" -> scanRows,
      "scan.input_mb" -> total.inputBytes / LayerTrace.MB,
      "scan.busy_s" -> t("scan").busyMs / 1e3,
      "prefilter.rows_out" -> c("prefilter.rows_out"),
      "prefilter.pass_frac" -> ratio(c("prefilter.rows_out"), c("scan.rows")),
      "prefilter.busy_s" -> t("prefilter").busyMs / 1e3,
      "gate.rows_out" -> c("gate.rows_out"),
      "gate.busy_s" -> t("gate").busyMs / 1e3,
      "gate.precision" -> ratio(c("gate.rows_out"), c("prefilter.rows_out")),
      "parse.rows" -> c("parse.rows"),
      "parse.busy_s" -> t("parse").busyMs / 1e3,
      "emit.triples" -> c("emit.triples"),
      "emit.triples_per_entity" -> ratio(c("emit.triples"), c("parse.rows")),
      "emit.busy_s" -> t("emit").busyMs / 1e3,
      "dedup.keep_frac" -> ratio(if (c("emit.triples") > 0) out else 0.0, c("emit.triples")),
      "dedup.busy_s" -> t("dedup").busyMs / 1e3,
      "dedup.shuffle_write_mb" -> t("dedup").shuffleWriteBytes / LayerTrace.MB,
      "dedup.shuffle_read_mb" -> t("dedup").shuffleReadBytes / LayerTrace.MB,
      "dedup.fetch_wait_s" -> t("dedup").fetchWaitMs / 1e3,
      "dedup.spill_mb" -> t("dedup").spillBytes / LayerTrace.MB,
      "dedup.gc_s" -> t("dedup").gcMs / 1e3,
      "write.rows" -> write.outputRecords.toDouble,
      "write.output_mb" -> write.outputBytes / LayerTrace.MB,
      "write.files" -> c("write.files"),
      "write.busy_s" -> write.busyMs / 1e3,
      "write.wall_s" -> write.wallMs / 1e3,
      "counters.busy_s" -> counters.busyMs / 1e3,
      "backend.other_s" ->
        (if (backendWall > 0) backendWall - write.wallMs / 1e3 - counters.wallMs / 1e3 else 0.0),
      "canon.edges" -> c("canon.edges"),
      "canon.edges_busy_s" -> t("canon.edges").busyMs / 1e3,
      "canon.cc_jobs" -> t("canon.cc").jobs.toDouble,
      "canon.cc_s" -> wall("canon.cc"),
      "canon.components" -> c("canon.components"),
      "canon.rewrite_busy_s" -> t("canon.rewrite").busyMs / 1e3,
      "canon.rewrite_shuffle_mb" -> t("canon.rewrite").shuffleWriteBytes / LayerTrace.MB,
      "spark.jobs" -> total.jobs.toDouble,
      "spark.stages" -> total.stages.toDouble,
      "spark.tasks" -> total.tasks.toDouble,
      "spark.task_failures" -> total.taskFailures.toDouble,
      "jvm.gc_s" -> gcSeconds,
      "trace.job_s" -> spans.filter(_.layer != Workloads.Bookkeeping).map(_.seconds).sum)
  }
}
