package graft.perfbench

/** The benchmark's metric catalog: every name the benchmark prints, with
  * its unit and direction. BENCHMARK.json lists the same names (pinned by
  * PerfBenchSpec), and a run refuses to print a result that lacks one.
  *
  * Every workload prints every metric. End-to-end metrics are therefore
  * defined per pass of whatever the workload runs; a per-layer metric of a
  * layer a workload does not call through the benchmark reads 0 there.
  */
object Metrics {
  final case class M(name: String, unit: String, better: String)

  val EndToEnd: Seq[M] = Seq(
    M("setup_s", "s", "lower"),
    M("norm_pass_s", "s", "lower"),
    M("norm_cpu_s", "s", "lower"),
    M("live_heap_mb", "MB", "lower"))

  private def s(n: String) = M(n, "s", "lower")
  private def bytes(n: String) = M(n, "bytes", "lower")

  lazy val PerLayer: Seq[M] = Seq(
    s("trace.pass_s"), s("trace.untraced_pass_s"), M("trace_overhead_share", "ratio", "lower"),
    s("setup.session_s"), s("setup.inputs_s"), s("setup.warm_s"),
    M("spark.jobs", "count", "lower"), M("spark.stages", "count", "lower"),
    M("spark.tasks", "count", "lower"), s("spark.task_s_sum"),
    bytes("spark.shuffle_write_bytes"), bytes("spark.shuffle_read_bytes"),
    bytes("spark.spill_bytes"), bytes("spark.input_bytes"), bytes("spark.output_bytes"),
    M("spark.task_skew", "ratio", "lower"),
    s("jvm.gc_s"), s("jvm.cpu_s"),
    M("host.cycle_delivery_before", "ratio", "higher"),
    M("host.cycle_delivery_after", "ratio", "higher"), s("host.ref_s"),
    M("scaling_efficiency", "ratio", "higher"),
    M("scale.lo_items_per_s", "1/s", "higher"), M("scale.hi_items_per_s", "1/s", "higher"),
    s("scan_s"), bytes("scan_bytes")) ++
    TracedExtract.Layers.map(l => s(s"${l}_s")) ++ Seq(
    M("html_docs", "count", "higher"), bytes("html_bytes"),
    M("pdf_docs", "count", "higher"), bytes("pdf_bytes"),
    s("extract.unattributed_s"), M("extract.err_docs", "count", "lower")) ++
    Workload.DocQueries.map(q => s(s"q.${q}_s")) ++ Seq(s("queries.driver_self_s"),
    s("table.killed_run_s"), s("table.resume_run_s"), s("table.completed_buckets_s"),
    s("table.read_snapshot_s"), M("table.files_written", "count", "lower"),
    bytes("table.bytes_written"), M("table.bytes_per_input_byte", "ratio", "lower"),
    M("table.reparsed_docs", "count", "lower"), M("table.wave_skew", "ratio", "lower"))

  def catalog(trace: Boolean): Seq[M] = if (trace) PerLayer else EndToEnd

  /** The result line: exactly the catalog's names, each with its unit. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long, trace: Boolean,
      values: Map[String, Double]): String = {
    val cat = catalog(trace)
    val missing = cat.map(_.name).filterNot(values.contains)
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    val extra = values.keySet -- cat.map(_.name)
    require(extra.isEmpty, s"metrics not in the catalog: ${extra.mkString(", ")}")
    val ms = cat.map(m => s""""${m.name}":{"value":${num(values(m.name))},"unit":"${m.unit}"}""")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}"""
  }

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"not a finite measurement: $d")
    java.math.BigDecimal.valueOf(d).toPlainString
  }
}
