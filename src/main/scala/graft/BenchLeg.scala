package graft

import org.apache.spark.sql.SparkSession

/** One timed run of a leg: wall seconds, GC and process-CPU ms, and the
  * parse-stage task skew (median, max ms). -1 = not measured. */
private[graft] final case class LegRun(sec: Double, gcMs: Long, cpuMs: Long,
    taskMedMs: Long, taskMaxMs: Long)

/** One measured leg: its timed runs, the cycle-canary pair around them
  * (wall ms), the ok-doc count (-1 = not printed) and whether it ran
  * in-process instead of in a pinned child — a `fallback` leg is a
  * different methodology and must be distinguishable in the artifact. */
private[graft] final case class Leg(runs: Seq[LegRun], canaryMs: Seq[Long], ok: Long,
    fallback: Boolean = false) {
  /** Index of the median run by (wall, index): plain indexOf(median)
    * picks the FIRST run with that wall time, which can be a different
    * run than the median position when two runs tie at 3 decimals — and
    * then the published telemetry would describe the wrong run. */
  def mid: Int = runs.map(_.sec).zipWithIndex.sortBy(identity).apply(runs.length / 2)._2
  def sec: Double = runs(mid).sec
  /** The median run's telemetry: cpu/wall ≈ pinned cores means the JVM
    * really worked that long, cpu/wall ≪ cores with normal GC means the
    * host starved the leg of cycles. */
  def json: String = {
    val r = runs(mid)
    s"""{"sec":${Bench.fmt(r.sec)},"cpu_ms":${r.cpuMs},"gc_ms":${r.gcMs}""" +
    s""","task_ms_median":${r.taskMedMs},"task_ms_max":${r.taskMaxMs}""" +
    s""","canary_ms":${canaryMs.mkString("[", ",", "]")},"fallback":$fallback}"""
  }
}

/** One measurement leg, run as its OWN JVM under `taskset -c 0-(N-1)` so
  * the process — executor threads, GC, JIT — really owns exactly N cores,
  * like an N-core executor would. In-process local[N] legs flatter the
  * small-N side: the JVM's GC/compiler threads run free on the idle
  * cores. Spawned by graft.Bench:
  *
  *   graft.BenchLeg <pages> <warm> <cpus> <iters> <route>
  *
  * `route` selects the routing under measurement (BenchCommon
  * .countOkRoute): `none` (the headline's as-stored layout), `salted`
  * (cpus hash partitions), `salted_fine` (cpus × 4) or `domain`; any
  * other route fails the leg.
  *
  * Prints per-run telemetry on stdout so a sick run self-diagnoses:
  * `LEG_RUNS=` (wall sec per run), `LEG_GC=` (GC-time delta ms),
  * `LEG_CPU=` (process-CPU delta ms), `LEG_TASKMED=`/`LEG_TASKMAX=`
  * (parse-stage task-skew ms), `LEG_CANARY=` (cycle-canary wall ms
  * before and after the timed runs) and `LEG_OK=` (ok docs).
  */
object BenchLeg {
  def main(args: Array[String]): Unit = {
    val Array(path, warmPath, cpus, iters, route) = args
    val spark = BenchCommon.session(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    try println(encode(measure(spark, path, warmPath, cpus.toInt, iters.toInt, route)))
    finally spark.stop()
  }

  /** THE leg body, shared by the pinned child and Bench's in-process
    * fallback, so both time the identical computation: two JIT-warm
    * runs, then `iters` timed runs of `route` over `path`. */
  def measure(spark: SparkSession, path: String, warmPath: String, cpus: Int,
      iters: Int, route: String): Leg = {
    def leg(p: String): Long = BenchCommon.countOkRoute(spark, p, cpus, route)
    val listener = new TaskTimeListener
    spark.sparkContext.addSparkListener(listener)
    leg(warmPath); leg(path) // JIT warm
    // cycle-delivery canary AROUND the timed runs (round-6 verdict #2):
    // a fixed single-thread checksum with a known canonical wall time,
    // so a below-band leg carries its own normalization ("the host
    // delivered X% of canonical cycles during this leg") instead of
    // leaning on builder-run history
    CycleCanary.warm()
    val canaryBefore = CycleCanary.run()
    val runs = Seq.fill(iters) {
      listener.clear()
      val m = Measured.time(leg(path))
      Thread.sleep(300) // let the listener bus drain
      val (taskMed, taskMax) = listener.skew
      (m.value, LegRun(m.sec, m.gcMs, m.cpuMs, taskMed, taskMax))
    }
    val canaryAfter = CycleCanary.run()
    Leg(runs.map(_._2), Seq(canaryBefore, canaryAfter), runs.last._1)
  }

  /** The LEG_* lines `decode` reads back. */
  def encode(leg: Leg): String = {
    def line(tag: String, xs: Seq[Any]) = s"$tag=${xs.mkString(",")}"
    Seq(
      line("LEG_RUNS", leg.runs.map(r => Bench.fmt(r.sec))),
      line("LEG_GC", leg.runs.map(_.gcMs)),
      line("LEG_CPU", leg.runs.map(_.cpuMs)),
      line("LEG_TASKMED", leg.runs.map(_.taskMedMs)),
      line("LEG_TASKMAX", leg.runs.map(_.taskMaxMs)),
      line("LEG_CANARY", leg.canaryMs),
      line("LEG_OK", Seq(leg.ok))).mkString("\n")
  }

  /** Decode a child's merged stdout+stderr: one LegRun per LEG_RUNS
    * entry; a per-run value the child never printed (truncated output)
    * reads -1, the "not measured" sentinel — 0 would read as a measured
    * sub-ms value. No LEG_RUNS line decodes to a leg with no runs. */
  def decode(out: String): Leg = {
    def values(tag: String): Seq[String] =
      s"$tag=([0-9.,-]+)".r.findFirstMatchIn(out).toSeq.flatMap(_.group(1).split(','))
    def longs(tag: String): Seq[Long] =
      values(tag).flatMap(_.toLongOption)
    val secs = values("LEG_RUNS").flatMap(_.toDoubleOption)
    val Seq(gc, cpu, med, max) =
      Seq("LEG_GC", "LEG_CPU", "LEG_TASKMED", "LEG_TASKMAX").map(longs)
    val runs = secs.indices.map { i =>
      def at(xs: Seq[Long]) = xs.lift(i).getOrElse(-1L)
      LegRun(secs(i), at(gc), at(cpu), at(med), at(max))
    }
    Leg(runs, longs("LEG_CANARY"), longs("LEG_OK").headOption.getOrElse(-1L))
  }
}
