package graft.perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** The repository benchmark. One JVM runs one workload at local[nproc] as
  * a closed loop (one driver thread submits each job after the previous
  * one finished):
  *
  *   1. set-up: session start, the workload's inputs generated and
  *      written three times, one cold pass, then untimed warm passes;
  *   2. untraced (`--trace 0`): passes until `--seconds` have elapsed,
  *      each between two runs of the fixed [[Reference]] work; prints the
  *      end-to-end metrics;
  *   3. traced (`--trace 1`): untraced passes, then traced passes with the
  *      benchmark's own listener and spans, then two pinned child JVMs
  *      (N and 4N cores) for the scaling legs; prints the per-layer
  *      metrics and writes spans plus a self-time table.
  *
  * Every pass checks its outputs; a failed check counts in `failed`. The
  * last stdout line is the result JSON. Normally started by
  * `perfbench/run.py`, which builds the classpath.
  */
object PerfBench {

  final case class Opts(workload: String = "", seed: Long = 0L, seconds: Int = 10,
      trace: Boolean = false, work: String = "", out: String = "", legCores: Int = 0)

  def parse(args: Seq[String]): Opts = args match {
    case Nil => Opts()
    case "--workload" :: v :: rest => parse(rest).copy(workload = v)
    case "--seed" :: v :: rest => parse(rest).copy(seed = v.toLong)
    case "--seconds" :: v :: rest => parse(rest).copy(seconds = v.toInt)
    case "--trace" :: v :: rest => parse(rest).copy(trace = v == "1")
    case "--work" :: v :: rest => parse(rest).copy(work = v)
    case "--out" :: v :: rest => parse(rest).copy(out = v)
    case "--leg-cores" :: v :: rest => parse(rest).copy(legCores = v.toInt)
    case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  def cpuS: Double = graft.CpuClock.ms / 1000.0

  private val threadBean = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU nanoseconds so far of the threads that run the program's work:
    * the calling (driver) thread and Spark's task threads. JIT compiler,
    * GC and listener threads are left out, and so is time the host gave
    * to other tenants. */
  def workThreadsCpuNs(): Map[Long, Long] = {
    val me = Thread.currentThread().getId
    threadBean.getThreadInfo(threadBean.getAllThreadIds, 0).iterator
      .filter(t => t != null && (t.getThreadId == me ||
        t.getThreadName.startsWith("Executor task launch worker")))
      .map(t => t.getThreadId -> threadBean.getThreadCpuTime(t.getThreadId))
      .filter(_._2 >= 0).toMap
  }

  /** Work-thread CPU seconds between two [[workThreadsCpuNs]] readings;
    * a thread that started in between counts from zero. */
  def workCpuS(before: Map[Long, Long], after: Map[Long, Long]): Double =
    after.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.filter(_ > 0).sum / 1e9

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def procStatus(key: String): String =
    scala.util.Try(scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(key + ":")).map(_.drop(key.length + 1).trim).getOrElse(""))
      .getOrElse("")

  /** The CPUs this process may run on, read back from the kernel. */
  def affinity: String = procStatus("Cpus_allowed_list")

  /** Heap in use right after a full collection: what the program keeps
    * between passes. Taken once, after the timed passes, since a full
    * collection between passes would slow the pass after it; collected
    * twice because Spark's cleaner releases broadcast and shuffle state
    * only after the first collection finds it unreachable. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
  /** Seconds the JIT compiler threads have spent compiling so far. */
  def jitS: Double = jit.getTotalCompilationTime / 1000.0

  def classesLoaded: Long =
    java.lang.management.ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount

  def peakRssMb: Double =
    procStatus("VmHWM").stripSuffix("kB").trim.toDoubleOption.map(_ / 1024.0).getOrElse(0.0)

  private def memTotalMb: Long =
    scala.util.Try(scala.io.Source.fromFile("/proc/meminfo").getLines()
      .find(_.startsWith("MemTotal:")).get.split("\\s+")(1).toLong / 1024).getOrElse(-1L)

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", (4L << 20).toString)
      .config("spark.ui.enabled", "false")
      // a small status store, full after the warm-up: the live heap then
      // does not depend on how many passes a run fitted in
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def makeWorkload(o: Opts, spark: SparkSession): Workload =
    Workload(o.workload, spark, o.seed, s"${o.work}/in")

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")

  final case class PassRec(wallS: Double, cpuS: Double, out: PassOut, spark: Option[SparkStats],
      gcS: Double, jvmCpuS: Double, jitS: Double, classes: Long, refS: Double = 0.0)

  /** A per-pass time scaled to a host that runs the reference work in
    * its canonical time: the median over passes, over the median
    * reference run. */
  def norm(ps: Seq[PassRec])(f: PassRec => Double): Double =
    median(ps.map(f)) / median(ps.map(_.refS)) * Reference.CanonicalS

  private def passJson(p: PassRec): String = obj(Seq(
    "wall_s" -> Metrics.num(p.wallS), "cpu_s" -> Metrics.num(p.cpuS),
    "jit_s" -> Metrics.num(p.jitS), "classes_loaded" -> p.classes.toString,
    "ref_s" -> Metrics.num(p.refS),
    "attempted" -> p.out.attempted.toString, "failed" -> p.out.failed.toString,
    "notes" -> p.out.notes.map(q).mkString("[", ",", "]")) ++
    p.out.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Metrics.num(v) })

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    require(Workload.Names.contains(o.workload),
      s"--workload must be one of ${Workload.Names.mkString(", ")}")
    require(o.work.nonEmpty, "--work <dir> is required")
    graft.queries.Queries.auxDumpEnabled = false
    if (o.legCores > 0) leg(o) else run(o)
  }

  /** A scaling leg: this JVM was started under `taskset` by the traced
    * run; it reuses the inputs the parent wrote and reports its
    * throughput and the CPUs it could actually use. */
  private def leg(o: Opts): Unit = {
    val spark = session(o.legCores, s"${o.work}/leg${o.legCores}")
    val w = makeWorkload(o, spark) match {
      case e: ExtractCrawl => e
      case _ => throw new IllegalArgumentException(s"no scaling legs for ${o.workload}")
    }
    w.prepare()
    def once(): (Double, Long) = {
      w.workS = 0; w.workCpuS = 0
      val out = w.pass(None)
      w.release()
      (w.workS, out.failed)
    }
    // two warm passes: a leg's throughput only needs to be comparable
    // between the two legs, and the 1-core leg's passes are slow
    Seq.fill(2)(once())
    val t0 = System.nanoTime()
    val runs = Iterator.continually(once())
      .takeWhile(_ => (System.nanoTime() - t0) / 1e9 < o.seconds).toSeq match {
      case Seq() => Seq(once())
      case rs => rs
    }
    println("LEG_RESULT " + obj(Seq("cores" -> o.legCores.toString,
      "affinity" -> q(affinity), "available_processors" -> Runtime.getRuntime.availableProcessors.toString,
      "passes" -> runs.size.toString, "pass_s" -> Metrics.num(median(runs.map(_._1))),
      "items_per_s" -> Metrics.num(w.nDocs / median(runs.map(_._1))),
      "failed" -> runs.map(_._2).sum.toString)))
    spark.stop()
  }

  private def run(o: Opts): Unit = {
    val runT0 = System.nanoTime()
    val nproc = Runtime.getRuntime.availableProcessors
    val (spark, sessionS) = timed(session(nproc, o.work))
    val w = makeWorkload(o, spark)
    val setupReps = (1 to 3).map(_ => timed(w.setup())._2)
    w.prepare()
    val ref = new Reference(spark, s"${o.work}/ref")
    ref.setup()
    var attempted, failed = 0L

    def runPass(trace: Option[TraceCtx]): PassRec = {
      w.workS = 0; w.workCpuS = 0
      val gc0 = graft.GcClock.ms
      val c0 = cpuS
      val j0 = jitS
      val k0 = classesLoaded
      val out = w.pass(trace)
      val stats = trace.map(_.listener.passStats())
      val gcS = (graft.GcClock.ms - gc0) / 1000.0
      val jvmCpu = cpuS - c0
      val jit = jitS - j0
      w.release()
      attempted += out.attempted
      failed += out.failed
      PassRec(w.workS, w.workCpuS, out, stats, gcS, jvmCpu, jit, classesLoaded - k0)
    }
    // timed passes, each between two reference runs: a pass's reference
    // time is the mean of the runs before and after it
    def passesFor(seconds: Double, min: Int)(mk: => PassRec): Seq[PassRec] = {
      val t0 = System.nanoTime()
      val b = Seq.newBuilder[PassRec]
      var r = ref.run()
      var n = 0
      while (n < min || (System.nanoTime() - t0) / 1e9 < seconds) {
        val p = mk
        val r2 = ref.run()
        b += p.copy(refS = (r + r2) / 2)
        r = r2
        n += 1
      }
      b.result()
    }

    // the first pass pays lazy set-up and counts in setup_s; the rest of
    // the warm-up lets the JIT and Spark's caches settle
    val warm = runPass(None)
    val setupS = sessionS + median(setupReps) + warm.wallS
    val warmRest = Seq.fill(w.warmPasses - 1) { ref.run(); runPass(None) }

    val values = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var extraJson = Seq.empty[(String, String)]
    val timedPasses: Seq[PassRec] =
      if (!o.trace) {
        val ps = passesFor(o.seconds, 3)(runPass(None))
        values ++= Seq("setup_s" -> setupS, "norm_pass_s" -> norm(ps)(_.wallS),
          "norm_cpu_s" -> norm(ps)(_.cpuS), "live_heap_mb" -> liveHeapMb())
        ps
      } else {
        val untraced = passesFor(o.seconds / 2.0, 2)(runPass(None))
        def tracedPass(tracer: Tracer, listener: BenchListener, root: Long): PassRec = {
          spark.sparkContext.addSparkListener(listener)
          try tracer.span("pass", root)(id => runPass(Some(TraceCtx(tracer, listener, id))))
          finally spark.sparkContext.removeSparkListener(listener)
        }
        // one untimed traced pass first, so the traced code path is as
        // settled as the untraced one when the overhead is compared
        val scratch = new Tracer
        tracedPass(scratch, new BenchListener(scratch), 0L)
        val tracer = new Tracer
        val listener = new BenchListener(tracer)
        graft.CycleCanary.warm()
        val canaryBefore = graft.CycleCanary.run()
        val root = tracer.newId()
        val rootStart = tracer.nowNs
        val tracedPs = passesFor(o.seconds / 2.0, 2)(tracedPass(tracer, listener, root))
        tracer.add(Span(root, 0L, s"workload.${o.workload}", rootStart, tracer.nowNs))
        val canaryAfter = graft.CycleCanary.run()
        def med(f: PassRec => Double) = median(tracedPs.map(f))
        def st(f: SparkStats => Double) = med(p => f(p.spark.get))
        val layerKeys = tracedPs.flatMap(_.out.layers.keys).distinct
        values ++= Metrics.PerLayer.map(_.name -> 0.0)
        values ++= layerKeys.map(k => k -> med(_.out.layers.getOrElse(k, 0.0)))
        val tracedN = norm(tracedPs)(_.wallS)
        val untracedN = norm(untraced)(_.wallS)
        values ++= Seq(
          "trace.pass_s" -> med(_.wallS), "trace.untraced_pass_s" -> median(untraced.map(_.wallS)),
          "host.ref_s" -> median((untraced ++ tracedPs).map(_.refS)),
          "trace_overhead_share" -> (tracedN - untracedN) / untracedN,
          "setup.session_s" -> sessionS, "setup.inputs_s" -> median(setupReps),
          "setup.warm_s" -> warm.wallS,
          "spark.jobs" -> st(_.jobs.toDouble), "spark.stages" -> st(_.stages.toDouble),
          "spark.tasks" -> st(_.tasks.toDouble), "spark.task_s_sum" -> st(_.taskS),
          "spark.shuffle_write_bytes" -> st(_.shuffleWrite.toDouble),
          "spark.shuffle_read_bytes" -> st(_.shuffleRead.toDouble),
          "spark.spill_bytes" -> st(_.spill.toDouble), "spark.input_bytes" -> st(_.input.toDouble),
          "spark.output_bytes" -> st(_.output.toDouble), "spark.task_skew" -> st(_.skew),
          "jvm.gc_s" -> med(_.gcS), "jvm.cpu_s" -> med(_.jvmCpuS),
          "host.cycle_delivery_before" -> graft.CycleCanary.CanonicalMs.toDouble / canaryBefore,
          "host.cycle_delivery_after" -> graft.CycleCanary.CanonicalMs.toDouble / canaryAfter)
        if (o.workload == "queries_table") values("queries.driver_self_s") = driverSelf(tracer.all)
        writeTrace(o, tracer.all)
        extraJson :+= "untraced_passes" -> untraced.map(passJson).mkString("[", ",", "]")
        extraJson :+= "canary_ms" -> s"[$canaryBefore,$canaryAfter]"
        tracedPs
      }
    spark.stop()

    if (o.trace && w.scalingLegs) {
      val (legVals, legJson, legFailed) = scalingLegs(o, nproc)
      values ++= legVals
      failed += legFailed
      extraJson :+= "scaling_legs" -> legJson
    }

    val host = obj(Seq("nproc" -> nproc.toString, "mem_total_mb" -> memTotalMb.toString,
      "affinity" -> q(affinity), "java" -> q(System.getProperty("java.version")),
      "spark" -> q(org.apache.spark.SPARK_VERSION)))
    val artifact = obj(Seq(
      "workload" -> q(o.workload), "seed" -> o.seed.toString, "seconds" -> o.seconds.toString,
      "trace" -> (if (o.trace) "1" else "0"), "host" -> host,
      "inputs" -> obj(w.inputFacts.toSeq.sortBy(_._1).map { case (k, v) => k -> q(v) }),
      "setup_inputs_s" -> setupReps.map(Metrics.num).mkString("[", ",", "]"),
      "session_s" -> Metrics.num(sessionS), "peak_rss_mb" -> Metrics.num(peakRssMb),
      "run_s" -> Metrics.num((System.nanoTime() - runT0) / 1e9),
      "code_cache_mb" -> { import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getName.startsWith("CodeHeap"))
          .map(b => q(b.getName) + ":" + Metrics.num(b.getUsage.getUsed / 1048576.0)).mkString("{", ",", "}") },
      "classes_loaded" -> java.lang.management.ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount.toString,
      "warm_passes" -> (warm +: warmRest).map(passJson).mkString("[", ",", "]"),
      "passes" -> timedPasses.map(passJson).mkString("[", ",", "]")) ++ extraJson)
    Files.createDirectories(Paths.get(o.out))
    Files.writeString(Paths.get(o.out, "run.json"), artifact + "\n")
    val line = Metrics.resultLine(failed == 0, attempted, failed, o.trace, values.toMap)
    println(line)
  }

  /** Planning and scheduling time per pass: each query span's duration
    * minus the part its Spark jobs cover, summed over the pass (median
    * over passes). */
  private def driverSelf(spans: Seq[Span]): Double = {
    val self = Tracer.selfTimes(spans)
    val passIds = spans.filter(_.name == "pass").map(_.id).toSet
    median(spans.filter(s => s.name.startsWith("q.") && passIds(s.parent))
      .groupBy(_.parent).values.map(_.map(s => self(s.id)).sum / 1e9).toSeq)
  }

  /** Spans file plus a per-name self-time table. */
  private def writeTrace(o: Opts, spans: Seq[Span]): Unit = {
    Files.createDirectories(Paths.get(o.out))
    Files.writeString(Paths.get(o.out, "spans.jsonl"), spans.sortBy(_.id).map(_.json).mkString("", "\n", "\n"))
    val self = Tracer.selfTimes(spans)
    val rows = spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.map(_.count).sum, ss.map(s => self(s.id)).sum / 1e9)
    }.sortBy(-_._3)
    // task and layer spans run in parallel, so their self times are
    // task-seconds, not a share of the wall time
    val table = rows.map { case (n, c, s) => f"| $n | $c | $s%.3f |" }
    Files.writeString(Paths.get(o.out, "layers.md"),
      (Seq(s"Self time by span name, ${o.workload}, seed ${o.seed}, all traced passes summed.",
        "", "| span | calls | self s |", "|---|---|---|") ++ table).mkString("", "\n", "\n"))
  }

  /** N and 4N core legs, each in its own JVM pinned with taskset, with N
    * a quarter of this host's CPUs. Never oversubscribed: when 4N would
    * exceed the host, or taskset is missing, scaling is reported as 0
    * and the artifact says why. */
  private def scalingLegs(o: Opts, nproc: Int): (Seq[(String, Double)], String, Long) = {
    val lo = nproc / 4
    val hi = 4 * lo
    val taskset = sys.env.getOrElse("PATH", "").split(java.io.File.pathSeparator)
      .map(d => Paths.get(d, "taskset")).find(p => Files.isExecutable(p))
    if (lo < 1 || hi > nproc || taskset.isEmpty) {
      val why = if (taskset.isEmpty) "taskset not found" else s"4N=$hi exceeds nproc=$nproc"
      return (Seq("scaling_efficiency" -> 0.0, "scale.lo_items_per_s" -> 0.0,
        "scale.hi_items_per_s" -> 0.0), obj(Seq("unavailable" -> q(why))), 0L)
    }
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    }
    def leg(cores: Int): Map[String, String] = {
      val cmd = Seq(taskset.get.toString, "-c", s"0-${cores - 1}", javaBin) ++ jvmArgs ++
        Seq("-cp", System.getProperty("java.class.path"), "graft.perfbench.PerfBench",
          "--workload", o.workload, "--seed", o.seed.toString,
          "--seconds", math.max(1, o.seconds / 4).toString, "--work", o.work,
          "--leg-cores", cores.toString)
      val pb = new ProcessBuilder(cmd: _*).redirectError(ProcessBuilder.Redirect.INHERIT)
      val p = pb.start()
      val out = scala.io.Source.fromInputStream(p.getInputStream, "UTF-8").getLines().toList
      require(p.waitFor() == 0, s"scaling leg at $cores cores exited ${p.exitValue()}")
      val line = out.findLast(_.startsWith("LEG_RESULT ")).getOrElse(
        throw new IllegalStateException(s"scaling leg at $cores cores printed no result"))
      "\"([a-z_]+)\":(\"[^\"]*\"|[-0-9.E]+)".r.findAllMatchIn(line.stripPrefix("LEG_RESULT "))
        .map(m => m.group(1) -> m.group(2).stripPrefix("\"").stripSuffix("\"")).toMap + ("json" -> line.stripPrefix("LEG_RESULT "))
    }
    val l = leg(lo)
    val h = leg(hi)
    val loIps = l("items_per_s").toDouble
    val hiIps = h("items_per_s").toDouble
    val flag = Seq(l, h).exists(x => x("available_processors").toInt > x("cores").toInt)
    (Seq("scaling_efficiency" -> hiIps / (4 * loIps), "scale.lo_items_per_s" -> loIps,
      "scale.hi_items_per_s" -> hiIps),
      obj(Seq("lo" -> l("json"), "hi" -> h("json"), "wider_than_requested" -> flag.toString)),
      l("failed").toLong + h("failed").toLong)
  }
}
