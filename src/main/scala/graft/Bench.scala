package graft

import org.apache.spark.sql.SparkSession
import graft.pipeline.ExtractPipeline
import graft.corpus.CorpusGen
import graft.queries.{Queries, RunCtx}

/** Benchmark main. Emits ONE JSON line:
  *   - per-query wall seconds for every query at
  *     SPARK_GRAFT_CPUS parallelism on SPARK_GRAFT_SF_DIR, run as one
  *     bench-mode pass (one RunCtx: no oracle aux dumps, and q25 composes
  *     on q15's pairs);
  *   - the headline metric from BASELINE.json: end-to-end extraction
  *     docs/sec (HTML boilerplate strip + PDF content-stream parse +
  *     scoring, byte-identical-gated corpus) over a pre-materialized
  *     parquet pages table. The headline is measured in its OWN
  *     taskset-pinned child JVM (round-3 verdict #1: the r3 driver-run
  *     headline collapsed 14x inside the 10-minute-old query-suite
  *     parent JVM while every other leg in the same run was healthy),
  *     with per-run wall times, GC-time deltas and task skew published
  *     so a sick run self-diagnoses; one parent-JVM diagnostic run is
  *     published next to it for the child-vs-parent comparison;
  *   - the north rule's two-cluster-size scaling evidence: the same
  *     extraction job at local[N_LO] vs local[N_HI] (sandbox stand-in
  *     for N vs 4N executors) + throughput scaling efficiency.
  */
object Bench {

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // split the (highly compressed) bench corpus finely enough that the
      // scan stage can occupy every core; the 128 MB default is tuned for
      // real clusters reading TB-scale inputs, not a 150 MB fixture
      .config("spark.sql.files.maxPartitionBytes", (4L << 20).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def timeSec(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def fmt(d: Double): String =
    "%.3f".formatLocal(java.util.Locale.ROOT, d)

  /** Canonical per-query wall seconds at sf0.1 / 32 cores — the anomaly-
    * retry reference (round-6 verdict #1). Values are the r6 canonical
    * band's healthy driver-command run (BASELINE.md r6; q41 uses the
    * canonical 4.5–5.3 s band, NOT the driver artifact's host-window
    * 60.8 s). The retry threshold is max(3x canonical, 3 s) — at other
    * sf dirs queries run FASTER than these, so the gate can only
    * under-trigger, never flap. A query missing here (new since this
    * table) falls back to a 30 s absolute threshold. */
  private val CanonicalSec: Map[String, Double] = Map(
    "q01_pricing_agg" -> 0.63, "q02_filter_monthly" -> 1.24,
    "q03_join_revenue" -> 2.20, "q04_dim_bcast" -> 1.05,
    "q05_window_topk" -> 1.37, "q06_events_hourly" -> 0.67,
    "q07_events_props" -> 0.75, "q08_token_stats" -> 0.34,
    "q09_wordscore" -> 0.25, "q10_langid" -> 0.22,
    "q11_quality" -> 0.23, "q12_fingerprint" -> 0.17,
    "q13_dedup_exact" -> 0.46, "q14_minhash_sig" -> 0.21,
    "q15_lsh_near_dup" -> 7.08, "q16_ann_topk" -> 1.80,
    "q17_extract_verify" -> 2.52, "q18_simhash" -> 0.20,
    "q19_resume_lineage" -> 4.48, "q20_binary_features" -> 0.40,
    "q21_citation_edges" -> 0.30, "q22_enrich_join" -> 0.38,
    "q23_dict_cells" -> 0.31, "q24_ann_lsh" -> 2.06,
    "q25_dedup_groups" -> 4.45, "q26_embed_near_dup" -> 2.24,
    "q27_winnow_fingerprints" -> 0.52, "q28_top_terms" -> 0.48,
    "q29_download_receipts" -> 0.44, "q30_scholar_search" -> 0.32,
    "q31_enrich_full" -> 1.31, "q32_export_cast" -> 0.63,
    "q33_csv_wordscore" -> 0.43, "q34_ann_ivf" -> 2.90,
    "q35_training_set" -> 0.80, "q36_download_links" -> 0.13,
    "q37_pdf_dir_scan" -> 0.23, "q38_export_cleanup" -> 1.21,
    "q39_mode_fastscore" -> 0.65, "q40_stream_extract" -> 4.94,
    "q41_jaccard_join" -> 5.30, "q42_byte_weighted_route" -> 1.31)

  /** Timed leg: read the materialized pages table, parse+score, count —
    * the ONE shared body every harness JVM times (BenchCommon). */
  private def extractLeg(spark: SparkSession, pagesPath: String, tasks: Int): Long =
    BenchCommon.countOk(spark, pagesPath, tasks)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "160000").toLong
    // N -> 4N parallelism pair for the scaling criterion. 2 -> 8 cores:
    // this VM advertises 32 CPUs but delivers fewer cycles per core the
    // more cores are busy (pinned ladders in BASELINE.md) — wide legs
    // measure the hypervisor, not the engine, so the pair sits where
    // per-core delivery is flat at BOTH levels.
    val cpusLo = sys.env.getOrElse("SPARK_GRAFT_CPUS_LO", "2").toInt
    val warmDocs = 4000L

    // ---- phase 1: query suite at `cpus` ------------------------------
    val spark = session(cpus)
    // bench times the operators, not verification: a bench-mode run skips
    // the oracle aux-parquet dumps some queries write for the DuckDB compare
    val ctx = new RunCtx(spark, sfDir, verify = false)
    // untimed warmup: JIT the SQL/codegen/parquet stack so the first
    // timed query doesn't carry interpreter cost
    try Queries("q01_pricing_agg").run(ctx).count()
    catch { case _: Throwable => }
    val failedQueries = scala.collection.mutable.ListBuffer.empty[String]
    /** Per-query telemetry beside the wall time (round-5 verdict #1: the
      * driver run's q41 took 66 s vs 4.4 s canonical and the suite loop
      * published wall time ONLY, so the anomaly could not be classified
      * from the artifact — now gc/cpu deltas and the resident cache size
      * classify a slow query in place). cached_mb_peak samples BEFORE the
      * held-frame release (round-6 ADVICE: after-only sampling reads 0
      * whether the query ran cached or fully uncached — the number that
      * settles the failure mode is the cache state the query ran under);
      * `candidates` is q41's in-action candidate-pair count (RunCtx
      * .q41CandidateCount); retry_* describe the anomaly retry below. */
    final case class QueryStat(sec: Double, gcMs: Long, cpuMs: Long,
        cachedMbPeak: Long, cachedMbAfter: Long, candidates: Long,
        retrySec: Double, retryGcMs: Long, retryCpuMs: Long,
        retryCandidates: Long, retryOk: Boolean)
    def cachedMb: Long =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum >> 20
    val queryStats = Queries.all.map { q =>
      val name = q.name
      val gc0 = GcClock.ms
      val cpu0 = CpuClock.ms
      val sec = timeSec {
        try q.run(ctx).count()
        catch { case e: Throwable =>
          // a failing query must be VISIBLE in the metric line — its
          // time-to-failure would otherwise read as a speedup
          failedQueries += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}") }
      }
      val gcMs = GcClock.ms - gc0
      val cpuMs = if (cpu0 < 0) -1L else CpuClock.ms - cpu0
      // sampled BEFORE the release: the cache state the query actually
      // ran under (the post-release sample below reads ~0 by design)
      val cachedPeak = cachedMb
      val candidates =
        if (name == "q41_jaccard_join") ctx.q41CandidateCount else -1L
      // ---- anomaly retry (round-6 verdict #1) ------------------------
      // A query > 3x its recorded canonical time re-runs ONCE in this
      // same JVM before its caches are released: a fast retry proves a
      // transient host window (labeled, not mysterious); a slow retry
      // proves engine/state and the candidate count bisects which. The
      // retry is a full fresh invocation (each query's release-first
      // Held generation discipline rebuilds its own generation).
      // SPARK_GRAFT_ANOMALY_FORCE=<query name> fires the retry machinery
      // unconditionally for that query — an evidence knob, not a tuning
      // one: it lets a smoke run DEMONSTRATE the retry path in an
      // artifact (incl. the q15/q25 result-cache invalidation: a forced
      // q15 retry must take ~first-run time, not a cache-read's
      // milliseconds) without doctoring the canonical table
      val anomaly = !failedQueries.contains(name) &&
        (sys.env.get("SPARK_GRAFT_ANOMALY_FORCE").contains(name) ||
          sec > CanonicalSec.get(name).map(c => math.max(3.0 * c, 3.0)).getOrElse(30.0))
      val (retrySec, retryGcMs, retryCpuMs, retryCand, retryOk) =
        if (anomaly) {
          System.err.println(s"[bench] $name anomaly: ${fmt(sec)}s — retrying in-JVM")
          // q15's timed run BUILT the run's q15 pairs (which deliberately
          // survive releaseSwapCaches — q25 composes on them), so its
          // retry must invalidate or it reads the persisted pairs back in
          // milliseconds and a genuine engine regression is misclassified
          // as a host window (round-7 review). A fresh RunCtx would not
          // do: Spark's CacheManager keeps one entry per plan, so a fresh
          // run's q15 persist joins the held entry and reads it back.
          // q25 is the OPPOSITE case: its timed run legitimately read the
          // pairs, so its retry must run under the same cache conditions
          // — invalidating there would make even a healthy retry rebuild
          // the whole LSH pipeline and read as "engine/state", the
          // inverse bias. (A q25 whose pairs were silently unpersisted
          // mid-suite rebuilds via RunCtx.q15Pairs's storage-level
          // recheck either way.)
          if (name == "q15_lsh_near_dup") Queries.invalidateResultCaches()
          val g0 = GcClock.ms
          val c0 = CpuClock.ms
          var ok = true
          val rs = timeSec {
            try q.run(ctx).count()
            catch { case e: Throwable =>
              // a FAILED retry must be distinguishable from a fast one: a
              // 0.8s time-to-crash published as retry.sec would read as
              // "fast retry -> host window", the opposite of the truth
              ok = false
              System.err.println(s"[bench] $name retry failed: ${e.getMessage}") }
          }
          val rc =
            if (name == "q41_jaccard_join") ctx.q41CandidateCount else -1L
          (rs, GcClock.ms - g0, if (c0 < 0) -1L else CpuClock.ms - c0, rc, ok)
        } else (-1.0, -1L, -1L, -1L, true)
      // release this query's held generation BEFORE the next query
      // runs (round-5 verdict #1): by q41 the parent otherwise holds
      // q15's + q24's + q26's + q41's MEMORY_AND_DISK generations at
      // once, and the eviction/spill pressure on q41's multi-consumer
      // cached inputs is the measured 4.4 s -> 40 s failure mode. The
      // release sits OUTSIDE the timed window — each query is timed as
      // its first standalone invocation, generation rebuild included
      // (that is the swap contract's steady state anyway).
      Queries.releaseSwapCaches()
      name -> QueryStat(sec, gcMs, cpuMs, cachedPeak, cachedMb, candidates,
        retrySec, retryGcMs, retryCpuMs, retryCand, retryOk)
    }
    ctx.close()
    val queryTimes = queryStats.map { case (n, st) => n -> st.sec }
    // drop phase-1's persisted LSH/ANN intermediates before timing the
    // headline: resident cache blocks and their GC pressure contaminate
    // extract_docs_per_sec relative to a clean session
    spark.catalog.clearCache()
    // post-suite residue snapshot (round-5 verdict #3: SOMETHING the
    // 41-query suite leaves behind degraded the parent diagnostic 10x in
    // the driver run, refuting r4's "parent always healthy" — publish
    // what survives clearCache so a recurrence names its mechanism)
    System.gc()
    val postHeap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    val postSuite = (postHeap.getUsed >> 20, postHeap.getCommitted >> 20,
      spark.sparkContext.getPersistentRDDs.size, cachedMb)

    // ---- phase 2: extraction headline + scaling ----------------------
    // materialize the corpus once (untimed — input I/O setup, the stand-in
    // for the pre-existing Iceberg pages table)
    val tmp = java.nio.file.Files.createTempDirectory("graft_bench_pages")
    // repeated canonical runs would otherwise leak ~150+ MB of parquet
    // into /tmp per run until the disk fills
    sys.addShutdownHook {
      graft.util.Fs.deleteRecursively(tmp.toFile)
    }
    val pagesPath = tmp.resolve("pages").toString
    val warmPath = tmp.resolve("warm").toString
    ExtractPipeline.pages(spark, nDocs, cpus * 4)
      .write.mode("overwrite").parquet(pagesPath)
    ExtractPipeline.pages(spark, warmDocs, cpus).write.parquet(warmPath)

    /** Spawn one BenchLeg child JVM pinned to exactly `c` cores; returns
      * its full merged stdout+stderr (empty on spawn failure). Merging
      * matters: an un-drained stderr pipe (Spark ERROR logs, OOM traces)
      * would deadlock the child at ~64KB; scala.util.Try makes the
      * fallback reachable when the taskset binary is absent. */
    def spawnLeg(c: Int, iters: Int, rich: Boolean, heap: String,
        path: String = pagesPath, route: String = "none"): String = {
      val javaBin = System.getProperty("java.home") + "/bin/java"
      // same JPMS opens as build.sbt (Spark 4 on JDK 17 outside spark-submit)
      val jvmOpts = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
      ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
      val cmd = Seq("taskset", "-c", s"0-${c - 1}", javaBin) ++ jvmOpts ++ Seq(
        s"-Xmx$heap", "-cp", System.getProperty("java.class.path"),
        "graft.BenchLeg", path, warmPath, c.toString, iters.toString,
        if (rich) "rich" else "plain", route)
      scala.util.Try {
        val out = new StringBuilder
        val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
        val rdr = new java.io.BufferedReader(
          new java.io.InputStreamReader(proc.getInputStream))
        var line = rdr.readLine()
        while (line != null) { out.append(line).append('\n'); line = rdr.readLine() }
        proc.waitFor()
        out.toString
      }.getOrElse("")
    }

    // warm the JIT (parsers + codegen) before any timed parent leg (the
    // skew legs and the parent diagnostic run in this JVM)
    extractLeg(spark, warmPath, cpus)
    extractLeg(spark, pagesPath, 0)
    val listener = new TaskTimeListener
    spark.sparkContext.addSparkListener(listener)

    // ---- parent-JVM diagnostic runs -------------------------------------
    // TWO timed headline runs back-to-back in THIS (query-suite-aged) JVM
    // with GC/CPU deltas: the r3 and r5 anomalies were parent-only, so
    // publishing parent-vs-child in the same metric line turns a
    // recurrence into a diagnosis — and the second run separates the
    // mechanisms (round-5 verdict #3): run-2 recovery implicates
    // transient GC/eviction debt from the suite; persistence across both
    // runs implicates a real leak (listener buffers, codegen cache,
    // cached broadcasts).
    var okHi = 0L
    val parentRuns = (1 to 2).map { _ =>
      val gc0 = GcClock.ms
      val cpu0 = CpuClock.ms
      val sec = timeSec { okHi = extractLeg(spark, pagesPath, 0) }
      (sec, GcClock.ms - gc0, if (cpu0 < 0) -1L else CpuClock.ms - cpu0)
    }
    val (parentSec, parentGcMs, parentCpuMs) = parentRuns.head
    val (parent2Sec, parent2GcMs, parent2CpuMs) = parentRuns(1)

    // ---- pinned-child headline (median of 5 runs) -----------------------
    // The headline JVM is FRESH and owns exactly `cpus` cores via taskset,
    // so accumulated parent state (heap, codegen caches, GC debt from 38
    // queries) cannot contaminate the record; per-run times + GC deltas +
    // task skew are published verbatim.
    // ONE decoder for BenchLeg's LEG_* stdout protocol, shared by the
    // headline and every rich leg (round-6 review: two drifting copies
    // of the same regex/split/Try parsing)
    def legRuns(out: String): Seq[Double] =
      "LEG_RUNS=([0-9.,-]+)".r.findFirstMatchIn(out)
        .map(_.group(1).split(',').toSeq.flatMap(x => scala.util.Try(x.toDouble).toOption))
        .getOrElse(Seq.empty)
    def legArr(out: String, tag: String): Seq[Long] =
      s"$tag=([0-9.,-]+)".r.findFirstMatchIn(out)
        .map(_.group(1).split(',').toSeq.flatMap(x => scala.util.Try(x.toLong).toOption))
        .getOrElse(Seq.empty)

    val childOut = spawnLeg(cpus, iters = 5, rich = true, heap = "8g")
    val childRuns = legRuns(childOut)
    val childGc = legArr(childOut, "LEG_GC")
    val childTaskMed = legArr(childOut, "LEG_TASKMED")
    val childTaskMax = legArr(childOut, "LEG_TASKMAX")
    val childCpu = legArr(childOut, "LEG_CPU")
    // [canary_before, canary_after] wall ms from inside the pinned child
    val childCanary = legArr(childOut, "LEG_CANARY")
    legArr(childOut, "LEG_OK").headOption.foreach(okHi = _)
    val (headlineMode, headlineRuns, headlineGc, headlineTaskMed, headlineTaskMax, headlineCpu) =
      if (childRuns.size == 5)
        ("pinned_child", childRuns, childGc, childTaskMed, childTaskMax, childCpu)
      else {
        // fallback: taskset absent or the child died — measure in the
        // parent as before, visibly labeled (a fallback headline is a
        // different methodology and must be distinguishable)
        val runs = (1 to 5).map { _ =>
          listener.clear()
          val gc0 = GcClock.ms
          val cpu0 = CpuClock.ms
          val sec = timeSec { okHi = extractLeg(spark, pagesPath, 0) }
          val gc = GcClock.ms - gc0
          val cpu = if (cpu0 < 0) -1L else CpuClock.ms - cpu0
          Thread.sleep(300) // let the listener bus drain
          val (med, max) = listener.skew
          (sec, gc, med, max, cpu)
        }
        ("parent_fallback", runs.map(_._1), runs.map(_._2), runs.map(_._3),
          runs.map(_._4), runs.map(_._5))
      }
    // median by (time, index) pairing: plain indexOf(median) picks the
    // FIRST run with that wall time, which can be a different run than
    // the median position when two runs tie at 3 decimals — and then the
    // published task skew would describe the wrong run
    val medianIdxH = headlineRuns.zipWithIndex.sortBy(_._1)
      .apply(headlineRuns.length / 2)._2
    val tHiAtCpus = headlineRuns(medianIdxH)
    // -1 = telemetry not available (truncated child output), the same
    // sentinel the legs use — 0 would read as a measured sub-ms skew
    val medianTaskMs = headlineTaskMed.lift(medianIdxH).getOrElse(-1L)
    val maxTaskMs = headlineTaskMax.lift(medianIdxH).getOrElse(-1L)

    /** One measurement leg with the headline's full telemetry channel
      * (round-4 verdict #1: legs that publish only wall/task times cannot
      * self-diagnose a host cycle-delivery window — cpu/wall ≪ busy cores
      * with normal GC means the hypervisor starved the leg, cpu/wall ≈
      * cores means the engine really did the work). ONE shape for the
      * skew, heavy-tail and scaling legs, pinned child or in-process
      * fallback — a `fallback:true` leg is a different methodology and
      * must be distinguishable in the artifact. */
    final case class Leg(sec: Double, gcMs: Long, cpuMs: Long,
        taskMedMs: Long, taskMaxMs: Long, fallback: Boolean,
        canaryMs: Seq[Long] = Seq.empty) {
      def json: String =
        s"""{"sec":${fmt(sec)},"cpu_ms":$cpuMs,"gc_ms":$gcMs""" +
        s""","task_ms_median":$taskMedMs,"task_ms_max":$taskMaxMs""" +
        s""","canary_ms":${canaryMs.mkString("[", ",", "]")},"fallback":$fallback}"""
    }
    /** Spawn one pinned rich BenchLeg child on (path, route); the leg's
      * wall is the in-child median of `iters` timed runs, and the
      * published gc/cpu/task telemetry describes THAT median run (the
      * headline's medianIdxH discipline). On spawn failure (taskset
      * absent, child died) runs `fallbackLeg` in-process instead. */
    def richChildLeg(c: Int, iters: Int, heap: String, path: String,
        route: String)(fallbackLeg: => Leg): Leg = {
      val legOut = spawnLeg(c, iters, rich = true, heap, path, route)
      val runs = legRuns(legOut)
      if (runs.nonEmpty) {
        val mi = runs.zipWithIndex.sortBy(_._1).apply(runs.length / 2)._2
        Leg(runs(mi),
          legArr(legOut, "LEG_GC").lift(mi).getOrElse(-1L),
          legArr(legOut, "LEG_CPU").lift(mi).getOrElse(-1L),
          legArr(legOut, "LEG_TASKMED").lift(mi).getOrElse(-1L),
          legArr(legOut, "LEG_TASKMAX").lift(mi).getOrElse(-1L),
          fallback = false,
          canaryMs = legArr(legOut, "LEG_CANARY"))
      } else fallbackLeg
    }
    /** In-process fallback body for the skew/heavy legs: same shared
      * BenchCommon computation, parent listener task skew, labeled. The
      * route -> computation map MIRRORS BenchLeg's exactly (round-6
      * review: a "none" fallback that salted would silently measure a
      * different plan than the pinned child it stands in for). */
    def parentParseLeg(path: String, route: String): Leg = {
      listener.clear()
      val gc0 = GcClock.ms
      val cpu0 = CpuClock.ms
      val sec = timeSec {
        // identical dispatch to the BenchLeg child by construction —
        // BenchCommon.countOkRoute is the ONE route map (round-7 review)
        BenchCommon.countOkRoute(spark, path, cpus, route): Unit
      }
      val gcMs = GcClock.ms - gc0
      val cpuMs = if (cpu0 < 0) -1L else CpuClock.ms - cpu0
      Thread.sleep(300)
      val (med, max) = listener.skew
      Leg(sec, gcMs, cpuMs, med, max, fallback = true)
    }

    // ---- skew evidence at bench scale (SURVEY.md §7.6) ----------------
    // The corpus has a 30%-hot domain by construction (CorpusGen
    // HotDomainShare). Parse the SAME pages twice: once partitioned by
    // raw domain (the pathological input layout — one task owns the hot
    // domain) and once through the salted url-hash repartition the
    // pipeline uses (extractAndScore's numPartitions > 0 path — BenchLeg
    // routes through the pipeline's own code, not an inline copy).
    // max/median task time shows the salting effect at bench scale, not
    // just the unit-scale PipelineSpec assertion. Each leg runs in its
    // own pinned FRESH child JVM (round-5 verdict #2: the r5 driver run's
    // parent-JVM skew legs degraded monotonically 56 -> 717 -> 1110 s CPU
    // and inverted the salted-vs-domain claim — aged-parent contamination,
    // the exact failure the headline's child discipline exists for).
    val skewDocs = 40000L
    // materialize the skew corpus untimed (same discipline as the
    // headline): a lazy generator dataset would put its 128 synthesis
    // tasks inside the timed window, so the child listener would profile
    // GENERATION tasks and the published median would not describe the
    // parse stage at all
    val skewPath = tmp.resolve("skew").toString
    ExtractPipeline.pages(spark, skewDocs, cpus * 4)
      .write.mode("overwrite").parquet(skewPath)
    // INTERLEAVED (domain, salted) pairs, the scaling legs' discipline:
    // the two routes are a comparative claim, and one-shot children
    // minutes apart let a host drift window invert it (observed in the
    // r6 canonical runs: salted was 2x faster in two runs, then
    // 'slower' in a third whose pair ratios drifted 2.6-3.8). Each pair
    // runs back to back so both routes see the same window; the
    // published legs are the median-ratio pair and all ratios are
    // printed for the artifact.
    def skewPair(): (Leg, Leg) = (
      richChildLeg(cpus, iters = 3, heap = "8g", skewPath, "domain")(
        parentParseLeg(skewPath, "domain")),
      richChildLeg(cpus, iters = 3, heap = "8g", skewPath, "salted")(
        parentParseLeg(skewPath, "salted")))
    val skewPairs = Seq.fill(3)(skewPair())
    // a pair where one route fell back in-process divides a parent-JVM
    // wall by a pinned-child wall — cross-methodology; never let it
    // define the published comparison while a clean pair exists (all
    // pairs are published below with their fallback flags regardless)
    val cleanSkew = skewPairs.filter { case (d, sl) => !d.fallback && !sl.fallback }
    val skewPool = if (cleanSkew.nonEmpty) cleanSkew else skewPairs
    // (length-1)/2: identical middle pick for odd pools, and for an
    // even pool (one pair fell back) it takes the LOWER domain/salted
    // ratio — length/2 would publish the higher one and overstate the
    // salting benefit (round-6 ADVICE)
    val (domainLeg, saltedLeg) = skewPool
      .sortBy { case (d, sl) => d.sec / sl.sec }.apply((skewPool.length - 1) / 2)

    // ---- heavy-tail page-SIZE skew (round-4 verdict #4) ----------------
    // The salted url-hash routing balances document COUNT; Common-Crawl
    // corpora also have power-law page SIZES, and one 50-100x-median page
    // can straggle a salted task just like a hot domain. 1% of docs get
    // their body tiled 50-100x; the leg runs the pipeline's own routing
    // and publishes the parse-stage max/median under byte skew — the
    // straggler bound a byte-weighted scheduler would have to beat.
    val heavyDocs = 20000L
    // constants passed explicitly AND interpolated into the metric line
    // from the same vals — a hardcoded JSON copy would silently lie about
    // the corpus if the generator defaults were ever retuned
    val (heavyShare, heavyMultLo, heavyMultHi) = (97, 50, 100)
    val heavyPath = tmp.resolve("heavy").toString
    ExtractPipeline.heavyTailPages(spark, heavyDocs, cpus * 4,
        heavyShare, heavyMultLo, heavyMultHi)
      .write.mode("overwrite").parquet(heavyPath)
    val heavyLeg = richChildLeg(cpus, iters = 3, heap = "8g", heavyPath, "salted")(
      parentParseLeg(heavyPath, "salted"))

    // ---- byte-weighted salting vs the DEFEAT case (round-6 verdict #3) --
    // BASELINE.md r5 documented the one input count salting cannot
    // balance: a single page whose parse cost is >= a whole task's doc
    // quota. This corpus makes it real — quota here is
    // defeatDocs/(cpus*4) docs per task and the tiled multiplier range
    // sits ABOVE it — and parses it through both routings as interleaved
    // pinned pairs (the skew legs' discipline: comparative claims must
    // see the same host window). Expectation the artifact shows: salted
    // (count-balanced) task max/med > ~3; byteWeightedRoute bounds it at
    // ~1.5 by construction (byteBudget scaladoc).
    // docs sized so the per-task quota (docs / (cpus*4) tasks) sits WELL
    // BELOW the multiplier range at ANY harness cpu count — a fixed doc
    // count at smoke-scale cpus raises the quota above the multipliers
    // and the corpus silently stops defeating count salting
    val defeatQuota = 156L
    val defeatDocs = defeatQuota * cpus * 4
    // multiplier range 13-26x the quota, so even a straggler-page's
    // SOLO task dwarfs a full task of normal pages; share 999 ends in 9
    // (gcd(999,10)=1), so consecutive heavy ids walk every docId%10
    // residue and ~30% of heavy pages are PDFs (the expensive parser —
    // per-byte parse cost is 6-19x HTML's) at every harness cpu count
    val (defeatShare, defeatMultLo, defeatMultHi) = (999, 2000, 4000)
    val defeatPath = tmp.resolve("defeat").toString
    ExtractPipeline.heavyTailPages(spark, defeatDocs, cpus * 4,
        defeatShare, defeatMultLo, defeatMultHi)
      .write.mode("overwrite").parquet(defeatPath)
    def defeatPair(): (Leg, Leg) = (
      richChildLeg(cpus, iters = 3, heap = "8g", defeatPath, "salted_fine")(
        parentParseLeg(defeatPath, "salted_fine")),
      richChildLeg(cpus, iters = 3, heap = "8g", defeatPath, "byteweighted")(
        parentParseLeg(defeatPath, "byteweighted")))
    val defeatPairs = Seq.fill(3)(defeatPair())
    val cleanDefeat = defeatPairs.filter { case (a, b) => !a.fallback && !b.fallback }
    val defeatPool = if (cleanDefeat.nonEmpty) cleanDefeat else defeatPairs
    val (defeatSalted, defeatBw) = defeatPool
      .sortBy { case (a, b) => a.sec / b.sec }.apply((defeatPool.length - 1) / 2)
    spark.stop()

    // scaling legs: identical input + plan, two parallelism levels, each
    // leg its OWN JVM pinned to exactly N cores with taskset (GC + JIT
    // included — an in-process local[N] leg lets the JVM's 32 GC threads
    // run free on idle cores and flatters small N). One timed measurement
    // per pinned JVM (after an in-JVM warmup); the published ratio is the
    // median across interleaved (lo, hi) pairs — see below. Every leg
    // carries the headline's rich telemetry (round-4 verdict #1: the
    // driver-recorded 0.725 efficiency could not self-diagnose because
    // the legs emitted only LEG_SEC — now cpu/wall classifies each leg:
    // cpu/wall ≈ pinned cores means the JVM really worked that long,
    // cpu/wall ≪ cores with normal GC means the hypervisor starved it).
    var fallbackLegs = 0
    // 3 timed in-JVM runs per pinned child (after warmup): the leg's
    // wall is the in-child median, killing single-run outliers (a GC
    // spike, a stray host hiccup) the r4 one-shot legs were blind to;
    // drift WINDOWS spanning a whole child are still handled by the
    // cross-pair interleaving + median below
    def leg(c: Int): Leg = richChildLeg(c, iters = 3, heap = "6g", pagesPath, "none") {
      // fallback when the pinned child produced no measurement (taskset
      // absent, or the child JVM died): in-process leg, median-of-3
      // WITHIN the leg (unpinned legs are noisier, so each fallback leg
      // self-medians). Every fallback is COUNTED and published in the
      // metric line — a ratio mixing pinned and unpinned legs is a
      // different methodology and must be visible. Task telemetry is
      // unavailable here (no listener on the throwaway session): -1, the
      // same 'not measured' sentinel cpu_ms uses, NOT 0 — a 0 is
      // indistinguishable from a real sub-millisecond measurement.
      fallbackLegs += 1
      val s = session(c)
      extractLeg(s, warmPath, c)
      val rs = (1 to 3).map { _ =>
        val gc0 = GcClock.ms
        val cpu0 = CpuClock.ms
        val sec = timeSec { extractLeg(s, pagesPath, 0) }
        (sec, GcClock.ms - gc0, if (cpu0 < 0) -1L else CpuClock.ms - cpu0)
      }
      s.stop()
      val med = rs.sortBy(_._1).apply(1)
      Leg(med._1, med._2, med._3, -1L, -1L, fallback = true)
    }
    // INTERLEAVED pairs: host cycle delivery drifts over minutes, so a
    // lone lo-then-hi sequence can tilt the ratio either way; running
    // (lo, hi) back to back and taking the median pair ratio exposes
    // both levels to the same drift. Each pinned JVM medians THREE timed
    // in-JVM runs (after warmup); the cross-pair median is then taken
    // across the interleaved pairs. When the three pair ratios
    // spread by more than 0.2 the window is drifting mid-measurement —
    // escalate to five pairs so the median sits on a wider base
    // (round-4 verdict #1).
    val cpusHi = cpusLo * 4
    val pairBuf = scala.collection.mutable.ListBuffer.empty[(Leg, Leg)]
    (1 to 3).foreach { _ => pairBuf += ((leg(cpusLo), leg(cpusHi))) }
    def pairRatios = pairBuf.toSeq.map { case (lo, hi) => lo.sec / hi.sec }
    val escalated = pairRatios.max - pairRatios.min > 0.2
    if (escalated) (1 to 2).foreach { _ => pairBuf += ((leg(cpusLo), leg(cpusHi))) }
    val pairs = pairBuf.toSeq
    val ratios = pairRatios.sorted
    val medianIdx = ratios.length / 2
    val (legLo, legHi) = pairs.sortBy { case (lo, hi) => lo.sec / hi.sec }.apply(medianIdx)
    val (tLo, tHi) = (legLo.sec, legHi.sec)

    val docsPerSec = nDocs / tHiAtCpus
    val efficiency = ratios(medianIdx) / (cpusHi.toDouble / cpusLo)

    // ---- cycle-delivery normalization (round-6 verdict #2) -------------
    // canary observed ms -> fraction of canonical cycles the host
    // delivered during the headline child; the normalized docs/s carries
    // its own window evidence (delivery 0.22 + normalized-in-band reads
    // "host window", delivery ~1 + below-band reads "engine regression").
    // -1 when the child printed no canary (parent-fallback headline).
    val canaryObs = childCanary.filter(_ > 0)
    val cycleDelivery =
      if (canaryObs.isEmpty) -1.0
      else CycleCanary.CanonicalMs.toDouble / (canaryObs.sum.toDouble / canaryObs.size)
    val docsPerSecNormalized =
      if (cycleDelivery > 0) docsPerSec / cycleDelivery else -1.0

    val qs = queryTimes.map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString("{", ",", "}")
    val qTel = queryStats.map { case (k, st) =>
      // retry block only when the anomaly retry actually ran — a -1.0
      // retry_sec would read as "retried, instant"
      val retry = if (st.retrySec >= 0)
        s""","retry":{"sec":${fmt(st.retrySec)},"gc_ms":${st.retryGcMs},"cpu_ms":${st.retryCpuMs},"candidates":${st.retryCandidates},"ok":${st.retryOk}}"""
      else ""
      s""""$k":{"gc_ms":${st.gcMs},"cpu_ms":${st.cpuMs},"cached_mb_peak":${st.cachedMbPeak},"cached_mb_after":${st.cachedMbAfter},"candidates":${st.candidates}$retry}"""
    }.mkString("{", ",", "}")
    val total = queryTimes.map(_._2).sum
    val failed = failedQueries.map(n => s""""$n"""").mkString("[", ",", "]")
    val line =
      s"""{"metric":"extract_docs_per_sec","value":${fmt(docsPerSec)},"unit":"docs/sec","queries":$qs,"sf":"$sfDir"""" +
      s""","failed_queries":$failed""" +
      s""","query_telemetry":$qTel""" +
      s""","post_suite":{"heap_used_mb":${postSuite._1},"heap_committed_mb":${postSuite._2},"persistent_rdds":${postSuite._3},"cached_mb":${postSuite._4}}""" +
      s""","queries_total_sec":${fmt(total)},"extract_docs":$nDocs,"extract_ok":$okHi,"extract_sec":${fmt(tHiAtCpus)}""" +
      s""","task_ms_median":$medianTaskMs,"task_ms_max":$maxTaskMs""" +
      s""","headline":{"mode":"$headlineMode","runs_sec":${headlineRuns.map(fmt).mkString("[", ",", "]")}""" +
      s""","canary_ms":${childCanary.mkString("[", ",", "]")},"canary_canonical_ms":${CycleCanary.CanonicalMs}""" +
      s""","cycle_delivery":${fmt(cycleDelivery)},"docs_per_sec_normalized":${fmt(docsPerSecNormalized)}""" +
      s""","gc_ms":${headlineGc.mkString("[", ",", "]")}""" +
      s""","task_ms_median":${headlineTaskMed.mkString("[", ",", "]")}""" +
      s""","task_ms_max":${headlineTaskMax.mkString("[", ",", "]")}""" +
      s""","cpu_ms":${headlineCpu.mkString("[", ",", "]")}""" +
      s""","parent_sec":${fmt(parentSec)},"parent_gc_ms":$parentGcMs,"parent_cpu_ms":$parentCpuMs""" +
      s""","parent2_sec":${fmt(parent2Sec)},"parent2_gc_ms":$parent2GcMs,"parent2_cpu_ms":$parent2CpuMs}""" +
      s""","skew_evidence":{"docs":$skewDocs,"hot_domain_share":${fmt(CorpusGen.HotDomainShare / 10.0)},"domain_partitioned":${domainLeg.json},"salted":${saltedLeg.json},"pair_ratios":${skewPairs.map { case (d, sl) => fmt(d.sec / sl.sec) }.mkString("[", ",", "]")},"pairs":${skewPairs.map { case (d, sl) => s"""{"domain":${d.json},"salted":${sl.json}}""" }.mkString("[", ",", "]")},"heavy_tail":{"docs":$heavyDocs,"heavy_share":${fmt(1.0 / heavyShare)},"mult_range":[$heavyMultLo,$heavyMultHi],"leg":${heavyLeg.json}},"byte_weighted_defeat":{"docs":$defeatDocs,"heavy_share":${fmt(1.0 / defeatShare)},"mult_range":[$defeatMultLo,$defeatMultHi],"docs_per_task_quota":${defeatDocs / (cpus * 4)},"salted":${defeatSalted.json},"byteweighted":${defeatBw.json},"pair_ratios":${defeatPairs.map { case (a, b) => fmt(a.sec / b.sec) }.mkString("[", ",", "]")},"pairs":${defeatPairs.map { case (a, b) => s"""{"salted":${a.json},"byteweighted":${b.json}}""" }.mkString("[", ",", "]")}}}""" +
      s""","scaling":{"cpus_lo":$cpusLo,"sec_lo":${fmt(tLo)},"cpus_hi":$cpusHi,"sec_hi":${fmt(tHi)},"efficiency":${fmt(efficiency)},"fallback_legs":$fallbackLegs,"escalated":$escalated,"pair_ratios":${pairs.map { case (lo, hi) => fmt(lo.sec / hi.sec) }.mkString("[", ",", "]")},"pairs":${pairs.map { case (lo, hi) => s"""{"lo":${lo.json},"hi":${hi.json}}""" }.mkString("[", ",", "]")}}}"""
    println(line)
    // belt-and-braces: also land the metric line in a file so the bench
    // signal stays machine-readable even if a log wrapper prefixes stdout
    scala.util.Try(java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_out.json"), line + "\n"))
  }
}
