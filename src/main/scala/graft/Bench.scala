package graft

import org.apache.spark.sql.Dataset
import graft.pipeline.ExtractPipeline
import graft.corpus.CorpusGen
import graft.queries.{Queries, RunCtx}

/** Benchmark main. Reads SPARK_GRAFT_SF_DIR (query tables, default
  * /root/testdata/sf0.1), SPARK_GRAFT_CPUS (default: the host's
  * available processors), SPARK_GRAFT_BENCH_DOCS (headline corpus size,
  * default 160000) and SPARK_GRAFT_ANOMALY_FORCE (see the anomaly
  * retry). Emits ONE JSON line:
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
  *     so a sick run self-diagnoses; two parent-JVM diagnostic runs are
  *     published next to it for the child-vs-parent comparison;
  *   - the north rule's two-cluster-size scaling evidence: the same
  *     extraction job pinned to N vs 4N cores (sandbox stand-in for N vs
  *     4N executors, N = SPARK_GRAFT_CPUS / 4) + throughput scaling
  *     efficiency.
  * Every leg (headline, skew, heavy-tail, defeat, scaling) goes through
  * one runner: a pinned BenchLeg child, or the same leg body in-process
  * when the child fails.
  */
object Bench {

  private[graft] def fmt(d: Double): String =
    "%.3f".formatLocal(java.util.Locale.ROOT, d)

  /** Canonical per-query wall seconds, the anomaly-retry reference
    * (round-6 verdict #1). Measured at sf0.1 on 32 CPUs: the values are
    * the r6 canonical band's healthy driver-command run (BASELINE.md r6;
    * q41 uses the canonical 4.5–5.3 s band, NOT the driver artifact's
    * host-window 60.8 s). q42 postdates that band: its 1.31 s was
    * recorded when q42 joined the suite in round 7 (commit 0798499), and
    * the round-7 canonical runs at 32 CPUs read 1.38–1.53 s for it
    * (bench_runs/r7_run2..5.json). On a host with fewer CPUs the suite
    * runs slower than these values, so the gate fires earlier there.
    * The retry threshold is max(3x canonical, 3 s); a query missing
    * here (new since this table) falls back to a 30 s absolute
    * threshold. */
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

  /** The N -> 4N scaling pair for `cpus` cores: lo = cpus / 4 and
    * hi = 4 lo (perfbench's rule), so no leg is wider than the harness.
    * None when cpus < 4 leaves no pair. */
  private[graft] def scalingPair(cpus: Int): Option[(Int, Int)] =
    Some(cpus / 4).filter(_ >= 1).map(lo => (lo, 4 * lo))

  /** The published pair of an interleaved (a, b) pool. A pair where one
    * leg fell back in-process divides a parent-JVM wall by a pinned-child
    * wall — cross-methodology — so clean pairs form the pool whenever
    * any exist. Sorted by a.sec / b.sec, the pick is index (n - 1) / 2:
    * the middle of an odd pool, and for an even one the LOWER ratio
    * (n / 2 would publish the higher one and overstate the comparison,
    * round-6 ADVICE). */
  private[graft] def pickPair(pairs: Seq[(Leg, Leg)]): (Leg, Leg) = {
    val clean = pairs.filter { case (a, b) => !a.fallback && !b.fallback }
    val pool = if (clean.nonEmpty) clean else pairs
    pool.sortBy { case (a, b) => a.sec / b.sec }.apply((pool.length - 1) / 2)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val hostCpus = Runtime.getRuntime.availableProcessors
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(hostCpus)
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "160000").toLong
    val warmDocs = 4000L

    // ---- phase 1: query suite at `cpus` ------------------------------
    val spark = BenchCommon.session(cpus)
    // bench times the operators, not verification: a bench-mode run skips
    // the oracle aux-parquet dumps some queries write for the DuckDB compare
    val ctx = new RunCtx(spark, sfDir, verify = false)
    // untimed warmup: JIT the SQL/codegen/parquet stack so the first
    // timed query doesn't carry interpreter cost
    try Queries("q01_pricing_agg").run(ctx).count()
    catch { case _: Throwable => }
    /** Per-query telemetry beside the wall time (round-5 verdict #1: the
      * driver run's q41 took 66 s vs 4.4 s canonical and the suite loop
      * published wall time ONLY, so the anomaly could not be classified
      * from the artifact — now gc/cpu deltas and the resident cache size
      * classify a slow query in place). cached_mb_peak samples BEFORE the
      * held-frame release (round-6 ADVICE: after-only sampling reads 0
      * whether the query ran cached or fully uncached — the number that
      * settles the failure mode is the cache state the query ran under);
      * `candidates` is q41's in-action candidate-pair count (RunCtx
      * .q41CandidateCount); `retry` describes the anomaly retry below
      * with its own candidate count. A run's value is whether it
      * succeeded. */
    final case class QueryStat(run: Measured[Boolean], cachedMbPeak: Long,
        cachedMbAfter: Long, candidates: Long, retry: Option[(Measured[Boolean], Long)])
    def cachedMb: Long =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum >> 20
    def timed(q: Queries.Q, failure: String): Measured[Boolean] = Measured.time {
      try { q.run(ctx).count(); true }
      catch { case e: Throwable =>
        // a failing query must be VISIBLE in the metric line — its
        // time-to-failure would otherwise read as a speedup; a FAILED
        // retry must be distinguishable from a fast one the same way
        System.err.println(s"[bench] ${q.name} $failure: ${e.getMessage}")
        false }
    }
    def candidates(name: String): Long =
      if (name == "q41_jaccard_join") ctx.q41CandidateCount else -1L
    val queryStats = Queries.all.map { q =>
      val name = q.name
      val run = timed(q, "failed")
      // sampled BEFORE the release: the cache state the query actually
      // ran under (the post-release sample below reads ~0 by design)
      val cachedPeak = cachedMb
      val cand = candidates(name)
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
      val anomaly = run.value &&
        (sys.env.get("SPARK_GRAFT_ANOMALY_FORCE").contains(name) ||
          run.sec > CanonicalSec.get(name).map(c => math.max(3.0 * c, 3.0)).getOrElse(30.0))
      val retry = Option.when(anomaly) {
        System.err.println(s"[bench] $name anomaly: ${fmt(run.sec)}s — retrying in-JVM")
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
        (timed(q, "retry failed"), candidates(name))
      }
      // release this query's held generation BEFORE the next query
      // runs (round-5 verdict #1): by q41 the parent otherwise holds
      // q15's + q24's + q26's + q41's MEMORY_AND_DISK generations at
      // once, and the eviction/spill pressure on q41's multi-consumer
      // cached inputs is the measured 4.4 s -> 40 s failure mode. The
      // release sits OUTSIDE the timed window — each query is timed as
      // its first standalone invocation, generation rebuild included
      // (that is the swap contract's steady state anyway).
      Queries.releaseSwapCaches()
      name -> QueryStat(run, cachedPeak, cachedMb, cand, retry)
    }
    ctx.close()
    val failedQueries = queryStats.collect { case (n, st) if !st.run.value => n }
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
    // materialize every leg's corpus (untimed — input I/O setup, the
    // stand-in for the pre-existing Iceberg pages table): a lazy
    // generator dataset would put its synthesis tasks inside the timed
    // window, and the leg's listener would profile GENERATION tasks
    val tmp = java.nio.file.Files.createTempDirectory("graft_bench_pages")
    // repeated canonical runs would otherwise leak ~150+ MB of parquet
    // into /tmp per run until the disk fills
    sys.addShutdownHook {
      graft.util.Fs.deleteRecursively(tmp.toFile)
    }
    def materialize(name: String, pages: Dataset[_]): String = {
      val path = tmp.resolve(name).toString
      pages.write.mode("overwrite").parquet(path)
      path
    }
    val pagesPath = materialize("pages", ExtractPipeline.pages(spark, nDocs, cpus * 4))
    val warmPath = materialize("warm", ExtractPipeline.pages(spark, warmDocs, cpus))

    // ---- parent-JVM diagnostic runs -------------------------------------
    // TWO timed headline runs back-to-back in THIS (query-suite-aged) JVM
    // with GC/CPU deltas, after a JIT warm: the r3 and r5 anomalies were
    // parent-only, so publishing parent-vs-child in the same metric line
    // turns a recurrence into a diagnosis — and the second run separates
    // the mechanisms (round-5 verdict #3): run-2 recovery implicates
    // transient GC/eviction debt from the suite; persistence across both
    // runs implicates a real leak (listener buffers, codegen cache,
    // cached broadcasts).
    BenchCommon.countOk(spark, warmPath, cpus)
    BenchCommon.countOk(spark, pagesPath, 0)
    val Seq(parent, parent2) = Seq.fill(2)(Measured.time(BenchCommon.countOk(spark, pagesPath, 0)))

    // ---- skew evidence at bench scale (SURVEY.md §7.6) ----------------
    // The corpus has a 30%-hot domain by construction (CorpusGen
    // HotDomainShare). Parse the SAME pages twice: once partitioned by
    // raw domain (the pathological input layout — one task owns the hot
    // domain) and once through the salted url-hash repartition the
    // pipeline uses (extractAndScore's numPartitions > 0 path).
    // max/median task time shows the salting effect at bench scale, not
    // just the unit-scale PipelineSpec assertion.
    val skewDocs = 40000L
    val skewPath = materialize("skew", ExtractPipeline.pages(spark, skewDocs, cpus * 4))

    // ---- heavy-tail page-SIZE skew (round-4 verdict #4) ----------------
    // The salted url-hash routing balances document COUNT; Common-Crawl
    // corpora also have power-law page SIZES, and one 50-100x-median page
    // can straggle a salted task just like a hot domain. 1% of docs get
    // their body tiled 50-100x; the leg runs the pipeline's own routing
    // and publishes the parse-stage max/median under byte skew.
    val heavyDocs = 20000L
    // constants passed explicitly AND interpolated into the metric line
    // from the same vals — a hardcoded JSON copy would silently lie about
    // the corpus if the generator defaults were ever retuned
    val (heavyShare, heavyMultLo, heavyMultHi) = (97, 50, 100)
    val heavyPath = materialize("heavy", ExtractPipeline.heavyTailPages(spark, heavyDocs,
      cpus * 4, heavyShare, heavyMultLo, heavyMultHi))

    // ---- the DEFEAT case of count salting (round-6 verdict #3) ----------
    // BASELINE.md r5 documented the one input count salting cannot
    // balance: a single page whose parse cost is >= a whole task's doc
    // quota. This corpus makes it real — quota here is
    // defeatDocs/(cpus*4) docs per task and the tiled multiplier range
    // sits ABOVE it — and parses it through cpus*4 salted partitions.
    // The artifact shows the straggler as task max/med (> ~3). A
    // byte-weighted router balanced those tasks but finished later than
    // this plain route, so it was deleted (CHANGES.md).
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
    val defeatPath = materialize("defeat", ExtractPipeline.heavyTailPages(spark, defeatDocs,
      cpus * 4, defeatShare, defeatMultLo, defeatMultHi))
    // every leg below runs in a fresh JVM or a fresh in-process session
    spark.stop()

    /** Spawn one BenchLeg child JVM pinned to exactly `c` cores; returns
      * its full merged stdout+stderr (empty on spawn failure). Merging
      * matters: an un-drained stderr pipe (Spark ERROR logs, OOM traces)
      * would deadlock the child at ~64KB; scala.util.Try makes the
      * fallback reachable when the taskset binary is absent. */
    def spawnLeg(c: Int, iters: Int, heap: String, path: String, route: String): String = {
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
        "graft.BenchLeg", path, warmPath, c.toString, iters.toString, route)
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

    /** THE leg runner: `iters` timed runs of `route` over `path` in a
      * pinned BenchLeg child with `heap`, decoded per run; the leg's wall
      * and published telemetry are its median run. A child that printed
      * fewer than `iters` runs (taskset absent, the child died) is
      * replaced by the same leg body run in-process on a fresh `c`-core
      * session, labeled `fallback`. */
    def runLeg(c: Int, iters: Int, heap: String, path: String, route: String): Leg = {
      val child = BenchLeg.decode(spawnLeg(c, iters, heap, path, route))
      if (child.runs.size == iters) child
      else {
        val s = BenchCommon.session(c)
        try BenchLeg.measure(s, path, warmPath, c, iters, route).copy(fallback = true)
        finally s.stop()
      }
    }
    // the JSON of an interleaved pair pool: every pair's ratio and legs,
    // fallback flags included, next to the picked pair
    def poolJson(pairs: Seq[(Leg, Leg)], a: String, b: String): String =
      s""""pair_ratios":${pairs.map { case (x, y) => fmt(x.sec / y.sec) }.mkString("[", ",", "]")}""" +
      s""","pairs":${pairs.map { case (x, y) => s"""{"$a":${x.json},"$b":${y.json}}""" }.mkString("[", ",", "]")}"""

    // ---- pinned-child headline (median of 5 runs) -----------------------
    // The headline JVM is FRESH and owns exactly `cpus` cores via taskset,
    // so accumulated parent state (heap, codegen caches, GC debt from the
    // query suite) cannot contaminate the record; per-run times + GC
    // deltas + task skew are published verbatim.
    val headline = runLeg(cpus, iters = 5, heap = "8g", pagesPath, "none")
    val headlineMid = headline.runs(headline.mid)
    val okHi = if (headline.ok >= 0) headline.ok else parent.value

    // Comparative legs run as INTERLEAVED pairs: one-shot children
    // minutes apart let a host drift window invert a comparison
    // (observed in the r6 canonical runs: salted was 2x faster in two
    // runs, then 'slower' in a third whose pair ratios drifted 2.6-3.8).
    // Each pair runs back to back so both legs see the same window; the
    // published legs are pickPair's and every pair is printed.
    // Each skew/heavy/defeat leg runs in its own pinned FRESH child JVM
    // (round-5 verdict #2: the r5 driver run's parent-JVM skew legs
    // degraded monotonically 56 -> 717 -> 1110 s CPU and inverted the
    // salted-vs-domain claim — aged-parent contamination).
    def skewLeg(path: String, route: String) = runLeg(cpus, iters = 3, heap = "8g", path, route)
    val skewPairs = Seq.fill(3)((skewLeg(skewPath, "domain"), skewLeg(skewPath, "salted")))
    val (domainLeg, saltedLeg) = pickPair(skewPairs)
    val heavyLeg = skewLeg(heavyPath, "salted")
    val defeatLeg = skewLeg(defeatPath, "salted_fine")

    // ---- scaling legs ----------------------------------------------------
    // Identical input + plan at two parallelism levels, each leg its OWN
    // JVM pinned to exactly N cores with taskset (GC + JIT included — an
    // in-process local[N] leg lets the JVM's GC threads run free on idle
    // cores and flatters small N). The pair comes from the cores the
    // harness was given (scalingPair), so no leg is wider than them.
    // Each leg's wall is the in-child median of 3 timed runs, killing
    // single-run outliers; drift WINDOWS spanning a whole child are
    // handled by interleaving (lo, hi) pairs. When the three pair ratios
    // spread by more than 0.2 the window is drifting mid-measurement —
    // escalate to five pairs so the pick sits on a wider base (round-4
    // verdict #1). Every leg carries the rich telemetry: cpu/wall
    // classifies it.
    val scaling = scalingPair(cpus) match {
      case None =>
        s"""{"skipped":"cpus=$cpus leaves no N -> 4N pair (N = cpus / 4 < 1)"}"""
      case Some((lo, hi)) =>
        def pair() = (runLeg(lo, iters = 3, heap = "6g", pagesPath, "none"),
          runLeg(hi, iters = 3, heap = "6g", pagesPath, "none"))
        val first = Seq.fill(3)(pair())
        val firstRatios = first.map { case (l, h) => l.sec / h.sec }
        val escalated = firstRatios.max - firstRatios.min > 0.2
        val pairs = if (escalated) first ++ Seq.fill(2)(pair()) else first
        val (legLo, legHi) = pickPair(pairs)
        val efficiency = legLo.sec / legHi.sec / (hi.toDouble / lo)
        val fallbackLegs = pairs.count(_._1.fallback) + pairs.count(_._2.fallback)
        s"""{"cpus_lo":$lo,"sec_lo":${fmt(legLo.sec)},"cpus_hi":$hi,"sec_hi":${fmt(legHi.sec)}""" +
        s""","efficiency":${fmt(efficiency)},"fallback_legs":$fallbackLegs,"escalated":$escalated,""" +
        poolJson(pairs, "lo", "hi") + "}"
    }

    val docsPerSec = nDocs / headline.sec

    // ---- cycle-delivery normalization (round-6 verdict #2) -------------
    // canary observed ms -> fraction of canonical cycles the host
    // delivered during the headline leg; the normalized docs/s carries
    // its own window evidence (delivery 0.22 + normalized-in-band reads
    // "host window", delivery ~1 + below-band reads "engine regression").
    // -1 when the leg printed no canary.
    val canaryObs = headline.canaryMs.filter(_ > 0)
    val cycleDelivery =
      if (canaryObs.isEmpty) -1.0
      else CycleCanary.CanonicalMs.toDouble / (canaryObs.sum.toDouble / canaryObs.size)
    val docsPerSecNormalized =
      if (cycleDelivery > 0) docsPerSec / cycleDelivery else -1.0

    def arr(xs: Seq[Any]): String = xs.mkString("[", ",", "]")
    val qs = queryStats.map { case (k, st) => s""""$k":${fmt(st.run.sec)}""" }.mkString("{", ",", "}")
    val qTel = queryStats.map { case (k, st) =>
      // retry block only when the anomaly retry actually ran — a -1.0
      // retry_sec would read as "retried, instant"
      val retry = st.retry.fold("") { case (r, rc) =>
        s""","retry":{"sec":${fmt(r.sec)},"gc_ms":${r.gcMs},"cpu_ms":${r.cpuMs},"candidates":$rc,"ok":${r.value}}"""
      }
      s""""$k":{"gc_ms":${st.run.gcMs},"cpu_ms":${st.run.cpuMs},"cached_mb_peak":${st.cachedMbPeak},"cached_mb_after":${st.cachedMbAfter},"candidates":${st.candidates}$retry}"""
    }.mkString("{", ",", "}")
    val total = queryStats.map(_._2.run.sec).sum
    val hr = headline.runs
    val line =
      s"""{"metric":"extract_docs_per_sec","value":${fmt(docsPerSec)},"unit":"docs/sec","queries":$qs,"sf":"$sfDir"""" +
      s""","cpus":$cpus,"host_cpus":$hostCpus""" +
      s""","failed_queries":${arr(failedQueries.map(n => s""""$n""""))}""" +
      s""","query_telemetry":$qTel""" +
      s""","post_suite":{"heap_used_mb":${postSuite._1},"heap_committed_mb":${postSuite._2},"persistent_rdds":${postSuite._3},"cached_mb":${postSuite._4}}""" +
      s""","queries_total_sec":${fmt(total)},"extract_docs":$nDocs,"extract_ok":$okHi,"extract_sec":${fmt(headline.sec)}""" +
      s""","task_ms_median":${headlineMid.taskMedMs},"task_ms_max":${headlineMid.taskMaxMs}""" +
      s""","headline":{"mode":"${if (headline.fallback) "parent_fallback" else "pinned_child"}","runs_sec":${arr(hr.map(r => fmt(r.sec)))}""" +
      s""","canary_ms":${arr(headline.canaryMs)},"canary_canonical_ms":${CycleCanary.CanonicalMs}""" +
      s""","cycle_delivery":${fmt(cycleDelivery)},"docs_per_sec_normalized":${fmt(docsPerSecNormalized)}""" +
      s""","gc_ms":${arr(hr.map(_.gcMs))},"task_ms_median":${arr(hr.map(_.taskMedMs))}""" +
      s""","task_ms_max":${arr(hr.map(_.taskMaxMs))},"cpu_ms":${arr(hr.map(_.cpuMs))}""" +
      s""","parent_sec":${fmt(parent.sec)},"parent_gc_ms":${parent.gcMs},"parent_cpu_ms":${parent.cpuMs}""" +
      s""","parent2_sec":${fmt(parent2.sec)},"parent2_gc_ms":${parent2.gcMs},"parent2_cpu_ms":${parent2.cpuMs}}""" +
      s""","skew_evidence":{"docs":$skewDocs,"hot_domain_share":${fmt(CorpusGen.HotDomainShare / 10.0)}""" +
      s""","domain_partitioned":${domainLeg.json},"salted":${saltedLeg.json},${poolJson(skewPairs, "domain", "salted")}""" +
      s""","heavy_tail":{"docs":$heavyDocs,"heavy_share":${fmt(1.0 / heavyShare)},"mult_range":[$heavyMultLo,$heavyMultHi],"leg":${heavyLeg.json}}""" +
      s""","byte_weighted_defeat":{"docs":$defeatDocs,"heavy_share":${fmt(1.0 / defeatShare)},"mult_range":[$defeatMultLo,$defeatMultHi]""" +
      s""","docs_per_task_quota":${defeatDocs / (cpus * 4)},"leg":${defeatLeg.json}}}""" +
      s""","scaling":$scaling}"""
    println(line)
    // belt-and-braces: also land the metric line in a file so the bench
    // signal stays machine-readable even if a log wrapper prefixes stdout
    scala.util.Try(java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_out.json"), line + "\n"))
  }
}
