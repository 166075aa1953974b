package graft

import graft.queries.{Queries, RunCtx}

/** Optimization-round measurement harness (guide §1.4) — NOT the driver
  * metric. Times each named query with the noop sink (computes every
  * column of every row, discards the result) in Bench's query-suite
  * session (BenchCommon.session at $SPARK_GRAFT_CPUS, default the host's
  * CPU count), with held frames released
  * between queries exactly like the suite loop, all in one bench-mode run
  * (one RunCtx, as Bench's suite pass). Two timed runs per
  * query: run1 = the Bench-comparable cold invocation (generation
  * rebuild included), run2 = warm repeat (separates fixed plan/job
  * overhead from compute). Prints one JSON line.
  *
  *   sbt "runMain graft.BenchExtra q41_jaccard_join q15_lsh_near_dup"
  *
  * No args = the whole suite. Numbers quoted in OPTIMIZATION_r08.md cite
  * this main.
  */
object BenchExtra {
  private def fmt(d: Double): String =
    "%.3f".formatLocal(java.util.Locale.ROOT, d)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = BenchCommon.session(cpus)
    val names =
      if (args.nonEmpty) args.toSeq
      else Queries.all.map(_.name)
    val ctx = new RunCtx(spark, sfDir, verify = false)
    // JIT warmup, untimed (Bench does the same)
    try Queries("q01_pricing_agg").run(ctx).count()
    catch { case _: Throwable => }
    def noop(name: String): Measured[Unit] = {
      spark.sparkContext.setJobDescription(s"bench-extra: $name")
      Measured.time(Queries(name).run(ctx).write.format("noop").mode("overwrite").save())
    }
    val rows = names.map { name =>
      val cold = noop(name)
      val warm = noop(name)
      // mirror the Bench suite loop: held frames released between
      // queries, q15's pairs result deliberately retained (q25 composes on it —
      // q15's warm run is therefore a result-cache read, expected ~0)
      Queries.releaseSwapCaches()
      s""""$name":{"cold_sec":${fmt(cold.sec)},"warm_sec":${fmt(warm.sec)},"cold_cpu_ms":${cold.cpuMs}}"""
    }
    ctx.close()
    println(rows.mkString("{\"bench_extra\":{", ",", s"},\"sf\":\"$sfDir\",\"cpus\":$cpus}"))
    spark.stop()
  }
}
