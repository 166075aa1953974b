package graft

import org.apache.spark.sql.SparkSession
import graft.queries.{Queries, RunCtx}

/** Optimization-round measurement harness (guide §1.4) — NOT the driver
  * metric. Times each named query with the noop sink (computes every
  * column of every row, discards the result) in the same session shape
  * as Bench's query suite (local[$SPARK_GRAFT_CPUS], default the host's
  * CPU count; shuffle.partitions=cpus, 4 MB scan splits), with held frames released
  * between queries exactly like the suite loop, all in one bench-mode run
  * (one RunCtx, as Bench's suite pass). Two timed runs per
  * query: run1 = the Bench-comparable cold invocation (generation
  * rebuild included), run2 = warm repeat (separates fixed plan/job
  * overhead from compute). Prints one JSON line.
  *
  *   sbt "runMain graft.BenchExtra q41_jaccard_join q15_lsh_near_dup"
  *
  * No args = the whole suite. Bench.scala itself stays frozen; numbers
  * quoted in OPTIMIZATION_r08.md cite this main.
  */
object BenchExtra {
  private def fmt(d: Double): String =
    "%.3f".formatLocal(java.util.Locale.ROOT, d)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", (4L << 20).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names =
      if (args.nonEmpty) args.toSeq
      else Queries.all.map(_.name)
    val ctx = new RunCtx(spark, sfDir, verify = false)
    // JIT warmup, untimed (Bench does the same)
    try Queries("q01_pricing_agg").run(ctx).count()
    catch { case _: Throwable => }
    def noop(name: String): Double = {
      spark.sparkContext.setJobDescription(s"bench-extra: $name")
      val t0 = System.nanoTime()
      Queries(name).run(ctx)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val rows = names.map { name =>
      val cpu0 = CpuClock.ms
      val cold = noop(name)
      val cpuCold = CpuClock.ms - cpu0
      val warm = noop(name)
      // mirror the Bench suite loop: held frames released between
      // queries, q15's pairs result deliberately retained (q25 composes on it —
      // q15's warm run is therefore a result-cache read, expected ~0)
      Queries.releaseSwapCaches()
      s""""$name":{"cold_sec":${fmt(cold)},"warm_sec":${fmt(warm)},"cold_cpu_ms":$cpuCold}"""
    }
    ctx.close()
    println(rows.mkString("{\"bench_extra\":{", ",", s"},\"sf\":\"$sfDir\",\"cpus\":$cpus}"))
    spark.stop()
  }
}
