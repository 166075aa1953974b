package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Collects task wall times so the skew of the parse stage is measurable
  * (max-task vs median-task — SURVEY.md §7.6). BenchLeg.measure
  * publishes it per timed run of every Bench leg. */
private[graft] final class TaskTimeListener extends SparkListener {
  val times = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null)
      times.add((e.stageId, e.taskInfo.finishTime - e.taskInfo.launchTime))
  def clear(): Unit = times.clear()
  /** (median, max) task ms within the PARSE stage, identified as the
    * stage containing the single longest task. Pooling all stages would
    * let the many sub-50ms scan/reduce tasks set the median; picking by
    * summed stage time fails too — a wide parquet scan of html bytes can
    * out-sum a skewed parse stage whose straggler defines the wall time.
    * The longest task is always a parse task in these jobs (fused
    * scan+parse for the headline; post-shuffle parse for the skew legs,
    * where the whole point is its straggler). */
  def skew: (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val byStage = times.asScala.toSeq.groupBy(_._1)
    if (byStage.isEmpty) (0L, 0L)
    else {
      val xs = byStage.values.maxBy(_.map(_._2).max).map(_._2).toIndexedSeq.sorted
      (xs(xs.length / 2), xs.last)
    }
  }
}

/** JVM-wide cumulative GC time in ms — deltas around a timed run expose
  * whether a slow run was GC-bound (the round-3 headline anomaly
  * diagnostic). */
private[graft] object GcClock {
  def ms: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }
}

/** One timed run of `body`: its value, wall seconds, and the JVM-wide GC
  * and process-CPU ms it cost (cpuMs -1 when the CPU bean is absent).
  * The one wall/GC/CPU capture of every harness main. */
private[graft] final case class Measured[A](value: A, sec: Double, gcMs: Long, cpuMs: Long)

private[graft] object Measured {
  def time[A](body: => A): Measured[A] = {
    val gc0 = GcClock.ms
    val cpu0 = CpuClock.ms
    val t0 = System.nanoTime()
    val v = body
    val sec = (System.nanoTime() - t0) / 1e9
    Measured(v, sec, GcClock.ms - gc0, if (cpu0 < 0) -1L else CpuClock.ms - cpu0)
  }
}

/** THE timed leg computation, shared by every harness JVM — the parent
  * diagnostic runs and every BenchLeg leg (pinned child or in-process
  * fallback) call this ONE body, so parent-vs-child and skew-vs-headline
  * numbers are comparisons of the identical computation by construction
  * (hand-copied versions invited silent methodology drift). */
private[graft] object BenchCommon {
  import org.apache.spark.sql.{Dataset, SparkSession}
  import graft.model.PageRecord

  /** The harness session at `cpus` cores. The bench corpora are split
    * finely enough that the scan stage can occupy every core; the 128 MB
    * default is tuned for TB-scale inputs, not a 150 MB fixture. */
  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", (4L << 20).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Parse+score `pages` and count ok docs (the headline unit of work). */
  def countOk(pages: Dataset[PageRecord], numPartitions: Int): Long = {
    implicit val longEnc: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
    graft.pipeline.ExtractPipeline.extractAndScore(pages, numPartitions,
        graft.corpus.CorpusGen.TargetWords.toSet,
        graft.corpus.CorpusGen.BycatchWords.toSet)
      .mapPartitions(it => Iterator.single(it.count(_.ok).toLong))
      .reduce(_ + _)
  }

  def countOk(spark: SparkSession, path: String, numPartitions: Int): Long = {
    import spark.implicits._
    countOk(spark.read.parquet(path).as[PageRecord], numPartitions)
  }

  /** The skew-evidence CONTROL leg: same pages, but partitioned by raw
    * domain (the pathological layout — one task owns the hot domain)
    * instead of the pipeline's salted url-hash routing. */
  def countOkDomainPartitioned(spark: SparkSession, path: String, parts: Int): Long = {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    val byDomain = spark.read.parquet(path).as[PageRecord]
      .repartition(parts, expr("regexp_extract(url, 'd([0-9]+)', 1)"))
      .as[PageRecord]
    countOk(byDomain, 0)
  }

  /** The byte-weighted routing leg (round-6 verdict #3): same parse, but
    * placement comes from ExtractPipeline.byteWeightedRoute — giant pages
    * get dedicated bins, light partition count sized by bytes. The leg's
    * timed window INCLUDES the routing's stats pass (honest cost: that is
    * what the pipeline would pay on a table without length metadata). */
  def countOkByteWeighted(spark: SparkSession, path: String, parts: Int): Long = {
    import spark.implicits._
    countOk(graft.pipeline.ExtractPipeline.byteWeightedRoute(
      spark.read.parquet(path).as[PageRecord], parts), 0)
  }

  /** THE route-string dispatch of BenchLeg.measure, which both the
    * pinned child and Bench's in-process fallback run. Round-7 review: a
    * route added to one of two hand-kept copies makes the fallback
    * silently run a DIFFERENT computation than the child it substitutes
    * for — a methodology mismatch inside a published comparative claim.
    * One body, one invariant. */
  def countOkRoute(spark: SparkSession, path: String, cpus: Int, route: String): Long =
    route match {
      case "domain"       => countOkDomainPartitioned(spark, path, cpus)
      case "salted"       => countOk(spark, path, cpus)
      case "salted_fine"  => countOk(spark, path, cpus * 4)
      case "byteweighted" => countOkByteWeighted(spark, path, cpus * 4)
      case _              => countOk(spark, path, 0)
    }
}

/** Process CPU time in ms (com.sun OperatingSystemMXBean; -1 when the
  * bean is unavailable). A slow run's cpu/wall ratio CLASSIFIES it:
  * ratio near the core count means the JVM did more work (GC, codegen,
  * plan blow-up — engine's fault); ratio far below means the hypervisor
  * starved a busy JVM of cycles (host's fault). */
private[graft] object CpuClock {
  def ms: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean =>
        val ns = b.getProcessCpuTime
        if (ns < 0) -1L else ns / 1000000L
      case _ => -1L
    }
}
