package graft.perfbench

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.corpus.CorpusGen
import graft.model.{PageRecord, ScoredDoc}
import graft.pipeline.ExtractPipeline
import graft.queries.Queries
import graft.table.GraftTable

/** What one pass of a workload did: operations attempted and failed
  * (failed = thrown, or an output check did not hold), the per-layer
  * values it measured, and notes for the artifact. */
final case class PassOut(attempted: Long, failed: Long, layers: Map[String, Double],
    notes: Seq[String] = Nil)

/** Traced-pass context: the tracer, the listener and the pass span. */
final case class TraceCtx(tracer: Tracer, listener: BenchListener, passSpan: Long)

/** One per-partition record of the traced extraction (accumulator value). */
final case class PartTrace(taskId: Long, startNs: Long, endNs: Long, ns: Vector[Long],
    calls: Vector[Long], htmlDocs: Long, htmlBytes: Long, pdfDocs: Long, pdfBytes: Long,
    errors: Map[String, Long])

/** A benchmark workload over inputs generated from `seed` under `dir`.
  * `setup` writes the inputs (the benchmark times it several times),
  * `prepare` computes the references the checks compare against, and
  * `pass` runs one unit of work end to end and checks its outputs. */
abstract class Workload(val spark: SparkSession, val seed: Long, val dir: String) {
  /** Passes before timing, the cold one included: enough that the JIT
    * has settled and passes no longer get faster. On a 4-CPU host pass
    * times and CPU kept falling for 6-10 passes (the JIT compiler threads
    * compete with the tasks for the cores until then). */
  def warmPasses: Int
  /** Whether the traced run also measures N -> 4N scaling legs. */
  def scalingLegs: Boolean = false
  def setup(): Unit
  def prepare(): Unit = ()
  def pass(trace: Option[TraceCtx]): PassOut
  /** Release the program's result caches so every pass does the full work. */
  def release(): Unit = { Queries.releaseSwapCaches(); Queries.invalidateResultCaches() }
  /** Input facts for the artifact (sizes, digests). */
  def inputFacts: Map[String, String] = Map.empty

  protected val parts: Int = 4 * spark.sparkContext.defaultParallelism

  /** Wall seconds and work-thread CPU seconds of the pass's timed work:
    * a pass times only what the workload's end-to-end metrics cover, not
    * its checks. */
  var workS, workCpuS = 0.0
  protected def work[T](f: => T): T = {
    val c0 = PerfBench.workThreadsCpuNs()
    val t0 = System.nanoTime()
    try f finally {
      workS += (System.nanoTime() - t0) / 1e9
      workCpuS += PerfBench.workCpuS(c0, PerfBench.workThreadsCpuNs())
    }
  }
  protected def timed[T](f: => T): (T, Double) = PerfBench.timed(f)
  /** Run `f` under span `name` with its jobs grouped under that span. */
  protected def traced[T](trace: Option[TraceCtx], name: String)(f: => T): T = trace match {
    case None => f
    case Some(t) => t.tracer.span(name, t.passSpan) { id =>
      spark.sparkContext.setJobGroup(id.toString, name)
      try f finally spark.sparkContext.clearJobGroup()
    }
  }
}

object Workload {
  val Names: Seq[String] = Seq("extract_crawl", "queries_table")

  /** queries_table's queries, in the order they run. */
  val DocQueries: Seq[String] = Seq("q08_token_stats", "q13_dedup_exact", "q14_minhash_sig",
    "q18_simhash", "q35_training_set")

  def apply(name: String, spark: SparkSession, seed: Long, dir: String): Workload = name match {
    case "extract_crawl" => new ExtractCrawl(spark, seed, dir)
    case "queries_table" => new QueriesTable(spark, seed, dir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Order-independent (rows, digest) of a query result, computed in the
    * same action that materializes every column. Doubles are rounded to
    * 9 significant digits first: partial sums may be combined in any
    * order, which moves the last bits. */
  def resultDigest(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else pmod(xxhash64(cols: _*), lit(Inputs.DigestMod))
    val r = df.select(h.as("h")).agg(count(lit(1)), coalesce(sum("h"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      // 9 significant digits, independent of magnitude
      format_string("%.8e", c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case StructType(fs) =>
      if (fs.isEmpty) lit(0) else struct(fs.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }
}

/** Parse + score a materialized crawl table on scan splits (no shuffle):
  * the BASELINE.json headline. */
final class ExtractCrawl(spark: SparkSession, seed: Long, dir: String)
    extends Workload(spark, seed, dir) {
  val nDocs: Long = 8000L
  val warmPasses = 6
  override val scalingLegs = true
  private val pagesPath = s"$dir/pages"
  private var golden: (Long, Long) = (0L, 0L)
  private val target = CorpusGen.TargetWords.toSet
  private val bycatch = CorpusGen.BycatchWords.toSet

  def setup(): Unit = Inputs.writeCorpus(spark, seed, nDocs, parts, pagesPath)
  override def prepare(): Unit = golden = Inputs.goldenDigest(spark, seed, nDocs, parts)
  override def inputFacts: Map[String, String] = Map("docs" -> nDocs.toString,
    "first_doc_id" -> Inputs.corpusBase(seed).toString, "golden_digest" -> golden._2.toString)

  private def pages = {
    import spark.implicits._
    spark.read.parquet(pagesPath).as[PageRecord]
  }

  /** (docs, ok docs, digest of (url, extracted_text)) in one action. */
  private def summarize(scored: org.apache.spark.sql.Dataset[ScoredDoc]): (Long, Long, Long) = {
    val r = scored.toDF()
      .select(pmod(xxhash64(col("url"), col("extracted_text")), lit(Inputs.DigestMod)).as("h"),
        col("ok").cast("long").as("ok"))
      .agg(count(lit(1)), coalesce(sum("ok"), lit(0L)), coalesce(sum("h"), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Failed docs of a pass: docs not ok, plus ok docs whose text differs
    * from the golden (joined per url only when the digest disagrees). */
  private def failures(docs: Long, ok: Long, dig: Long,
      scored: => org.apache.spark.sql.Dataset[ScoredDoc]): (Long, Seq[String]) =
    if (docs == nDocs && dig == golden._2 && ok == nDocs) (0L, Nil)
    else {
      val bad = ExtractPipeline.verifyAgainstGoldens(scored,
        Inputs.goldens(spark, seed, nDocs, parts)).filter(!col("matched")).count()
      (math.max(bad, nDocs - ok),
        Seq(s"docs=$docs ok=$ok digest=$dig golden=${golden._2} mismatched=$bad"))
    }

  def pass(trace: Option[TraceCtx]): PassOut = trace match {
    case None =>
      def run = ExtractPipeline.extractAndScore(pages, 0, target, bycatch)
      val (docs, ok, dig) = work(summarize(run))
      val (failed, notes) = failures(docs, ok, dig, run)
      PassOut(nDocs, failed, Map.empty, notes)
    case Some(t) =>
      // a parquet pass over html alone: what the scan costs before parsing
      val (scanBytes, scanT) = traced(trace, "scan") {
        timed(spark.read.parquet(pagesPath).select(sum(length(col("html")))).head().getLong(0))
      }
      val acc = spark.sparkContext.collectionAccumulator[PartTrace]("perfbench.layers")
      val bcT = spark.sparkContext.broadcast(target)
      val bcB = spark.sparkContext.broadcast(bycatch)
      val epochNs = t.tracer.epochNs
      val baseNano = t.tracer.baseNano
      def run = {
        import spark.implicits._
        pages.mapPartitions { it =>
          val c = new TracedExtract.Counters
          val taskId = TaskContext.get().taskAttemptId()
          val t0 = epochNs + System.nanoTime() - baseNano
          val tb = bcT.value
          val bb = bcB.value
          var flushed = false
          new Iterator[ScoredDoc] {
            def hasNext: Boolean = {
              val h = it.hasNext
              if (!h && !flushed) {
                flushed = true
                acc.add(PartTrace(taskId, t0, epochNs + System.nanoTime() - baseNano, c.ns.toVector, c.calls.toVector,
                  c.htmlDocs, c.htmlBytes, c.pdfDocs, c.pdfBytes, c.errors.toMap))
              }
              h
            }
            def next(): ScoredDoc = TracedExtract.score(TracedExtract.extract(it.next(), c), tb, bb, c)
          }
        }
      }
      val (docs, ok, dig) = work(traced(trace, "extract")(summarize(run)))
      val taskSpans = t.listener.spans()
      val taskSpanIds = taskSpans.values.toSet
      val taskS = t.tracer.all.filter(s => taskSpanIds(s.id)).map(_.durNs).sum / 1e9
      import scala.jdk.CollectionConverters._
      val recs = acc.value.asScala.toSeq
      recs.foreach { r =>
        val parent = taskSpans.getOrElse(r.taskId, 0L)
        TracedExtract.Layers.indices.foreach { i =>
          if (r.calls(i) > 0) t.tracer.add(Span(t.tracer.newId(), parent, TracedExtract.Layers(i),
            r.startNs, r.endNs, busyNs = r.ns(i), count = r.calls(i)))
        }
      }
      val layerS = TracedExtract.Layers.indices.map(i => recs.map(_.ns(i)).sum / 1e9)
      val (failed, notes) = failures(docs, ok, dig, run)
      val layers = TracedExtract.Layers.zip(layerS).map { case (l, v) => s"${l}_s" -> v }.toMap ++
        Map("scan_s" -> scanT, "scan_bytes" -> scanBytes.toDouble,
          "html_docs" -> recs.map(_.htmlDocs).sum.toDouble,
          "html_bytes" -> recs.map(_.htmlBytes).sum.toDouble,
          "pdf_docs" -> recs.map(_.pdfDocs).sum.toDouble,
          "pdf_bytes" -> recs.map(_.pdfBytes).sum.toDouble,
          "extract.err_docs" -> recs.map(_.errors.values.sum).sum.toDouble,
          // task time not spent inside a layer call: scan, decode, row
          // conversion and Spark overhead, in task-seconds
          "extract.unattributed_s" -> math.max(0.0, taskS - layerS.sum))
      val errors = recs.flatMap(_.errors).groupMapReduce(_._1)(_._2)(_ + _)
      val errorNote = if (errors.isEmpty) Nil else Seq(s"error classes: $errors")
      PassOut(nDocs, failed, layers, notes ++ errorNote)
  }
}

/** The engine workload: every pass runs the document queries
  * ([[DocQueries]]), then drives a small crawl table through the
  * resumable bucketed table ([[ResumeTable]]). Both are many small Spark
  * jobs whose planning, scheduling, shuffles and commits outweigh the
  * row work, unlike extract_crawl; one workload for both keeps every run
  * long enough to be steady on a small host. */
final class QueriesTable(spark: SparkSession, seed: Long, dir: String)
    extends Workload(spark, seed, dir) {
  val queries = new DocQueries(spark, seed, s"$dir/docs")
  val table = new ResumeTable(spark, seed, s"$dir/table")
  private val steps = Seq(queries, table)
  val warmPasses = 6

  def setup(): Unit = steps.foreach(_.setup())
  override def prepare(): Unit = steps.foreach(_.prepare())
  override def inputFacts: Map[String, String] =
    queries.inputFacts.map { case (k, v) => s"queries.$k" -> v } ++
      table.inputFacts.map { case (k, v) => s"table.$k" -> v }

  def pass(trace: Option[TraceCtx]): PassOut = {
    val outs = steps.map { p =>
      p.workS = 0; p.workCpuS = 0
      val out = p.pass(trace)
      workS += p.workS; workCpuS += p.workCpuS
      out
    }
    PassOut(outs.map(_.attempted).sum, outs.map(_.failed).sum, outs.flatMap(_.layers).toMap,
      outs.flatMap(_.notes))
  }
}

/** Document-analytics queries, token statistics through exact dedup,
  * MinHash and SimHash signatures to the training-set gate, on one
  * generated documents table. Each query is a few small Spark jobs, so
  * per-query planning, scheduling, codegen and `functions/` dominate. */
final class DocQueries(spark: SparkSession, seed: Long, dir: String)
    extends Workload(spark, seed, dir) {
  val nDocs: Long = 1000L
  val warmPasses = 0 // runs as a step of QueriesTable
  private val fns = Queries.all.map(q => q.name -> q.fn).toMap
  private var refs: Map[String, (Long, Long)] = Map.empty

  def setup(): Unit = Inputs.writeDocuments(spark, dir, seed, nDocs, parts)
  override def inputFacts: Map[String, String] = Map("docs" -> nDocs.toString) ++
    refs.map { case (q, (n, d)) => s"ref.$q" -> s"$n/$d" }

  def pass(trace: Option[TraceCtx]): PassOut = {
    var failed = 0L
    val notes = Seq.newBuilder[String]
    val res = Workload.DocQueries.map { q =>
      val (r, sec) = timed {
        work(traced(trace, s"q.$q") {
          try Some(Workload.resultDigest(fns(q)(spark, dir)))
          catch { case e: Exception => notes += s"$q threw ${e.getClass.getSimpleName}: ${e.getMessage}"; None }
        })
      }
      Queries.releaseSwapCaches()
      (q, r, sec)
    }
    // the first checked pass (the cold pass) records the references every
    // later pass must reproduce; q13's row count is known in closed form
    if (refs.isEmpty && res.forall(_._2.isDefined)) refs = res.map(r => r._1 -> r._2.get).toMap
    res.foreach {
      case (_, None, _) => failed += 1
      case (q, Some(r), _) =>
        if (refs.get(q).exists(_ != r)) { failed += 1; notes += s"$q got $r want ${refs(q)}" }
        else if (q == "q13_dedup_exact" && r._1 != Inputs.distinctTexts(nDocs)) {
          failed += 1; notes += s"q13 rows ${r._1} != distinct texts ${Inputs.distinctTexts(nDocs)}"
        }
    }
    PassOut(res.size.toLong, failed, res.map { case (q, _, s) => s"q.${q}_s" -> s }.toMap,
      notes.result())
  }
}

/** The crawl parsers driven through the resumable bucketed table: a run
  * killed after half its waves, then resumed to completion. */
final class ResumeTable(spark: SparkSession, seed: Long, dir: String)
    extends Workload(spark, seed, dir) {
  val nDocs: Long = 400L
  val nBuckets = 4
  val perWave = 2
  val warmPasses = 0 // runs as a step of QueriesTable
  private val pagesPath = s"$dir/pages"
  private var golden: (Long, Long) = (0L, 0L)
  private var inputBytes = 0L
  private var passNo = 0

  def setup(): Unit = Inputs.writeCorpus(spark, seed, nDocs, parts, pagesPath)
  override def prepare(): Unit = {
    golden = Inputs.goldenDigest(spark, seed, nDocs, parts)
    inputBytes = spark.read.parquet(pagesPath).select(sum(length(col("html")))).head().getLong(0)
  }
  override def inputFacts: Map[String, String] = Map("docs" -> nDocs.toString,
    "first_doc_id" -> Inputs.corpusBase(seed).toString, "buckets" -> nBuckets.toString,
    "buckets_per_wave" -> perWave.toString, "html_bytes" -> inputBytes.toString)

  private def treeSize(f: java.io.File): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeSize)
      .foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    else (1L, f.length)

  def pass(trace: Option[TraceCtx]): PassOut = {
    import spark.implicits._
    passNo += 1
    val root = s"$dir/table-$passNo"
    val pages = spark.read.parquet(pagesPath).as[PageRecord]
    val waves = nBuckets / perWave
    def run(attempt: Int, failAfter: Int) = GraftTable.runResumable(spark, pages, root,
      nBuckets, perWave, CorpusGen.TargetWords.toSet, CorpusGen.BycatchWords.toSet,
      tasksPerWave = spark.sparkContext.defaultParallelism, attempt = attempt,
      failAfterWaves = failAfter)
    val notes = Seq.newBuilder[String]
    val (killed, killedS) = timed(work(traced(trace, "table.killed_run") {
      try { run(1, waves / 2); false }
      catch { case e: RuntimeException if String.valueOf(e.getMessage).startsWith("injected failure") => true }
    }))
    if (!killed) notes += "the killed run was not killed"
    val (doneMid, cbS) = timed(work(traced(trace, "table.completed_buckets")(
      GraftTable.completedBuckets(spark, root))))
    val (report, resumeS) = timed(work(traced(trace, "table.resume_run")(run(2, Int.MaxValue))))
    // ---- checks: every input doc committed once, every bucket lineaged
    val latest = new java.io.File(s"$root/manifest").listFiles().map(_.getName)
      .collect { case n if n.startsWith("snapshot-") =>
        n.stripPrefix("snapshot-").stripSuffix(".json").toInt }.max
    val ((rows, urls, dig, ok), readS) = timed(traced(trace, "table.read_snapshot") {
      val snap = GraftTable.readSnapshot(spark, root, latest)
      val r = snap.select(pmod(xxhash64(col("url"), col("extracted_text")), lit(Inputs.DigestMod)).as("h"),
        col("url"), col("ok").cast("long").as("ok"))
        .agg(count(lit(1)), countDistinct("url"), coalesce(sum("h"), lit(0L)), coalesce(sum("ok"), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    })
    val lineage = spark.read.parquet(s"$root/lineage").select("bucket", "n_docs", "wall_ms")
      .as[(Int, Long, Long)].collect().toSeq
    val committed = lineage.map(_._2).sum
    val missingBuckets = nBuckets - lineage.map(_._1).distinct.size
    var failed = math.abs(nDocs - committed) + (rows - urls) + missingBuckets + (nDocs - ok) +
      (if (killed) 0 else 1) + (if (doneMid.size == waves / 2 * perWave) 0 else 1)
    if (dig != golden._2 && failed == 0) failed = 1
    if (failed > 0) notes += s"committed=$committed rows=$rows urls=$urls ok=$ok " +
      s"missing_buckets=$missingBuckets mid_buckets=${doneMid.size} digest=$dig golden=${golden._2}"
    val layers = trace.map { t =>
      val parsedDocs = t.listener.passAccums()
      val (files, bytes) = treeSize(new java.io.File(root))
      val walls = lineage.map(_._3.toDouble).sorted
      val parsed = parsedDocs.getOrElse("graft.docs_ok", 0L) + parsedDocs.getOrElse("graft.docs_err", 0L)
      Map("table.killed_run_s" -> killedS, "table.resume_run_s" -> resumeS,
        "table.completed_buckets_s" -> cbS, "table.read_snapshot_s" -> readS,
        "table.files_written" -> files.toDouble, "table.bytes_written" -> bytes.toDouble,
        "table.bytes_per_input_byte" -> bytes.toDouble / math.max(1L, inputBytes),
        "table.reparsed_docs" -> math.max(0L, parsed - committed).toDouble,
        "table.wave_skew" -> walls.last / math.max(1.0, walls(walls.length / 2)))
    }.getOrElse(Map.empty)
    graft.util.Fs.deleteRecursively(new java.io.File(root))
    PassOut(nDocs, failed, layers, notes.result() :+ s"report=$report")
  }
}
