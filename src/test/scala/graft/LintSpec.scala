package graft

import scala.collection.immutable.ListMap
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.EqualTo
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import graft.queries.{Queries, RunCtx}

/** Regression armor for the two bug classes this project actually hit
  * (round-3 verdict next-round #10):
  *   - a self-join whose condition resolved BOTH sides to the same
  *     attribute (the q35 aliasing bug): the predicate is trivially true
  *     and the join silently stops enforcing anything;
  *   - a persisted intermediate without an unpersist owner (the round-1
  *     q25 pathology's cousin): every bench sweep leaks a generation of
  *     cache blocks.
  */
class LintSpec extends AnyFunSuite with SparkTestBase with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  // one verify-mode run builds every frame below, as a suite pass would
  private lazy val ctx = new RunCtx(spark, sf, verify = true)
  override def afterAll(): Unit = ctx.close()

  // q19 is oracled (round 5) but its fn executes the whole resumable
  // pipeline EAGERLY and returns a localized lineage frame — there is no
  // lazy plan to lint (and producing it costs a full pipeline run);
  // GraftTableSpec owns its join/shuffle discipline
  private val eagerlyLocalized = Set("q19_resume_lineage")

  // the oracled queries cover every join in the suite; the non-SQL ops
  // (q17/q27-core/q40) run whole pipelines eagerly and join nothing the
  // oracled set doesn't. Each frame is built once for both plan lints:
  // building one runs its query body's eager work (q17's dumps, q20,
  // q29, q40's streaming drain, q42)
  private lazy val frames: ListMap[String, DataFrame] =
    Queries.all.filter(_.oracle.isDefined)
      .filterNot(q => eagerlyLocalized.contains(q.name))
      .map(q => q.name -> q.run(ctx)).to(ListMap)

  test("no analyzed plan contains a trivially-true self-equality (join aliasing lint)") {
    frames.foreach { case (name, df) =>
      val plan = df.queryExecution.analyzed
      plan.foreach { node =>
        node.expressions.foreach(_.foreach {
          case e @ EqualTo(l, r) if l.semanticEquals(r) =>
            fail(s"$name: trivially-true predicate $e in:\n$node")
          case _ => ()
        })
      }
    }
  }

  test("no physical plan contains a cartesian/nested-loop join except q16's guarded baseline") {
    // the scale-killer class: a BroadcastNestedLoopJoin or
    // CartesianProduct anywhere but the deliberately-guarded brute-force
    // ANN baseline means a join lost its equi-keys (often an aliasing or
    // column-pruning regression) and the query melts at real sizes.
    // PLANS.md audits this manually each round; this lint pins it.
    // Skip q37 (needs its aux fixture written) — it is a binaryFile scan
    // with no joins; the generated-input queries plan fine from sf0.001.
    val exempt = Set("q16_ann_topk", "q37_pdf_dir_scan")
    // under AQE the executed plan is an AdaptiveSparkPlanExec LEAF, so a
    // plain foreach never reaches a join: walk AQE's initial plan and the
    // plans behind cached relations instead (QueriesSpec's exchangeCount
    // descent), and match node names rather than the string dump
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.initialPlan)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case other => other +: other.children.flatMap(nodes)
    }
    def scaleKillers(df: DataFrame): Seq[String] =
      nodes(df.queryExecution.executedPlan).map(_.getClass.getSimpleName)
        .filter(n => n.contains("BroadcastNestedLoopJoin") || n.contains("CartesianProduct"))
    // controls: the walk sees a plain cross join, and q16's exemption is
    // a live one (its brute-force baseline still plans a nested loop)
    val cross = scaleKillers(spark.range(5).crossJoin(spark.range(5)))
    assert(cross.nonEmpty, "the plan walk missed a crossJoin's nested-loop join")
    val q16 = scaleKillers(frames("q16_ann_topk"))
    assert(q16.exists(_.contains("BroadcastNestedLoopJoin")),
      s"q16's exemption is stale: its plan shows ${q16.mkString(",")}")
    frames.filterNot { case (name, _) => exempt.contains(name) }.foreach { case (name, df) =>
      val bad = scaleKillers(df)
      assert(bad.isEmpty,
        s"$name: scale-killer join operators ${bad.mkString(",")} in the physical plan")
    }
  }

  private val mainRoot = new java.io.File("src/main/scala")

  /** The .scala files under `d` (a directory of src/main/scala), with
    * their source. */
  private def mainSources(d: java.io.File = mainRoot): Seq[(java.io.File, String)] = {
    assert(d.isDirectory, s"lint source root not found at ${d.getAbsolutePath} — " +
      "the forked test JVM's working directory moved off the repo root")
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) scalaFiles(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    scalaFiles(d).map(f => f -> java.nio.file.Files.readString(f.toPath))
  }

  /** `src` without its scaladoc and comment lines. */
  private def code(src: String): String = src.linesIterator.filterNot { l =>
    val t = l.trim
    t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
  }.mkString("\n")

  /** Files under src/main/scala whose source contains `needle`. */
  private def mainFilesContaining(needle: String): Set[String] =
    mainSources().collect { case (f, src) if src.linesIterator.exists(_.contains(needle)) =>
      mainRoot.toPath.relativize(f.toPath).toString
    }.toSet

  /** The declarations in `src` that keep mutable state at object level:
    * a `var`, or a val holding a `mutable.` collection, an
    * AtomicReference or a WeakHashMap. An object's members are the lines
    * indented two spaces past the object's own line, up to its closing
    * brace; a val's type is read from its declaration line and, when that
    * ends in `=`, from the line after it. */
  private def objectLevelState(src: String): Seq[String] = {
    val lines = src.linesIterator.toVector
    def indent(l: String) = l.takeWhile(_ == ' ').length
    val Obj = """(\s*)(?:(?:private|protected|final|case)\S*\s+)*object\s.*\{\s*""".r
    val Decl = """(?:@\w+\s+)*(?:(?:private|protected|final|override|implicit|lazy)\S*\s+)*(val|var)\s.*""".r
    lines.indices.flatMap { i =>
      lines(i) match {
        case Obj(ind) =>
          val body = lines.drop(i + 1).takeWhile(l => l.trim.isEmpty || indent(l) > ind.length)
          body.indices.filter(j => indent(body(j)) == ind.length + 2)
            .map(j => (body(j).trim, body.lift(j + 1).getOrElse("")))
            .collect {
              case (l @ Decl("var"), _) => l
              case (l @ Decl("val"), next)
                  if Seq("mutable.", "AtomicReference", "WeakHashMap")
                    .exists((if (l.endsWith("=")) l + next else l).contains) => l
            }
        case _ => Nil
      }
    }
  }

  test("graft/queries keeps no object-level mutable state (source lint)") {
    // a run's state lives in its RunCtx: process-global query state made
    // runs on one session see each other (a verify flag flipped by one
    // harness, one q15 result slot shared by every caller)
    val shapes = """object Queries {
      |  @volatile private[graft] var auxDumpEnabled: Boolean = true
      |  private val EmbStats =
      |    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, Long]]()
      |  private val q41LastObs =
      |    new java.util.concurrent.atomic.AtomicReference[Observation]()
      |  private def mutantOffset(floor: Long): Long = {
      |    var off = floor
      |    off
      |  }
      |  private object Q15Result {
      |    private var owner: Option[String] = None
      |  }
      |  private val SrpAnn = new SrpLsh(8, 4)
      |}
      |final class RunCtx {
      |  @volatile private var q41Obs: Option[Observation] = None
      |}""".stripMargin
    assert(objectLevelState(shapes).map(_.takeWhile(_ != '=').trim) == Seq(
      "@volatile private[graft] var auxDumpEnabled: Boolean", "private val EmbStats",
      "private val q41LastObs", "private var owner: Option[String]"),
      "the lint misses a shape of object-level state, or flags a local or class member")
    val found = mainSources(new java.io.File(mainRoot, "graft/queries")).flatMap {
      case (f, src) => objectLevelState(src).map(l => s"${f.getName}: $l")
    }
    assert(found.isEmpty, s"object-level mutable state: ${found.mkString("; ")}")
  }

  test("every persist in Queries.scala has a registered cache owner (source lint)") {
    // a frame that outlives the call that built it is persisted only by
    // graft.util.Held, which unpersists it on release; the one other
    // file persists and unpersists within one method
    val owners = Set("graft/util/Held.scala", "graft/pipeline/DedupGroups.scala")
    val persisting = mainFilesContaining(".persist(")
    assert(persisting == owners,
      s"files calling .persist( are ${persisting.toSeq.sorted.mkString(", ")}; " +
        s"want exactly ${owners.toSeq.sorted.mkString(", ")}")
  }

  test("Inflater is constructed only in graft/util/Inflate.scala (source lint)") {
    // two hand-written inflate loops drifted apart before (the FDICT stall
    // guard landed in one, the output cap in the other); a third loop
    // must go through the shared bounded helper instead
    val constructs = mainFilesContaining("Inflater(")
    assert(constructs == Set("graft/util/Inflate.scala"),
      s"Inflater constructed outside graft/util/Inflate.scala: ${constructs.mkString(", ")}")
  }

  test("Deflater is constructed only in graft/util/Deflate.scala (source lint)") {
    // the PDF writer and the PNG encoder each carried a deflate loop, one
    // of them without end() on failure; new zlib writers go through the
    // shared helper
    val constructs = mainFilesContaining("Deflater(")
    assert(constructs == Set("graft/util/Deflate.scala"),
      s"Deflater constructed outside graft/util/Deflate.scala: ${constructs.mkString(", ")}")
  }

  test("pages become rows only in ExtractPipeline's parse stage (source lint)") {
    // the resumable table once kept a private copy of the extract-then-
    // score stage with its own word-set broadcasts and wrapper rows; every
    // Spark job now goes through ExtractPipeline.extractAndScore, and the
    // traced benchmark recomposes the layers for its timers
    val callers = mainFilesContaining("Extractor.extract(")
    val allowed = Set("graft/pipeline/ExtractPipeline.scala", "graft/perfbench/TracedExtract.scala")
    assert(callers.contains("graft/pipeline/ExtractPipeline.scala"), "the lint lost its needle")
    assert(callers.subsetOf(allowed),
      s"Extractor.extract( called outside ${allowed.toSeq.sorted.mkString(", ")}: " +
        (callers -- allowed).toSeq.sorted.mkString(", "))
  }

  test("graft/table/ never repartitions, so a table wave never shuffles page bytes (source lint)") {
    // a wave parses on its coalesced scan splits; a salted repartition
    // ahead of the parse shuffled every page's html once per wave
    val found = mainFilesContaining("repartition(")
    assert(found.contains("graft/pipeline/ExtractPipeline.scala"), "the lint lost its needle")
    val inTable = found.filter(_.startsWith("graft/table/"))
    assert(inTable.isEmpty, s"repartition( in ${inTable.toSeq.sorted.mkString(", ")}")
  }

  test("src/main holds no test-only reference oracle (source lint)") {
    // the reference transcriptions that the fused kernels replaced live in
    // src/test next to the specs that pin the kernels to them; so do the
    // pointer DOM that the flat arena replaced and the regex-and-copy PDF
    // reader that the byte-slice reader replaced
    val needles = Seq("tokenize(", "matchTerms(", "findTitle(", "findAbstract(",
      "findDoi(", "findCitations(", "HElem", "HText", "HComment",
      "PdfLexer", "PChar", "pdf.oracle")
    val found = needles.map(n => n -> mainFilesContaining(n)).filter(_._2.nonEmpty)
    assert(found.isEmpty, found.map { case (n, fs) =>
      s"$n in ${fs.toSeq.sorted.mkString(", ")}" }.mkString("; "))
  }

  test("parquet is read only through graft/util/Parquet.scala (source lint)") {
    // a parquet read without a schema starts a Spark job to infer one from
    // a footer; the helper reads that footer on the driver. The lint reads
    // code lines only (scaladoc and comment lines may name the call), and
    // leaves out graft/perfbench/, the benchmark's own code
    val read = """\.read\s*(\.\s*\w+\s*\([^()]*\)\s*)*\.\s*parquet\s*\(""".r
    // controls: the pattern sees a plain read, one with options, and one
    // split over lines, and not the helper's own calls
    Seq("spark.read.parquet(p)", "s.read.option(\"basePath\", b)\n  .parquet(p: _*)",
      "spark.read\n  .schema(s).parquet(p)")
      .foreach(c => assert(read.findFirstIn(code(c)).nonEmpty, c))
    Seq("Parquet.read(spark, p)", "Parquet.reader(spark, p).option(\"basePath\", b).parquet(p)",
      "spark.readStream.schema(s).parquet(p)", "* `spark.read.parquet(p)` in a doc line")
      .foreach(c => assert(read.findFirstIn(code(c)).isEmpty, c))
    val readers = mainSources().collect {
      case (f, src) if read.findFirstIn(code(src)).nonEmpty => mainRoot.toPath.relativize(f.toPath).toString
    }.toSet
    assert(readers.exists(_.startsWith("graft/perfbench/")), "the lint lost its needle")
    val outside = readers.filterNot(_.startsWith("graft/perfbench/")) - "graft/util/Parquet.scala"
    assert(outside.isEmpty, s"parquet read outside graft/util/Parquet.scala: ${outside.toSeq.sorted.mkString(", ")}")
  }

  test("only Bench, QueryLedger and perfbench release the suite's caches (source lint)") {
    // a suite-timing loop releases held frames between queries; Bench's
    // grading loop and QueryLedger's are the two, beside the benchmark's
    // own code, so a third loop fails here instead of growing beside them
    val call = """\b(releaseSwapCaches|invalidateResultCaches)\s*\(""".r
    def calls(src: String) = code(src).linesIterator.exists(l => !l.contains("def ") && call.findFirstIn(l).nonEmpty)
    assert(calls("    Queries.releaseSwapCaches()") && calls("Queries.invalidateResultCaches ()"))
    assert(!calls("  private[graft] def releaseSwapCaches(): Unit =") && !calls("  // releaseSwapCaches() here"))
    val callers = mainSources().collect {
      case (f, src) if calls(src) => mainRoot.toPath.relativize(f.toPath).toString
    }.toSet
    val allowed = Set("graft/Bench.scala", "graft/QueryLedger.scala")
    assert(allowed.subsetOf(callers), "the lint lost its needle")
    val outside = callers.filterNot(_.startsWith("graft/perfbench/")) -- allowed
    assert(outside.isEmpty, s"suite caches released in ${outside.toSeq.sorted.mkString(", ")}")
  }

  test("the PDF reader uses no regex (source lint)") {
    // a backtracking object-header regex was quadratic on a digit run
    // (64 KB of digits took 14.5 s); the reader scans its bytes by hand
    val found = Seq("java.util.regex", "Pattern.compile")
      .flatMap(n => mainFilesContaining(n).filter(_.startsWith("graft/pdf/")).map(n -> _))
    assert(found.isEmpty, found.map { case (n, f) => s"$n in $f" }.mkString("; "))
  }

  test("repeated invocations of the persisting queries do not grow OR empty the cache") {
    spark.catalog.clearCache()
    val persisting = Seq("q15_lsh_near_dup", "q24_ann_lsh",
      "q26_embed_near_dup", "q41_jaccard_join")
    def runAll(): Unit = persisting.foreach(n => Queries(n).run(ctx).count())
    runAll()
    val n1 = spark.sparkContext.getPersistentRDDs.size
    runAll()
    val n2 = spark.sparkContext.getPersistentRDDs.size
    // Held.renew swaps generations and the run reuses its q15 pairs, so
    // a second sweep must not add blocks; growth means a persist lost its
    // owner (each unowned persist leaks one generation per sweep)
    assert(n2 <= n1, s"persisted RDDs grew $n1 -> $n2 across a repeat sweep")
    // ...and must not silently UNcache either: a rebuilt generation whose
    // plan equals the previous one dedups its persist() into the old
    // CacheManager entry, which a persist-then-swap order then removes BY
    // PLAN — leaving runs 2+ fully uncached and recomputing the whole
    // chain per consumer (measured 4.4 s -> 40 s on q41 re-runs; the
    // release-first order in the query bodies is what this pins)
    assert(n2 > 0,
      "second sweep left ZERO persisted RDDs — a swap-after-persist killed " +
        "the shared CacheManager entry (see Held.renew scaladoc)")
  }
}
