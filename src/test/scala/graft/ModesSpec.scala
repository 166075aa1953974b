package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.CorpusGen
import graft.pipeline.{Modes, Downloads, Enrichment, Extractor}
import graft.model.ExtractedDoc

/** The seven reference CLI modes (factories.py:95-103) composed
  * end-to-end through Modes — a sciscraper user's switch path. Each test
  * drives one mode over synthesized inputs and pins the composition's
  * observable contract (columns, hit/miss paths, naming).
  */
object ModesSpec {
  /** Static so executor-side closure copies still hit the one counter in
    * local mode. */
  val FetchCount = new java.util.concurrent.atomic.AtomicInteger(0)
}

class ModesSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private val today = java.time.LocalDate.of(2026, 8, 16)

  private def tmpFile(name: String, content: String): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_modes")
    val f = d.resolve(name)
    java.nio.file.Files.writeString(f, content)
    f.toString
  }

  test("directory mode: PDF dir -> extract+score -> Dimensions join -> cleanup") {
    val dir = java.nio.file.Files.createTempDirectory("graft_modes_pdf")
    // docId % 10 >= 7 yields PDF bytes; 27 and 57 carry DOIs covered by
    // dimensionsSnapshot(60) (docId % 3 == 0), the rest are misses
    val ids = Seq(7L, 17L, 27L, 37L, 47L, 57L)
    ids.foreach { id =>
      val (page, _) = CorpusGen.genDoc(id)
      java.nio.file.Files.write(dir.resolve(s"doc$id.pdf"), page.html)
    }
    val out = Modes.directory(spark, dir.toString,
      CorpusGen.TargetWords.toSet, CorpusGen.BycatchWords.toSet,
      Enrichment.dimensionsSnapshot(spark, 60))
    val rows = out.collect()
    assert(rows.length == ids.length)
    assert(out.columns.contains("wordscore") && out.columns.contains("journal_title"))
    // all-empty columns are gone (PDF docs have no abstract channel)
    assert(!out.columns.contains("abstract_text") && !out.columns.contains("error"))
    val byDoi = rows.map(r => r.getAs[String]("doi") -> r).toMap
    assert(byDoi.contains("10.5555/g27") && byDoi.contains("10.5555/g57"))
    assert(byDoi("10.5555/g27").getAs[String]("journal_title").startsWith("Journal of"))
    // doi-less PDFs survive with the N/A fill, not dropped rows
    assert(byDoi("").getAs[String]("journal_title") == "N/A")
  }

  test("fastscore mode: csv abstracts scored, titles attached in-pass") {
    val target = Set("spark", "table")
    val bycatch = Set("slow")
    val path = tmpFile("abstracts.csv",
      "title,abstract\nT0,spark table spark slow\nT1,\nT2,plain words only\nT3,\"\"\n")
    val out = Modes.fastscore(spark, path, target, bycatch)
    val rows = out.collect().map(r => r.getAs[String]("title") -> r).toMap
    assert(rows.keySet == Set("T0", "T1", "T2", "T3"))
    // scores must equal the golden-pinned typed scorer on the same text
    def expected(text: String) = Extractor.score(
      ExtractedDoc("", "abstract", text, "", text, "", Nil, 0L, true, ""),
      target, bycatch)
    val e0 = expected("spark table spark slow")
    assert(rows("T0").getAs[Number]("matching_terms").intValue == e0.matching_terms)
    assert(rows("T0").getAs[Number]("total_word_count").intValue == 4)
    assert(rows("T0").getAs[Float]("wordscore") == e0.wordscore)
    assert(rows("T2").getAs[Number]("matching_terms").intValue == 0)
    // empty cell -> pandas NaN -> fillna("N/A") (serials.py:89-106,
    // verified by executing serialize_from_csv on a blank-bearing CSV):
    // the literal "N/A" is both the stored text and the scored input.
    // T3's QUOTED empty ("") reads as "" in Spark's CSV reader but NaN
    // in pandas — the nullif fold must land both shapes on "N/A"
    for (t <- Seq("T1", "T3")) {
      assert(rows(t).getAs[String]("abstract_text") == "N/A")
      assert(rows(t).getAs[Number]("total_word_count").intValue == 1)
      assert(rows(t).getAs[Number]("matching_terms").intValue == 0)
    }
  }

  test("wordscore mode: doi csv -> Dimensions -> abstract JSON path -> score") {
    // d0: dim hit + abstract hit; d6: dim hit, abstract MISS (6 % 12 == 6);
    // unknown doi: full miss, N/A-filled
    val path = tmpFile("dois.csv", "doi\n10.5555/d0\n10.5555/d6\n10.5555/nope\n")
    val out = Modes.wordscore(spark, path,
      Enrichment.dimSnap(spark, sf), Enrichment.abstractSnap(spark, sf),
      Set("abstract", "body"), Set("slow"))
    val rows = out.collect().map(r => r.getAs[String]("doi") -> r).toMap
    assert(rows.keySet == Set("10.5555/d0", "10.5555/d6", "10.5555/nope"))
    val hit = rows("10.5555/d0")
    assert(hit.getAs[String]("abstract_text") == "Abstract body for 0")
    assert(hit.getAs[Number]("matching_terms").intValue == 2) // abstract + body
    assert(hit.getAs[Number]("total_word_count").intValue == 4)
    // abstract-lookup miss is staged as the literal "N/A" before scoring
    // (stage_from_series -> list_with_na_replacement, stagers.py:20 +
    // serials.py:106) — the same fill EnrichmentSpec pins for this channel
    assert(rows("10.5555/d6").getAs[String]("abstract_text") == "N/A")
    assert(rows("10.5555/nope").getAs[String]("journal_title") == "N/A")
  }

  test("csv modes clean dict-literal doi cells before the lookup (serialize_from_csv parity)") {
    // the reference's serialize_from_csv is fillna + clean_any_nested_
    // columns: a cell like "{'doi': '10.5555/d0', ...}" must join the
    // snapshot as 10.5555/d0, not silently miss as a raw literal
    val path = tmpFile("dois.csv",
      "doi\n\"{'doi': '10.5555/d0', 'title': 'T'}\"\n10.5555/nope\n")
    val out = Modes.wordscore(spark, path,
      Enrichment.dimSnap(spark, "/root/testdata/sf0.001"),
      Enrichment.abstractSnap(spark, "/root/testdata/sf0.001"),
      Set("abstract", "body"), Set.empty)
    val rows = out.collect().map(r => r.getAs[String]("doi") -> r).toMap
    assert(rows.contains("10.5555/d0"),
      s"dict-literal doi cell not cleaned before the join: ${rows.keySet}")
    assert(rows("10.5555/d0").getAs[String]("journal_title") != "N/A",
      "cleaned doi should HIT the Dimensions snapshot")
    assert(rows("10.5555/nope").getAs[String]("journal_title") == "N/A")
  }

  test("broadcastSnapshots=false omits the broadcast hint (production-size snapshots)") {
    // the modes default to broadcast() on caller-supplied snapshots —
    // right for reference-shaped lookups, fatal for a 10^8-row metadata
    // dump (driver-side collect). The opt-out must strip the HINT from
    // the logical plan so AQE picks the strategy from runtime stats.
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val snap = Seq(("10.5555/a", "Paper A", Seq("Cited 1")))
      .toDF("doi", "title", "citation_spans")
    val path = tmpFile("dois.csv", "doi\n10.5555/a\n")
    def hints(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect { case h: ResolvedHint => h }.size
    assert(hints(Modes.citations(spark, path, snap)) >= 1,
      "default path must carry the broadcast hint")
    assert(hints(Modes.citations(spark, path, snap, broadcastSnapshots = false)) == 0,
      "opt-out path must leave join strategy to the planner")
    Modes.releaseCaches()
  }

  test("citations mode: explode cited works carrying the source title") {
    import spark.implicits._
    val snap = Seq(
      ("10.5555/a", "Paper A", Seq("Cited 1", "Cited 2")),
      ("10.5555/b", "Paper B", Seq.empty[String])
    ).toDF("doi", "title", "citation_spans")
    val path = tmpFile("dois.csv", "doi\n10.5555/a\n10.5555/b\n")
    val out = Modes.citations(spark, path, snap)
    val rows = out.collect()
    assert(out.columns.toSeq == Seq("source_titles", "citation"))
    assert(rows.count(_.getAs[String]("source_titles") == "Paper A") == 2)
    // span-less parents stay as a NULL-citation row (explode_outer)
    assert(rows.exists(r =>
      r.getAs[String]("source_titles") == "Paper B" && r.isNullAt(1)))
  }

  test("download mode: button-page selector descent -> link clean -> receipts") {
    // id 2: protocol-relative payload; id 1: root-relative; id 16:
    // triple-slash (base-url branch, id % 11 == 5); id 3: non-matching
    // onclick (id % 7 == 3) -> reference returns None
    val path = tmpFile("dois.csv",
      "doi\n10.5555/g2\n10.5555/g1\n10.5555/g16\n10.5555/g3\n")
    val base = "https://sci-hub.example.org/"
    val out = Modes.download(spark, path,
      doi => CorpusGen.buttonPage(doi.substring(doi.indexOf('g') + 1).toLong),
      base, today)
    val rows = out.collect().map(r => r.getAs[String]("filepath") -> r).toMap
    val byUrl = out.collect().map(r => r.getAs[String]("url")).toSet
    assert(byUrl.exists(_.startsWith("https://dl.example.org/pdf/2/")))
    // single-slash root-relative rewrite pinned on its own (a '///' hit
    // also starts with base, so the assertion names the path)
    assert(byUrl.exists(_.startsWith(base + "downloads/2022-11-06/1/")))
    assert(byUrl.exists(_.startsWith(base + "cdn.example.org/pdf/16/")))
    // the non-matching page yields a failed receipt, not a dropped row
    val failed = out.collect().filter(!_.getAs[Boolean]("success"))
    assert(failed.length == 1 && failed.head.getAs[String]("url") == "")
    // dated deterministic naming, recomputable from the doi
    assert(rows.contains(s"260816/${Downloads.md5hex("10.5555/g2")}.pdf"))
  }

  test("finish() executes the mode pipeline once: fetch seam fires per row, not twice") {
    // the drop-empty-columns probe is an eager aggregate; without the
    // persist in finish(), the caller's action would re-execute the whole
    // pipeline and an online fetch seam would fire twice per doi
    ModesSpec.FetchCount.set(0)
    val path = tmpFile("dois.csv", "doi\n10.5555/g2\n10.5555/g4\n10.5555/g6\n")
    val out = Modes.download(spark, path,
      doi => {
        ModesSpec.FetchCount.incrementAndGet()
        CorpusGen.buttonPage(doi.substring(doi.indexOf('g') + 1).toLong)
      },
      "https://b.example.org/", today)
    assert(out.count() == 3)
    assert(ModesSpec.FetchCount.get() == 3,
      s"fetch seam fired ${ModesSpec.FetchCount.get()} times for 3 rows")
  }

  test("releaseCaches() drops every frame finish() persisted (no cache accumulation)") {
    val target = Set("spark")
    val path = tmpFile("abstracts.csv",
      "title,abstract\nT0,spark table\nT1,plain words\n")
    // the assertions below are about THIS mode run's RDDs only: earlier
    // suites leave persisted RDDs (e.g. localCheckpoint'ed labels) that
    // stay registered until the ContextCleaner happens to collect them
    spark.catalog.clearCache()
    Modes.releaseCaches()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Modes.fastscore(spark, path, target, Set.empty)
    assert(out.count() == 2) // the caller's action — cache is live for it
    val persisted = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(persisted.nonEmpty, "finish() should persist the probe input")
    // the round-3 advice: finish persisted with no release handle, so a
    // service looping over modes accumulated MEMORY_AND_DISK copies until
    // the ContextCleaner happened to run. releaseCaches is the handle.
    Modes.releaseCaches()
    val left = spark.sparkContext.getPersistentRDDs.keySet.intersect(persisted)
    assert(left.isEmpty,
      s"releaseCaches must unpersist every mode-owned cached frame; still persisted: $left")
  }

  test("download mode: a throwing page fetch is a failed receipt, not a dead task") {
    val path = tmpFile("dois.csv", "doi\n10.5555/g2\n10.5555/boom\n")
    val out = Modes.download(spark, path,
      doi => if (doi.contains("boom")) throw new RuntimeException("http 503")
             else CorpusGen.buttonPage(2L),
      "https://b.example.org/", today)
    val rows = out.collect()
    assert(rows.length == 2)
    assert(rows.count(_.getAs[Boolean]("success")) == 1)
  }

  test("images mode: one receipt per figure url, reference naming shape") {
    import spark.implicits._
    val figs = Seq(
      ("10.5555/g1", Seq("https://figs.example.org/1/0.png", "https://figs.example.org/1/1.png")),
      ("10.5555/g2", Seq.empty[String])
    ).toDF("doi", "figures")
    val path = tmpFile("dois.csv", "doi\n10.5555/g1\n10.5555/g2\n")
    val out = Modes.images(spark, path, figs, today)
    val rows = out.collect()
    assert(rows.length == 3) // 2 figures + 1 figure-less miss row
    val ok = rows.filter(_.getAs[Boolean]("success"))
    assert(ok.length == 2)
    ok.foreach { r =>
      assert(r.getAs[String]("filepath").matches("260816_[0-9a-f]{16}_\\d+\\.png"))
      assert(r.getAs[Number]("n_bytes").longValue ==
        Downloads.pngPayload(r.getAs[String]("url")).length.toLong)
    }
  }

  test("map-shaped modes add no shuffle; enrichment joins stay broadcast") {
    // fastscore/download are one typed map over the scan: an Exchange in
    // their plan means a mode regression shuffled the corpus
    val fs = Modes.fastscore(spark,
      tmpFile("a.csv", "title,abstract\nT,x y\n"), Set("x"), Set.empty)
    val fsPlan = fs.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!fsPlan.contains("Exchange"), s"fastscore plan shuffles:\n$fsPlan")
    val dl = Modes.download(spark, tmpFile("d.csv", "doi\n10.5555/g2\n"),
      doi => CorpusGen.buttonPage(2L), "https://b.example.org/", today)
    val dlPlan = dl.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!dlPlan.contains("Exchange"), s"download plan shuffles:\n$dlPlan")
    // citations' lookup joins broadcast (the snapshot is the small side)
    import spark.implicits._
    val cit = Modes.citations(spark, tmpFile("c.csv", "doi\n10.5555/a\n"),
      Seq(("10.5555/a", "P", Seq("c"))).toDF("doi", "title", "citation_spans"))
    assert(cit.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("google mode: txt query lines -> paged search, page cap applied") {
    val path = tmpFile("queries.txt", "topic 3\ntopic 4\n\n")
    val out = Modes.google(spark, path, graft.pipeline.Scholar.snapshot(spark), "j", 15)
    val rows = out.collect()
    // numArticles=15 -> 2 pages -> cap 20 of the 30 snapshot rows per query
    assert(rows.length == 40)
    assert(out.columns.contains("times_cited") && out.columns.contains("abstract_text"))
    assert(rows.forall(r => r.getAs[Long]("idx") < 20))
  }
}
