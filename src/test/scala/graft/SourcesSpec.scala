package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.Sources
import graft.corpus.CorpusGen
import graft.pdf.PdfWriter
import java.nio.file.{Files, Paths}

class SourcesSpec extends AnyFunSuite with SparkTestBase {

  private lazy val tmp = Files.createTempDirectory("graft_sources").toString

  test("csv scan prunes to the requested column and fills NA") {
    val p = s"$tmp/biblio"
    import spark.implicits._
    Seq(("10.1/a", "T1", "2001"), (null, "T2", "2002"), ("10.1/c", "T3", "2003"))
      .toDF("doi", "title", "year").coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(p)
    val df = Sources.csvColumn(spark, p, "doi")
    assert(df.as[String].collect().toSet == Set("10.1/a", "N/A", "10.1/c"))
    // pruning reaches the scan: ReadSchema carries only `doi`
    val plan = df.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema:.*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.contains("doi") && !readSchema.contains("title"), readSchema)
  }

  test("binaryFile directory scan finds nested PDFs only, extracts text") {
    val dir = s"$tmp/pdfs/nested"
    Files.createDirectories(Paths.get(dir))
    (0 until 3).foreach { i =>
      val bytes = PdfWriter.build(
        Seq(PdfWriter.PageSpec(Seq(s"document $i body line"))), Map("Title" -> s"D$i"),
        compress = i % 2 == 0)
      Files.write(Paths.get(s"$dir/doc$i.pdf"), bytes)
    }
    Files.writeString(Paths.get(s"$tmp/pdfs/readme.txt"), "not a pdf")
    val df = Sources.pdfDirectory(spark, s"$tmp/pdfs")
    assert(df.count() == 3)
    // extraction over the scanned bytes (directory-mode analog)
    import spark.implicits._
    val texts = df.select("content").as[Array[Byte]].collect().map { b =>
      val doc = new graft.pdf.PdfDoc(b)
      doc.pages.map(p => graft.pdf.PdfText.assemble(graft.pdf.PdfText.chars(doc)(p))).mkString(" ")
    }
    assert(texts.toSet == Set("document 0 body line", "document 1 body line", "document 2 body line"))
  }

  test("serialize-from-csv replays the reference fixture (title/doi/authors goldens)") {
    // the reference fixture tests/test_dirs/test_example_file_1.csv,
    // vendored as test resource fixtures/test_example_file_1.csv. Its
    // bytes are RECONSTRUCTED, not copied (the reference checkout is not
    // part of this repo): rebuilt from the goldens below and the four
    // edge cases FIXTURES.md §3 documents — a quoted list cell, blank
    // (NA) times_cited, a Python dict-literal authors cell next to an
    // empty list cell, a non-DOI id and a title with commas and quotes.
    // The fixture runs through the serialize_from_csv composition
    // (reference src/serials.py:26-43 = usecols scan + fillna +
    // nested-dict cleanup). Expected
    // values follow the CODE's semantics: the doi/title columns have no
    // dict cells (order preserved); the authors column has ONE dict cell,
    // whose extracted value lands LAST (partition-then-concat reorder,
    // serials.py:80-86). The reference's own parametrized golden for
    // authors (tests/test_serializers.py, @skip) predates the dict path
    // and lists only the 3 plain names — the code produces 4.
    import spark.implicits._
    val fixture = java.nio.file.Paths.get(
      getClass.getResource("/fixtures/test_example_file_1.csv").toURI).toString
    def serialize(column: String): Seq[String] = {
      val pruned = Sources.csvColumn(spark, fixture, column)
      graft.pipeline.Stagers
        .cleanDictColumn(pruned, column, column, referenceReorder = true)
        .as[String].collect().toSeq
    }
    assert(serialize("title") == Seq(
      "Fake News and Misinformation",
      "Prosocial Eurythmics",
      "Gamification on Social Media",
      "Memoirs of a Gaysha, Jujubee's Journey, I'm Still Here"))
    assert(serialize("doi") == Seq(
      "10.1000/12345", "10.1000/23456", "10.1000/34567", "pub.12345"))
    assert(serialize("authors") == Seq(
      "Darius Lettsgetham", "Anne Elon-Ux", "Jujubee", "I. Ron Butterfly"))
    // times_cited is a DOCUMENTED PORT DIVERGENCE, not reference output:
    // pandas parses the blank-bearing numeric column as float64, and
    // clean_any_nested_columns then CRASHES calling term.startswith on
    // 5.0 (AttributeError — verified by executing serialize_from_csv on
    // this column). The port reads CSV columns as strings throughout, so
    // the same composition yields ['5','N/A','N/A','9001'] instead of an
    // exception; the doi/title/authors goldens above ARE verified
    // reference output, this row pins the port's string-typed extension.
    assert(serialize("times_cited") == Seq("5", "N/A", "N/A", "9001"))
  }

  test("wordSet load: strip, lower, dedup") {
    val p = s"$tmp/words.txt"
    Files.writeString(Paths.get(p), "  Prosocial \nDESIGN\ndesign\n\n behavior\n")
    val ws = Sources.wordSet(spark, p)
    assert(ws == Set("prosocial", "design", "behavior", ""))
  }

  test("export name formats the reference's dated pattern") {
    assert(Sources.exportName("sciscraper", java.time.LocalDate.of(2026, 8, 16))
      == "260816_sciscraper.csv")
  }

  test("csv sink round-trips the scored export columns") {
    import spark.implicits._
    val scored = graft.pipeline.ExtractPipeline.extractAndScore(
      graft.pipeline.ExtractPipeline.pages(spark, 50, 2), 0,
      CorpusGen.TargetWords.toSet, CorpusGen.BycatchWords.toSet)
      .toDF().select("url", "title", "doi", "matching_terms", "wordscore")
    val p = s"$tmp/export"
    Sources.exportCsv(scored, p)
    val back = spark.read.option("header", "true").csv(p)
    assert(back.count() == 50)
    assert(back.columns.toSeq == Seq("url", "title", "doi", "matching_terms", "wordscore"))
  }

  test("pyStrRepr matches CPython repr quote/escape rules (differential goldens)") {
    import spark.implicits._
    // expected strings printed by CPython repr() for these inputs
    val cases = Seq(
      "don't" -> "\"don't\"",
      "say \"hi\"" -> "'say \"hi\"'",
      "both' and \"q\"" -> "'both\\' and \"q\"'",
      "back\\slash" -> "'back\\\\slash'",
      "mix\\'d" -> "\"mix\\\\'d\"",
      "plain" -> "'plain'")
    val got = cases.map(_._1).toDF("s")
      .select(Sources.pyStrRepr(col("s")).as("r")).as[String].collect().toSeq
    got.zip(cases).foreach { case (g, (in, want)) =>
      assert(g == want, s"repr(<$in>): got <$g> want <$want>")
    }
  }

  test("JSON item access: get_json_object equals the regex path on props") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val both = events.selectExpr(
      "CAST(get_json_object(props, '$.k') AS BIGINT) AS via_json",
      "CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) AS via_regex")
    assert(both.filter(col("via_json") =!= col("via_regex")).count() == 0)
  }

  test("date parse coercion: invalid -> null like pandas errors=coerce") {
    // Spark 4 is ANSI by default: to_timestamp THROWS on bad input, so the
    // reference's errors="coerce" maps to try_to_timestamp
    import spark.implicits._
    val df = Seq("2021-01-01", "garbage", null, "", "1999-12-31 23:59:59")
      .toDF("s").selectExpr("try_to_timestamp(s) AS ts")
    val got = df.collect().map(r => Option(r.getTimestamp(0)).map(_.toString))
    assert(got(0).contains("2021-01-01 00:00:00.0"))
    assert(got(1).isEmpty && got(2).isEmpty && got(3).isEmpty)
    assert(got(4).contains("1999-12-31 23:59:59.0"))
  }
}
