package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.{Stagers, Enrichment, ExtractPipeline}
import graft.corpus.CorpusGen

class StagersSpec extends AnyFunSuite with SparkTestBase {

  import org.apache.spark.sql.Row

  test("dropAllEmptyColumns removes all-empty and all-null, keeps mixed") {
    import spark.implicits._
    val df = Seq(
      ("a", "", null.asInstanceOf[String], "x"),
      ("b", "", null.asInstanceOf[String], ""),
      ("c", "", null.asInstanceOf[String], "y"))
      .toDF("keep1", "empty", "nulls", "mixed")
    val out = Stagers.dropAllEmptyColumns(df)
    assert(out.columns.toSeq == Seq("keep1", "mixed"))
    assert(out.count() == 3)
  }

  test("fillNA fills only nulls") {
    import spark.implicits._
    val df = Seq((Some("x"), None), (None, Some("y")))
      .toDF("a", "b")
    val out = Stagers.fillNA(df, Seq("a", "b")).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("x", "N/A"))
    assert(out.map(_.getString(1)).toSeq == Seq("N/A", "y"))
  }

  test("zipByPosition pairs rows in order like a pandas RangeIndex join") {
    import spark.implicits._
    val a = Seq("r0", "r1", "r2", "r3").toDF("left")
    val b = Seq(10, 11, 12, 13).toDF("right")
    val out = Stagers.zipByPosition(a, b)
      .orderBy("right").collect().map(r => (r.getString(0), r.getInt(1)))
    assert(out.toSeq == Seq(("r0", 10), ("r1", 11), ("r2", 12), ("r3", 13)))
  }

  test("staged-reference tuple shapes: short/empty positional frames") {
    // reference /root/reference/tests/test_fetch.py:147-158
    // (fetch_with_staged_reference): (["citation"], []) must yield a
    // NON-empty frame, ([], []) an empty one — the positional join keeps
    // every left row and null-fills a shorter/empty right side
    import spark.implicits._
    val oneCitation = Seq("citation").toDF("citation")
    val emptyTitles = spark.emptyDataset[String].toDF("source_titles")
    val joined = Stagers.zipByPosition(oneCitation, emptyTitles).collect()
    assert(joined.length == 1, "([citation], []) must not be empty")
    assert(joined(0).getString(0) == "citation")
    assert(joined(0).isNullAt(1), "missing right side null-fills")
    val bothEmpty = Stagers.zipByPosition(
      spark.emptyDataset[String].toDF("citation"), emptyTitles)
    assert(bothEmpty.count() == 0, "([], []) must be empty")
  }

  test("explodeWithSource keeps parent per element, null row when empty") {
    import spark.implicits._
    val df = Seq(
      ("paper A", Seq("c1", "c2")),
      ("paper B", Seq.empty[String]))
      .toDF("title", "citations")
    val out = Stagers.explodeWithSource(df, "title", "citations")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.toSet == Set(("paper A", "c1"), ("paper A", "c2"), ("paper B", null)))
  }

  test("cleanDictColumn: extract key, pass-through, reference reorder") {
    import spark.implicits._
    val df = Seq(
      "{'doi': '10.1000/1', 'x': 1}",
      "plain-cell",
      "{'x': 2}", // key missing -> ""
      "10.1000/4").toDF("doi")
    val plain = Stagers.cleanDictColumn(df, "doi", "doi").as[String].collect()
    assert(plain.toSeq == Seq("10.1000/1", "plain-cell", "", "10.1000/4"))
    // reference order: non-dict rows first, then dict rows
    val reordered = Stagers.cleanDictColumn(df, "doi", "doi", referenceReorder = true)
      .as[String].collect()
    assert(reordered.toSeq == Seq("plain-cell", "10.1000/4", "10.1000/1", ""))
  }

  test("enrichment left-join hits DOIs and fills misses with N/A") {
    import spark.implicits._
    val n = 120L
    val extracted = ExtractPipeline.extractAndScore(
      ExtractPipeline.pages(spark, n), numPartitions = 0,
      CorpusGen.TargetWords.toSet, CorpusGen.BycatchWords.toSet)
      .toDF().select("url", "doi")
    val out = Enrichment.enrich(extracted, Enrichment.dimensionsSnapshot(spark, n))
    assert(out.count() == n)
    // docId % 3 == 0 carries a DOI (CorpusGen.doiFor) -> join hit
    val hits = out.filter(col("doi") =!= "" && col("journal_title") =!= "N/A").count()
    val misses = out.filter(col("journal_title") === "N/A").count()
    assert(hits == 40, s"hits=$hits")
    assert(misses == n - 40)
    // plan uses a broadcast join
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }
}
