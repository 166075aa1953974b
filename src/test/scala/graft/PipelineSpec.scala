package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.ExtractPipeline
import graft.corpus.CorpusGen
import graft.table.GraftTable
import graft.functions.GraftFunctions

class PipelineSpec extends AnyFunSuite with SparkTestBase {

  val N = 300L

  /** Hamming distance between two simhashes (for near-dup thresholds). */
  private def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("distributed extract: every url byte-identical to golden") {
    val pages = ExtractPipeline.pages(spark, N, 4)
    val extracted = ExtractPipeline.extractAndScore(pages, numPartitions = 4,
      CorpusGen.TargetWords.toSet, CorpusGen.BycatchWords.toSet)
    val verdicts = ExtractPipeline.verifyAgainstGoldens(
      extracted, ExtractPipeline.goldens(spark, N, 4))
    val rows = verdicts.collect()
    assert(rows.length == N)
    val bad = rows.filterNot(_.getBoolean(2))
    assert(bad.isEmpty, s"mismatched urls: ${bad.take(5).mkString(", ")}")
  }

  test("extract+score: wordscore matches pure computation per url") {
    import spark.implicits._
    val pages = ExtractPipeline.pages(spark, 100, 4)
    val scored = ExtractPipeline.extractAndScore(
      pages, 4, CorpusGen.TargetWords.toSet, CorpusGen.BycatchWords.toSet)
    val byUrl = scored.collect().map(s => s.url -> s).toMap
    assert(byUrl.size == 100)
    (0L until 100L).foreach { id =>
      val (page, _) = CorpusGen.genDoc(id)
      val pure = graft.pipeline.Extractor.score(
        graft.pipeline.Extractor.extract(page),
        CorpusGen.TargetWords.toSet, CorpusGen.BycatchWords.toSet)
      val got = byUrl(page.url)
      assert(got.wordscore == pure.wordscore, s"doc $id wordscore")
      assert(got.matching_terms == pure.matching_terms)
      assert(got.target_terms_top_3 == pure.target_terms_top_3)
      assert(got.paper_parentheticals == pure.paper_parentheticals)
    }
  }

  test("salted repartition balances the skewed domain") {
    import spark.implicits._
    val pages = ExtractPipeline.pages(spark, 1000, 4)
    val sizes = pages
      .repartition(8, xxhash64(col("url"), lit(0L)))
      .mapPartitions(it => Iterator(it.size))
      .collect()
    assert(sizes.length == 8)
    val mx = sizes.max.toDouble
    val avg = sizes.sum.toDouble / sizes.length
    assert(mx / avg < 1.5, s"unbalanced: ${sizes.mkString(",")}")
    // contrast: partitioning by domain would put ~30% in one partition
    val byDomain = pages
      .repartition(8, expr("regexp_extract(url, 'd([0-9]+)', 1)"))
      .mapPartitions(it => Iterator(it.size))
      .collect()
    assert(byDomain.max.toDouble / avg > 2.0, "domain partitioning should be skewed")
  }

  test("the defeat corpus defeats count salting: one task carries > 2x the median load") {
    import spark.implicits._
    // the BASELINE.md r5 defeat case: tiled multiplier (200-300) >= the
    // per-task doc quota (2000 docs / 16 tasks = 125), so a count-salted
    // task that draws a heavy page carries ~3x the median byte load —
    // the straggler Bench's defeat leg publishes
    val pages = ExtractPipeline.heavyTailPages(spark, 2000, 16, 499, 200, 300)
    // per-partition estimated parse cost: bytes x 16 for PDF payloads
    // (PDF parses 6-19x slower per byte than HTML)
    val loads = pages
      .repartition(16, xxhash64(col("url"), lit(0L))).as[graft.model.PageRecord]
      .mapPartitions(it => Iterator(it.map { p =>
        val c = p.html.length.toLong
        if (p.html.length >= 4 && p.html(0) == '%' && p.html(1) == 'P') c * 16 else c
      }.sum)).collect().filter(_ > 0).sorted
    assert(loads.last.toDouble / loads(loads.length / 2) > 2.0,
      s"defeat corpus did not defeat count salting: ${loads.mkString(",")}")
  }

  test("half_float expression quantizes like the pure function (codegen path)") {
    import spark.implicits._
    GraftFunctions.registerAll(spark)
    val df = Seq(0.5625, 0.7425, 0.1, 0.0, 1.0).toDF("x")
    val got = df.select(GraftFunctions.half_float(col("x")).as("q"))
      .as[Float].collect().toSeq
    val want = Seq(0.5625, 0.7425, 0.1, 0.0, 1.0)
      .map(d => graft.textops.Float16.quantize(d))
    assert(got == want)
    // SQL registration path
    df.createOrReplaceTempView("hf_t")
    val viaSql = spark.sql("select half_float(x) from hf_t").as[Float].collect().toSeq
    assert(viaSql == want)
  }

  test("simhash64: bag-of-tokens invariance and near-dup sensitivity") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog"
    val b = "dog lazy the over jumps fox brown quick the" // permutation
    val c = "the quick brown fox jumps over the lazy cat" // one token changed
    val df = Seq(a, b, c).toDF("t")
      .select(GraftFunctions.simhash64(col("t")).as("h")).as[Long].collect()
    assert(df(0) == df(1), "permutation must not change simhash")
    val dist = hamming(df(0), df(2))
    assert(dist > 0 && dist <= 20, s"near-dup hamming was $dist")
  }

  test("resumable table: kill after wave 1, resume, no re-parse, complete data") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_tbl").toString
    val pages = ExtractPipeline.pages(spark, 200, 4)
    val target = CorpusGen.TargetWords.toSet
    val bycatch = CorpusGen.BycatchWords.toSet

    // first attempt dies after one wave (2 of 8 buckets committed)
    intercept[RuntimeException] {
      GraftTable.runResumable(spark, pages, root, nBuckets = 8, bucketsPerWave = 2,
        target, bycatch, tasksPerWave = 4, attempt = 1, failAfterWaves = 1)
    }
    val doneAfterCrash = GraftTable.completedBuckets(spark, root)
    assert(doneAfterCrash.size == 2, s"wave-1 commit: $doneAfterCrash")

    // resume: remaining 6 buckets only
    val report = GraftTable.runResumable(spark, pages, root, nBuckets = 8,
      bucketsPerWave = 2, target, bycatch, tasksPerWave = 4, attempt = 2)
    assert(report.skipped == 2)
    assert(report.processed == 6)
    // live accumulator counters agree with the durable lineage
    assert(report.docsOk == report.docs, s"acc ${report.docsOk} vs ${report.docs}")
    assert(report.docsErr == 0)
    assert(report.bytesIn > 0)

    val data = spark.read.parquet(s"$root/data")
    assert(data.count() == 200)
    assert(data.select("url").distinct().count() == 200, "no url parsed twice")
    // every committed row is the pipeline's row for its url over the same
    // pages, in every ScoredDoc column, under the bucket its url hashes to
    val want = ExtractPipeline.extractAndScore(pages, 0, target, bycatch)
      .collect().map(d => d.url -> d).toMap
    val got = data.as[graft.model.ScoredDoc].collect()
    assert(got.map(_.url).toSet == want.keySet)
    got.foreach(d => assert(d == want(d.url), s"table row diverged from the pipeline's for ${d.url}"))
    assert(data.filter(col("bucket") =!= GraftTable.bucketOf(col("url"), 8)).isEmpty,
      "a row sits outside the bucket its url hashes to")
    val lineage = spark.read.parquet(s"$root/lineage")
    assert(lineage.select("bucket").distinct().count() == 8)
    // attempts recorded: wave-1 buckets attempt=1, rest attempt=2
    assert(lineage.filter($"attempt" === 1).count() == 2)
    // manifest snapshots exist
    assert(new java.io.File(s"$root/manifest").list().count(_.startsWith("snapshot-")) == 4)
  }

  test("crash BETWEEN data append and lineage commit never duplicates rows") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_tbl_orphan").toString
    val pages = ExtractPipeline.pages(spark, 120, 4)
    val target = CorpusGen.TargetWords.toSet
    val bycatch = CorpusGen.BycatchWords.toSet

    intercept[RuntimeException] {
      GraftTable.runResumable(spark, pages, root, nBuckets = 4, bucketsPerWave = 2,
        target, bycatch, tasksPerWave = 4, attempt = 1, failAfterWaves = 1)
    }
    // simulate the crash window: bucket data landed but the lineage row
    // did not — write orphan rows into a NOT-yet-committed bucket dir
    val done = GraftTable.completedBuckets(spark, root)
    val orphanBucket = ((0 until 4).toSet -- done).head
    spark.read.parquet(s"$root/data")
      .limit(7)
      .write.mode("append").parquet(s"$root/data/bucket=$orphanBucket")

    // resume must DELETE the orphan (its lineage row is absent -> the
    // wave never committed) and re-run the bucket cleanly
    GraftTable.runResumable(spark, pages, root, nBuckets = 4,
      bucketsPerWave = 2, target, bycatch, tasksPerWave = 4, attempt = 2)
    val data = spark.read.parquet(s"$root/data")
    assert(data.count() == 120, "orphaned wave data duplicated rows")
    assert(data.select("url").distinct().count() == 120)
  }
}
