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

  test("route preimages place rows in exactly the intended hash partition") {
    import spark.implicits._
    // pins the HashPartitioning assumption byteWeightedRoute stands on:
    // repartition(n, col) places route value routePreimages(n)(p) in
    // partition p — if Spark's murmur3 seed or pmod semantics ever
    // change, this fails loudly instead of silently mis-packing
    Seq(1, 2, 7, 32, 101).foreach { n =>
      val pre = ExtractPipeline.routePreimages(n)
      assert(pre.distinct.length == n)
      val placed = (0 until n).map(p => (p, pre(p))).toDF("p", "route")
        .repartition(n, col("route"))
        .withColumn("pid", spark_partition_id())
        .collect()
      placed.foreach { r =>
        assert(r.getInt(0) == r.getInt(2),
          s"n=$n: intended partition ${r.getInt(0)} landed in ${r.getInt(2)}")
      }
    }
  }

  test("packHeavy pairs under budget and isolates oversized docs") {
    val bins = ExtractPipeline.packHeavy(
      Seq(("a", 120L), ("b", 60L), ("c", 55L), ("d", 50L), ("e", 50L)), budget = 100L)
    val byBin = bins.groupBy(_._2).view.mapValues(_.keys.toSeq.sorted).toMap
    // every bin holds at most two docs (each heavy doc is >= budget/2)
    byBin.values.foreach(urls => assert(urls.size <= 2, byBin.toString))
    // a pair's sum never exceeds the budget; the oversized doc is alone
    val sizes = Map("a" -> 120L, "b" -> 60L, "c" -> 55L, "d" -> 50L, "e" -> 50L)
    byBin.values.filter(_.size == 2).foreach(urls =>
      assert(urls.map(sizes).sum <= 100L, byBin.toString))
    assert(byBin(bins("a")) == Seq("a"), s"oversized doc must be solo: $byBin")
    // d+e is the only fitting pair, so the packing is 4 bins total
    assert(byBin.size == 4, byBin.toString)
  }

  test("byte-weighted routing: per-url results identical to the salted path") {
    val pages = ExtractPipeline.heavyTailPages(spark, 600, 8, 97, 30, 60)
    val t = CorpusGen.TargetWords.toSet
    val b = CorpusGen.BycatchWords.toSet
    val base = ExtractPipeline.extractAndScore(pages, 8, t, b)
      .collect().map(s => s.url -> s).toMap
    val bw = ExtractPipeline.extractAndScore(ExtractPipeline.byteWeightedRoute(pages, 8), 0, t, b)
      .collect().map(s => s.url -> s).toMap
    assert(bw.keySet == base.keySet)
    base.foreach { case (url, s) =>
      assert(bw(url) == s, s"byte-weighted result diverged for $url")
    }
  }

  test("byte-weighted routing bounds the defeat-case byte skew count salting cannot") {
    import spark.implicits._
    // the BASELINE.md r5 defeat case: tiled multiplier (200-300) >= the
    // per-task doc quota (2000 docs / 16 tasks = 125), so a count-salted
    // task that draws a heavy page carries ~3x the median byte load
    val pages = ExtractPipeline.heavyTailPages(spark, 2000, 16, 499, 200, 300)
    // per-partition estimated parse COST (the routing's own weight:
    // bytes x 16 for PDF payloads — see ExtractPipeline.parseCostCol)
    def loads(ds: org.apache.spark.sql.Dataset[graft.model.PageRecord]): Array[Long] =
      ds.mapPartitions(it => Iterator(it.map { p =>
        val c = p.html.length.toLong
        if (p.html.length >= 4 && p.html(0) == '%' && p.html(1) == 'P') c * 16 else c
      }.sum)).collect().filter(_ > 0)
    def maxOverMed(xs: Array[Long]): Double = {
      val s = xs.sorted
      s.last.toDouble / s(s.length / 2)
    }
    val salted = loads(pages
      .repartition(16, xxhash64(col("url"), lit(0L))).as[graft.model.PageRecord])
    val bw = loads(ExtractPipeline.byteWeightedRoute(pages, 16))
    assert(maxOverMed(salted) > 2.0,
      s"defeat corpus did not defeat count salting: ${salted.sorted.mkString(",")}")
    assert(maxOverMed(bw) <= 1.85,
      s"byte-weighted routing left a straggler: ${bw.sorted.mkString(",")}")
  }

  test("byte-weighted routing budgets duplicate-url fetches as one unit") {
    import spark.implicits._
    // a crawl table holds the same url fetched twice (two warc_ts). url
    // is the routing key, so both rows are ONE irreducible placement
    // unit and must be budgeted as the SUM of their costs. The round-7
    // review found row-keyed packing collapsed the duplicates in
    // packHeavy's url-keyed Map: the bin reserved space for one row,
    // received both, and pLight was sized from an undercounted
    // heavyCost. This corpus discriminates: 400 light urls x 1k bytes +
    // one giant url duplicated at 300k bytes each; per-url accounting
    // gives budget=400k (giant solo bin 600k, one light bin ~400k,
    // max/med 1.5); row-keyed accounting gave budget=250k, a phantom
    // empty bin, and a 3.0 max/med.
    def rec(url: String, tsMs: Long, n: Int) = graft.model.PageRecord(
      url, new java.sql.Timestamp(tsMs), Array.fill(n)('a'.toByte), "", "en")
    val light = (0 until 400).map(i => rec(s"http://l/$i", 0L, 1000))
    val giants = Seq(rec("http://g/0", 0L, 300000), rec("http://g/0", 1L, 300000))
    val pages = spark.createDataset(light ++ giants).repartition(8)
    val routed = ExtractPipeline.byteWeightedRoute(pages, 4)
    // both fetches of the giant land in one partition (url routing)...
    val giantParts = routed.filter(_.url == "http://g/0")
      .mapPartitions(it => Iterator.single(
        (org.apache.spark.TaskContext.getPartitionId(), it.size)))
      .collect().filter(_._2 > 0)
    assert(giantParts.length == 1, giantParts.mkString(","))
    // ...and the load is balanced in per-URL terms: the giant unit is
    // irreducible at 600k, the light partitions sit near the 400k budget
    val loads = routed.mapPartitions(it =>
      Iterator(it.map(_.html.length.toLong).sum)).collect().filter(_ > 0)
    val s = loads.sorted
    assert(s.last.toDouble / s(s.length / 2) <= 1.6,
      s"duplicate-url giant broke the bound: ${s.mkString(",")}")
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
