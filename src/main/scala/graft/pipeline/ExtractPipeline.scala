package graft.pipeline

import org.apache.spark.sql.{SparkSession, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.{PageRecord, ExtractedDoc, ScoredDoc}
import graft.corpus.CorpusGen

/** The flagship Dataset pipeline (SURVEY.md §3.1 Spark shape):
  *
  *   pages -> salt-repartition on url-hash -> mapPartitions(parse) ->
  *   score vs broadcast word sets -> (write | join goldens)
  *
  * Scale notes (100 TB / 1000 executors):
  *  - the repartition key is `xxhash64(url, 0)` — urls are unique, so
  *    the parse stage is uniformly balanced even when one domain holds
  *    30% of rows (the skew lives in the *input partitioning*, not the
  *    key space we shuffle on).
  *  - word sets are broadcast once (the reference re-reads them from disk
  *    per document, /root/reference/src/docscraper.py:146-147).
  *  - parsing is per-row pure; no shuffle after the single repartition,
  *    so the stage pipeline is scan -> exchange -> parse+score -> sink.
  */
object ExtractPipeline {

  /** Deterministic synthetic corpus as a distributed Dataset — generated
    * per-partition, never collected on the driver. */
  def pages(spark: SparkSession, nDocs: Long, nPartitions: Int = 0): Dataset[PageRecord] = {
    import spark.implicits._
    val parts = if (nPartitions > 0) nPartitions
      else spark.sparkContext.defaultParallelism
    spark.range(0, nDocs, 1, parts).map(i => CorpusGen.genDoc(i)._1)
  }

  /** Heavy-tail variant of [[pages]]: one doc in `share` has its body
    * tiled `multLo`–`multHi` times (deterministic in docId), giving the
    * corpus a Common-Crawl-style power-law page-SIZE tail on top of the
    * hot-domain COUNT skew. `share` defaults to a PRIME (97) so heavy
    * ids are not aligned with the docId%10 HTML/PDF kind split — both
    * parsers get heavy pages. Bench's byte-skew evidence leg reads this;
    * salting by url hash balances row counts, not bytes, so the
    * parse-stage max/median under this corpus measures what a single
    * giant page does to a salted task. */
  def heavyTailPages(spark: SparkSession, nDocs: Long, nPartitions: Int,
      share: Int = 97, multLo: Int = 50, multHi: Int = 100): Dataset[PageRecord] = {
    import spark.implicits._
    val parts = if (nPartitions > 0) nPartitions
      else spark.sparkContext.defaultParallelism
    spark.range(0, nDocs, 1, parts).map { i =>
      if (i % share == (share - 1)) {
        val mult = multLo + (graft.util.SplitMix.nonNeg(i) % (multHi - multLo + 1)).toInt
        CorpusGen.genHeavyPage(i, mult)
      } else CorpusGen.genDoc(i)._1
    }
  }

  /** Goldens for the same id range (sidecar table; FIXTURES.md §1). */
  def goldens(spark: SparkSession, nDocs: Long, nPartitions: Int = 0): DataFrame = {
    import spark.implicits._
    val parts = if (nPartitions > 0) nPartitions
      else spark.sparkContext.defaultParallelism
    spark.range(0, nDocs, 1, parts).map { i =>
      val g = CorpusGen.genGolden(i)
      (g.url, g.extracted_text, g.title, g.abstract_text, g.doi,
        g.citation_spans, g.target_hits, g.bycatch_hits, g.total_words)
    }.toDF("url", "extracted_text", "title", "abstract_text", "doi",
      "citation_spans", "target_hits", "bycatch_hits", "total_words")
  }

  /** `pages` as they are for `numPartitions = 0` (parse on the scan
    * splits), else repartitioned on the salted url hash. */
  private def routed(pages: Dataset[PageRecord], numPartitions: Int): Dataset[PageRecord] =
    if (numPartitions > 0) pages.repartition(numPartitions, xxhash64(col("url"), lit(0L)))
    else pages

  /** Parse stage. `numPartitions = 0` parses on the scan splits (see
    * extractAndScore); `> 0` forces the salted url-hash repartition. */
  def extract(pages: Dataset[PageRecord], numPartitions: Int): Dataset[ExtractedDoc] = {
    val spark = pages.sparkSession
    import spark.implicits._
    routed(pages, numPartitions).mapPartitions(_.map(Extractor.extract))
  }

  /** Parse + score stage in ONE partition pass.
    *
    * `numPartitions = 0` (preferred at scale) parses directly on the scan
    * splits — extraction cost is proportional to input bytes, and byte-
    * balanced splits (`spark.sql.files.maxPartitionBytes`) already defuse
    * domain skew, so shuffling the raw html bytes would only move the
    * whole corpus across the wire for nothing. Pass `numPartitions > 0`
    * to force the salted url-hash repartition — needed only when the
    * input layout itself is pathological (e.g. unsplittable files with
    * wildly different row costs); the resumable table path
    * (graft.table.GraftTable) keeps its bucketed shuffle because resume
    * semantics need deterministic bucket -> task ownership. */
  def extractAndScore(
      pages: Dataset[PageRecord],
      numPartitions: Int,
      targetWords: Set[String],
      bycatchWords: Set[String]): Dataset[ScoredDoc] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val bcTarget = spark.sparkContext.broadcast(targetWords)
    val bcBycatch = spark.sparkContext.broadcast(bycatchWords)
    routed(pages, numPartitions).mapPartitions { it =>
      val t = bcTarget.value
      val b = bcBycatch.value
      it.map(p => Extractor.score(Extractor.extract(p), t, b))
    }
  }

  // ---- cost-weighted (byte-weighted) salting (round-6 verdict #3) ------
  // The salted url-hash repartition balances document COUNT; a single
  // page whose parse cost rivals a whole task's quota (Common-Crawl
  // corpora do contain 100-500x-median pages) still straggles whichever
  // task it hashes into — the documented defeat case (BASELINE.md r5).
  // Cost-weighted routing bounds the straggler instead: giant pages get
  // dedicated (or pair-packed) partitions and the light partition count
  // is sized by estimated parse COST, so no task's load exceeds ~1.5x a
  // full task. The weight is bytes x a per-KIND factor, not raw bytes:
  // measured on this extractor, PDF content-stream parsing runs at ~0.9-
  // 1.9 KB/ms while HTML runs at ~11-27 KB/ms — a byte-balanced bin of
  // PDFs is a 6-19x TIME straggler next to an HTML bin, so pure byte
  // weighting demonstrably fails to bound task time (first bench attempt
  // this round measured exactly that).

  /** Estimated parse cost of a page in html-byte-equivalents: byte
    * length, scaled 16x for PDF payloads (sniffed from the %PDF magic —
    * a 4-byte binary compare the scan evaluates natively). 16 is the
    * measured heavy-page regime ratio (~19x) shaded toward the normal-
    * size ratio (~6x); light bins are near-uniform KIND MIXTURES by
    * hash symmetry, so the factor's residual error only nudges the
    * budget, not the balance. */
  private[graft] val PdfCostFactor = 16L
  private[graft] def parseCostCol: org.apache.spark.sql.Column =
    length(col("html")).cast("long") *
      when(expr("substring(html, 1, 4) = X'25504446'"), lit(PdfCostFactor))
        .otherwise(lit(1L))

  /** Per-partition cost budget with the ≤1.5x straggler bound baked in:
    * max(totalCost/parts, 2/3·maxCost) — when one page outweighs a
    * nominal task, the budget RISES so that page's solo task is at most
    * 1.5x a light task (a document's parse cannot be split, so balance
    * has to come from resizing everyone else). */
  private[graft] def byteBudget(totalCost: Long, maxCost: Long, parts: Int): Long =
    math.max(1L, math.max(totalCost / math.max(1, parts), (2L * maxCost + 2) / 3))

  /** Murmur3(seed 42) preimages: pre(p) is an Int whose
    * `repartition(n, col)` hash partition is exactly p — the same
    * Murmur3Hash + Pmod Spark's HashPartitioning evaluates, so a route
    * COLUMN can express exact partition PLACEMENT while staying fully in
    * the DataFrame API (no RDD partitioner). Coupon-collector scan:
    * ~n·ln(n) hashInt calls, microseconds at bench scale and <1 s even at
    * a 100k-partition cluster job. Pinned by PipelineSpec against
    * spark_partition_id() so a Spark-internal seed change fails loudly. */
  private[graft] def routePreimages(n: Int): Array[Int] = {
    val pre = new Array[Int](n)
    val found = new Array[Boolean](n)
    var remaining = n
    var x = 0
    while (remaining > 0) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(x, 42)
      val m = { val r = h % n; if (r < 0) r + n else r }
      if (!found(m)) { found(m) = true; pre(m) = x; remaining -= 1 }
      x += 1
    }
    pre
  }

  /** Pack heavy docs (each ≥ budget/2 by construction) into bins of
    * capacity `budget`. Because every item is at least half a bin, a bin
    * holds at most TWO docs — the optimal packing is the classic
    * two-pointer pairing over the size-sorted list, O(H log H) (a general
    * FFD's O(H²) would not survive H ≈ 2·parts at cluster scale).
    * Returns url -> bin index. */
  private[graft] def packHeavy(heavy: Seq[(String, Long)], budget: Long): Map[String, Int] = {
    val sorted = heavy.sortBy { case (u, len) => (-len, u) }.toIndexedSeq
    val assign = scala.collection.mutable.Map.empty[String, Int]
    var lo = sorted.length - 1
    var hi = 0
    var bin = 0
    while (hi <= lo) {
      assign(sorted(hi)._1) = bin
      if (hi < lo && sorted(hi)._2 + sorted(lo)._2 <= budget) {
        assign(sorted(lo)._1) = bin
        lo -= 1
      }
      hi += 1
      bin += 1
    }
    assign.toMap
  }

  /** Route `pages` into parse-cost-balanced partitions: heavy pages
    * (cost ≥ budget/2) are packed into dedicated bins via a driver-side
    * two-pointer packing over BOUNDED metadata (≤ 2·parts urls — each
    * heavy page is ≥ half a task's cost budget, so at most 2·parts of
    * them exist); light pages hash-salt across a partition count sized by
    * the REMAINING cost. Exact placement uses the murmur3 route
    * preimages above. Cost: one narrow (url, cost) stats pass (grouped
    * per url — partial-agg shuffles only the distinct-url cost map) — at
    * 100 TB a production pages table carries byte-length + content-type
    * metadata columns (Iceberg column stats give sum/max for free) and
    * the pass collapses to a metadata read; the routing itself is the
    * same single shuffle the count-salted path pays. */
  def byteWeightedRoute(pages: Dataset[PageRecord], numPartitions: Int): Dataset[PageRecord] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val parts = if (numPartitions > 0) numPartitions
      else spark.sparkContext.defaultParallelism
    // cost aggregates PER URL: url is the routing key, so a url fetched
    // twice (same page, two warc_ts — real crawl tables have these) is
    // one irreducible placement unit and must be budgeted as the SUM of
    // its rows' costs. Packing raw rows instead would collapse the
    // duplicates in packHeavy's url-keyed Map — the bin reserves space
    // for one row but receives both, and the ~1.5x straggler bound
    // silently breaks (round-7 review).
    // persisted across the two driver actions below (stats head() +
    // heavy collect()): separate actions don't share shuffle stages, so
    // an unpersisted perUrl would pay the full pages scan, the PDF-sniff
    // cost evaluation, and the url-groupBy exchange TWICE — inside the
    // timed byteweighted bench leg (round-7 review). Released before the
    // routing shuffle runs.
    val perUrl = pages
      .select(col("url"), parseCostCol.as("cost"))
      .groupBy("url").agg(sum("cost").as("cost"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (budget, heavy, totalCost) =
      try {
        val statsRow = perUrl.agg(sum("cost"), max("cost")).head()
        if (statsRow.isNullAt(0))
          return pages // empty input: nothing to balance (finally still releases)
        val b = byteBudget(statsRow.getLong(0), statsRow.getLong(1).max(0L), parts)
        val cutoff = math.max(1L, b / 2)
        (b,
          perUrl.filter(col("cost") >= cutoff)
            .as[(String, Long)].collect().toSeq, // bounded: ≤ 2·parts url groups
          statsRow.getLong(0))
      } finally perUrl.unpersist(blocking = false)
    val bins = packHeavy(heavy, budget)
    val nBins = if (bins.isEmpty) 0 else bins.values.max + 1
    val heavyCost = heavy.map(_._2).sum
    val pLight = math.max(1L,
      (totalCost - heavyCost + budget - 1) / budget).toInt
    val n = pLight + nBins
    val pre = routePreimages(n)
    // heavy bins take the LOW partition ids: Spark launches tasks in
    // partition order, so the longest (irreducible single-page) tasks
    // start at t=0 and overlap every light wave — LPT scheduling. With
    // heavy bins LAST, a straggler page launches in the final wave and
    // its whole parse time lands on the job's tail.
    val lightIdx = pmod(xxhash64(col("url"), lit(0L)), lit(pLight)).cast("int")
    val lightRoute = element_at(
      typedLit(pre.slice(nBins, nBins + pLight).toSeq), lightIdx + lit(1))
    val route =
      if (bins.isEmpty) lightRoute
      else {
        val heavyMap: Map[String, Int] =
          bins.map { case (u, b) => u -> pre(b) }
        coalesce(element_at(typedLit(heavyMap), col("url")), lightRoute)
      }
    pages.withColumn("__bw_route", route)
      .repartition(n, col("__bw_route"))
      .drop("__bw_route")
      .as[PageRecord]
  }

  /** Byte-identical verification: extracted vs golden per url.
    * Returns (url, kind, matched) — the north rule's correctness gate.
    * `extracted` is any frame with (url, kind, extracted_text) — the
    * typed pipeline output or q17's parquet read-back (Dataset[_] so the
    * dump-re-derive oracle path needs no .toDF at every call site). */
  def verifyAgainstGoldens(
      extracted: Dataset[_],
      goldens: DataFrame): DataFrame = {
    val e = extracted.toDF.select(
      col("url"), col("kind"), col("extracted_text").as("got"))
    val g = goldens.select(col("url"), col("extracted_text").as("want"))
    // FULL OUTER on url (round-5 review): the inner join silently
    // DROPPED rows the pipeline lost (a regression filter, a url
    // collision) and goldens never extracted — exactly the failures this
    // gate exists to catch. A one-sided url is matched=false with kind
    // "missing", never an absent row, so q17's rollup shows the loss.
    e.join(g, Seq("url"), "full_outer")
      .withColumn("matched",
        col("got").isNotNull && col("want").isNotNull && col("got") === col("want"))
      .select(col("url"), coalesce(col("kind"), lit("missing")).as("kind"),
        col("matched"))
  }
}
