package graft.pipeline

import org.apache.spark.sql.{SparkSession, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.{PageRecord, ScoredDoc}
import graft.corpus.CorpusGen
import org.apache.spark.util.LongAccumulator

/** The flagship Dataset pipeline (SURVEY.md §3.1 Spark shape):
  *
  *   pages (scan splits) -> mapPartitions(parse) ->
  *   score vs broadcast word sets -> (write | join goldens)
  *
  * Scale notes (100 TB / 1000 executors):
  *  - pages parse on their scan splits by default; the optional salted
  *    repartition's key is `xxhash64(url, 0)` — urls are unique, so the
  *    parse stage is uniformly balanced even when one domain holds 30%
  *    of rows (the skew lives in the *input partitioning*, not the key
  *    space we shuffle on).
  *  - word sets are broadcast once (the reference re-reads them from disk
  *    per document, /root/reference/src/docscraper.py:146-147).
  *  - parsing is per-row pure, so the stage pipeline is
  *    scan -> parse+score -> sink, with one exchange ahead of the parse
  *    only when the salted repartition is asked for.
  */
object ExtractPipeline {

  /** Live progress counters of a parse stage (the tqdm analog, SURVEY.md
    * §2.8): executors add to them as rows leave the parse, and the driver
    * can read them mid-job. */
  final case class Progress(docsOk: LongAccumulator, docsErr: LongAccumulator,
      bytesIn: LongAccumulator) {
    def add(s: ScoredDoc): Unit = {
      if (s.ok) docsOk.add(1) else docsErr.add(1)
      bytesIn.add(s.n_bytes)
    }
  }

  object Progress {
    /** Fresh `graft.docs_ok`, `graft.docs_err` and `graft.bytes_in`
      * accumulators on `spark`'s context. */
    def apply(spark: SparkSession): Progress = {
      val sc = spark.sparkContext
      Progress(sc.longAccumulator("graft.docs_ok"), sc.longAccumulator("graft.docs_err"),
        sc.longAccumulator("graft.bytes_in"))
    }
  }

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

  /** Parse + score stage in ONE partition pass, and the only place a
    * Spark job turns pages into rows: the mains, the modes, the queries
    * and the resumable table (graft.table.GraftTable) all call it. Only
    * the traced benchmark recomposes the layers, to time each one.
    *
    * `numPartitions = 0` (preferred at scale) parses directly on the scan
    * splits — extraction cost is proportional to input bytes, and byte-
    * balanced splits (`spark.sql.files.maxPartitionBytes`) already defuse
    * domain skew, so shuffling the raw html bytes would only move the
    * whole corpus across the wire for nothing. Pass `numPartitions > 0`
    * to force the salted url-hash repartition — needed only when the
    * input layout itself is pathological (e.g. unsplittable files with
    * wildly different row costs). The resumable table passes 0 over a
    * coalesce of its wave's scan splits: a wave commits through its one
    * write job and the lineage rename, so no task needs to own a bucket.
    *
    * `progress`, when given, counts each row as it leaves the parse: ok
    * and failed docs and input bytes. The counts are live (a retried task
    * counts twice); durable counts come from the rows themselves. */
  def extractAndScore(
      pages: Dataset[PageRecord],
      numPartitions: Int,
      targetWords: Set[String],
      bycatchWords: Set[String],
      progress: Option[Progress] = None): Dataset[ScoredDoc] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val bcTarget = spark.sparkContext.broadcast(targetWords)
    val bcBycatch = spark.sparkContext.broadcast(bycatchWords)
    val routed =
      if (numPartitions > 0) pages.repartition(numPartitions, xxhash64(col("url"), lit(0L)))
      else pages
    routed.mapPartitions { it =>
      val t = bcTarget.value
      val b = bcBycatch.value
      it.map { p =>
        val s = Extractor.score(Extractor.extract(p), t, b)
        progress.foreach(_.add(s))
        s
      }
    }
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
