package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{PageRecord, ExtractedDoc, TermCount, DownloadReceipt}
import graft.sources.Sources
import graft.util.Held

/** The reference's seven CLI modes (`SCISCRAPERS`,
  * /root/reference/src/factories.py:95-103) as one composition function
  * each, over this library's operators — the "switch path" for a
  * sciscraper user: call the mode function instead of `sciscraper -m
  * <mode>`.
  *
  * Every composition mirrors `SciScraper.__call__`
  * (/root/reference/src/fetch.py:177-194): fetch → optional stage →
  * remove empty columns → downcast. Network lookups (Dimensions,
  * crosscite, SemanticScholar, Google Scholar) become LEFT joins against
  * caller-supplied snapshot tables, and the sci-hub page fetch becomes a
  * pluggable page function — the documented offline deviation (SURVEY.md
  * §7.5); online deployments plug an HTTP fetch into the same seams.
  *
  * Each mode returns the final cleaned DataFrame; export it with
  * `Sources.exportCsv(df, dir + "/" + Sources.exportName(prefix, today))`
  * for the reference's dated CSV layout.
  */
object Modes {

  /** Key of the frames [[finish]] persists in `Held.frames`. finish
    * cannot unpersist eagerly itself — the caller's downstream action
    * still reads the cache, and unpersisting before it would re-execute
    * the whole mode pipeline (repeating side effects behind an online
    * fetch seam). Call [[releaseCaches]] once the mode's outputs are
    * consumed (the CLI does so after its export). */
  private val CacheKey = "modes"

  /** Unpersist every frame [[finish]] cached since the last release.
    * Safe to call any time after the caller's final action on the mode
    * outputs; a later action on a released frame recomputes instead of
    * failing.
    *
    * GLOBAL drain: it releases the caches of ALL in-flight mode runs in
    * this JVM — intended for single-tenant drivers (the CLI, a batch
    * job). A service running concurrent mode pipelines on one session
    * must not call this mid-flight from one tenant (another tenant's
    * pre-action cache would be dropped and its pipeline — including any
    * online fetch seam — would re-execute); rely on the weak-reference +
    * ContextCleaner path there, or scope a session per run. */
  def releaseCaches(): Unit = Held.frames.release(CacheKey)

  /** Snapshot-join hint seam (round-5 review): the modes default to
    * broadcasting caller-supplied snapshot tables — right for the
    * reference-shaped lookup tables — but a production-size snapshot
    * (the ~10^8-row metadata dump Enrichment.enrich's scaladoc warns
    * about) must NOT be collected to the driver; pass
    * broadcastSnapshots=false and AQE picks the join strategy. */
  private def maybeBroadcast(df: DataFrame, hint: Boolean): DataFrame =
    if (hint) broadcast(df) else df

  /** The universal post-stage tail (/root/reference/src/fetch.py:188-193):
    * drop all-empty columns, then downcast (int16 counts, datetime
    * coerce). The emptiness probe is an eager aggregate, so the input is
    * persisted first — otherwise every mode would execute its whole
    * pipeline twice (once for the probe, once for the caller's action),
    * doubling work and, worse, repeating side effects behind an online
    * fetch seam. The persist is held in `Held.frames`; call
    * [[releaseCaches]] when the mode's outputs are consumed. */
  def finish(df: DataFrame): DataFrame = {
    val cached = Held.frames.keep(CacheKey, df)
    Casting.dataframeCasting(Stagers.dropAllEmptyColumns(cached))
  }

  /** Abstract-channel DocScraper scoring (is_pdf=False,
    * /root/reference/src/docscraper.py:129-174) for the mode row builders.
    * Row classes are TOP-LEVEL and FLAT (no nested struct): Janino cannot
    * compile the serializer for a case class nested in this object, and
    * the fallback would run the whole scored projection interpreted. */
  private def scoreText(
      text: String,
      target: Set[String],
      bycatch: Set[String]): graft.model.ScoredDoc =
    Extractor.score(
      ExtractedDoc("", "abstract", text, "", text, "", Nil,
        text.length.toLong, ok = text.nonEmpty, error = ""),
      target, bycatch)

  /** The csv_lookup ingest shared by the four csv modes — the
    * reference's serialize_from_csv (serials.py:26-43) is fillna (inside
    * csvColumn) PLUS clean_any_nested_columns: a dict-literal cell like
    * `"{'doi': '10.5555/x', ...}"` yields its doi value. Without the
    * cleanup those rows would silently miss every snapshot join the
    * reference hits. */
  private def doiColumn(spark: SparkSession, csvPath: String) =
    Stagers.cleanDictColumn(Sources.csvColumn(spark, csvPath, "doi"), "doi", "doi")

  /** `-m directory` (factories.py:96 — pdf_lookup + pdf_expanded):
    * recursive PDF scan → per-doc extract + DOI cascade + score →
    * Dimensions lookup on the extracted doi → cleanup. */
  def directory(
      spark: SparkSession,
      pdfDir: String,
      targetWords: Set[String],
      bycatchWords: Set[String],
      dimensions: DataFrame): DataFrame = {
    import spark.implicits._
    val pages = Sources.pdfDirectory(spark, pdfDir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .map { case (path, bytes) =>
        PageRecord(path, new java.sql.Timestamp(0L), bytes, "", "") }
    val scored = ExtractPipeline.extractAndScore(
      pages, numPartitions = 0, targetWords, bycatchWords).toDF()
    finish(Enrichment.enrich(scored, dimensions))
  }

  /** `-m wordscore` (factories.py:97 — csv_lookup + abstracts stager):
    * csv doi column → Dimensions lookup → abstract lookup by internal_id
    * (the `docs[0].abstract` JSON path, webscrapers.py:73-80) → score the
    * returned abstract. Enrichment fields and score ride in ONE row pass
    * (SURVEY.md §2.3 row 20's one-pass shape), not a positional re-join.
    * Abstract-lookup misses are staged as the literal string "N/A" —
    * the reference's stage_from_series runs the staged column through
    * list_with_na_replacement (fillna("N/A"),
    * /root/reference/src/stagers.py:20 + serials.py:89-106), so the
    * SCORED text for a miss is "N/A" (1 token, 0 matches), matching
    * the Enrichment layer's export fill for the same channel. */
  def wordscore(
      spark: SparkSession,
      csvPath: String,
      dimensions: DataFrame,
      abstracts: DataFrame,
      targetWords: Set[String],
      bycatchWords: Set[String],
      broadcastSnapshots: Boolean = true): DataFrame = {
    import spark.implicits._
    val enriched = Enrichment.enrich(
        doiColumn(spark, csvPath), dimensions,
        broadcastSnapshot = broadcastSnapshots)
      .join(maybeBroadcast(abstracts, broadcastSnapshots), Seq("internal_id"), "left")
      .select(
        col("doi"), col("journal_title"), col("internal_id"),
        col("times_cited").cast("long").as("times_cited"),
        coalesce(
          get_json_object(col("abstract_json"), "$.docs[0].abstract"),
          lit("N/A")).as("abstract_text"))
      .as[(String, String, String, Option[Long], String)]
    enriched.map { case (doi, journal, internal, cited, abs) =>
        val s = scoreText(abs, targetWords, bycatchWords)
        ModeWordscoreRow(doi, journal, internal, cited, abs,
          s.matching_terms, s.bycatch_terms, s.total_word_count,
          s.wordscore, s.target_terms_top_3, s.bycatch_terms_top_3)
      }
      .toDF()
      .transform(finish)
  }

  /** `-m citations` (factories.py:98 — csv_lookup + citations stager):
    * csv doi column → citation lookup → explode cited works carrying the
    * source (stage_with_reference, stagers.py:55-125 — one Generate
    * operator here). `citationsSnapshot` columns: (doi, title,
    * citation_spans array<string>). */
  def citations(
      spark: SparkSession,
      csvPath: String,
      citationsSnapshot: DataFrame,
      broadcastSnapshots: Boolean = true): DataFrame = {
    val fetched = doiColumn(spark, csvPath)
      .join(maybeBroadcast(citationsSnapshot, broadcastSnapshots), Seq("doi"), "left")
    finish(Stagers.explodeWithSource(fetched, "title", "citation_spans"))
  }

  /** `-m download` (factories.py:99 — csv_lookup + download stager): per
    * doi, resolve the sci-hub button page (`#buttons button:nth-child(1)`
    * onclick, downloaders.py:215-230), clean the location.href link, emit
    * a receipt with the dated deterministic filepath. `pageForDoi` is the
    * fetch seam (offline: a synthesized page; online: an HTTP GET). */
  def download(
      spark: SparkSession,
      csvPath: String,
      pageForDoi: String => String,
      baseUrl: String,
      today: java.time.LocalDate): DataFrame = {
    import spark.implicits._
    val prefix = graft.sources.Sources.datePrefix(today)
    doiColumn(spark, csvPath)
      .as[String]
      .map { doi =>
        // never-throw row contract (same as Extractor.extract, incl. its
        // StackOverflowError case — pageForDoi is the online fetch seam,
        // so an adversarial deeply-nested page must become a failed
        // receipt, not a dead task): the reference's None-on-error path
        // (downloaders.py:137-182)
        val link =
          try Downloads.resolveButton(pageForDoi(doi), baseUrl)._2
          catch { case _ @ (_: Exception | _: StackOverflowError) => "" }
        DownloadReceipt(
          downloader = "graft.BulkDownloader",
          url = link,
          success = link.nonEmpty,
          filepath = if (link.isEmpty) ""
            else s"$prefix/${Downloads.md5hex(doi)}.pdf",
          n_bytes = 0L) // payload fetch is the online half of the seam
      }
      .toDF()
      .transform(finish)
  }

  /** `-m images` (factories.py:100 — csv_lookup + images stager): csv doi
    * column → figure-url lookup → one receipt per figure with the
    * reference's `{today}_{etag}_{file_id}.{ext}` naming
    * (downloaders.py:346-366, determinized per SURVEY.md §2.7 row 47).
    * `figuresSnapshot` columns: (doi, figures array<string>). */
  def images(
      spark: SparkSession,
      csvPath: String,
      figuresSnapshot: DataFrame,
      today: java.time.LocalDate,
      broadcastSnapshots: Boolean = true): DataFrame = {
    import spark.implicits._
    val prefix = graft.sources.Sources.datePrefix(today)
    doiColumn(spark, csvPath)
      .join(maybeBroadcast(figuresSnapshot, broadcastSnapshots), Seq("doi"), "left")
      .select(col("doi"), explode_outer(col("figures")).as("img_url"))
      .as[(String, Option[String])]
      .map { case (doi, img) =>
        img.map(u => Downloads.imageReceipt(doi, u, prefix)).getOrElse(
          DownloadReceipt("graft.ImagesDownloader", "", success = false, "", 0L))
      }
      .toDF()
      .transform(finish)
  }

  /** `-m fastscore` (factories.py:101 — abstract_lookup, no stager): csv
    * abstract column scored directly, title column attached in the same
    * row pass (the title_serializer attach, factories.py:44-52).
    * Empty/missing cells become the literal "N/A" in BOTH columns:
    * both serializers are serialize_from_csv, whose pandas read turns
    * an empty cell into NaN and list_with_na_replacement fills it
    * (/root/reference/src/serials.py:26-44,89-106 — verified by
    * executing the reference on a blank-bearing CSV). The scored text
    * for an empty abstract is therefore "N/A": 1 token, 0 matches —
    * the same counts "" would give under Python split semantics, so
    * only the text columns (not the scores) differ from an "" fill. */
  def fastscore(
      spark: SparkSession,
      csvPath: String,
      targetWords: Set[String],
      bycatchWords: Set[String]): DataFrame = {
    import spark.implicits._
    spark.read.option("header", "true").csv(csvPath)
      .select(
        // the nullif fold matters for QUOTED empty cells ("") — Spark's
        // CSV reader yields "" for those (unquoted empties read as null)
        // while pandas yields NaN for both, so both shapes must land on
        // "N/A" (verified by executing the reference on a quoted-empty
        // CSV); the q39 oracle applies the same fold on the DuckDB side
        expr("coalesce(nullif(CAST(title AS STRING), ''), 'N/A')").as("title"),
        expr("coalesce(nullif(CAST(abstract AS STRING), ''), 'N/A')").as("abstract"))
      .as[(String, String)]
      .map { case (title, abs) =>
        val s = scoreText(abs, targetWords, bycatchWords)
        ModeFastscoreRow(title, abs,
          s.matching_terms, s.bycatch_terms, s.total_word_count,
          s.wordscore, s.target_terms_top_3, s.bycatch_terms_top_3)
      }
      .toDF()
      .transform(finish)
  }

  /** `-m google` (factories.py:102 — google_lookup, no stager): one query
    * per line of a txt file (serialize_from_txt, serials.py) → paged
    * Scholar search against the snapshot. */
  def google(
      spark: SparkSession,
      queriesTxtPath: String,
      scholarSnapshot: DataFrame,
      publicationType: String,
      numArticles: Int): DataFrame = {
    import spark.implicits._
    // Python str.strip() semantics (serialize_from_txt): Java trim() keeps
    // NBSP/NEL, which would silently miss the snapshot equi-join
    val queries = spark.read.textFile(queriesTxtPath)
      .map(graft.textops.TextOps.pyStrip).filter(_.nonEmpty)
      .toDF("search_text")
    finish(Scholar.search(queries, scholarSnapshot, publicationType, numArticles))
  }
}

/** fastscore output row (DocumentResult over the abstract channel,
  * /root/reference/src/docscraper.py:37-52, titles attached per
  * factories.py:44-52). Flat on purpose — see Modes.scoreText. */
final case class ModeFastscoreRow(
    title: String,
    abstract_text: String,
    matching_terms: Int,
    bycatch_terms: Int,
    total_word_count: Int,
    wordscore: Float,
    target_terms_top_3: Seq[TermCount],
    bycatch_terms_top_3: Seq[TermCount])

/** wordscore output row: Dimensions enrichment fields + abstract score. */
final case class ModeWordscoreRow(
    doi: String,
    journal_title: String,
    internal_id: String,
    times_cited: Option[Long],
    abstract_text: String,
    matching_terms: Int,
    bycatch_terms: Int,
    total_word_count: Int,
    wordscore: Float,
    target_terms_top_3: Seq[TermCount],
    bycatch_terms_top_3: Seq[TermCount])
