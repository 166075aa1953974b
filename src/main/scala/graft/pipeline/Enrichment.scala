package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.CorpusGen
import graft.util.Parquet

/** Offline replacements for the reference's network enrichment lookups
  * (Dimensions/crosscite/abstract/SemanticScholar — SURVEY.md §2.1 rows
  * 6-10, §2.3 row 24): deterministic snapshot tables joined with
  * broadcast-hash LEFT joins (the reference returns None on a miss,
  * /root/reference/src/webscrapers.py:205-206 — left join preserves that).
  *
  * At 100 TB the snapshot side is the small one (an identifier-keyed
  * metadata service dump, ~10^8 rows max) — broadcast when it fits,
  * sort-merge on `doi` otherwise; the fact side never re-shuffles because
  * the join key is produced by the extraction stage itself.
  */
object Enrichment {

  /** Deterministic Dimensions-style snapshot for the synthetic corpus:
    * one row per docId that carries a DOI. Field shapes follow the
    * reference's DIMENSIONS_AI_KEYS remap
    * (/root/reference/src/config.py:107-117). */
  def dimensionsSnapshot(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, nDocs, 1, spark.sparkContext.defaultParallelism)
      .flatMap { id =>
        CorpusGen.doiFor(id).map { doi =>
          (doi,
            math.floorMod(scala.util.hashing.MurmurHash3.stringHash(doi), 500).toLong,
            s"Journal of d${CorpusGen.domainId(id)} Studies",
            s"pub.$id")
        }
      }
      .toDF("doi", "times_cited", "journal_title", "internal_id")
  }

  /** Left enrichment of extracted docs on `doi`; misses surface as
    * nulls, then filled "N/A" like the reference's export cleanup
    * (/root/reference/src/serials.py:89-106). Snapshot tables are
    * broadcast by default (the common case: a dim table far below the
    * broadcast threshold); pass `broadcastSnapshot = false` for a
    * snapshot too large to collect — forcing the hint on a ~10^8-row
    * snapshot would OOM the driver, and without the hint AQE picks the
    * shuffle join on `doi`. */
  def enrich(
      extracted: DataFrame,
      snapshot: DataFrame,
      broadcastSnapshot: Boolean = true): DataFrame = {
    val snap = if (broadcastSnapshot) broadcast(snapshot) else snapshot
    val joined = extracted.join(snap, Seq("doi"), "left")
    Stagers.fillNA(joined, Seq("journal_title", "internal_id"))
  }

  // ---------------------------------------------------------------------
  // Full enrichment family over the `documents` table. Every snapshot is
  // synthesized RELATIONALLY from documents (pure integer->string
  // arithmetic), so the DuckDB oracle regenerates identical snapshots —
  // the join semantics get a real cross-engine check, not a rows-only one.
  // Coverage is deliberately partial (%-based) so every left join
  // exercises both hit and miss paths.
  // ---------------------------------------------------------------------

  /** Docs frame: doc_id, doi (1 in 3 docs carry one), title. */
  def docsFrame(s: SparkSession, dir: String): DataFrame =
    Parquet.read(s, s"$dir/documents.parquet")
      .selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 3 = 0 THEN concat('10.5555/d', doc_id) END AS doi",
        "concat('Paper ', doc_id) AS title")

  /** Dimensions-style snapshot keyed by doi (covers doc_id % 6 = 0, i.e.
    * HALF the doi-carrying docs). Fields follow DIMENSIONS_AI_KEYS
    * (/root/reference/src/config.py:107-117); pub_date_raw carries both
    * parseable ISO dates and garbage, for the errors="coerce" path
    * (/root/reference/src/fetch.py:229-234). */
  def dimSnap(s: SparkSession, dir: String): DataFrame =
    Parquet.read(s, s"$dir/documents.parquet")
      .filter("doc_id % 6 = 0")
      .selectExpr(
        "concat('10.5555/d', doc_id) AS doi",
        "(doc_id * 7) % 90 AS times_cited",
        "concat('Journal of Topic ', doc_id % 12) AS journal_title",
        "concat('pub.', doc_id) AS internal_id",
        "CASE WHEN doc_id % 5 = 0 THEN 'not-a-date' " +
          "ELSE concat(1990 + doc_id % 35, '-0', 1 + doc_id % 9, '-1', doc_id % 10) END AS pub_date_raw")

  /** crosscite biblio snapshot keyed by doi (covers the ODD doi-carrying
    * docs, doc_id % 6 = 3) — the CitationScraper analog
    * (/root/reference/src/webscrapers.py:294-329). */
  def biblioSnap(s: SparkSession, dir: String): DataFrame =
    Parquet.read(s, s"$dir/documents.parquet")
      .filter("doc_id % 6 = 3")
      .selectExpr(
        "concat('10.5555/d', doc_id) AS doi",
        "concat('Author A. (', 1990 + doc_id % 35, '). Paper ', doc_id, " +
          "'. Journal of Topic ', doc_id % 12, '.') AS biblio")

  /** Abstract snapshot keyed by internal_id, payload kept as the RAW
    * response JSON — the consumer extracts `docs[0].abstract` with a JSON
    * path, exactly the reference's access pattern
    * (/root/reference/src/webscrapers.py:332-358 via :73-80). */
  def abstractSnap(s: SparkSession, dir: String): DataFrame =
    Parquet.read(s, s"$dir/documents.parquet")
      // %12 != 6 excludes every other dim-covered doc, so the abstract
      // join has key-present MISSES (internal_id exists, abstract absent)
      .filter("doc_id % 6 = 0 AND doc_id % 12 != 6")
      .selectExpr(
        "concat('pub.', doc_id) AS internal_id",
        """concat('{"docs":[{"abstract":"Abstract body for ', doc_id, '"}]}') AS abstract_json""")

  /** SemanticScholar figures snapshot keyed by TITLE (the reference
    * searches by query text, /root/reference/src/webscrapers.py:363-417);
    * figure urls flattened to a CSV scalar. */
  def figuresSnap(s: SparkSession, dir: String): DataFrame =
    Parquet.read(s, s"$dir/documents.parquet")
      .filter("doc_id % 2 = 0")
      .selectExpr(
        "concat('Paper ', doc_id) AS title",
        "CAST(doc_id % 4 AS BIGINT) AS n_figures",
        "CASE WHEN doc_id % 4 > 0 THEN concat_ws(',', transform(sequence(0, doc_id % 4 - 1), " +
          "j -> concat('https://figs.example.org/', doc_id, '/', j))) END AS figures_csv")

  /** The complete enrichment pass: Dimensions -> biblio -> abstract ->
    * figures, all LEFT joins (reference returns None on a miss), misses
    * N/A-filled, pub_date coerced to DATE (null on garbage = pandas
    * errors="coerce"). At 100 TB each snapshot is the small side of a
    * broadcast hash join keyed by an id the fact side already carries —
    * zero fact-table shuffles in the whole family. */
  def enrichFull(s: SparkSession, dir: String): DataFrame = {
    val out = docsFrame(s, dir)
      .join(broadcast(dimSnap(s, dir)), Seq("doi"), "left")
      .join(broadcast(biblioSnap(s, dir)), Seq("doi"), "left")
      .join(broadcast(abstractSnap(s, dir)), Seq("internal_id"), "left")
      .join(broadcast(figuresSnap(s, dir)), Seq("title"), "left")
      .selectExpr(
        "doc_id", "doi", "title",
        "times_cited",
        "journal_title",
        "internal_id",
        "CAST(try_to_timestamp(pub_date_raw) AS DATE) AS pub_date",
        "biblio",
        "get_json_object(abstract_json, '$.docs[0].abstract') AS abstract_text",
        "n_figures",
        "figures_csv")
    Stagers.fillNA(out,
      Seq("doi", "journal_title", "internal_id", "biblio", "abstract_text", "figures_csv"))
  }
}
