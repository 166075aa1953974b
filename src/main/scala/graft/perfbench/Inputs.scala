package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.CorpusGen
import graft.model.PageRecord
import graft.util.SplitMix

/** Seeded input generators for the benchmark workloads. Every row is a
  * pure function of (seed, row id), so the same seed gives byte-identical
  * tables on any partitioning, and the program under test only ever sees
  * the parquet written here.
  */
object Inputs extends Serializable {

  /** Digest modulus: row hashes are reduced mod this prime before the
    * sum, so a sum over billions of rows stays inside a Long (Spark's
    * ANSI mode turns a wrapped sum into an error). */
  val DigestMod: Long = 2147483647L

  /** Order-independent digest of `cols` over `df`: sum of reduced
    * xxhash64 row hashes, plus the row count. */
  def digest(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.select(pmod(xxhash64(cols.map(col): _*), lit(DigestMod)).as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  // ---- crawl corpus (extract_crawl, queries_table) --------------------

  /** First CorpusGen docId of a seed's range. Ranges of different seeds
    * are disjoint for any corpus under 10M docs, and every base is a
    * multiple of 30, so CorpusGen's docId-modulus shares (30% PDF, 30%
    * hot domain, a third with a DOI) hold exactly on every range. */
  def corpusBase(seed: Long): Long = java.lang.Math.floorMod(seed, 100000L) * 9999990L

  def writeCorpus(spark: SparkSession, seed: Long, nDocs: Long, parts: Int, path: String): Unit = {
    import spark.implicits._
    val base = corpusBase(seed)
    spark.range(base, base + nDocs, 1, parts).map(i => CorpusGen.genDoc(i)._1)
      .write.mode("overwrite").parquet(path)
  }

  /** Golden `(url, extracted_text)` digest of a seed's range, computed
    * from CorpusGen's goldens without building any page bytes. */
  def goldenDigest(spark: SparkSession, seed: Long, nDocs: Long, parts: Int): (Long, Long) =
    digest(goldens(spark, seed, nDocs, parts), Seq("url", "extracted_text"))

  def goldens(spark: SparkSession, seed: Long, nDocs: Long, parts: Int): DataFrame = {
    import spark.implicits._
    val base = corpusBase(seed)
    spark.range(base, base + nDocs, 1, parts).map { i =>
      val g = CorpusGen.genGolden(i)
      (g.url, g.extracted_text)
    }.toDF("url", "extracted_text")
  }

  /** Driver-side digest of the generated pages (no Spark): the test that
    * pins seed determinism uses it on a small range. */
  def corpusDigest(seed: Long, nDocs: Long): Long = {
    val base = corpusBase(seed)
    (base until base + nDocs).foldLeft(0L) { (acc, i) =>
      val p: PageRecord = CorpusGen.genDoc(i)._1
      acc + (p.url.hashCode.toLong << 32 ^ java.util.Arrays.hashCode(p.html))
    }
  }

  // ---- documents (queries_table) -----------------------------------------

  // The documents fixture's shape: the q08-q11 / q35 vocabularies plus
  // neutral filler, 8-100 tokens per text. The same shape ScaleBench
  // writes, here salted by the workload seed.
  private val Vocab: Vector[String] = Vector(
    "spark", "table", "query", "join", "agg", "scan", "hash", "merge",
    "sort", "stream", "slow", "big", "small", "the", "a", "fast",
    "batch", "line", "column", "order", "value", "group", "filter",
    "customer", "key", "window", "part", "vector", "file", "row",
    "index", "page", "block", "cache", "plan", "stage", "task",
    "shuffle", "write", "read")

  private def mix(x: Long): Long = SplitMix.finalizeMix(x)

  /** Ids with `id % 625 == 624` copy the previous id's text, so exact
    * duplicates exist at the fixture's ~0.16% rate. */
  def isExactDup(id: Long): Boolean = id % 625 == 624

  def docText(seed: Long, id0: Long): String = {
    val id = if (isExactDup(id0)) id0 - 1 else id0
    var s = mix(id ^ mix(seed + 0x5bd1e995L))
    val n = 8 + (mix(s + 1) % 93).toInt.abs
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      s = mix(s + i)
      if (i > 0) sb.append(' ')
      sb.append(Vocab((s % Vocab.length).toInt.abs))
      i += 1
    }
    sb.toString
  }

  def writeDocuments(spark: SparkSession, dir: String, seed: Long, nDocs: Long, parts: Int): Unit = {
    import spark.implicits._
    spark.range(0, nDocs, 1, parts).map { id =>
      val text = docText(seed, id)
      val lang = if (id % 19 == 0) "zh" else if (id % 23 == 0) "de" else "en"
      (id, text, lang, s"src${id % 16}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** Exact number of distinct texts in a documents table: q13's row
    * count, known in closed form from the duplicate rule. */
  def distinctTexts(nDocs: Long): Long =
    nDocs - (0L until nDocs).count(i => isExactDup(i) && i > 0)

  def documentsDigest(seed: Long, nDocs: Long): Long =
    (0L until nDocs).foldLeft(0L)((acc, id) => acc * 31 + docText(seed, id).hashCode)
}
