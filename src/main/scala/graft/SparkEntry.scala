package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.Queries
import graft.pipeline.ExtractPipeline
import graft.corpus.CorpusGen

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship: the full extraction+scoring pipeline (HTML boilerplate
    * strip + PDF content-stream parse + wordscore) over a synthesized
    * Common-Crawl-style corpus. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ExtractPipeline.extractAndScore(
      ExtractPipeline.pages(spark, 600), numPartitions = 0, // scan-split parallelism

      CorpusGen.TargetWords.toSet, CorpusGen.BycatchWords.toSet)
      .toDF()
      .selectExpr("url", "kind", "title", "doi", "matching_terms",
        "bycatch_terms", "total_word_count", "wordscore", "ok")

  /** One entry per implemented operator from SURVEY.md §2. Each call
    * runs the query in verify mode, in a fresh run context of its own. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all.map(q => q.name -> q.once(verify = true)).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for the non-SQL-expressible
    * pipeline ops (extraction, simhash, resume, binary features) whose
    * correctness gate is the byte-identical goldens in `sbt -batch test`. */
  def oracleSql: Map[String, String] =
    Queries.all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
