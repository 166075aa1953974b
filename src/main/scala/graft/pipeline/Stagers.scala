package graft.pipeline

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** The reference's tabular-dataflow ("stager") operators re-expressed
  * relationally — SURVEY.md §2.2 rows 13-16, §2.3 rows 20-21, §2.7 row 15.
  */
object Stagers {

  /** Drop columns whose every value is null or empty-string — the
    * reference's `replace("", NaN).dropna(how="all", axis=1)`
    * (/root/reference/src/fetch.py:201-203). One aggregation pass (single
    * job, map-side combined) then a driver-side projection choice; never
    * a per-column job. At scale: one shuffle-free pass over the data. */
  def dropAllEmptyColumns(df: DataFrame): DataFrame = {
    if (df.columns.isEmpty) return df
    // exact-empty only: the reference maps only "" to NaN
    // (replace("", NaN)), so whitespace-only values KEEP their column.
    // The row count rides in slot 0 of the same single-pass agg: a
    // ZERO-ROW frame keeps all its columns (pandas dropna(how='all')
    // drops nothing from an empty frame), it must not drop everything
    // just because every sum is null over no rows.
    val counts = df.select(
      count(lit(1)) +: df.columns.map(c =>
        sum(when(col(c).isNotNull && col(c).cast("string") =!= "", 1L)
          .otherwise(0L)).as(c)): _*).head()
    if (counts.getLong(0) == 0L) return df
    val keep = df.columns.zipWithIndex
      .filter { case (_, i) => !counts.isNullAt(i + 1) && counts.getLong(i + 1) > 0 }
      .map { case (c, _) => col(c) }
    df.select(keep: _*)
  }

  /** NA fill on string columns — the reference's `fillna("N/A")`
    * (/root/reference/src/serials.py:89-106). */
  def fillNA(df: DataFrame, columns: Seq[String]): DataFrame =
    columns.foldLeft(df)((d, c) => d.withColumn(c, coalesce(col(c), lit("N/A"))))

  /** Positional (row-index) join — the reference's pandas RangeIndex join
    * (/root/reference/src/fetch.py:128-136). ONLY for reproducing the
    * reference's CSV layouts verbatim: it forces two zipWithIndex passes
    * and an equi-join shuffle on the synthetic key. Real pipelines keep
    * parent and enrichment in one row (SURVEY.md §2.3 row 20) — see
    * ExtractPipeline/Enrichment for the one-pass shape. */
  def zipByPosition(a: DataFrame, b: DataFrame): DataFrame = {
    val spark = a.sparkSession
    def indexed(df: DataFrame): DataFrame = {
      val schema = df.schema
      val rdd = df.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
      }
      spark.createDataFrame(rdd,
        schema.add("_zip_idx", org.apache.spark.sql.types.LongType))
    }
    // LEFT join: pandas' RangeIndex a.join(b) keeps every left row and
    // NaN-fills when b is shorter — an inner join would silently drop
    // the trailing left rows
    indexed(a).join(indexed(b), Seq("_zip_idx"), "left").drop("_zip_idx")
  }

  /** Explode an array column carrying a parent column — the reference
    * needs stager+loop+positional-join for this
    * (/root/reference/src/stagers.py:55-125, src/fetch.py:138-160); in
    * Spark it is one Generate operator that keeps parent columns, named
    * `source_titles` and `citation` as in the reference's output. */
  def explodeWithSource(df: DataFrame, parentCol: String, arrayCol: String): DataFrame =
    df.select(col(parentCol).as("source_titles"), explode_outer(col(arrayCol)).as("citation"))

  /** Clean cells holding Python dict literals: cells starting "{" are
    * parsed (never eval'd) and replaced by str(dict.get(key, "")); others
    * pass through (/root/reference/src/serials.py:66-86). The reference
    * also REORDERS the frame (non-dict rows first, then dict rows) as a
    * side effect of its partition-then-concat; `referenceReorder = true`
    * reproduces that when matching goldens requires it. */
  def cleanDictColumn(
      df: DataFrame,
      column: String,
      key: String,
      referenceReorder: Boolean = false): DataFrame = {
    val extract = udf((cell: String) => graft.serials.PyDictParser.extractKey(cell, key))
    if (!referenceReorder) df.withColumn(column, extract(col(column)))
    else {
      val isDict = col(column).isNotNull && col(column).startsWith("{")
      // order flag computed BEFORE cleaning (the reference partitions on
      // the raw cell), so flag on the raw df, clean both branches
      val flagged = df.withColumn("_is_dict", isDict)
      flagged.filter(!col("_is_dict")).unionByName(flagged.filter(col("_is_dict")))
        .withColumn(column, extract(col(column)))
        .drop("_is_dict")
    }
  }
}
