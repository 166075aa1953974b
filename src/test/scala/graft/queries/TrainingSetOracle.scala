package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, min}

/** q35's keep-list in its first form: the token stats aggregated to
  * `min(doc_id)` per digest and joined back left-semi on (fp, doc_id).
  * It scans and tokenizes `documents` once for each side of the join;
  * [[Queries.trainingSet]] computes the same rows with a window over one
  * scan, and QueriesSpec pins the two to each other. */
object TrainingSetOracle {
  def semiJoin(docs: DataFrame): DataFrame = {
    val stats = Queries.trainingStats(docs)
    // the aggregated side's fp is RENAMED before the join: a
    // stats("fp") === keep("fp") condition resolves both sides to the
    // same attribute (Spark folds it to a trivially-true predicate and
    // the fp equality silently stops being enforced)
    val keep = stats.groupBy("fp").agg(min("doc_id").as("keep_id"))
      .withColumnRenamed("fp", "keep_fp")
    stats
      .join(keep, col("fp") === col("keep_fp") && col("doc_id") === col("keep_id"), "left_semi")
      .filter("ratio_e4 >= 300 AND quality_e4 >= 1000")
      .select("doc_id", "n_tokens", "ratio_e4", "quality_e4")
  }
}
