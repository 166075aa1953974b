package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Plan evidence on sf0.001 (plan SHAPE is scale-independent). Two modes:
  *   sbt -batch "runMain graft.PlanDump"
  *     regenerates PLANS.md: the physical plans of the load-bearing
  *     queries, with the plan properties that matter at 100 TB called out;
  *   sbt -batch "runMain graft.PlanDump <suffix> <query> ..."
  *     writes `plans/<query>_<suffix>.txt` with the `.explain("formatted")`
  *     output of each named query, so before/after plan-shape claims are
  *     checkable without running Spark. Eager queries (q19/q40) localize
  *     their results — their returned frame's plan is the localized scan.
  */
object PlanDump {

  private val Notes = Map(
    "q01_pricing_agg" -> "partial (map-side) HashAggregate before the single 6-group exchange; sums are integer fixed-point.",
    "q02_filter_monthly" -> "PushedFilters carries the shipdate range into the parquet scan; ReadSchema is pruned to 3 columns.",
    "q03_join_revenue" -> "lineitem pre-aggregates per orderkey BEFORE the fact-fact join (r8: map-side partial agg compacts the exchange; the groupBy's orderkey exchange doubles as the join's) + BroadcastHashJoin for the customer dim.",
    "q09_wordscore" -> "pure column arithmetic inside one WholeStageCodegen span — no UDF, no extra exchange.",
    "q15_lsh_near_dup" -> "signature table materialized once (InMemoryRelation) AFTER the bucket-size window; candidate join runs on the tiny (id, band, bucket, n, rep) projection with the hot-bucket cap's star-edge union. r8: the confirm stage reads the persisted shingle-set SIZE column and counts the overlap in one set pass (union size derived), no array_intersect/array_union materialization.",
    "q16_ann_topk" -> "index side broadcast; native dot_i64 expression stays in codegen.",
    "q24_ann_lsh" -> "bucket-equijoin replaces the all-pairs cross join; hyperplane weights are folded literals; NO broadcast hint on the re-rank side (the index is the corpus at 100 TB) — AQE picks the runtime strategy. r8: candidate dedup clusters by vec_id alone and the vec_id-keyed re-rank join comes last, so the top-5 window adds no exchange.",
    "q30_scholar_search" -> "paged search = equi-join keyed by query text; the small query list is the broadcast side, the snapshot only scans.",
    "q31_enrich_full" -> "four stacked BroadcastHashJoins over snapshot tables keyed by ids the fact side already carries — zero fact shuffles across the whole enrichment family.",
    "q32_export_cast" -> "int16/float16 downcasts are pure projections (no exchange added by the cast stage); the dim join broadcasts.",
    "q34_ann_ivf" -> "IVF: cell assignment is a MAP-SIDE projection over folded centroid literals (no join, no window, no persist — the r2 blow-up is gone); probes join candidates by cell, exact re-rank touches candidates only. r8: dedup + re-rank share ONE vec_id exchange.",
    "q36_download_links" -> "selector descent + link cleaning run inside one typed map over the synthesized button pages; no exchange (the oracle aux dump only runs in verify mode).",
    "q35_training_set" -> "one token-stats pass feeds dedup + language + quality gates; keep-list is a digest groupBy joined back left-semi — bodies never shuffle.",
    "q39_mode_fastscore" -> "the fastscore CLI mode: one typed map over the pruned header-CSV scan (title attach + scoring in the same row pass); no exchange anywhere.",
    "q41_jaccard_join" -> "exact AllPairs/PPJoin: df groupBy -> dense gram-id dictionary (bijective, (df,g)-ordered) -> per-doc rank window -> prefix-posting equi-join on INT gram ids carrying the length+positional filters as join residuals -> confirm joins touch candidates only, via sorted long gram-id sets and a merge-walk overlap (r8); grams, prefix postings and the gram-id sets are the three InMemoryRelations.",
    "q42_byte_weighted_route" -> "byte-weighted placement itself is ONE hash exchange on the precomputed __bw_route column (element_at over driver-side literal maps — no RDD partitioner); the stats pass is a persisted per-url groupBy (its own url-keyed exchange, shuffling only the distinct-url cost map, paid once across the stats head() and the heavy collect()); both extraction variants are independent mapPartitions pipelines meeting in the verify full-outer join.")

  def main(args: Array[String]): Unit = {
    // plan dump inspects operator plans, not verification I/O
    graft.queries.Queries.auxDumpEnabled = false
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"
    if (args.isEmpty) plansMd(spark, sf) else formatted(spark, sf, args.head, args.tail.toSeq)
    spark.stop()
  }

  private def formatted(spark: SparkSession, sf: String, suffix: String, names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get("plans"))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(s"plans/${name}_$suffix.txt"), txt)
      println(s"PLAN_OK $name ${txt.length}")
    }
  }

  private def plansMd(spark: SparkSession, sf: String): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the load-bearing queries\n\n")
    sb.append("Generated by `graft.PlanDump` on sf0.001 (plan SHAPE is scale-\n")
    sb.append("independent; AQE may re-plan exchanges at runtime). Key plan\n")
    sb.append("properties are asserted in QueriesSpec so regressions fail tests,\n")
    sb.append("not reviews. Per-query `.explain(\"formatted\")` dumps for\n")
    sb.append("before/after evidence: `graft.PlanDump <suffix> <query...>` writes\n")
    sb.append("`plans/<query>_<suffix>.txt`.\n")
    Notes.keys.toSeq.sorted.foreach { name =>
      val q = graft.queries.Queries.all.find(_.name == name).get
      val df = q.fn(spark, sf)
      sb.append(s"\n## $name\n\n${Notes(name)}\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode).take(4000))
      sb.append("\n```\n")
    }
    // the flagship extraction pipeline
    val entry = SparkEntry.entry(spark)
    sb.append("\n## entry (extraction + scoring pipeline)\n\n")
    sb.append("scan -> (no exchange) -> mapPartitions parse+score: extraction\n")
    sb.append("runs on byte-balanced scan splits; the only shuffle in the whole\n")
    sb.append("flagship is none — sinks append partition-local files.\n\n```\n")
    sb.append(entry.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode).take(3000))
    sb.append("\n```\n")
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("PLANS_OK " + sb.length)
  }
}
