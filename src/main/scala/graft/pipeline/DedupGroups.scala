package graft.pipeline

import scala.concurrent.Await
import scala.concurrent.duration.DurationInt
import scala.util.{Success, Try}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Turn near-duplicate PAIRS (from LSH/SimHash/embedding passes) into
  * duplicate GROUPS: connected components by iterative min-label
  * propagation, the standard large-graph approach when components are
  * shallow (duplicate clusters are tiny — a handful of crawls of the same
  * page — so a few hops converge; each hop is one self-join + groupBy on
  * (id, label), all shuffle-partitioned by id).
  *
  * Returns (id, rep) where rep = the component's minimum id — the row to
  * KEEP; everything else in the group is the drop set.
  */
object DedupGroups {

  /** Hop budget: duplicate clusters are shallow, and with path halving
    * 10 hops cover chains of length 2^10. */
  private val MaxIters = 10

  /** Members listed per group by [[groups]]. */
  private val MemberCap = 100

  /** @param pairs two columns, (id_a, id_b), undirected edges */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val edges = pairs.toDF("a", "b")
      .union(pairs.toDF("b", "a").select(col("a"), col("b")))
      .distinct()
      .persist()
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("rep", col("id"))
    var converged = false
    var i = 0
    while (!converged && i < MaxIters) {
      // each vertex takes min(own label, neighbors' labels); `prev`
      // (the incoming label) rides along so the convergence probe below
      // is a scan of THIS checkpoint's cached partitions — the former
      // probe joined the post-jump labels back against the previous
      // generation, a full extra shuffle job every other hop
      val viaNeighbors = edges
        .join(labels.select(col("id").as("nbr"), col("rep").as("nrep")),
          col("b") === col("nbr"))
        .groupBy(col("a").as("id"))
        .agg(min("nrep").as("nbrMin"))
      // eager localCheckpoint truncates the logical plan each iteration —
      // without it the self-joins double the plan tree per hop and the
      // analyzer stack-overflows around iteration 10.
      // The moved-row count rides INSIDE the checkpoint job as a
      // CollectMetrics observation (the q41 candidate-probe pattern):
      // the former standalone probe was one extra driver-round-trip job
      // per hop — ~25% of the loop's job count for a pure scan of
      // blocks the checkpoint had just cached (measured: the tiny-graph
      // loop floor is per-JOB latency, not per-task width).
      val obs = org.apache.spark.sql.Observation()
      val hop = labels.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"), col("rep").as("prev"),
          least(col("rep"), coalesce(col("nbrMin"), col("rep"))).as("rep"))
        .observe(obs, count(when(col("rep") =!= col("prev"), 1)).as("moved"))
        .localCheckpoint(true)
      // probe BEFORE the pointer jump: a hop that moved nothing means
      // labels were already the fixpoint (min(own, neighbors) == own for
      // every vertex => labels uniform per component => the component
      // min), so the final iteration's jump join never runs at all —
      // the jump only ACCELERATES convergence, it cannot create
      // movement at a hop fixpoint (rep is the component min, whose own
      // label is itself)
      converged = movedCount(hop, obs) == 0L
      if (!converged) {
        // pointer jump (path halving): rep <- label(rep), contracting
        // chains geometrically so convergence is O(log diameter), not
        // O(diameter)
        labels = hop
          .join(hop.select(col("id").as("rep"), col("rep").as("rep2")), Seq("rep"), "left")
          .select(col("id"), coalesce(col("rep2"), col("rep")).as("rep"))
          .localCheckpoint(true)
      } else labels = hop.select(col("id"), col("rep"))
      i += 1
    }
    edges.unpersist()
    // fail-loud on an exhausted hop budget (the file's q15/q16/q26 guard
    // convention): the final probe at i == MaxIters - 1 already measured
    // whether labels moved — returning unconverged labels would silently
    // SPLIT a deep component (e.g. a mirror-farm chain beyond 2^MaxIters)
    // into several keep/drop groups, corrupting the dedup decision
    require(converged,
      s"connectedComponents did not converge within its fixed budget of $MaxIters " +
        "hops — a component's diameter exceeds it (with path halving, " +
        s"depth > ~2^$MaxIters)")
    labels
  }

  /** Moved-row count of one hop: read the observation the checkpoint job
    * just populated; if the listener bus has not delivered it within 2 s
    * (observation results are async — the q41CandidateCount caveat), fall
    * back to the explicit scan of the checkpointed blocks. The fallback
    * preserves exactness: the observation is an optimization of the probe,
    * never its only source of truth. */
  private def movedCount(
      hop: DataFrame, obs: org.apache.spark.sql.Observation): Long =
    Try(Await.result(obs.future, 2.seconds)) match {
      case Success(row) => row.getLong(row.fieldIndex("moved"))
      case _ =>
        System.err.println("[cc] observation not delivered — fallback probe")
        hop.filter(col("rep") =!= col("prev")).limit(1).count()
    }

  /** Group summary: representative, exact member count, members (bounded).
    *
    * The members list is capped at `MemberCap` ids BEFORE aggregation:
    * rows beyond the cap are dropped by a rank filter, so the
    * collect_list buffer itself is bounded — slicing after collect_list
    * would still materialize a mirror-farm mega-cluster's millions of
    * ids in one task's agg buffer (the window sort spills; an agg buffer
    * does not). n_members stays the exact full count. The scale-safe
    * primary output of a dedup pass remains the (id, rep) label table
    * from connectedComponents; `members` is the bounded summary view. */
  def groups(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = connectedComponents(pairs)
    // ONE aggregation over the window's existing rep-partitioning instead
    // of the former two (counts + capped members) joined back together:
    // collect_list skips nulls, so when(rnk <= cap, id) bounds the agg
    // buffer exactly like the old rank-filter-then-collect while count(*)
    // still sees every row — same output, minus one groupBy exchange and
    // the rep-keyed join (the window already partitioned by rep, so the
    // single groupBy reuses that exchange)
    labels
      .withColumn("rnk", row_number().over(Window.partitionBy("rep").orderBy("id")))
      .groupBy("rep")
      .agg(
        count(lit(1)).as("n_members"),
        sort_array(collect_list(when(col("rnk") <= MemberCap, col("id"))))
          .as("members"))
  }
}
