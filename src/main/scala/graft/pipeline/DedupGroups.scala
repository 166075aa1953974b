package graft.pipeline

import scala.concurrent.Await
import scala.concurrent.duration.DurationInt
import scala.util.{Success, Try}
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Turn near-duplicate PAIRS (from LSH/SimHash/embedding passes) into
  * duplicate GROUPS: connected components by min-label propagation with
  * pointer jumping (shortcutting, as in Shiloach–Vishkin), the standard
  * large-graph approach when components are shallow (duplicate clusters
  * are tiny — a handful of crawls of the same page — so a few rounds
  * converge). Each round is one plan and one checkpoint job: a vertex's
  * new label is the minimum of its label's label (the jump) and its
  * neighbours' labels, all looked up in the previous round's labels by
  * one join and one groupBy.
  *
  * Returns (id, rep) where rep = the component's minimum id — the row to
  * KEEP; everything else in the group is the drop set.
  */
object DedupGroups {

  /** Round budget. The first labels (each vertex's minimum over itself
    * and its neighbours) reach one vertex back along a chain, and each
    * round doubles the reach, so round k starts 2^(k-1) back and moves
    * nothing once that covers the chain: 11 rounds settle every chain of
    * up to 2^10 = 1024 edges. */
  private[graft] val MaxIters = 11

  /** Members listed per group by [[groups]]. */
  private val MemberCap = 100

  /** @param pairs two columns, (id_a, id_b), undirected edges */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val edges = pairs.toDF("a", "b")
      .union(pairs.toDF("b", "a").select(col("a"), col("b")))
      .distinct()
      .persist()
    try {
      // first labels: each vertex's minimum over itself and its
      // neighbours. This settles every star (a doc and its mutant), so
      // such a component's first round already moves nothing
      var labels = edges.groupBy(col("a").as("id"))
        .agg(min("b").as("nbrMin"))
        .select(col("id"), least(col("id"), col("nbrMin")).as("rep"))
      var converged = false
      var i = 0
      while (!converged && i < MaxIters) {
        // one lookup per neighbour, plus one of the vertex's own label
        // (jump): the min over the looked-up labels is the neighbours'
        // min and the label's label at once, and the jump row's key is
        // the incoming label, kept as `prev` for the moved count
        val lookups = edges.withColumn("jump", lit(false))
          .union(labels.select(col("id"), col("rep"), lit(true)))
        // eager localCheckpoint truncates the logical plan each round —
        // without it the self-joins double the plan tree per round and
        // the analyzer stack-overflows. The moved-row count rides INSIDE
        // the checkpoint job as a CollectMetrics observation (the q41
        // candidate-probe pattern), so the probe starts no job of its own
        val obs = Observation()
        val round = lookups
          .join(labels.select(col("id").as("b"), col("rep").as("bRep")), "b")
          .groupBy(col("a").as("id"))
          .agg(min("bRep").as("rep"), min(when(col("jump"), col("b"))).as("prev"))
          .observe(obs, count(when(col("rep") =!= col("prev"), 1)).as("moved"))
          .localCheckpoint(true)
        // a round that moved nothing is the fixpoint: every label is at
        // most its neighbours', so labels are uniform per component, and
        // the component's minimum id only ever labels itself
        converged = movedCount(round, obs) == 0L
        labels = round
        i += 1
      }
      // fail-loud on an exhausted round budget (the file's q15/q16/q26
      // guard convention): returning unconverged labels would silently
      // SPLIT a deep component (e.g. a mirror-farm chain beyond the
      // budget) into several keep/drop groups, corrupting the dedup
      // decision
      require(converged,
        s"connectedComponents did not converge within its fixed budget of $MaxIters " +
          "rounds — a component's diameter exceeds it (with pointer jumping, " +
          s"a chain of more than 2^${MaxIters - 1} edges)")
      labels.select(col("id"), col("rep"))
    } finally edges.unpersist()
  }

  /** Moved-row count of one round: read the observation the checkpoint job
    * just populated; if the listener bus has not delivered it within 2 s
    * (observation results are async — the q41CandidateCount caveat), fall
    * back to the explicit scan of the checkpointed blocks. The fallback
    * preserves exactness: the observation is an optimization of the probe,
    * never its only source of truth. */
  private def movedCount(round: DataFrame, obs: Observation): Long =
    Try(Await.result(obs.future, 2.seconds)) match {
      case Success(row) => row.getLong(row.fieldIndex("moved"))
      case _ =>
        System.err.println("[cc] observation not delivered — fallback probe")
        round.filter(col("rep") =!= col("prev")).limit(1).count()
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
