package graft

import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.DedupGroups

class DedupGroupsSpec extends AnyFunSuite with SparkTestBase {

  test("connected components: chains, diamonds, singleton edges") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {10,11,12} (triangle+tail via 10-11,
    // 11-12, 10-12), {20,21}
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("id_a", "id_b")
    val got = DedupGroups.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("groups: representative is min id, members sorted") {
    import spark.implicits._
    val pairs = Seq((5L, 9L), (9L, 7L), (100L, 42L)).toDF("a", "b")
    val got = DedupGroups.groups(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    assert(got == Set(
      (5L, 3L, Seq(5L, 7L, 9L)),
      (42L, 2L, Seq(42L, 100L))))
  }

  test("long chain fully converges within the hop bound (path halving)") {
    import spark.implicits._
    val n = 60
    val pairs = (0 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    val labels = DedupGroups.connectedComponents(pairs)
      .collect().map(r => r.getLong(1)).toSet
    assert(labels == Set(0L), s"chain did not contract: $labels")
  }

  // round-8 pin: the round loop carries the convergence probe inside the
  // checkpoint job as a CollectMetrics observation and runs at the
  // session's width. Under an odd session width the labels stay exact
  // and the session conf is left untouched.
  test("odd shuffle width: labels exact, session conf untouched") {
    import spark.implicits._
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "7") // distinctive width to observe restoration
      val pairs = ((0 until 40).map(i => (i.toLong, (i + 1).toLong)) ++
        Seq((100L, 101L), (200L, 201L), (201L, 202L))).toDF("a", "b")
      val got = DedupGroups.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = (0 to 40).map(_.toLong -> 0L).toMap ++
        Map(100L -> 100L, 101L -> 100L, 200L -> 200L, 201L -> 200L, 202L -> 200L)
      assert(got == want)
      assert(spark.conf.get(key) == "7",
        s"hop loop leaked its derived shuffle-partition setting: ${spark.conf.get(key)}")
    } finally spark.conf.set(key, saved)
  }

  test("r8: observed-probe convergence equals a brute-force grouping") {
    import spark.implicits._
    // adversarial mix: star, chain, triangle with cross edge, self-loop
    val pairs = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L),
      (10L, 11L), (11L, 12L), (12L, 13L),
      (20L, 21L), (21L, 22L), (20L, 22L),
      (30L, 30L)).toDF("a", "b")
    val got = DedupGroups.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute force: union-find on the driver over the same edge list
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (10L, 11L), (11L, 12L),
      (12L, 13L), (20L, 21L), (21L, 22L), (20L, 22L), (30L, 30L))
      .foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    val want = parent.keys.map(v => v -> find(v)).toMap
    assert(got == want)
  }

  /** A path 0 - 1 - ... - edges, numbered from one end. */
  private def chain(edges: Int) = {
    import spark.implicits._
    (0 until edges).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
  }

  test("round budget: the longest covered chain converges, one vertex more throws") {
    // round k starts from labels 2^(k-1) vertices back (DedupGroups.MaxIters)
    val covered = 1 << (DedupGroups.MaxIters - 1)
    val labels = DedupGroups.connectedComponents(chain(covered))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == covered + 1 && labels.forall(_._2 == 0L))
    val e = intercept[IllegalArgumentException](
      DedupGroups.connectedComponents(chain(covered + 1)))
    assert(e.getMessage.contains(s"fixed budget of ${DedupGroups.MaxIters} rounds"), e.getMessage)
  }

  test("a failed round leaves nothing in the session's cache") {
    spark.catalog.clearCache()
    val pairs = spark.range(10).select(col("id").as("a"),
      when(col("id") === 5, raise_error(lit("planted round failure")))
        .otherwise(col("id") + 1).as("b"))
    val e = intercept[Exception](DedupGroups.connectedComponents(pairs))
    assert(e.getMessage.contains("planted round failure"), e.getMessage)
    assert(org.apache.spark.sql.CachedPlans.isEmpty(spark), "the persisted edges outlived the failure")
  }

  test("Spark jobs per call: chains and diamonds, and a graph of 2-vertex components") {
    import spark.implicits._
    // one checkpoint job per round, and the first labels settle every
    // star, so 2-vertex components take a single round
    val mixed = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("id_a", "id_b")
    // q15's doc-plus-mutant shape: each doc paired with its planted copy
    val docMutant = (0L until 50L).map(i => (i, i + 100000L)).toDF("id_a", "id_b")
    for ((pairs, want) <- Seq(mixed -> 15, docMutant -> 9)) {
      val jobs = jobsOf(DedupGroups.connectedComponents(pairs))
      assert(jobs.size == want, s"${jobs.size} jobs, want $want:\n${jobs.mkString("\n")}")
    }
  }
}
