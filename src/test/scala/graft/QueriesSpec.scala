package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import graft.queries.Queries
import graft.textops.TextOps

/** Executes every SparkEntry query against the smallest fixture and pins
  * (a) non-empty results, (b) value-level spot checks against pure-Scala
  * recomputation, (c) the physical-plan properties that matter at 100 TB:
  * filter pushdown into the parquet scan, broadcast joins for dims,
  * whole-stage codegen on the scoring arithmetic.
  */
class QueriesSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) =
    Queries.all.find(_.name == name).get.fn(spark, sf)

  // q16 is the brute-force O(n^2) baseline and the most expensive query
  // here; three tests consume its exact top-1 map — compute once
  private lazy val exactTop1: Map[Long, Long] =
    run("q16_ann_topk").filter("rnk = 1").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  // ONE copy of the e3-quantize + integer-cosine arithmetic the ANN
  // queries share (q16/q34 tests both recompute "exact" neighbors with
  // it; divergent copies would make their recall assertions disagree
  // for reasons that look like an ANN regression)
  private def quantizeE3(v: Array[Float]): Array[Long] =
    v.map(x => math.floor(x.toDouble * 1000.0 + 0.5).toLong)
  private def intCos(a: Array[Long], b: Array[Long]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    dot.toDouble / (math.sqrt(a.map(x => x * x).sum.toDouble) * math.sqrt(b.map(x => x * x).sum.toDouble))
  }

  test("every query executes and returns rows on sf0.001") {
    Queries.all.foreach { q =>
      val n = q.fn(spark, sf).count()
      assert(n > 0, s"${q.name} returned 0 rows")
    }
  }

  test("bench mode (auxDumpEnabled=false) yields identical results to verify mode") {
    // queries that round-trip their input through an aux-parquet dump for
    // the oracle must return the SAME rows when bench mode skips the dump
    def rows(name: String) =
      run(name).collect().map(_.toSeq).toSet
    val verifyMode = rows("q18_simhash")
    // restore the SAVED value, not a literal (round-6 test review: a
    // harness that set the global flag false would be silently flipped
    // back to dumping by this finally)
    val saved = Queries.auxDumpEnabled
    Queries.auxDumpEnabled = false
    try {
      assert(rows("q18_simhash") == verifyMode)
      assert(run("q21_citation_edges").count() > 0)
    } finally Queries.auxDumpEnabled = saved
  }

  test("Q15Result rebuilds after spark.catalog.clearCache (no stale unpersisted hit)") {
    import org.apache.spark.storage.StorageLevel
    val before = run("q25_dedup_groups").collect().map(_.toSeq).toSet
    val pairs0 = Queries.q15CachedPairs(spark, sf).get
    assert(pairs0.storageLevel != StorageLevel.NONE)
    // a session-wide cache drop (any embedding app may do this between
    // jobs) unpersists the pairs but leaves the (session, dir) hit live
    spark.catalog.clearCache()
    assert(pairs0.storageLevel == StorageLevel.NONE)
    // the round-3 footgun: a stale hit here would hand q25 an UNPERSISTED
    // pairs plan and the whole LSH pipeline would re-run inside every CC
    // hop join. The fix re-checks storageLevel and rebuilds.
    val after = run("q25_dedup_groups").collect().map(_.toSeq).toSet
    val pairs1 = Queries.q15CachedPairs(spark, sf).get
    assert(pairs1.storageLevel != StorageLevel.NONE,
      "q25 consumed an unpersisted q15 pairs plan after clearCache")
    assert(after == before)
  }

  test("invalidateResultCaches forces a genuinely fresh q15/q25 build") {
    import org.apache.spark.storage.StorageLevel
    // the anomaly-retry harness calls this before re-running q15/q25;
    // if the hook ever stops dropping the Q15Result entry the retry
    // silently measures a cache read again (round-7 review finding)
    val before = run("q25_dedup_groups").collect().map(_.toSeq).toSet
    val pairs0 = Queries.q15CachedPairs(spark, sf).get
    assert(pairs0.storageLevel != StorageLevel.NONE)
    Queries.invalidateResultCaches()
    assert(Queries.q15CachedPairs(spark, sf).isEmpty,
      "Q15Result entry survived invalidateResultCaches")
    assert(pairs0.storageLevel == StorageLevel.NONE,
      "invalidate must unpersist the dropped pairs frame")
    // and the rebuild reproduces the same groups
    assert(run("q25_dedup_groups").collect().map(_.toSeq).toSet == before)
    assert(Queries.q15CachedPairs(spark, sf).isDefined)
  }

  test("q40 streaming rollup deduplicates the planted duplicate pages") {
    // q40 writes every page TWICE; the watermarked dedup must halve it,
    // and the rollup totals are the sbt-side pin for the rows-only
    // driver check
    val rows = run("q40_stream_extract").collect()
    val totalDocs = rows.map(_.getAs[Long]("n_docs")).sum
    assert(totalDocs == 200, s"expected 200 unique docs after dedup, got $totalDocs")
    assert(rows.map(_.getAs[Long]("n_ok")).sum == 200)
    assert(rows.map(_.getAs[String]("kind")).toSet == Set("html", "pdf"))
  }

  test("q42 byte-weighted routing is result-invisible on the heavy-tail corpus") {
    // the invariant the oracle's WHERE guard asserts, pinned here too so
    // a violation fails fast in sbt (not only as a driver row mismatch)
    val rows = run("q42_byte_weighted_route").collect()
    assert(rows.map(_.getAs[String]("kind")).toSet == Set("html", "pdf"))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") == r.getAs[Long]("n_identical"),
        s"${r.getAs[String]("kind")}: only ${r.getAs[Long]("n_identical")} " +
          s"of ${r.getAs[Long]("n_docs")} docs identical under byte-weighted routing")
    }
    assert(rows.map(_.getAs[Long]("n_docs")).sum == 1200)
  }

  test("oracle SQL exists for every SQL-expressible query") {
    val withOracle = Queries.all.count(_.oracle.isDefined)
    // 41 queries, ALL 41 oracled as of round 6: q17 — the last no_oracle
    // row — gained a dump-re-derive oracle (extracted + golden texts
    // dumped verbatim, DuckDB re-derives the full-outer join and the
    // per-kind byte-identical rollup); the extraction ALGORITHMS stay
    // pinned by the sbt golden byte-equality suite. q27/q40/q19 gained
    // their dump-re-derive oracles in round 5; q42 (byte-weighted-route
    // result identity, invariant-asserting oracle) arrived in round 7.
    assert(withOracle == 42)
    // no duplicate query names (the Map would silently collapse them and
    // the driver would lose a query)
    assert(SparkEntry.queries.size == Queries.all.size)
    assert(SparkEntry.oracleSql.size == withOracle)
    // every oracle is a real SELECT/CTE, not an empty placeholder
    Queries.all.flatMap(_.oracle).foreach(sql =>
      assert(sql.toUpperCase.contains("SELECT"), sql.take(80)))
  }

  test("q24 LSH-ANN recalls most exact top-1 neighbors at a fraction of the pairs") {
    val exact = exactTop1
    val lsh = run("q24_ann_lsh").filter("rnk = 1").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = exact.count { case (p, n) => lsh.get(p).contains(n) }
    val recall = hits.toDouble / exact.size
    assert(recall >= 0.65, s"SRP-LSH top-1 recall $recall too low")
  }

  test("q34 IVF-ANN probes a fraction of the corpus yet recalls neighbors") {
    // recompute the IVF structure in plain Scala to measure the candidate
    // fraction the query's cell join actually touches
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> quantizeE3(r.getSeq[Float](1).toArray))
    val cents = vecs.filter(_._1 < 16)
    def ranked(v: Array[Long]) =
      cents.map { case (cid, cv) => (cid, intCos(v, cv)) }.sortBy { case (c, s) => (-s, c) }
    val cellOf = vecs.map { case (id, v) => id -> ranked(v).head._1 }.toMap
    val cellPop = cellOf.values.groupBy(identity).view.mapValues(_.size).toMap
    val probeCand = vecs.filter(_._1 < 100).map { case (id, v) =>
      ranked(v).take(2).map { case (cid, _) => cellPop.getOrElse(cid, 0) }.sum
    }
    val avgCand = probeCand.sum.toDouble / probeCand.length
    // nprobe=2 of k=16 cells: candidates must be a strict fraction of the
    // 499-vector brute-force scan per probe
    assert(avgCand < vecs.length * 0.6,
      s"IVF prunes nothing: avg candidates $avgCand of ${vecs.length}")
    val exact = exactTop1
    val ivf = run("q34_ann_ivf").collect()
    val top1 = ivf.filter(_.getLong(2) == 1L).map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = exact.count { case (p, n) => top1.get(p).contains(n) }
    val recall = hits.toDouble / exact.size
    // random vectors + sampled centroids: structure check, modest bar
    assert(recall >= 0.2, s"IVF top-1 recall $recall")
  }

  test("q09_wordscore matches pure-Scala recomputation per doc") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val target = Set("spark", "table", "query", "join", "agg", "scan", "hash", "merge", "sort", "stream")
    val bycatch = Set("slow", "big", "small")
    val got = run("q09_wordscore").collect()
    assert(got.length == docs.size)
    got.foreach { r =>
      val text = docs(r.getLong(0))
      val toks = TextOps.tokenize(text)
      val m = toks.count(target.contains)
      val b = toks.count(bycatch.contains)
      val t = toks.length
      assert(r.getLong(1) == m, s"doc ${r.getLong(0)} matching_terms")
      assert(r.getLong(2) == b)
      assert(r.getLong(3) == t)
      val score = math.min(1.0, math.max(0.0, (m * 1.0 + b * -0.25 + (t - m - b) * 0.5) / t))
      assert(r.getLong(4) == math.floor(score * 10000.0 + 0.5).toLong)
    }
  }

  test("q16_ann_topk: rank-1 neighbor matches brute-force cosine") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val top1 = exactTop1
    assert(top1.nonEmpty)
    top1.foreach { case (probe, neighbor) =>
      val pv = quantizeE3(vecs(probe))
      val best = vecs.filter(_._1 != probe)
        .map { case (id, v) => (id, intCos(pv, quantizeE3(v))) }
        .maxBy { case (id, c) => (c, -id) } // tie-break: smaller id wins
      assert(neighbor == best._1, s"probe $probe: got $neighbor want ${best._1}")
    }
  }

  test("q15_lsh_near_dup finds every planted mutant pair") {
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    val pairs = run("q15_lsh_near_dup").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every doc's mutated copy (id+1000000, first token dropped) must be
    // recalled through the 4-band r=2 LSH + jaccard>=0.8 gate
    val planted = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id").collect().map(_.getLong(0))
      .map(id => (id, id + 1000000L)).toSet
    val recalled = planted.intersect(pairs)
    assert(recalled.size >= (nDocs * 0.95).toInt,
      s"LSH recall too low: ${recalled.size}/$nDocs")
  }

  test("q15/q25: hot buckets star-link instead of emitting all pairs") {
    // 40 EXACT copies of one text share every band bucket, so with the
    // mutants the cluster's buckets exceed BucketCap (32) and must take
    // the star-edge path: bounded candidates, but the whole cluster
    // still connects into ONE q25 group through the representative
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_hot").toString
    val hotText = (1 to 30).map(i => s"w${i % 9}").mkString(" ")
    val docs = (0L until 40L).map(id => (id, hotText)) ++
      (40L until 50L).map(id => (id, s"unique text number $id with filler tokens ${id * 7} ${id * 13} ${id * 31}"))
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val pairs = Queries.all.find(_.name == "q15_lsh_near_dup").get
      .fn(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1)))
    val cluster = (0L until 40L).toSet ++ (1000000L until 1000040L)
    val inCluster = pairs.filter(p => cluster(p._1) && cluster(p._2))
    // all-pairs over the 80-member cluster would be C(80,2) = 3160;
    // star-linking bounds it near the member count
    assert(inCluster.nonEmpty && inCluster.length < 400,
      s"hot bucket emitted ${inCluster.length} pairs — cap not applied?")
    // connectivity: every cluster member reachable from the rest via the
    // confirmed edges (one group, nothing stranded by the cap)
    val groups = Queries.all.find(_.name == "q25_dedup_groups").get
      .fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hotGroup = groups.filter { case (_, n) => n >= 80 }
    assert(hotGroup.size == 1 && hotGroup.head._2 == 80,
      s"hot cluster fragmented: groups >= 80 members: $hotGroup")
  }

  test("q26 offset scales past 100k vec ids instead of refusing (sparse ids)") {
    // 50 vectors whose ids REACH 147k: the perturbed-copy offset must
    // jump to 1e6 (smallest power of ten above max id) and every
    // original still pairs with its perturbed copy
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_vec").toString
    val rnd = new scala.util.Random(11)
    (0 until 50).map { i =>
      val v = Array.fill(64)(rnd.nextGaussian())
      val nrm = math.sqrt(v.map(x => x * x).sum)
      (i * 3000L, v.map(x => (x / nrm).toFloat))
    }.toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    // this corpus deliberately leaves the oracle's static domain
    // (offset jumps to 1e6) — verify mode would fail LOUDLY on it by
    // design, so run the query as a bench/scale caller would
    val saved = Queries.auxDumpEnabled
    Queries.auxDumpEnabled = false
    val out =
      try Queries.all.find(_.name == "q26_embed_near_dup").get
        .fn(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1)))
      finally Queries.auxDumpEnabled = saved
    assert(out.length >= 45, s"perturbed pairs lost: ${out.length}/50")
    assert(out.forall { case (a, b) => b == a + 1000000L },
      s"expected (id, id+1e6) pairs, got: ${out.take(5).mkString(",")}")
    // and the guard itself: verify mode on this dir must refuse loudly
    val e = intercept[IllegalArgumentException] {
      Queries.all.find(_.name == "q26_embed_near_dup").get.fn(spark, dir)
    }
    assert(e.getMessage.contains("oracle domain exceeded"))
  }

  test("q41_jaccard_join equals brute-force bigram Jaccard (prefix filter is lossless)") {
    // unlike LSH, prefix filtering has NO recall parameter: the output
    // must match an all-pairs recomputation exactly, planted mutants and
    // chance pairs alike
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> TextOps.tokenize(r.getString(1)).toVector)
    def bigrams(toks: Vector[String]): Set[String] =
      if (toks.length < 2) Set.empty
      else toks.sliding(2).map(_.mkString(" ")).toSet
    val sets = (docs.map { case (id, t) => id -> bigrams(t) } ++
      docs.map { case (id, t) => (id + 1000000L) -> bigrams(t.drop(1)) }).toMap
    val ids = sets.keys.toVector.sorted
    val expected = (for {
      i <- ids.indices.iterator
      j <- (i + 1) until ids.length
      a = sets(ids(i)); b = sets(ids(j))
      union = (a ++ b).size
      if union > 0
      inter = a.intersect(b).size
      // the exact RATIONAL tau=0.9 gate the query promises (an e4-rounded
      // gate would include J just below 0.9 that blocking never proposes)
      if 10 * inter >= 9 * union
    } yield (ids(i), ids(j), math.floor(10000.0 * inter / union + 0.5).toLong)).toSet
    val got = run("q41_jaccard_join").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("minhash_bands is byte-identical to the SQL md5 lane construction") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(5)
    // random shingle arrays incl. EMPTY arrays (the null-bucket path)
    val rows = (0 until 200).map { i =>
      val n = if (i % 17 == 0) 0 else rnd.nextInt(40)
      (i.toLong, (0 until n).map(_ =>
        s"w${rnd.nextInt(50)} x${rnd.nextInt(9)} y${rnd.nextInt(9)}"))
    }
    val df = rows.toDF("id", "sh")
    def collect(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSet
    val viaSql = collect(df
      .selectExpr("id",
        "transform(sh, w -> concat(md5(CAST(w AS BINARY)), md5(CAST(concat(w, '#') AS BINARY)))) AS hs")
      .selectExpr("id", "hs", "explode(sequence(0, 3)) AS b")
      .selectExpr("id", "b",
        "concat(array_min(transform(hs, h -> substring(h, 16*b + 1, 8))), " +
          "array_min(transform(hs, h -> substring(h, 16*b + 9, 8)))) AS bucket"))
    val viaNative = collect(df
      .select(col("id"),
        graft.functions.GraftFunctions.minhash_bands(col("sh")).as("buckets"))
      .selectExpr("id", "posexplode(buckets) AS (b, bucket)"))
    assert(viaNative == viaSql)
    // empty arrays produced 4 null-bucket rows in BOTH forms
    assert(viaNative.exists(_._3 == null))
  }

  private def executedPlanString(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // materialize so AQE finalizes the plan
    df.queryExecution.executedPlan.toString
  }

  test("q02 pushes the shipdate predicate into the parquet scan") {
    val plan = executedPlanString(run("q02_filter_monthly"))
    assert(plan.contains("PushedFilters:"), plan.take(500))
    assert(plan.contains("GreaterThanOrEqual(l_shipdate") || plan.contains("GreaterThanOrEqual(`l_shipdate`"),
      "shipdate range not pushed: " + plan.take(2000))
  }

  test("q03/q04/q16 use broadcast hash joins for small sides") {
    Seq("q03_join_revenue", "q04_dim_bcast", "q16_ann_topk").foreach { name =>
      val plan = executedPlanString(run(name))
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
        s"$name has no broadcast join:\n${plan.take(1500)}")
    }
  }

  test("q34 assigns cells map-side: no BNLJ, no assignment window, no persist") {
    // round-2 verdict's one plan flaw: centroid assignment as
    // broadcast-join + row_number window materialized k=16 rows per
    // corpus vector through a full-corpus exchange. The fix folds the
    // centroids into the projection — the ONLY Window left is the final
    // top-5 re-rank over probe candidates.
    val df = run("q34_ann_ivf")
    df.collect()
    // AQE's toString prints "== Final Plan ==" then "== Initial Plan =="
    // (the same tree twice) — assert on the final section only
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"q34 assignment regressed to a centroid cross join:\n${plan.take(1500)}")
    assert(!plan.contains("InMemoryTableScan"),
      s"q34 persists an assignment blow-up:\n${plan.take(1500)}")
    // "Window " (trailing space) matches the Window operator but not the
    // WindowGroupLimit top-k optimization
    val windowOps = plan.split("\n").count(_.contains("Window "))
    assert(windowOps <= 1, s"q34 has $windowOps Window operators (want only the re-rank):\n$plan")
  }

  // Exchange (shuffle + broadcast) nodes in the pre-AQE physical plan:
  // `sparkPlan` holds none until EnsureRequirements runs, so this reads
  // AQE's initialPlan (sparkPlan after EnsureRequirements, before any
  // runtime re-planning), descending into each persisted intermediate's
  // own initial plan so a cached stage's exchanges count too
  private def exchangeCount(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchangeCount(a.initialPlan)
    case m: InMemoryTableScanExec => exchangeCount(m.relation.cachedPlan)
    case e: Exchange => 1 + e.children.map(exchangeCount).sum
    case other => other.children.map(exchangeCount).sum
  }

  test("near-dup/ANN queries keep their pre-AQE Exchange counts") {
    // ROADMAP item 4's "no query's Exchange count rises": the shared
    // candidate->re-rank core must not add a shuffle to any of the six
    // queries it serves. Fresh caches first: planning over a materialized
    // InMemoryRelation uses its real size, not the estimate
    Queries.invalidateResultCaches()
    Queries.releaseSwapCaches()
    // the counts from before the shared core existed
    val want = Map("q15_lsh_near_dup" -> 10, "q16_ann_topk" -> 2, "q24_ann_lsh" -> 4,
      "q26_embed_near_dup" -> 4, "q34_ann_ivf" -> 2, "q41_jaccard_join" -> 20)
    val got = want.keys.map(n => n -> exchangeCount(run(n).queryExecution.executedPlan)).toMap
    assert(got == want)
  }

  test("q16 guard refuses a corpus-scale brute-force broadcast") {
    intercept[IllegalArgumentException] {
      Queries.q16Guard(Queries.Q16MaxIndexRows + 1)
    }
    Queries.q16Guard(2000L) // fixture scale passes
  }

  test("q24 re-rank never FORCES a broadcast of the embedding table") {
    // round-1 finding: broadcasting the full index is the one scale-killer
    // in an otherwise right plan. The fix: no broadcast hint anywhere in
    // q24 — AQE may still pick a runtime broadcast when the actual side is
    // tiny (correct), but nothing in the plan demands one at 100 TB.
    val analyzed = run("q24_ann_lsh").queryExecution.analyzed.toString
    assert(!analyzed.toLowerCase.contains("hint"),
      s"q24 carries a join hint:\n${analyzed.take(1500)}")
  }

  test("scoring queries stay inside whole-stage codegen (no UDF break)") {
    Seq("q09_wordscore", "q10_langid", "q11_quality").foreach { name =>
      val df = run(name)
      df.collect()
      val plan = df.queryExecution.executedPlan
      def hasCodegen(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
        case _: WholeStageCodegenExec => true
        case a: AdaptiveSparkPlanExec => hasCodegen(a.executedPlan)
        case other => other.children.exists(hasCodegen)
      }
      assert(hasCodegen(plan), s"$name fell out of codegen")
    }
  }

  test("q02 scan prunes columns to the 3 referenced ones") {
    val plan = executedPlanString(run("q02_filter_monthly"))
    val readSchema = "ReadSchema:.*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.contains("l_shipdate"))
    assert(!readSchema.contains("l_extendedprice"),
      s"scan reads unneeded columns: $readSchema")
  }

  test("mutant-id offset scales by powers of ten and refuses overflow-risk id spaces") {
    // inside the oracle domain: the static floor survives untouched
    assert(Queries.mutantOffset(1000000L, 999999L) == 1000000L)
    // at/above the floor: grow to the next power of ten ABOVE max id
    assert(Queries.mutantOffset(1000000L, 1000000L) == 10000000L)
    assert(Queries.mutantOffset(100000L, 123456789L) == 1000000000L)
    // round-5 ADVICE: past ~1e18 the multiply would overflow Long and
    // wrap into a colliding / never-terminating offset — fail loudly
    intercept[IllegalArgumentException](
      Queries.mutantOffset(1000000L, Long.MaxValue))
    intercept[IllegalArgumentException](
      Queries.mutantOffset(1000000L, 100000000000000000L))
  }

  test("q15 excludes shingle-less docs (empty pages) instead of NaN-aborting") {
    // >BucketCap docs with < 3 tokens — the most common page class in a
    // real crawl. Before the size(sh)>0 filter they all shared one
    // degenerate bucket whose star tier paired them into 0/0-Jaccard
    // NaNs, and Spark 4's ANSI CAST(FLOOR(NaN) AS BIGINT) aborted the
    // whole query (round-6 review).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_emptydoc").toString
    val docs = (0L until 40L).map(id => (id, if (id % 2 == 0) "" else "one two")) ++
      (40L until 45L).map(id =>
        (id, "shared body text for the near dup gate with enough tokens"))
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val pairs = Queries.all.find(_.name == "q15_lsh_near_dup").get
      .fn(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1)))
    // the 5 identical full docs (and their mutants) still pair up...
    assert(pairs.nonEmpty, "normal near-dups lost")
    // ...but no pair touches a shingle-less doc (ids 0-39 or their
    // +1e6 mutants): Jaccard over empty shingle sets is undefined, and
    // exact empty-duplicate detection is q13's job
    assert(pairs.forall { case (a, b) => a % 1000000L >= 40L && b % 1000000L >= 40L },
      s"pairs touch shingle-less docs: ${pairs.filterNot { case (a, b) =>
        a % 1000000L >= 40L && b % 1000000L >= 40L }.take(5).mkString(",")}")
  }

  test("zero-norm embeddings are excluded from the ANN/near-dup queries, not NaN-aborted") {
    // one all-zero vector (a padding / failed-encode row): 0/0 cosine is
    // NaN and the ANSI cast to cos_e6 aborted q16/q24/q26/q34 before the
    // nrm > 0 guard (round-6 review)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zeronorm").toString
    val rnd = new scala.util.Random(7)
    (0 until 40).map { i =>
      if (i == 3) (i.toLong, Array.fill(64)(0.0f))
      else {
        val v = Array.fill(64)(rnd.nextGaussian())
        val nrm = math.sqrt(v.map(x => x * x).sum)
        (i.toLong, v.map(x => (x / nrm).toFloat))
      }
    }.toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    for (q <- Seq("q16_ann_topk", "q24_ann_lsh", "q34_ann_ivf", "q26_embed_near_dup")) {
      val out = Queries.all.find(_.name == q).get.fn(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(out.nonEmpty, s"$q returned nothing")
      // vec 3 has no cosine to anything — it must be absent, not NaN.
      // The forbidden ids are EXACT (3, and q26's perturbed copy at
      // 3 + the 1e5 offset this 40-vector corpus resolves to) — a
      // modulus test would misfire on legitimate large ids (round-6
      // test review)
      val forbidden = Set(3L, 100003L)
      assert(out.forall { case (a, b) => !forbidden(a) && !forbidden(b) },
        s"$q emitted rows for the zero-norm vector: ${out.filter { case (a, b) =>
          forbidden(a) || forbidden(b) }.take(5).mkString(",")}")
    }
  }
}
