package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** The spark.sql.extensions path: a session built with GraftExtensions
  * resolves the native functions by SQL name with no registerAll call. */
class ExtensionsSpec extends AnyFunSuite with SparkTestBase {

  test("session built with GraftExtensions resolves native SQL functions") {
    spark // ensure the shared context exists first
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // spark.sql.extensions is static conf — it only applies when the
      // SparkContext is created, and tests share one context; the
      // programmatic withExtensions path exercises the same entry point
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.functions.GraftExtensions())
        .getOrCreate()
      // ALL SIX registered expressions — the extensions path iterates
      // the same registry as registerAll, so a function missing here is
      // a registry bug, not a copy-table drift (the round-4 review found
      // minhash_bands absent from the old hand-written table)
      val row = s2.sql(
        """SELECT half_float(0.7425D) AS h,
                  simhash64('the quick brown fox') AS s,
                  dot_i64(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d,
                  minhash_bands(array('ab', 'cd')) AS m,
                  distinct_overlap(array('a', 'b', 'c'), array('b', 'c', 'd')) AS o,
                  sorted_overlap_i64(array(1L, 3L, 5L), array(3L, 4L, 5L)) AS so""").head()
      assert(row.getFloat(0) == graft.textops.Float16.quantize(0.7425))
      assert(row.getLong(1) == graft.functions.SimHashText("the quick brown fox"))
      assert(row.getLong(2) == 32L)
      assert(row.getSeq[String](3).length == 4) // 4 r=2 band buckets
      assert(row.getLong(4) == 2L)
      assert(row.getLong(5) == 2L)
      // wrong arity fails analysis with a NAMED message, not a raw
      // exception from the builder; one binary and one unary call, as the
      // check is shared by every registry entry
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      Seq("SELECT dot_i64(array(1L))" -> "dot_i64 expects 2",
          "SELECT simhash64('a', 'b')" -> "simhash64 expects 1").foreach { case (q, want) =>
        val e = intercept[Exception] { s2.sql(q).head() }
        assert(messages(e).exists(_.contains(want)), messages(e).mkString("; "))
      }
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("registerAll registers each function once per session") {
    // every embedding query calls registerAll on entry; a repeat call must
    // keep the first registration rather than replace it
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val s = spark.newSession()
    val registry = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    val names = Seq("half_float", "simhash64", "dot_i64", "minhash_bands",
      "distinct_overlap", "sorted_overlap_i64")
    graft.functions.GraftFunctions.registerAll(s)
    val first = names.map(n => registry.lookupFunction(FunctionIdentifier(n)))
    assert(first.forall(_.isDefined), first)
    graft.functions.GraftFunctions.registerAll(s)
    names.zip(first).foreach { case (n, info) =>
      assert(registry.lookupFunction(FunctionIdentifier(n)).exists(_ eq info.get),
        s"$n was registered again")
    }
    assert(s.sql("SELECT dot_i64(array(1L, 2L), array(3L, 4L))").head().getLong(0) == 11L)
  }

  test("distinct_overlap equals size(array_intersect) on distinct arrays (incl. null/empty edges)") {
    // the r8 confirm-stage expression: its contract is exact equality
    // with size(array_intersect(a, b)) for distinct-element arrays,
    // null-element edge included (counts iff both sides hold one)
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (0 until 300).map { i =>
      def arr(seed: Int): Seq[String] = {
        val n = if ((i + seed) % 11 == 0) 0 else rnd.nextInt(30)
        val base = scala.util.Random.shuffle(
          (0 until 60).map(k => s"w$k").toList).take(n)
        if ((i + seed) % 7 == 0 && n > 0) base.updated(0, null) else base
      }
      (i.toLong, arr(0), arr(3))
    }
    val df = rows.toDF("id", "a", "b")
    val got = df.select(col("id"),
        graft.functions.GraftFunctions.distinct_overlap(col("a"), col("b")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = df.selectExpr("id", "CAST(size(array_intersect(a, b)) AS BIGINT)")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("sorted_overlap_i64 equals size(array_intersect) on sorted distinct long arrays") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val rows = (0 until 300).map { i =>
      def arr(): Seq[Long] = {
        val n = if (i % 13 == 0) 0 else rnd.nextInt(40)
        scala.util.Random.shuffle((0L until 80L).toList).take(n).sorted
      }
      (i.toLong, arr(), arr())
    }
    val df = rows.toDF("id", "a", "b")
    val got = df.select(col("id"),
        graft.functions.GraftFunctions.sorted_overlap_i64(col("a"), col("b")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = df.selectExpr("id", "CAST(size(array_intersect(a, b)) AS BIGINT)")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }
}
