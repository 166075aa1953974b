package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Fixed Spark work that calls none of the program's code, on a table
  * the benchmark generates itself: two jobs of different shape, a scan
  * that splits and hashes every word, and the same scan followed by a
  * hash aggregate over a shuffle. They run in the same session as the
  * workload, between the timed passes, so they see the same host, cores,
  * JIT and heap; their time tells how fast the host ran Spark work at
  * that moment. Pass times are divided by it. Each job alone varied
  * between runs in ways the other did not; the geometric mean of the two
  * tracked the passes of both workloads more closely than either.
  */
final class Reference(spark: SparkSession, dir: String) {
  private val rows = 15000L
  private val parts = 4 * spark.sparkContext.defaultParallelism

  def setup(): Unit =
    spark.range(0, rows, 1, parts)
      .select(col("id"), concat_ws(" ", (0 until 12).map(i =>
        sha1(concat(col("id").cast("string"), lit(s"-$i")))): _*).as("text"))
      .write.mode("overwrite").parquet(s"$dir/in")

  private def words = spark.read.parquet(s"$dir/in").select(explode(split(col("text"), " ")).as("w"))

  private def timedS(f: => Long): Double = {
    val t0 = System.nanoTime()
    require(f == rows * 12, "reference job lost rows")
    (System.nanoTime() - t0) / 1e9
  }

  /** Both jobs once; returns the geometric mean of their wall seconds. */
  def run(): Double = {
    val scan = timedS(words.agg(count(lit(1)), sum(pmod(xxhash64(col("w")), lit(1000003L))))
      .head().getLong(0))
    val shuffle = timedS(words.groupBy(substring(col("w"), 1, 3).as("k"))
      .agg(count(lit(1)).as("n"), max(col("w")).as("m")).collect().map(_.getLong(1)).sum)
    math.sqrt(scan * shuffle)
  }
}

object Reference {
  /** The reference's time on the 4-CPU host these figures were first
    * taken on, in a quiet window; `norm_pass_s` is pass time scaled to a
    * host that runs the reference in this time. */
  val CanonicalS: Double = 0.3
}
