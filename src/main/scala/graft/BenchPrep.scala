package graft
import org.apache.spark.sql.SparkSession
/** Materialize a bench corpus once for ladder/volume probes (scratch
  * utility). `BenchPrep dir nDocs [heavy]` — with the `heavy` flag the
  * corpus carries the power-law page-size tail (1-in-97 docs tiled
  * 50-100x, ExtractPipeline.heavyTailPages), for byte-skew evidence at
  * volumes the in-run bench leg does not reach. */
object BenchPrep {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val n = args(1).toLong
    val heavy = args.length > 2 && args(2) == "heavy"
    val spark = SparkSession.builder().master("local[*]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val pages =
      if (heavy) graft.pipeline.ExtractPipeline.heavyTailPages(spark, n, 128)
      else graft.pipeline.ExtractPipeline.pages(spark, n, 128)
    pages.write.mode("overwrite").parquet(s"$dir/pages")
    graft.pipeline.ExtractPipeline.pages(spark, 4000, 32)
      .write.mode("overwrite").parquet(s"$dir/warm")
    println("PREP_OK")
    spark.stop()
  }
}
