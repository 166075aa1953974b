package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.queries.{Queries, RunCtx}
/** Driver-run correctness dump: every query's result → parquet, plus
  * oracle_sql.json, for the driver's DuckDB compare. The suite runs as one
  * verify-mode pass (one RunCtx), so q25 composes on q15's pairs, at
  * SPARK_GRAFT_CPUS cores (default: the host's CPU count, as in Bench). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // micros (not INT96) so the driver's pyarrow/DuckDB read the same
      // timestamp values Spark computed
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    var failed = List.empty[String]
    scala.util.Using.resource(new RunCtx(spark, sfDir, verify = true)) { ctx =>
      Queries.all.foreach { q =>
        try q.run(ctx).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${q.name}")
        catch { case e: Throwable =>
          System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
          failed ::= q.name
          // a failed query must not leave a STALE dump from a previous run
          // in place — the driver would compare old results and mask the
          // regression as a pass
          graft.util.Fs.deleteRecursively(new java.io.File(s"$outDir/${q.name}"))
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // rows-only queries (no oracle SQL) have no downstream check that
    // would notice a missing dump — compare_oracle iterates only the
    // oracle keys — so Verify itself must fail loudly or a q17-class
    // regression sails through the whole recipe green
    if (failed.nonEmpty) {
      System.err.println(s"[verify] FAILED queries: ${failed.reverse.mkString(", ")}")
      sys.exit(1)
    }
  }
}
