package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.AnalysisException
import graft.corpus.CorpusGen
import graft.pipeline.ExtractPipeline
import graft.table.GraftTable
import graft.util.Parquet

/** `Parquet.read` takes its schema from one footer on the driver; the
  * frame must have the schema Spark's own inference gives, and the
  * inference job must be gone, whichever writer wrote the footer. */
class ParquetSpec extends AnyFunSuite with SparkTestBase with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private val tables = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  /** `sf`'s tables written again by Spark's writer, under a temp dir. */
  private val copyDir = java.nio.file.Files.createTempDirectory("graft_parquet_sf")
  private lazy val sparkCopy: String = {
    val dir = copyDir.toString
    tables.foreach(t => spark.read.parquet(s"$sf/$t.parquet").write.parquet(s"$dir/$t.parquet"))
    dir
  }
  override def afterAll(): Unit = graft.util.Fs.deleteRecursively(copyDir.toFile)

  /** Every table under `dir`: `Parquet.read` gives Spark's inferred
    * schema and starts no job. */
  private def inferredSchemaNoJob(dir: String): Unit =
    tables.foreach { t =>
      val p = s"$dir/$t.parquet"
      var got: org.apache.spark.sql.types.StructType = null
      val jobs = jobsOf { got = Parquet.read(spark, p).schema }
      assert(jobs.isEmpty, s"$t: Parquet.read ran jobs: ${jobs.mkString("; ")}")
      assert(got == spark.read.parquet(p).schema, t)
    }

  test("every table of a Spark-written sf dir: the inferred schema, no job") {
    inferredSchemaNoJob(sparkCopy)
  }

  test("every table of a pyarrow-written sf dir: the inferred schema, no job") {
    // the sf dirs are written by pyarrow: no Spark key, so the footer's
    // parquet schema is converted on the driver, as Spark's inference
    // converts it
    inferredSchemaNoJob(sf)
  }

  test("a table's data with its bucket column, and a snapshot's file list with basePath") {
    val root = java.nio.file.Files.createTempDirectory("graft_parquet_tbl").toString
    GraftTable.runResumable(spark, ExtractPipeline.pages(spark, 40, 2), root,
      nBuckets = 4, bucketsPerWave = 2,
      CorpusGen.TargetWords.toSet, CorpusGen.BycatchWords.toSet, tasksPerWave = 2)
    val data = Parquet.read(spark, s"$root/data")
    assert(data.schema == spark.read.parquet(s"$root/data").schema)
    assert(data.schema.last.name == "bucket")
    assert(data.count() == 40L)

    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$root/manifest/snapshot-2.json"))
    val files = "\"(bucket=[^\"]+)\"".r.findAllMatchIn(json).map(m => s"$root/data/${m.group(1)}").toSeq
    assert(files.nonEmpty)
    val snap = GraftTable.readSnapshot(spark, root, 2)
    assert(snap.schema == spark.read.option("basePath", s"$root/data").parquet(files: _*).schema)
    assert(snap.count() == 40L)
    graft.util.Fs.deleteRecursively(new java.io.File(root))
  }

  test("a path with no data file fails as Spark's inference fails") {
    val empty = java.nio.file.Files.createTempDirectory("graft_parquet_empty")
    java.nio.file.Files.createFile(empty.resolve("_SUCCESS"))
    val want = intercept[AnalysisException](spark.read.parquet(empty.toString))
    val got = intercept[AnalysisException](Parquet.read(spark, empty.toString))
    assert(got.getMessage == want.getMessage)
    val missing = empty.resolve("missing").toString
    assert(intercept[AnalysisException](Parquet.read(spark, missing)).getMessage ==
      intercept[AnalysisException](spark.read.parquet(missing)).getMessage)
    graft.util.Fs.deleteRecursively(empty.toFile)
  }
}
