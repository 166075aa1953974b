package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec}
import graft.corpus.CorpusGen
import graft.pipeline.ExtractPipeline
import graft.table.GraftTable
import graft.util.Parquet

/** `Parquet.read` takes its schema from one footer on the driver; the
  * frame must have the schema Spark's own inference gives, and the
  * inference job must be gone, whichever writer wrote the footer. A read
  * of many small files comes back with one partition per core. */
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
  /** `sf`'s tables written again by Spark's writer as up to 16 files
    * each (a table of fewer rows has one file per row). */
  private lazy val multiFileCopy: String = {
    val dir = s"$copyDir/multi"
    tables.foreach(t => spark.read.parquet(s"$sf/$t.parquet").repartition(16)
      .write.parquet(s"$dir/$t.parquet"))
    dir
  }
  override def afterAll(): Unit = graft.util.Fs.deleteRecursively(copyDir.toFile)

  /** A session of the shared context whose scan splits are at most
    * `maxPartitionBytes`; the shared session's conf is not written. */
  private def splitSession(maxPartitionBytes: Long): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", maxPartitionBytes.toString)
    s
  }
  private lazy val split4m = splitSession(4L << 20)
  private def cores = spark.sparkContext.defaultParallelism

  /** Every table under `dir`: `Parquet.read` gives Spark's inferred
    * schema and starts no job. */
  private def inferredSchemaNoJob(dir: String, s: SparkSession = spark): Unit =
    tables.foreach { t =>
      val p = s"$dir/$t.parquet"
      var got: org.apache.spark.sql.types.StructType = null
      val jobs = jobsOf { got = Parquet.read(s, p).schema }
      assert(jobs.isEmpty, s"$t: Parquet.read ran jobs: ${jobs.mkString("; ")}")
      assert(got == s.read.parquet(p).schema, t)
    }

  private def dataFiles(p: String): Seq[java.io.File] =
    new java.io.File(p).listFiles().toSeq.filterNot(f => Parquet.hidden(f.getName))
  private def bytesOf(p: String): Long = dataFiles(p).map(_.length).sum
  private def splits(df: DataFrame): Int = df.rdd.getNumPartitions

  test("every table of a Spark-written sf dir: the inferred schema, no job") {
    inferredSchemaNoJob(sparkCopy)
  }

  test("every table of a pyarrow-written sf dir: the inferred schema, no job") {
    // the sf dirs are written by pyarrow: no Spark key, so the footer's
    // parquet schema is converted on the driver, as Spark's inference
    // converts it
    inferredSchemaNoJob(sf)
  }

  test("every table of a multi-file Spark-written sf dir: the inferred schema, no job") {
    inferredSchemaNoJob(multiFileCopy, split4m)
  }

  test("more files than cores within one split per core: one partition per core") {
    val p = s"$multiFileCopy/documents.parquet"
    assert(dataFiles(p).size == 16)
    assert(bytesOf(p) <= cores * (4L << 20))
    // at 4 MB splits Spark charges each file its 4 MB open cost, so every
    // file is a split of its own
    assert(splits(split4m.read.parquet(p)) == 16)
    assert(splits(Parquet.read(split4m, p)) == cores)
    // under the coalesce the scan still takes the filter and one column
    val plan = Parquet.read(split4m, p).filter("doc_id > 10").select("doc_id")
      .queryExecution.sparkPlan
    assert(plan.collectFirst { case c: CoalesceExec => c.numPartitions }.contains(cores), plan)
    val scan = plan.collectFirst { case s: FileSourceScanExec => s }.get
    assert(scan.dataFilters.nonEmpty, plan)
    assert(scan.requiredSchema.fieldNames.toSeq == Seq("doc_id"), plan)
    // the rows are the table's rows
    assert(Parquet.read(split4m, p).collect().map(_.toString).sorted sameElements
      split4m.read.parquet(s"$sf/documents.parquet").collect().map(_.toString).sorted)
  }

  test("a single-file table and a table above one split per core keep Spark's splits") {
    val one = s"$sf/documents.parquet"
    assert(splits(Parquet.read(split4m, one)) == splits(split4m.read.parquet(one)))
    // the 16-file copy is more bytes than `cores` splits of 4 KB each
    val p = s"$multiFileCopy/documents.parquet"
    val split4k = splitSession(4L << 10)
    assert(bytesOf(p) > cores * (4L << 10))
    val want = splits(split4k.read.parquet(p))
    assert(want > cores)
    assert(splits(Parquet.read(split4k, p)) == want)
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
