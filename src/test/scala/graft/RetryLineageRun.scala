package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.{Success, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import graft.corpus.CorpusGen
import graft.pipeline.ExtractPipeline
import graft.table.GraftTable

/** Local file system whose first task attempt fails to create any
  * table data file (`bucket=` in the path). The write task has pulled
  * its rows through the plan before it opens its first file, so the
  * failed attempt has already been counted by any observation. */
final class FirstAttemptFailingFs extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val tc = TaskContext.get
    if (tc != null && tc.attemptNumber == 0 && f.toString.contains("bucket="))
      throw new java.io.IOException(s"injected first-attempt failure creating $f")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

/** One `GraftTable.runResumable` over 120 pages into `args(0)` at
  * `local[4,2]` (two attempts per task) on [[FirstAttemptFailingFs]];
  * prints `failed_attempts=<n>`, the task attempts that ended in failure.
  * GraftTableSpec starts it in a child JVM, since the file system and
  * the retry count are fixed when a session starts. */
object RetryLineageRun {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4,2]")
      .appName("graft-retry-lineage")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.hadoop.fs.file.impl", classOf[FirstAttemptFailingFs].getName)
      .config("spark.hadoop.fs.file.impl.disable.cache", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val failed = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason != Success) failed.incrementAndGet()
    })
    GraftTable.runResumable(spark, ExtractPipeline.pages(spark, 120, 4), args(0),
      nBuckets = 6, bucketsPerWave = 3,
      CorpusGen.TargetWords.toSet, CorpusGen.BycatchWords.toSet, tasksPerWave = 4)
    spark.stop() // drains the listener bus
    println(s"failed_attempts=${failed.get}")
  }
}
