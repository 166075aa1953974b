package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamingExtract
import graft.pipeline.ExtractPipeline
import graft.corpus.CorpusGen
import java.nio.file.Files

class StreamingSpec extends AnyFunSuite with SparkTestBase {

  private lazy val tmp = Files.createTempDirectory("graft_stream").toString

  test("streaming extraction drains the directory and matches goldens") {
    val in = s"$tmp/in"; val out = s"$tmp/out"; val ck = s"$tmp/ck"
    ExtractPipeline.pages(spark, 120, 4).write.parquet(in)
    val q = StreamingExtract.run(spark, in, out, ck,
      CorpusGen.TargetWords.toSet, CorpusGen.BycatchWords.toSet)
    q.awaitTermination()
    val got = spark.read.parquet(out)
    assert(got.count() == 120)
    // byte-identical against goldens, through the streaming path
    val joined = got.select(col("url"), col("extracted_text").as("got"))
      .join(ExtractPipeline.goldens(spark, 120, 4)
        .select(col("url"), col("extracted_text").as("want")), "url")
    assert(joined.filter(col("got") =!= col("want")).count() == 0)

    // exactly-once on restart: re-running over the same checkpoint adds
    // nothing (no new files)
    val q2 = StreamingExtract.run(spark, in, out, ck,
      CorpusGen.TargetWords.toSet, CorpusGen.BycatchWords.toSet)
    q2.awaitTermination()
    assert(spark.read.parquet(out).count() == 120)

    // incremental pickup: land 40 more docs, only they are processed
    ExtractPipeline.pages(spark, 160, 4).filter(col("url").isNotNull)
      .where(expr("CAST(substring_index(url, '/', -1) AS LONG) >= 120"))
      .write.mode("append").parquet(in)
    val q3 = StreamingExtract.run(spark, in, out, ck,
      CorpusGen.TargetWords.toSet, CorpusGen.BycatchWords.toSet)
    q3.awaitTermination()
    assert(spark.read.parquet(out).count() == 160)
    assert(spark.read.parquet(out).select("url").distinct().count() == 160)
  }

  test("dedupStream delay bounds BOTH guarantees: late uniques drop, stale dups leak") {
    // the documented correctness/state trade-off, pinned across two
    // availableNow ingestion runs over one checkpoint (the incremental
    // crawl-ingest pattern — run 2 restores run 1's watermark + state):
    // with delay narrower than the event-time disorder / re-crawl gap,
    //   (a) a LATE UNIQUE page (warc_ts behind the restored watermark)
    //       is dropped — silent data loss vs the batch pipeline;
    //   (b) a re-crawled DUPLICATE past its first occurrence's expiry
    //       finds its state evicted and re-emits;
    // a delay sized to the gap fixes both.
    import org.apache.spark.sql.SparkSession
    val sp: SparkSession = spark
    import sp.implicits._
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 08:00:00")
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 12:00:00")
    val html = "<html><body>x</body></html>".getBytes("UTF-8")
    def one(url: String, ts: java.sql.Timestamp) =
      spark.createDataset(Seq(graft.model.PageRecord(url, ts, html, "", "")))
    def drive(tag: String, delay: String): Seq[String] = {
      val (in, out, ck) =
        (s"$tmp/late_${tag}_in", s"$tmp/late_${tag}_out", s"$tmp/late_${tag}_ck")
      def runOnce(): Unit = {
        val q = StreamingExtract.run(spark, in, out, ck,
          CorpusGen.TargetWords.toSet, CorpusGen.BycatchWords.toSet,
          dedup = true, dedupDelay = delay)
        q.awaitTermination()
      }
      // ingestion run 1: the dup's first crawl at 08:00 + pages at 12:00
      // that advance the watermark to 12:00 - delay at the final commit
      one("https://w.example.org/dup", t0)
        .union(spark.createDataset((0 until 34).map(i =>
          graft.model.PageRecord(s"https://w.example.org/h/$i", t1, html, "", ""))))
        .repartition(4).write.parquet(in)
      runOnce()
      // ingestion run 2: a 12:00 re-crawl of the dup + an 08:00 late
      // unique, processed under the RESTORED watermark
      one("https://w.example.org/dup", t1)
        .union(one("https://w.example.org/late-unique", t0))
        .coalesce(1).write.mode("append").parquet(in)
      runOnce()
      spark.read.parquet(out).select("url").collect().map(_.getString(0)).toSeq
    }
    val narrow = drive("narrow", "1 hour") // watermark 11:00 at run-2 start
    assert(narrow.count(_ == "https://w.example.org/late-unique") == 0,
      s"the 08:00 unique behind the 11:00 watermark must be dropped, got $narrow")
    assert(narrow.count(_ == "https://w.example.org/dup") == 2,
      s"the re-crawl past the evicted state must re-emit, got $narrow")
    val wide = drive("wide", "6 hours") // watermark 06:00: state alive, nothing late
    assert(wide.count(_ == "https://w.example.org/late-unique") == 1)
    assert(wide.count(_ == "https://w.example.org/dup") == 1,
      s"a delay covering the gap must suppress the duplicate and keep the unique, got $wide")
  }

  test("stateful streaming dedup suppresses re-crawled urls in-batch") {
    val in = s"$tmp/dup_in"
    val p = ExtractPipeline.pages(spark, 50, 2)
    p.union(p).write.parquet(in) // every url twice
    val deduped = StreamingExtract.dedupStream(
      StreamingExtract.pagesStream(spark, in))
    val q = deduped.toDF().writeStream.format("memory").queryName("dedup_t")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("dedup_t")
    assert(got.select("url").distinct().count() == 50)
    assert(got.count() == 50, "duplicate urls leaked through the state store")
  }
}
