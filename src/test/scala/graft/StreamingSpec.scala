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

  test("watermarked hourly windows equal the batch rollup after drain") {
    val in = s"$tmp/events_in"
    // watermarks need TIMESTAMP (LTZ); the fixture parquet reads as NTZ
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    events.write.parquet(in)
    val stream = spark.readStream.schema(events.schema).parquet(in)
    val windowed = StreamingExtract.eventWindows(stream)
    val q = windowed.writeStream.format("memory").queryName("win_t")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("win_t")
    // batch reference computation of the same rollup (windows whose state
    // was closed by the watermark — with AvailableNow + append mode the
    // final watermark passes the max ts, closing all but the tail window)
    val want = events
      .groupBy(expr("date_trunc('hour', ts)").as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("FLOOR(value*100.0 + 0.5)")).as("sum_value_e2"))
    val maxTs = events.agg(max("ts")).head().getTimestamp(0)
    val horizon = new java.sql.Timestamp(maxTs.getTime - 3 * 3600 * 1000L)
    val wantClosed = want.filter(col("window_start") <= lit(horizon))
    val mismatches = wantClosed.join(got,
        Seq("window_start", "event_type", "n_events", "sum_value_e2"), "left_anti")
    assert(mismatches.count() == 0,
      s"closed windows missing from streaming output")
    assert(got.count() >= wantClosed.count())
  }

  test("flatMapGroupsWithState crawl ledger aggregates per domain") {
    val in = s"$tmp/ledger_in"
    ExtractPipeline.pages(spark, 200, 4).write.parquet(in)
    val ledger = graft.streaming.DomainState.crawlLedger(
      StreamingExtract.pagesStream(spark, in))
    val q = ledger.writeStream.format("memory").queryName("ledger_t")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("ledger_t")
      .groupBy("domain")
      .agg(max("n_docs").as("n_docs"), max("n_bytes").as("n_bytes"))
    val byDomain = got.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the hot domain holds 30% of docIds (CorpusGen skew fixture)
    assert(byDomain("d0.example.org") == 60L, s"hot: ${byDomain.get("d0.example.org")}")
    assert(byDomain.values.sum == 200L)
    // bytes tracked
    assert(got.agg(sum("n_bytes")).head().getLong(0) > 0)
  }

  test("stream-static enrichment joins each micro-batch against the snapshot") {
    val in = s"$tmp/enrich_in"
    ExtractPipeline.pages(spark, 90, 3).write.parquet(in)
    val scored = ExtractPipeline.extractAndScore(
      StreamingExtract.pagesStream(spark, in), 0,
      CorpusGen.TargetWords.toSet, CorpusGen.BycatchWords.toSet)
    val snap = graft.pipeline.Enrichment.dimensionsSnapshot(spark, 90)
    val q = StreamingExtract.enrichStream(scored, snap)
      .writeStream.format("memory").queryName("enrich_t")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("enrich_t")
    assert(got.count() == 90)
    // docs with a DOI in the snapshot got their fields; misses stay null
    val hits = got.filter(col("internal_id").isNotNull)
    val wantHits = got.filter(col("doi") =!= "").count()
    assert(hits.count() == wantHits, s"${hits.count()} joined of $wantHits doi docs")
    assert(got.filter(col("doi") === "" && col("journal_title").isNotNull).count() == 0)
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
