package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.model.PageRecord
import graft.pipeline.ExtractPipeline

/** Structured Streaming front-end for the engine: the same extraction
  * semantics as the batch pipeline, run continuously over newly-landed
  * page files. The reference is strictly batch (SURVEY.md §2.8); this is
  * the engine-native continuous-ingestion capability a Common-Crawl-style
  * feed needs: files land in the table directory, micro-batches pick them
  * up exactly-once via the checkpoint, and the parse stage is the
  * identical per-partition code path as batch — one implementation, two
  * execution modes. Three members: `pagesStream` reads the directory as
  * a stream, `run` drains it through the extraction pipeline to a
  * parquet sink, and `dedupStream` (behind `run`'s `dedup` flag) drops
  * re-crawled urls within a watermark.
  */
object StreamingExtract {

  /** Schema of the pages table (BASELINE.json input_hint). */
  val pageSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[PageRecord].schema

  /** Streaming source over the pages directory. */
  def pagesStream(spark: SparkSession, inDir: String): Dataset[PageRecord] = {
    import spark.implicits._
    spark.readStream
      .schema(pageSchema)
      .option("maxFilesPerTrigger", "32") // bound micro-batch size
      .parquet(inDir)
      .as[PageRecord]
  }

  /** Drain everything currently in `inDir` to a parquet sink and stop
    * (an AvailableNow trigger), with checkpointed exactly-once file
    * tracking. */
  def run(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      checkpointDir: String,
      targetWords: Set[String],
      bycatchWords: Set[String],
      dedup: Boolean = false,
      dedupDelay: String = "1 hour"): StreamingQuery = {
    val src = pagesStream(spark, inDir)
    // the batch pipeline's scan-split path on a streaming Dataset (one
    // implementation, two execution modes: a re-implemented copy here
    // once drifted from the batch wiring). numPartitions=0 adds no
    // repartition, so it is streaming-legal; the word-set broadcasts
    // happen once per query and are reused across micro-batches.
    val scored = ExtractPipeline.extractAndScore(
      if (dedup) dedupStream(src, dedupDelay) else src, 0, targetWords, bycatchWords)
    scored.toDF().writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Stateful streaming dedup on url within the watermark horizon —
    * exact-dup suppression at ingest time (state-store backed; the batch
    * analogs are q13/q15). dropDuplicatesWithinWatermark is required for
    * bounded state: plain dropDuplicates("url") never evicts because the
    * event-time column is not part of the key, so state would grow with
    * every url ever seen.
    *
    * CORRECTNESS/STATE TRADE-OFF the caller must size — `delay` bounds
    * BOTH guarantees, in both directions (pinned empirically by
    * StreamingSpec across ingestion runs):
    *   - completeness: a row whose warc_ts is older than the watermark
    *     in effect at its micro-batch is DROPPED even when unique
    *     (numRowsDroppedByWatermark) — an unordered backfill with
    *     event-time disorder wider than `delay` silently loses late
    *     uniques relative to the batch pipeline;
    *   - dedup: a duplicate url re-arriving after the watermark passed
    *     its first occurrence's expiry (first warc_ts + delay) finds
    *     its state evicted and is emitted AGAIN.
    * Size `delay` to cover the ingest's event-time disorder AND the
    * largest re-crawl gap that must stay suppressed (state grows
    * proportionally); exact global dedup belongs to the batch path
    * (q13/q25). */
  def dedupStream(
      pages: Dataset[PageRecord],
      delay: String = "1 hour"): Dataset[PageRecord] =
    pages
      .withWatermark("warc_ts", delay)
      .dropDuplicatesWithinWatermark("url")
}
