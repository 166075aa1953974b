package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.model.{PageRecord, ScoredDoc}
import graft.pipeline.ExtractPipeline

/** Structured Streaming front-end for the engine: the same extraction
  * semantics as the batch pipeline, run continuously over newly-landed
  * page files. The reference is strictly batch (SURVEY.md §2.8); this is
  * the engine-native continuous-ingestion capability a Common-Crawl-style
  * feed needs: files land in the table directory, micro-batches pick them
  * up exactly-once via the checkpoint, and the parse stage is the
  * identical per-partition code path as batch — one implementation, two
  * execution modes.
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

  /** Watermarked tumbling-window event rollup — the streaming analog of
    * q06. Late events beyond the watermark are dropped and window state
    * is evicted, so state size is bounded regardless of stream length. */
  def eventWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(expr("FLOOR(value*100.0 + 0.5)")).as("sum_value_e2"))
      .selectExpr("w.start AS window_start", "event_type", "n_events", "sum_value_e2")

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

  /** Stream-static enrichment: LEFT join each micro-batch of scored docs
    * against a static snapshot table (the streaming face of the batch
    * enrichment family, SURVEY.md §2.3 row 24). Stream-static joins are
    * stateless — the static side is (re)planned per micro-batch and the
    * broadcast keeps it off the shuffle path, so this adds no state store
    * and no watermark requirement. Misses stay null (the reference's
    * None-on-miss), fillable downstream like the batch path. */
  def enrichStream(scored: Dataset[ScoredDoc], snapshot: DataFrame): DataFrame = {
    val left = scored.toDF()
      .select("url", "kind", "doi", "title", "wordscore")
    // snapshots routinely share non-key column names with the stream
    // (title, url, ...): prefix them so the joined frame has no ambiguous
    // references (the batch API-field-remap analog, SURVEY.md §2 row 44)
    val clashes = snapshot.columns.toSet.intersect(left.columns.toSet) - "doi"
    // the rename itself can collide (a snapshot built from a previous
    // enrichStream output carries snapshot_-prefixed columns already);
    // a silent duplicate column would throw AMBIGUOUS_REFERENCE at the
    // first downstream select — fail loudly at plan time instead
    clashes.foreach { c =>
      require(!snapshot.columns.contains(s"snapshot_$c"),
        s"snapshot has both '$c' and 'snapshot_$c': the clash rename would " +
        "duplicate a column — rename one of them before enrichStream")
    }
    val safe = clashes.foldLeft(snapshot)(
      (df, c) => df.withColumnRenamed(c, s"snapshot_$c"))
    left.join(broadcast(safe), Seq("doi"), "left")
  }
}

/** Custom streaming state via flatMapGroupsWithState: a per-domain crawl
  * monitor. Each micro-batch updates one state record per domain (docs
  * seen, bytes, first/last warc_ts) and emits the updated snapshot — the
  * state-store-backed analog of a per-host crawl ledger. Event-time
  * timeout evicts domains idle past the watermark, so state stays
  * bounded by ACTIVE domains, not all domains ever seen.
  */
object DomainState {

  final case class DomainAgg(
      domain: String,
      n_docs: Long,
      n_bytes: Long,
      first_ts: Long,
      last_ts: Long)

  import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.{Dataset, DataFrame}
  import graft.model.PageRecord

  private def update(idleTimeout: String)(
      domain: String,
      rows: Iterator[(String, Long, java.sql.Timestamp)],
      state: GroupState[DomainAgg]): Iterator[DomainAgg] = {
    if (state.hasTimedOut) {
      val last = state.get
      state.remove()
      Iterator.single(last) // final snapshot on eviction
    } else {
      var agg = state.getOption.getOrElse(
        DomainAgg(domain, 0L, 0L, Long.MaxValue, Long.MinValue))
      rows.foreach { case (_, bytes, ts) =>
        agg = agg.copy(
          n_docs = agg.n_docs + 1,
          n_bytes = agg.n_bytes + bytes,
          first_ts = math.min(agg.first_ts, ts.getTime),
          last_ts = math.max(agg.last_ts, ts.getTime))
      }
      state.update(agg)
      state.setTimeoutTimestamp(agg.last_ts, idleTimeout)
      Iterator.single(agg)
    }
  }

  /** Streaming per-domain ledger over the pages stream. The watermarked
    * timestamp COLUMN must survive into the grouped Dataset (a typed map
    * to a bare tuple would drop the event-time metadata and event-time
    * timeout fails analysis), so the projection is columnar and the
    * watermark is applied after it.
    *
    * `delay` bounds the SAME two guarantees dedupStream documents, and
    * the caller must size it the same way (round-5 review — it was a
    * hardcoded hour): rows later than the in-effect watermark are
    * silently excluded from the counts, and a domain idle past `delay`
    * in event time is evicted (emitting its final snapshot) and restarts
    * from zero on its next page — so consuming max(n_docs) per domain
    * reads max(SEGMENT), not the domain total, once gaps exceed `delay`.
    * State stays bounded by domains ACTIVE within the horizon. */
  def crawlLedger(pages: Dataset[PageRecord], delay: String = "1 hour"): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.toDF()
      .select(
        expr("parse_url(url, 'HOST')").as("domain"),
        expr("CAST(coalesce(length(html), 0) AS LONG)").as("n_bytes"),
        col("warc_ts"))
      .withWatermark("warc_ts", delay)
      .as[(String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout())(update(delay))
      .toDF()
  }
}
