package graft.table

import org.apache.spark.sql.{SparkSession, DataFrame, Dataset, Encoders, Observation, SaveMode}
import org.apache.spark.sql.functions._
import graft.model.{PageRecord, ScoredDoc, LineageRow}
import graft.pipeline.ExtractPipeline
import graft.util.Parquet
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.internal.SQLConf
import scala.concurrent.Await
import scala.concurrent.duration._

/** Iceberg-style table layer, emulated (no Iceberg jar offline —
  * SURVEY.md §7.3 documents the deviation): hash-bucketed parquet layout
  * + JSON snapshot manifests + an append-only lineage table; resume =
  * left-ANTI join of input buckets vs completed buckets.
  *
  * Layout under `root/`:
  *   data/bucket=[k]/...parquet    results, partitioned by url-hash bucket
  *   lineage/part-[uuid].parquet   one file of LineageRows per completed
  *                                 wave, written by the driver
  *   manifest/snapshot-[n].json    wave commit records (files + buckets)
  *
  * A killed job resumes by re-reading lineage: completed buckets are
  * excluded with `left_anti`, so no page is re-parsed (north rule:
  * checkpoint-resumable with per-partition lineage + metrics).
  * The wave is the atomic commit unit: data lands before the lineage
  * append, and the lineage row IS the commit — on resume, bucket data
  * with no lineage row is an uncommitted orphan and is deleted before
  * the wave re-runs, so a crash mid-wave re-processes only that wave
  * and never duplicates rows. The append is a hidden temp file renamed
  * to its visible name, so the rename commits the rows. Like Iceberg's,
  * the table's metadata I/O stays on the driver: lineage is written and
  * read without a Spark job, and every parquet read takes its schema
  * from a footer read on the driver ([[graft.util.Parquet]]). Spark
  * reads `lineage/` as one table, files written by an older Spark-side
  * append included. All path probes go through the root's Hadoop
  * FileSystem (works on HDFS/S3, not just local disk).
  */
object GraftTable {

  final case class RunReport(
      buckets: Int,
      skipped: Int,
      processed: Int,
      docs: Long,
      wallMs: Long,
      docsOk: Long,
      docsErr: Long,
      bytesIn: Long)

  def bucketOf(urlCol: org.apache.spark.sql.Column, nBuckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(urlCol), lit(nBuckets)).cast("int")

  /** All filesystem probes/mutations go through the Hadoop FileSystem of
    * the table root — java.io.File is only correct on the local FS and
    * would silently report "nothing committed" on HDFS/S3, restarting a
    * 100 TB run from scratch and appending duplicates. */
  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Read a (small) FS file fully as UTF-8: table meta, staging marker,
    * snapshot manifests. */
  private def readUtf8(hfs: FileSystem, p: Path): String = {
    val in = hfs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Create or overwrite a (small) FS file with `text` as UTF-8. */
  private def writeUtf8(hfs: FileSystem, p: Path, text: String): Unit = {
    val out = hfs.create(p, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  /** The `"files"` list of a snapshot manifest; None for a snapshot that
    * predates the files manifest. */
  private def snapshotFiles(json: String): Option[Seq[String]] =
    "\"files\": \\[([^\\]]*)\\]".r.findFirstMatchIn(json).map(_.group(1)
      .split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty))

  def completedBuckets(spark: SparkSession, root: String): Set[Int] =
    completedLineage(fs(spark, root), root).keySet

  /** (bucket -> committed n_docs) from the durable lineage rows — the
    * resume gate AND the cumulative-doc base the snapshot manifests
    * record (a snapshot claiming committed docs but listing zero files is
    * data loss, and the claim must survive resumes whose earlier waves
    * this run never saw). Read on the driver, one footer and a few rows
    * per committed wave: hidden names are skipped as Spark's reader skips
    * them, so committer droppings (`_temporary`, `_SUCCESS`) and the
    * hidden temp file of an append that died before its rename read as
    * nothing committed. */
  private def completedLineage(hfs: FileSystem, root: String): Map[Int, Long] = {
    val dir = new Path(s"$root/lineage")
    if (!hfs.exists(dir)) Map.empty
    else hfs.listStatus(dir).iterator
      .filter(st => st.isFile && !Parquet.hidden(st.getPath.getName))
      .flatMap { st =>
        val in = ParquetReader.builder(new GroupReadSupport, st.getPath)
          .withConf(hfs.getConf).build()
        try Iterator.continually(in.read()).takeWhile(_ != null)
          .map(g => g.getInteger("bucket", 0) -> g.getLong("n_docs", 0)).toVector
        finally in.close()
      }.toMap
  }

  /** LineageRow's Spark schema, for the footer key Spark reads. */
  private val LineageSchema = Encoders.product[LineageRow].schema
  private val LineageSparkSchema = LineageSchema.json

  /** LineageRow's parquet type, converted from its Spark schema as Spark's
    * own writer converts it (the non-null fields required), with `ts`
    * always INT64 TIMESTAMP(MICROS, UTC). */
  private val LineageType: MessageType = new SparkToParquetSchemaConverter(
    outputTimestampType = SQLConf.ParquetOutputTimestampType.TIMESTAMP_MICROS).convert(LineageSchema)

  /** Commit one wave's lineage rows: one parquet file written by the
    * driver to a hidden temp name under `lineage/`, then renamed to its
    * visible name (the `Fs.writeAtomically` rule, through the root's
    * FileSystem). The rename is the commit. The footer carries
    * LineageRow's Spark schema under Spark's key, so
    * `spark.read.parquet(root/lineage)` reads the same StructType as from
    * a file Spark wrote. */
  private[graft] def appendLineage(hfs: FileSystem, root: String, rows: Seq[LineageRow]): Unit = {
    val dir = new Path(s"$root/lineage")
    val name = s"part-${java.util.UUID.randomUUID}.parquet"
    val tmp = new Path(dir, s".$name.tmp")
    val out = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, hfs.getConf))
      .withConf(hfs.getConf)
      .withType(LineageType)
      .withExtraMetaData(java.util.Map.of(Parquet.SparkSchemaKey, LineageSparkSchema))
      .build()
    try rows.foreach { r =>
      val g = new SimpleGroup(LineageType)
      g.add("bucket", r.bucket)
      g.add("n_docs", r.n_docs)
      g.add("n_ok", r.n_ok)
      g.add("n_err", r.n_err)
      g.add("bytes_in", r.bytes_in)
      g.add("wall_ms", r.wall_ms)
      g.add("attempt", r.attempt)
      // Spark's Timestamp -> micros, sub-millisecond digits from the nanos
      if (r.ts != null) g.add("ts", r.ts.getTime * 1000L + (r.ts.getNanos / 1000) % 1000)
      out.write(g)
    } finally out.close()
    if (!hfs.rename(tmp, new Path(dir, name)))
      throw new java.io.IOException(s"lineage commit: rename $tmp -> $name failed")
  }

  /** Run the extract+score pipeline over `pages`, bucketed by url hash,
    * committing `bucketsPerWave` buckets at a time. Returns the report;
    * the data lands partitioned by bucket under root/data.
    *
    * A wave is one Spark job: its pages parse on their scan splits,
    * coalesced to at most `tasksPerWave` tasks, so the wave writes at
    * most `tasksPerWave` files per bucket and no shuffle. No task owns a
    * bucket: the wave commits through its write job and the lineage
    * rename, and orphan cleanup works per bucket directory. `attempt` is
    * recorded in the lineage rows only.
    */
  def runResumable(
      spark: SparkSession,
      pages: Dataset[PageRecord],
      root: String,
      nBuckets: Int,
      bucketsPerWave: Int,
      targetWords: Set[String],
      bycatchWords: Set[String],
      tasksPerWave: Int,
      attempt: Int = 1,
      failAfterWaves: Int = Int.MaxValue,
      stageInput: Boolean = false): RunReport = {
    import spark.implicits._
    val t0 = System.currentTimeMillis()

    // bucket ids are only meaningful under the modulus that produced
    // them: resuming with a different nBuckets would silently duplicate
    // (re-append already-committed urls) and/or skip data, so the bucket
    // count is pinned in a table-meta file at creation and enforced here
    val hfs = fs(spark, root)
    val metaPath = new Path(s"$root/manifest/table-meta.json")
    if (hfs.exists(metaPath)) {
      val metaJson = readUtf8(hfs, metaPath)
      val stored = "\"n_buckets\": (\\d+)".r.findFirstMatchIn(metaJson).map(_.group(1).toInt)
      require(stored.contains(nBuckets),
        s"resume with nBuckets=$nBuckets, but this table was created with " +
        s"nBuckets=${stored.getOrElse("unknown")} — completed-bucket ids would be " +
        "reinterpreted under a different modulus (silent duplicates/skips)")
    } else {
      hfs.mkdirs(metaPath.getParent)
      writeUtf8(hfs, metaPath, s"""{"n_buckets": $nBuckets}""")
    }

    val doneLineage = completedLineage(hfs, root)
    val done = doneLineage.keySet
    // docs already committed by EARLIER runs: the snapshot manifests
    // record the cumulative total so time travel can tell "legally empty"
    // from "committed data vanished" even when the loss predates this run
    val doneDocs = doneLineage.values.sum
    val all = (0 until nBuckets).toSet
    val remaining = (all -- done).toList.sorted

    // crash-consistency: data is appended BEFORE the lineage row, so a
    // crash between the two writes leaves orphaned bucket data with no
    // lineage entry. Any data under a bucket we are about to (re)process
    // is such an orphan — delete it first, making the wave re-run
    // idempotent instead of append-duplicating. This is the wave
    // "commit": lineage row present = data valid; absent = data garbage.
    remaining.foreach { b =>
      val p = new Path(s"$root/data/bucket=$b")
      if (hfs.exists(p)) hfs.delete(p, true)
    }

    // the anti-join gate itself, expressed relationally (north rule asks
    // for it explicitly): input rows whose bucket is already complete are
    // excluded before any parse work happens. The completed set is tiny
    // (one row per bucket) -> broadcast hash anti join, no shuffle of the
    // big side beyond the bucket filter.
    val doneDf = done.toSeq.toDF("bucket")
    val withBucket = pages.withColumn("bucket", bucketOf(col("url"), nBuckets))
    val pending = withBucket
      .join(broadcast(doneDf), Seq("bucket"), "left_anti")

    // O(waves x input) defense (round-5 review): `pending.filter(bucket
    // isin wave)` re-scans the ENTIRE input per wave, because bucket is
    // a derived column no format pushdown can prune — at 4096 buckets /
    // 8 per wave that is 512 full passes over the corpus. With
    // `stageInput`, the bucketed projection is materialized ONCE under
    // root/staged (partitioned by bucket) and each wave reads only its
    // own bucket directories: one full read + one full write total, then
    // per-wave I/O proportional to the wave. The stage is crash-safe: a
    // _GRAFT_STAGED marker commits it; a partial stage (marker absent)
    // is deleted and rebuilt on the next run. In production the input
    // would already BE a table bucketed by url hash (the Iceberg layout
    // the north rule names) and staging becomes a no-op to skip.
    val stagedRoot = s"$root/staged"
    if (stageInput) {
      val marker = new Path(s"$stagedRoot/_GRAFT_STAGED")
      // the marker carries an input FINGERPRINT (row count — round-5
      // ADVICE): a bare marker committed the staged projection forever,
      // so a resume invoked with a changed/extended `pages` input
      // silently served the STALE staged rows for pending buckets.
      // Cost, honestly (round-6 review): validating the marker is one
      // count() job over the input per resume — footer-metadata-cheap
      // for file-backed columnar sources (the production shape), but a
      // full synthesis pass for generator-backed datasets — versus the
      // unstaged path's O(waves x input). A same-count in-place mutation
      // is still undetected — input immutability at equal cardinality
      // stays a documented contract of the staged path.
      val markerOk = hfs.exists(marker) &&
        readUtf8(hfs, marker).trim.toLongOption.contains(pages.count())
      if (!markerOk) {
        val stagedPath = new Path(stagedRoot)
        if (hfs.exists(stagedPath)) hfs.delete(stagedPath, true)
        withBucket.write.partitionBy("bucket").parquet(stagedRoot)
        // no second input pass here: rows written == input rows, and the
        // staged parquet's own count is footer-metadata-only. An EMPTY
        // input writes no data files and the read-back cannot infer a
        // schema (round-6 review) — fall back to counting the input,
        // which for the empty case is the cheap job it looks like.
        val stagedCount = scala.util.Try(Parquet.read(spark, stagedRoot).count())
          .getOrElse(pages.count())
        writeUtf8(hfs, marker, stagedCount.toString)
      }
    }
    def waveInput(wave: Seq[Int]): DataFrame =
      if (!stageInput) pending.filter(col("bucket").isin(wave.map(Integer.valueOf): _*))
      else {
        val dirs = wave.map(b => s"$stagedRoot/bucket=$b")
          .filter(p => hfs.exists(new Path(p)))
        if (dirs.isEmpty) spark.emptyDataset[PageRecord].withColumn("bucket", lit(0))
        else Parquet.reader(spark, dirs.head).option("basePath", stagedRoot).parquet(dirs: _*)
      }

    // live progress counters, added to by the parse stage itself; lineage
    // rows remain the durable record
    val progress = ExtractPipeline.Progress(spark)

    // this run's lineage rows, one per processed bucket: the report and
    // the snapshots' cumulative doc count are summed from them
    var runLineage = Vector.empty[LineageRow]
    var waveIdx = 0
    // cumulative data-file list for the snapshot manifests, carried
    // forward INCREMENTALLY: committed buckets are immutable (orphan
    // cleanup only ever touches un-lineage'd buckets), so each wave only
    // lists its OWN bucket dirs — re-listing every committed bucket per
    // wave would be O(waves x totalBuckets) remote listStatus calls
    // (~1M listings for a 4096-bucket run at 8 buckets/wave). Buckets
    // done before this run are listed once here, for the resume case.
    var manifestFiles: Vector[String] = listBucketFiles(hfs, root, done)
    remaining.grouped(bucketsPerWave).foreach { wave =>
      if (waveIdx >= failAfterWaves)
        throw new RuntimeException(s"injected failure after $failAfterWaves waves")
      val waveT0 = System.currentTimeMillis()

      // the pipeline's parse stage on the wave's scan splits, coalesced to
      // tasksPerWave tasks: the wave is one job that never shuffles page
      // bytes, and each task writes at most one file per wave bucket. The
      // bucket column is re-derived from the url by the function that
      // placed the page, so every row lands in the bucket it came from
      val scored = ExtractPipeline.extractAndScore(
          waveInput(wave).coalesce(tasksPerWave).drop("bucket").as[PageRecord],
          numPartitions = 0, targetWords, bycatchWords, Some(progress))
        .withColumn("bucket", bucketOf(col("url"), nBuckets))

      // the lineage counts ride inside the write job as a CollectMetrics
      // observation (the q41 / DedupGroups.movedCount pattern): three
      // aggregates per wave bucket, so a bucket with no rows observes 0
      // and still gets its lineage row (else it would re-run forever).
      // They are exact under task retry: a failed attempt's metrics are
      // dropped, and each write task's are merged once, from its first
      // successful attempt.
      val obs = Observation()
      val perBucket = wave.flatMap { k =>
        val in = col("bucket") === k
        Seq(count(when(in, 1)).as(s"n_docs_$k"),
          count(when(in && col("ok"), 1)).as(s"n_ok_$k"),
          coalesce(sum(when(in, col("n_bytes"))), lit(0L)).as(s"bytes_in_$k"))
      }
      scored.observe(obs, perBucket.head, perBucket.tail: _*)
        .write.mode(SaveMode.Append).partitionBy("bucket").parquet(s"$root/data")
      // the write has returned, so the observation is on its way over the
      // listener bus; a run that cannot commit lineage fails loudly, and
      // the wave's data stays an orphan that the next resume deletes
      val m = Await.result(obs.future, 5.minutes)
      val waveMs = System.currentTimeMillis() - waveT0
      val ts = new java.sql.Timestamp(System.currentTimeMillis())
      val lineage = wave.map { k =>
        val n = m.getAs[Long](s"n_docs_$k")
        val ok = m.getAs[Long](s"n_ok_$k")
        LineageRow(k, n, ok, n - ok, m.getAs[Long](s"bytes_in_$k"), waveMs, attempt, ts)
      }
      appendLineage(hfs, root, lineage)

      runLineage ++= lineage
      manifestFiles = manifestFiles ++ listBucketFiles(hfs, root, wave)
      writeSnapshot(hfs, root, waveIdx, wave,
        lineage.filter(_.n_docs > 0).map(r => (r.bucket, r.n_docs)), manifestFiles,
        cumulativeDocs = doneDocs + runLineage.map(_.n_docs).sum)
      waveIdx += 1
    }

    // ---- catch-up snapshot (round-5 review) --------------------------
    // A crash between a wave's lineage append and its writeSnapshot
    // leaves committed data (lineage row present = data valid) that the
    // manifest chain does not cover. Mid-table the NEXT wave's snapshot
    // heals it (the cumulative file list carries every committed bucket
    // forward) — but the FINAL wave has no next wave, so a resume that
    // finds nothing to do would otherwise never snapshot it and
    // readSnapshot(latest) would silently omit committed rows forever.
    // manifestFiles already holds the full cumulative list at this point
    // (done buckets listed at entry + every wave this run); write a
    // catch-up snapshot whenever the latest manifest disagrees with it.
    val runDocs = runLineage.map(_.n_docs).sum
    if (doneLineage.nonEmpty || runLineage.nonEmpty) {
      val latest = latestSnapshot(hfs, root)
      if (!latest.map(_._2).contains(manifestFiles.toSet))
        writeSnapshot(hfs, root, waveIdx, Seq.empty, Seq.empty,
          manifestFiles, cumulativeDocs = doneDocs + runDocs)
    }

    // report counts come from the DURABLE lineage rows, not the live
    // accumulators: task retries / speculative execution overcount
    // accumulators incremented inside a transformation, and the report is
    // documented to mirror the lineage table exactly. The accumulators
    // remain strictly live progress indicators (the tqdm analog).
    RunReport(nBuckets, done.size, runLineage.size, runDocs,
      System.currentTimeMillis() - t0, runLineage.map(_.n_ok).sum,
      runLineage.map(_.n_err).sum, runLineage.map(_.bytes_in).sum)
  }

  /** Data files of the given buckets, one listStatus per bucket. */
  private def listBucketFiles(
      hfs: FileSystem, root: String, buckets: Iterable[Int]): Vector[String] =
    buckets.toVector.sorted.flatMap { b =>
      val bp = new Path(s"$root/data/bucket=$b")
      if (!hfs.exists(bp)) Vector.empty
      else hfs.listStatus(bp).toVector
        .map(st => st.getPath.getName)
        .filter(_.endsWith(".parquet")).sorted
        .map(n => s"bucket=$b/$n")
    }

  /** Existing snapshot ids under root/manifest (empty when none). */
  private def snapshotIds(hfs: FileSystem, root: String): Seq[Int] = {
    val dir = new Path(s"$root/manifest")
    if (!hfs.exists(dir)) Seq.empty
    else hfs.listStatus(dir).toSeq.flatMap(st =>
      "snapshot-(\\d+)\\.json".r.findFirstMatchIn(st.getPath.getName)
        .map(_.group(1).toInt))
  }

  /** Latest snapshot id + its cumulative file manifest, if any. */
  private def latestSnapshot(hfs: FileSystem, root: String): Option[(Int, Set[String])] =
    snapshotIds(hfs, root).maxOption.map { id =>
      val json = readUtf8(hfs, new Path(s"$root/manifest/snapshot-$id.json"))
      (id, snapshotFiles(json).getOrElse(Nil).toSet)
    }

  private def writeSnapshot(
      hfs: FileSystem, root: String, waveIdx: Int, buckets: Seq[Int], counts: Seq[(Int, Long)],
      cumulativeFiles: Seq[String], cumulativeDocs: Long): Unit = {
    hfs.mkdirs(new Path(s"$root/manifest"))
    // max(id)+1, NOT count+1: with create(overwrite=true), a missing
    // earlier snapshot (operator deletion, retention cleanup) would make
    // count+1 silently clobber the newest existing snapshot and corrupt
    // the monotone chain (round-5 review)
    val existing = snapshotIds(hfs, root).maxOption.getOrElse(0)
    // the Iceberg-manifest analog: the CUMULATIVE data-file list valid at
    // this snapshot. Committed buckets are immutable from here on, so the
    // carried-forward listing stays the truth for this snapshot forever;
    // sorted for a canonical manifest regardless of wave order.
    val files = cumulativeFiles.sorted
    val json =
      s"""{"snapshot_id": ${existing + 1},
         |"wave": $waveIdx,
         |"buckets": [${buckets.mkString(",")}],
         |"bucket_docs": {${counts.map { case (b, n) => s""""$b": $n""" }.mkString(",")}},
         |"total_docs": $cumulativeDocs,
         |"files": [${files.map(f => s""""$f"""").mkString(",")}],
         |"schema_id": 1}""".stripMargin
    writeUtf8(hfs, new Path(s"$root/manifest/snapshot-${existing + 1}.json"), json)
  }

  /** Time travel: read the table AS OF `snapshot-<id>.json` — exactly the
    * data files that snapshot's manifest recorded, so waves committed
    * AFTER it are invisible (the Iceberg snapshot-read surface promised
    * in SURVEY.md §7.3). basePath keeps the bucket partition column. */
  def readSnapshot(spark: SparkSession, root: String, snapshotId: Int): DataFrame = {
    val hfs = fs(spark, root)
    val p = new Path(s"$root/manifest/snapshot-$snapshotId.json")
    require(hfs.exists(p), s"no snapshot-$snapshotId under $root/manifest")
    val json = readUtf8(hfs, p)
    val files = snapshotFiles(json).getOrElse(
      throw new IllegalStateException(
        s"snapshot-$snapshotId predates the files manifest (written by an " +
        "older GraftTable version) — time travel needs the cumulative " +
        "file list; re-run the pipeline to produce upgraded snapshots"))
    if (files.isEmpty) {
      // distinguish the legal zero-page snapshot from masked data loss:
      // writeSnapshot skips committed bucket dirs that are MISSING at
      // listing time, so "files": [] alongside non-zero recorded doc
      // counts means committed data vanished — that must stay a loud
      // error, not an empty table. The check uses the CUMULATIVE
      // total_docs (all committed waves, carried across resumes), not
      // just this snapshot's own wave: an all-empty final wave appended
      // after earlier bucket files vanished would otherwise read as a
      // legal empty table (round-3 ADVICE). Older snapshots without
      // total_docs fall back to the per-wave sum.
      val committedDocs = "\"total_docs\": (\\d+)".r.findFirstMatchIn(json)
        .map(_.group(1).toLong)
        .getOrElse {
          "\"bucket_docs\": \\{([^}]*)\\}".r.findFirstMatchIn(json)
            .map(_.group(1)).getOrElse("")
            .split(",").map(_.trim).filter(_.nonEmpty)
            .map(kv => kv.substring(kv.lastIndexOf(':') + 1).trim.toLong).sum
        }
      if (committedDocs > 0)
        throw new IllegalStateException(
          s"snapshot-$snapshotId records $committedDocs committed docs but zero " +
          "data files — committed bucket directories are missing (data loss)")
      // a snapshot whose committed buckets all held zero pages is legal
      // (runResumable writes zero-row lineage for empty buckets); its
      // correct time-travel answer is an EMPTY table with the data schema
      // — file columns first, partition column last, same as a real read
      import spark.implicits._
      spark.emptyDataset[ScoredDoc].withColumn("bucket", lit(0))
    } else {
      val paths = files.map(f => s"$root/data/$f")
      Parquet.reader(spark, paths.head).option("basePath", s"$root/data").parquet(paths: _*)
    }
  }
}

