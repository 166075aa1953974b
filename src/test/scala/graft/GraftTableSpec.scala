package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.ExtractPipeline
import graft.corpus.CorpusGen
import graft.table.GraftTable
import graft.model.LineageRow
import org.apache.spark.sql.functions.{col, count, lit, sum, when}

/** Snapshot (time-travel) semantics of the Iceberg-emulation layer
  * (SURVEY.md §7.3): each wave's manifest records the cumulative data
  * FILE list, and readSnapshot reads exactly those files — appends
  * committed after a snapshot must be invisible to it.
  */
class GraftTableSpec extends AnyFunSuite with SparkTestBase {

  test("snapshot read: post-snapshot appends are invisible to the old snapshot") {
    val root = java.nio.file.Files.createTempDirectory("graft_tbl_snap").toString
    val pages = ExtractPipeline.pages(spark, 160, 4)
    val target = CorpusGen.TargetWords.toSet
    val bycatch = CorpusGen.BycatchWords.toSet

    // first run commits wave 1 (2 of 8 buckets) then dies
    intercept[RuntimeException] {
      GraftTable.runResumable(spark, pages, root, nBuckets = 8, bucketsPerWave = 2,
        target, bycatch, tasksPerWave = 4, attempt = 1, failAfterWaves = 1)
    }
    val snap1 = GraftTable.readSnapshot(spark, root, 1)
    val snap1Urls = snap1.select("url").collect().map(_.getString(0)).toSet
    val snap1Count = snap1Urls.size.toLong
    assert(snap1.count() == snap1Count)
    assert(snap1Count > 0 && snap1Count < 160)
    // snapshot 1 sees exactly the committed buckets
    val done1 = GraftTable.completedBuckets(spark, root)
    assert(snap1.select("bucket").distinct().collect()
      .map(_.getInt(0)).toSet == done1)

    // resume to completion: three more waves -> snapshots 2..4 appended
    GraftTable.runResumable(spark, pages, root, nBuckets = 8, bucketsPerWave = 2,
      target, bycatch, tasksPerWave = 4, attempt = 2)
    assert(spark.read.parquet(s"$root/data").count() == 160)

    // the OLD snapshot is unchanged: identical rows despite the appends
    val snap1Again = GraftTable.readSnapshot(spark, root, 1)
    assert(snap1Again.count() == snap1Count)
    assert(snap1Again.select("url").collect().map(_.getString(0)).toSet == snap1Urls)

    // the latest snapshot sees the whole table; the chain is monotone
    val last = new java.io.File(s"$root/manifest").list()
      .count(_.startsWith("snapshot-"))
    assert(last == 4, s"expected 4 snapshots, found $last")
    val counts = (1 to last).map(i => GraftTable.readSnapshot(spark, root, i).count())
    assert(counts.last == 160L)
    assert(counts == counts.sorted, s"snapshot chain not monotone: $counts")

    // a missing snapshot id fails loudly, not with an empty frame
    intercept[IllegalArgumentException] {
      GraftTable.readSnapshot(spark, root, 99)
    }
  }

  test("catch-up snapshot: final-wave lineage without its manifest heals on resume") {
    // crash window: the LAST wave's lineage append committed but the
    // process died before writeSnapshot — mid-table the next wave's
    // cumulative manifest heals this, but the final wave has no next
    // wave, so without the catch-up pass readSnapshot(latest) would
    // omit committed rows forever (round-5 review). Simulated by
    // deleting the newest snapshot json after a completed run.
    val root = java.nio.file.Files.createTempDirectory("graft_tbl_catchup").toString
    val pages = ExtractPipeline.pages(spark, 120, 4)
    val target = CorpusGen.TargetWords.toSet
    val bycatch = CorpusGen.BycatchWords.toSet
    GraftTable.runResumable(spark, pages, root, nBuckets = 8, bucketsPerWave = 2,
      target, bycatch, tasksPerWave = 4)
    val manifest = new java.io.File(s"$root/manifest")
    // sort NUMERICALLY: snapshot ids are unpadded, so a lexicographic
    // .sorted.last picks snapshot-9 over snapshot-10 once a run commits
    // 10+ waves and the test would delete a mid-chain snapshot the next
    // wave's manifest already heals (round-6 test review)
    val newest = manifest.list().filter(_.startsWith("snapshot-"))
      .maxBy(_.stripPrefix("snapshot-").stripSuffix(".json").toInt)
    assert(new java.io.File(manifest, newest).delete())
    val latestId = newest.stripPrefix("snapshot-").stripSuffix(".json").toInt

    // no-op resume: nothing to process, but the manifest chain is behind
    // the lineage — the catch-up snapshot must restore full coverage
    val report = GraftTable.runResumable(spark, pages, root, nBuckets = 8,
      bucketsPerWave = 2, target, bycatch, tasksPerWave = 4, attempt = 2)
    assert(report.processed == 0)
    val healed = GraftTable.readSnapshot(spark, root, latestId)
    assert(healed.count() == 120,
      s"catch-up snapshot must cover all committed rows, saw ${healed.count()}")

    // a fully-covered table does NOT grow the chain on further resumes
    val before = manifest.list().count(_.startsWith("snapshot-"))
    GraftTable.runResumable(spark, pages, root, nBuckets = 8,
      bucketsPerWave = 2, target, bycatch, tasksPerWave = 4, attempt = 3)
    assert(manifest.list().count(_.startsWith("snapshot-")) == before)
  }

  test("staged input: per-wave bucket reads produce the same table and resume") {
    // stageInput materializes the bucketed projection once and each wave
    // reads only its own bucket dirs — the O(waves x input) full-scan
    // defense (round-5 review). Same rows, same resume semantics.
    val target = CorpusGen.TargetWords.toSet
    val bycatch = CorpusGen.BycatchWords.toSet
    val pages = ExtractPipeline.pages(spark, 160, 4)

    val rootA = java.nio.file.Files.createTempDirectory("graft_tbl_unstaged").toString
    GraftTable.runResumable(spark, pages, rootA, nBuckets = 8, bucketsPerWave = 2,
      target, bycatch, tasksPerWave = 4)

    val rootB = java.nio.file.Files.createTempDirectory("graft_tbl_staged").toString
    intercept[RuntimeException] {
      GraftTable.runResumable(spark, pages, rootB, nBuckets = 8, bucketsPerWave = 2,
        target, bycatch, tasksPerWave = 4, failAfterWaves = 2, stageInput = true)
    }
    assert(new java.io.File(s"$rootB/staged/_GRAFT_STAGED").exists)
    val report = GraftTable.runResumable(spark, pages, rootB, nBuckets = 8,
      bucketsPerWave = 2, target, bycatch, tasksPerWave = 4, attempt = 2,
      stageInput = true)
    assert(report.processed == 4) // 8 buckets - 2 waves x 2 committed

    def tbl(root: String) = spark.read.parquet(s"$root/data")
      .select("url", "bucket", "total_word_count", "ok", "wordscore")
      .collect().map(_.toSeq).toSet
    assert(tbl(rootB) == tbl(rootA), "staged and unstaged tables differ")
  }

  test("staged input: a changed input rebuilds the stage instead of serving stale rows") {
    // round-5 ADVICE: the bare _GRAFT_STAGED marker committed the staged
    // projection forever, so a resume with an EXTENDED input silently
    // served the stale staged rows for pending buckets. The marker now
    // records an input row-count fingerprint and a disagreement restages.
    val target = CorpusGen.TargetWords.toSet
    val bycatch = CorpusGen.BycatchWords.toSet
    val pages160 = ExtractPipeline.pages(spark, 160, 4)
    val root = java.nio.file.Files.createTempDirectory("graft_tbl_restage").toString
    intercept[RuntimeException] {
      GraftTable.runResumable(spark, pages160, root, nBuckets = 8, bucketsPerWave = 2,
        target, bycatch, tasksPerWave = 4, failAfterWaves = 2, stageInput = true)
    }
    val done = spark.read.parquet(s"$root/data")
      .select("bucket").distinct().collect().map(_.getAs[Number](0).intValue).toSet
    // resume with 40 MORE input docs: fingerprint 160 != 200 -> restage
    val pages200 = ExtractPipeline.pages(spark, 200, 4)
    GraftTable.runResumable(spark, pages200, root, nBuckets = 8, bucketsPerWave = 2,
      target, bycatch, tasksPerWave = 4, attempt = 2, stageInput = true)
    val marker = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/staged/_GRAFT_STAGED")).trim
    assert(marker == "200", s"marker fingerprint not rewritten: '$marker'")
    // every NEW url whose bucket was still pending at the crash must be
    // served from the REBUILT stage (the stale stage had none of them);
    // new urls in already-committed buckets stay excluded — that is the
    // resumable contract, not staleness
    val newUrls = pages200.select("url").except(pages160.select("url"))
      .collect().map(_.getString(0)).toSet
    val bucketOfUrl = spark.read.parquet(s"$root/staged")
      .select("url", "bucket").collect()
      .map(r => r.getString(0) -> r.getAs[Number](1).intValue).toMap
    val expectedNew = newUrls.filter(u => !done(bucketOfUrl(u)))
    val finalRows = spark.read.parquet(s"$root/data")
      .select("url").collect().map(_.getString(0))
    val finalUrls = finalRows.toSet
    assert(expectedNew.nonEmpty)
    val missing = expectedNew.filterNot(finalUrls)
    assert(missing.isEmpty, s"stale staged rows served: missing ${missing.take(3)}")
    // and the EXACT final contents (round-6 test review: inclusion alone
    // passes if a restage regression re-processes committed buckets or
    // serves new urls into them): committed buckets keep exactly their
    // pre-crash (old-input) rows, pending buckets get exactly the new
    // input's rows, once each
    val urls160 = pages160.select("url").collect().map(_.getString(0)).toSet
    val allNewInput = bucketOfUrl.keySet
    val expected = urls160.filter(u => done(bucketOfUrl(u))) ++
      allNewInput.filterNot(u => done(bucketOfUrl(u)))
    assert(finalUrls == expected,
      s"final table diverges: extra=${(finalUrls -- expected).take(3)} " +
        s"missing=${(expected -- finalUrls).take(3)}")
    assert(finalRows.length == expected.size,
      s"duplicate rows: ${finalRows.length} rows for ${expected.size} urls")
  }

  test("staged input: an EMPTY input stages and completes (marker fingerprint 0)") {
    // round-6 review regression guard: a zero-row partitionBy write has
    // no data files, so the staged read-back for the marker count threw
    // 'Unable to infer schema' — the fallback counts the input instead
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_tbl_empty").toString
    val report = GraftTable.runResumable(spark,
      spark.emptyDataset[graft.model.PageRecord],
      root, nBuckets = 4, bucketsPerWave = 2,
      CorpusGen.TargetWords.toSet, CorpusGen.BycatchWords.toSet,
      tasksPerWave = 2, stageInput = true)
    assert(report.docs == 0L)
    val marker = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/staged/_GRAFT_STAGED")).trim
    assert(marker == "0", s"marker fingerprint: '$marker'")
  }

  test("snapshot read: all-empty-bucket snapshot is an empty table, not an error") {
    // runResumable legitimately commits waves whose buckets hold zero pages
    // (it writes zero-row lineage for them); the snapshot then records
    // "files": [] and its correct time-travel answer is an EMPTY table
    val root = java.nio.file.Files.createTempDirectory("graft_tbl_empty").toString
    GraftTable.runResumable(spark, ExtractPipeline.pages(spark, 0, 2), root,
      nBuckets = 4, bucketsPerWave = 2,
      CorpusGen.TargetWords.toSet, CorpusGen.BycatchWords.toSet, tasksPerWave = 2)
    val snap = GraftTable.readSnapshot(spark, root, 1)
    assert(snap.count() == 0)
    assert(snap.columns.contains("url") && snap.columns.contains("bucket"))
    // file columns first, partition column last — same order as a real read
    assert(snap.columns.last == "bucket")
    // the data schema: every ScoredDoc column, then the int bucket
    val want = org.apache.spark.sql.Encoders.product[graft.model.ScoredDoc].schema
      .map(f => f.name -> f.dataType) :+ ("bucket" -> org.apache.spark.sql.types.IntegerType)
    assert(snap.schema.map(f => f.name -> f.dataType) == want)
  }

  test("resume with a different nBuckets fails loudly (bucket-id modulus pinned)") {
    val root = java.nio.file.Files.createTempDirectory("graft_tbl_nb").toString
    val pages = ExtractPipeline.pages(spark, 40, 2)
    GraftTable.runResumable(spark, pages, root, nBuckets = 8, bucketsPerWave = 8,
      CorpusGen.TargetWords.toSet, CorpusGen.BycatchWords.toSet, tasksPerWave = 2)
    val e = intercept[IllegalArgumentException] {
      GraftTable.runResumable(spark, pages, root, nBuckets = 16, bucketsPerWave = 8,
        CorpusGen.TargetWords.toSet, CorpusGen.BycatchWords.toSet, tasksPerWave = 2)
    }
    assert(e.getMessage.contains("nBuckets"))
    // same nBuckets resumes fine (everything already committed)
    val report = GraftTable.runResumable(spark, pages, root, nBuckets = 8,
      bucketsPerWave = 8, CorpusGen.TargetWords.toSet, CorpusGen.BycatchWords.toSet,
      tasksPerWave = 2)
    assert(report.processed == 0 && report.skipped == 8)
  }

  test("lineage dir with only committer droppings reads as nothing committed") {
    // a crash during the FIRST lineage write leaves lineage/_temporary and
    // no data file; resume must see zero completed buckets, not throw
    // schema-inference errors forever
    val root = java.nio.file.Files.createTempDirectory("graft_tbl_tmp").toString
    new java.io.File(s"$root/lineage/_temporary").mkdirs()
    assert(GraftTable.completedBuckets(spark, root) == Set.empty)
    // a driver append that died before its rename leaves its hidden temp
    // file, rows and all: still nothing committed
    val hfs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    GraftTable.appendLineage(hfs, root,
      Seq(LineageRow(3, 10L, 10L, 0L, 100L, 5L, 1, new java.sql.Timestamp(0L))))
    val lineage = new java.io.File(s"$root/lineage")
    val committed = lineage.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(committed.length == 1)
    assert(committed.head.renameTo(new java.io.File(lineage, s".${committed.head.getName}.tmp")))
    assert(GraftTable.completedBuckets(spark, root) == Set.empty)
    val report = GraftTable.runResumable(spark, ExtractPipeline.pages(spark, 40, 2), root,
      nBuckets = 4, bucketsPerWave = 4,
      CorpusGen.TargetWords.toSet, CorpusGen.BycatchWords.toSet, tasksPerWave = 2)
    assert(report.skipped == 0 && report.processed == 4 && report.docs == 40L)
    graft.util.Fs.deleteRecursively(new java.io.File(root))
  }

  test("lineage written by Spark and by the driver reads as one table") {
    // a table begun by an older build holds lineage files that Spark's
    // writer committed (INT96 ts, _SUCCESS); later waves add the driver's
    // files. The resume gate and a Spark read must both see every row.
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_tbl_mixed").toString
    val pages = ExtractPipeline.pages(spark, 160, 4)
    val target = CorpusGen.TargetWords.toSet
    val bycatch = CorpusGen.BycatchWords.toSet
    intercept[RuntimeException] {
      GraftTable.runResumable(spark, pages, root, nBuckets = 8, bucketsPerWave = 2,
        target, bycatch, tasksPerWave = 4, failAfterWaves = 2)
    }
    // rewrite both waves' files with timestamps that carry microseconds:
    // the first by the driver, the second the old way, by Spark's writer
    val lineageDir = new java.io.File(s"$root/lineage")
    val byFile = lineageDir.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f -> spark.read.parquet(f.getPath).as[LineageRow].collect().toSeq)
    assert(byFile.length == 2)
    byFile.foreach { case (f, _) => assert(f.delete()) }
    def at(ts: String)(rows: Seq[LineageRow]) =
      rows.map(_.copy(ts = java.sql.Timestamp.valueOf(ts)))
    val Seq(wave1, wave2) = byFile.map(_._2).sortBy(_.map(_.bucket).min).toSeq
    val driverRows = at("2026-01-02 03:04:05.654321")(wave1)
    val sparkRows = at("2026-01-02 03:04:05.123456")(wave2)
    val hfs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    GraftTable.appendLineage(hfs, root, driverRows)
    val driverFile = lineageDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    // the driver's footer holds LineageRow's parquet type as Spark's
    // writer derives it: non-null fields required, ts INT64 micros in UTC
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(driverFile.getPath), hfs.getConf))
    val footerSchema = try footer.getFileMetaData.getSchema.toString finally footer.close()
    assert(footerSchema ==
      """message spark_schema {
        |  required int32 bucket;
        |  required int64 n_docs;
        |  required int64 n_ok;
        |  required int64 n_err;
        |  required int64 bytes_in;
        |  required int64 wall_ms;
        |  required int32 attempt;
        |  optional int64 ts (TIMESTAMP(MICROS,true));
        |}
        |""".stripMargin)
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val savedTs = spark.conf.getOption(tsKey)
    spark.conf.set(tsKey, "INT96")
    try sparkRows.toDS().coalesce(1).write.mode("append").parquet(lineageDir.getPath)
    finally savedTs.fold(spark.conf.unset(tsKey))(spark.conf.set(tsKey, _))
    assert(new java.io.File(lineageDir, "_SUCCESS").exists)
    val sparkFile = lineageDir.listFiles()
      .filter(f => f.getName.endsWith(".parquet") && f != driverFile).head
    assert(GraftTable.completedBuckets(spark, root) == Set(0, 1, 2, 3))

    // Spark reads either file, and both together, with one schema and
    // every row, ts to the microsecond
    val read = spark.read.parquet(lineageDir.getPath)
    assert(spark.read.parquet(driverFile.getPath).schema == spark.read.parquet(sparkFile.getPath).schema)
    assert(read.schema == spark.read.parquet(sparkFile.getPath).schema)
    assert(read.as[LineageRow].collect().toSet == (driverRows ++ sparkRows).toSet)

    // the resume skips exactly the committed buckets
    val report = GraftTable.runResumable(spark, pages, root, nBuckets = 8, bucketsPerWave = 2,
      target, bycatch, tasksPerWave = 4, attempt = 2)
    assert(report.skipped == 4 && report.processed == 4)
    assert(report.docs == 160L - (wave1 ++ wave2).map(_.n_docs).sum)
    val data = spark.read.parquet(s"$root/data").select("url").as[String].collect()
    assert(data.length == 160 && data.toSet.size == 160)
    val all = spark.read.parquet(lineageDir.getPath).as[LineageRow].collect()
    assert(all.map(_.bucket).sorted.toSeq == (0 until 8))
    assert(all.filter(_.bucket >= 4).forall(_.attempt == 2))
    graft.util.Fs.deleteRecursively(new java.io.File(root))
  }

  test("snapshot read: zero files with non-zero recorded docs is loud data loss") {
    // writeSnapshot skips committed bucket dirs missing at listing time,
    // so this manifest shape means committed data vanished — readSnapshot
    // must throw, not return an empty table
    val root = java.nio.file.Files.createTempDirectory("graft_tbl_loss").toString
    val dir = new java.io.File(s"$root/manifest"); dir.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(dir, "snapshot-1.json").toPath,
      """{"snapshot_id": 1,
        |"wave": 0,
        |"buckets": [3],
        |"bucket_docs": {"3": 500},
        |"files": [],
        |"schema_id": 1}""".stripMargin)
    val e = intercept[IllegalStateException] {
      GraftTable.readSnapshot(spark, root, 1)
    }
    assert(e.getMessage.contains("data loss"))
  }

  test("snapshot data-loss check uses CUMULATIVE docs, not just the final wave") {
    // round-3 ADVICE: a snapshot whose OWN wave was all-empty but whose
    // earlier committed buckets' files vanished before the manifest write
    // records bucket_docs {} / files [] — the per-wave sum would read it
    // as a legal empty table. total_docs carries the cumulative count, so
    // the loss stays loud.
    val root = java.nio.file.Files.createTempDirectory("graft_tbl_cum").toString
    val dir = new java.io.File(s"$root/manifest"); dir.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(dir, "snapshot-2.json").toPath,
      """{"snapshot_id": 2,
        |"wave": 1,
        |"buckets": [5],
        |"bucket_docs": {"5": 0},
        |"total_docs": 500,
        |"files": [],
        |"schema_id": 1}""".stripMargin)
    val e = intercept[IllegalStateException] {
      GraftTable.readSnapshot(spark, root, 2)
    }
    assert(e.getMessage.contains("500") && e.getMessage.contains("data loss"))
    // and real runs WRITE the cumulative count: run 2 waves, check the
    // last snapshot's total_docs equals the whole table
    val root2 = java.nio.file.Files.createTempDirectory("graft_tbl_cum2").toString
    GraftTable.runResumable(spark, ExtractPipeline.pages(spark, 80, 2), root2,
      nBuckets = 4, bucketsPerWave = 2,
      CorpusGen.TargetWords.toSet, CorpusGen.BycatchWords.toSet, tasksPerWave = 2)
    // numeric max, not lexicographic (unpadded ids — see catch-up test)
    val lastSnap = new java.io.File(s"$root2/manifest").list()
      .filter(_.startsWith("snapshot-"))
      .maxBy(_.stripPrefix("snapshot-").stripSuffix(".json").toInt)
    val lastJson = java.nio.file.Files.readString(
      new java.io.File(s"$root2/manifest/$lastSnap").toPath)
    val total = "\"total_docs\": (\\d+)".r.findFirstMatchIn(lastJson).map(_.group(1).toLong)
    assert(total.contains(80L), s"last snapshot total_docs=$total, want 80")
  }

  // runResumable under a deliberately odd session partition count (13
  // against 4 write tasks per wave) still commits exactly one lineage row
  // per bucket, with the committed per-bucket doc counts, and leaves the
  // session conf untouched.
  test("r8: wave-capped metrics agg restores conf, lineage exact") {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "13")
      val root = java.nio.file.Files.createTempDirectory("graft_tbl_cap").toString
      val report = GraftTable.runResumable(
        spark, ExtractPipeline.pages(spark, 120, 4), root,
        nBuckets = 6, bucketsPerWave = 3,
        CorpusGen.TargetWords.toSet, CorpusGen.BycatchWords.toSet,
        tasksPerWave = 4)
      assert(report.docs == 120L)
      assert(spark.conf.get(key) == "13",
        s"metrics agg leaked its capped shuffle setting: ${spark.conf.get(key)}")
      // lineage re-derived independently from the committed data files
      val fromData = spark.read.parquet(s"$root/data")
        .groupBy("bucket").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val fromLineage = spark.read.parquet(s"$root/lineage")
        .select("bucket", "n_docs").collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(fromLineage == fromData ++ (0 until 6)
        .filterNot(fromData.contains).map(_ -> 0L).toMap)
      graft.util.Fs.deleteRecursively(new java.io.File(root))
    } finally spark.conf.set(key, saved)
  }

  test("lineage is exact when write tasks fail mid-partition and retry") {
    // the lineage counts are observed inside the write job; a retried
    // task must not count its failed attempt's rows. A child JVM at
    // local[4,2] fails the first attempt of every data-file create, after
    // the attempt has already pulled (and the observation counted) rows.
    val root = java.nio.file.Files.createTempDirectory("graft_tbl_retry").toString
    // the child gets this JVM's module opens (build.sbt's javaOptions)
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).filter(_.startsWith("--add-opens"))
    val cmd = Seq(System.getProperty("java.home") + "/bin/java") ++ opens ++ Seq(
      "-Xmx1g", "-cp", System.getProperty("java.class.path"),
      "graft.RetryLineageRun", root)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() == 0, s"child run failed:\n${out.takeRight(4000)}")
    val failed = "failed_attempts=(\\d+)".r.findFirstMatchIn(out).map(_.group(1).toInt)
    assert(failed.exists(_ > 0), s"no task attempt failed, the test is vacuous:\n${out.takeRight(4000)}")

    // (n_docs, n_ok, n_err, bytes_in) per bucket, from the lineage and
    // re-derived from the committed data files
    val fromLineage = spark.read.parquet(s"$root/lineage")
      .select("bucket", "n_docs", "n_ok", "n_err", "bytes_in").collect()
      .map(r => r.getInt(0) -> (1 to 4).map(r.getLong)).toMap
    val fromData = spark.read.parquet(s"$root/data").groupBy("bucket")
      .agg(count(lit(1)), count(when(col("ok"), 1)), count(when(!col("ok"), 1)),
        sum("n_bytes"))
      .collect().map(r => r.getInt(0) -> (1 to 4).map(r.getLong)).toMap
    assert(fromData.values.map(_.head).sum == 120L)
    assert(fromLineage == fromData ++ (0 until 6).filterNot(fromData.contains)
      .map(_ -> Seq(0L, 0L, 0L, 0L)).toMap)
    graft.util.Fs.deleteRecursively(new java.io.File(root))
  }

  test("a wave runs one job: the data write") {
    // a wave parses on its coalesced scan splits, the lineage counts are
    // observed inside the data write and the driver writes the lineage
    // file, so a wave has no shuffle job, no read-back job and no lineage
    // write job. A fresh table has no lineage to read at entry and its
    // empty completed-bucket set broadcasts without a job, so a run of 4
    // waves is exactly 4 jobs
    val root = java.nio.file.Files.createTempDirectory("graft_tbl_jobs").toString
    val pages = ExtractPipeline.pages(spark, 80, 2)
    val jobs = jobsOf(GraftTable.runResumable(spark, pages, root, nBuckets = 8,
      bucketsPerWave = 2, CorpusGen.TargetWords.toSet, CorpusGen.BycatchWords.toSet,
      tasksPerWave = 2))
    assert(jobs.size == 4, s"runResumable ran ${jobs.size} jobs for 4 waves:\n${jobs.mkString("\n")}")
    graft.util.Fs.deleteRecursively(new java.io.File(root))
  }

  test("a wave shuffles no bytes, writes at most tasksPerWave files per bucket, and counts progress") {
    // control: the task-end events carry a shuffle's bytes
    assert(taskEndsOf(spark.range(100).repartition(4).count())
      .map(_.taskMetrics.shuffleWriteMetrics.bytesWritten).sum > 0)
    // 8 input splits against 2 tasks per wave: uncoalesced, each bucket
    // would get up to 8 files
    val root = java.nio.file.Files.createTempDirectory("graft_tbl_splits").toString
    val pages = ExtractPipeline.pages(spark, 160, 8)
    val tasks = taskEndsOf(GraftTable.runResumable(spark, pages, root, nBuckets = 4,
      bucketsPerWave = 2, CorpusGen.TargetWords.toSet, CorpusGen.BycatchWords.toSet,
      tasksPerWave = 2))
    assert(tasks.nonEmpty)
    val shuffled = tasks.map(_.taskMetrics.shuffleWriteMetrics.bytesWritten).sum
    assert(shuffled == 0L, s"the table run wrote $shuffled shuffle bytes")
    val files = (0 until 4).map { b =>
      b -> Option(new java.io.File(s"$root/data/bucket=$b").list()).toSeq.flatten
        .count(_.endsWith(".parquet"))
    }.toMap
    assert(files.values.forall(n => n >= 1 && n <= 2), s"data files per bucket: $files")
    // on a clean run the live counters equal the durable lineage sums
    val live = tasks.flatMap(_.taskInfo.accumulables).collect {
      case a if a.name.exists(_.startsWith("graft.")) && a.update.isDefined =>
        a.name.get -> a.update.get.asInstanceOf[Long]
    }.groupMapReduce(_._1)(_._2)(_ + _)
    val lineage = spark.read.parquet(s"$root/lineage")
      .selectExpr("sum(n_ok)", "sum(n_err)", "sum(bytes_in)").head()
    assert(lineage.getLong(0) + lineage.getLong(1) == 160L)
    assert(Seq("graft.docs_ok", "graft.docs_err", "graft.bytes_in").map(live.getOrElse(_, 0L)) ==
      (0 to 2).map(lineage.getLong), s"live counters $live")
    graft.util.Fs.deleteRecursively(new java.io.File(root))
  }

  test("table metadata reads start no Spark job") {
    // completedBuckets and a resume's entry read the lineage on the
    // driver, and a parquet read takes its schema from a footer
    val root = java.nio.file.Files.createTempDirectory("graft_tbl_meta").toString
    val pages = ExtractPipeline.pages(spark, 80, 2)
    def run(attempt: Int, failAfter: Int) = GraftTable.runResumable(spark, pages, root,
      nBuckets = 8, bucketsPerWave = 2, CorpusGen.TargetWords.toSet,
      CorpusGen.BycatchWords.toSet, tasksPerWave = 2, attempt = attempt,
      failAfterWaves = failAfter)
    intercept[RuntimeException](run(1, 2))
    var done = Set.empty[Int]
    assert(jobsOf { done = GraftTable.completedBuckets(spark, root) }.isEmpty)
    assert(done.size == 4)
    // a resume that fails at its first wave runs only its entry
    val entry = jobsOf {
      val e = intercept[RuntimeException](run(2, 0))
      assert(e.getMessage.startsWith("injected failure"))
    }
    assert(entry.isEmpty, s"resume entry ran jobs:\n${entry.mkString("\n")}")
    var schemas = Seq.empty[org.apache.spark.sql.types.StructType]
    val reads = jobsOf {
      schemas = Seq(s"$root/data", s"$root/lineage").map(p => graft.util.Parquet.read(spark, p).schema)
    }
    assert(reads.isEmpty, s"Parquet.read ran jobs:\n${reads.mkString("\n")}")
    assert(schemas.head.last.name == "bucket")
    run(3, Int.MaxValue)
    assert(GraftTable.completedBuckets(spark, root) == (0 until 8).toSet)
    graft.util.Fs.deleteRecursively(new java.io.File(root))
  }
}
