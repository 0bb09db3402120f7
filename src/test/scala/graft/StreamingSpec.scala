package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.ExtractStream

/** Drives the streaming variant end-to-end over a landing directory and
  * checks (a) results equal the batch path, (b) restart-with-checkpoint
  * does not reprocess (exactly-once file semantics = Q5 resume).
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("streaming-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("stateless doc ops run unchanged under Structured Streaming (API symmetry)") {
    // quality scoring / repetition stats / line dedup are pure per-row
    // projections, so the SAME DataFrame functions compose onto a
    // readStream source with no code changes — the training-data pipeline
    // can score/clean documents as they land
    import graft.ops.DocOps
    val work = Files.createTempDirectory("graft-stream-docs").toFile.getAbsolutePath
    val landing = s"$work/landing"
    val docs = {
      val s = spark
      import s.implicits._
      Seq((1L, "dup\ndup\nbody text here"), (2L, "clean doc\nwith two lines"))
        .toDF("doc_id", "text")
    }
    docs.write.parquet(landing)
    val stream = spark.readStream.schema(docs.schema).parquet(landing)
    val outQ = DocOps.repetitionStats(stream).writeStream
      .format("memory").queryName("rep_stream").outputMode("append").start()
    outQ.processAllAvailable(); outQ.stop()
    val streamed = spark.table("rep_stream").orderBy("doc_id").collect()
    val batch = DocOps.repetitionStats(docs).orderBy("doc_id").collect()
    assert(streamed.toSeq === batch.toSeq)
    val outQ2 = DocOps.dedupLines(stream).writeStream
      .format("memory").queryName("dedup_stream").outputMode("append").start()
    outQ2.processAllAvailable(); outQ2.stop()
    assert(spark.table("dedup_stream").orderBy("doc_id").collect().toSeq ===
      DocOps.dedupLines(docs).orderBy("doc_id").collect().toSeq)
    // chunking (round 7) is the same pure flatMap shape — docs landing
    // from a stream chunk identically to batch
    val outQc = DocOps.chunkDocs(stream, maxWords = 3, overlap = 1).writeStream
      .format("memory").queryName("chunk_stream").outputMode("append").start()
    outQc.processAllAvailable(); outQc.stop()
    assert(spark.table("chunk_stream").orderBy("doc_id", "chunk_idx")
        .collect().toSeq ===
      DocOps.chunkDocs(docs, maxWords = 3, overlap = 1)
        .orderBy("doc_id", "chunk_idx").collect().toSeq)
    // the Gopher rule bundle is also a pure projection → same symmetry
    val outQ3 = DocOps.gopherRules(stream).writeStream
      .format("memory").queryName("gopher_stream").outputMode("append").start()
    outQ3.processAllAvailable(); outQ3.stop()
    assert(spark.table("gopher_stream").orderBy("doc_id").collect().toSeq ===
      DocOps.gopherRules(docs).orderBy("doc_id").collect().toSeq)
    // stratified sampling (round 6) is a deterministic stateless filter —
    // the mixture-reweighting stage runs on data as it lands, and the
    // same docs survive as in batch
    val docsSrc = {
      val s = spark
      import s.implicits._
      Seq((1L, "a", "web"), (2L, "b", "web"), (3L, "c", "wiki"),
        (4L, "d", "wiki"), (5L, "e", "web"), (6L, "f", "web"))
        .toDF("doc_id", "text", "source")
    }
    val landing2 = s"$work/landing2"
    docsSrc.write.parquet(landing2)
    val stream2 = spark.readStream.schema(docsSrc.schema).parquet(landing2)
    val rates = Map("web" -> 0.5, "wiki" -> 1.0)
    val outQ4 = DocOps.sampleStratified(stream2, rates).writeStream
      .format("memory").queryName("sample_stream").outputMode("append").start()
    outQ4.processAllAvailable(); outQ4.stop()
    assert(spark.table("sample_stream").orderBy("doc_id").collect().toSeq ===
      DocOps.sampleStratified(docsSrc, rates).orderBy("doc_id").collect().toSeq)
  }

  test("decontam overlap stage composes onto a stream (static broadcast + update-mode agg)") {
    import graft.ops.DocOps
    import org.apache.spark.sql.functions.{broadcast, col, count, lit}
    val work = Files.createTempDirectory("graft-stream-decontam").toFile.getAbsolutePath
    val landing = s"$work/landing"
    val s = spark
    import s.implicits._
    val leak = (1 to 20).map(i => s"leak$i").mkString(" ")
    val evalDocs = Seq((100L, s"benchmark with $leak inside")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, s"stream doc containing $leak plus extra context words"),
      (2L, (1 to 30).map(i => s"clean$i").mkString(" "))
    ).toDF("doc_id", "text")
    docs.write.parquet(landing)
    // the corpus side of decontamAgainst as it applies to LANDING data:
    // shingle explode (stateless) → semi-join against the STATIC eval
    // shingle set (broadcast; stream-static joins are supported) → per-doc
    // running counts as an update-mode streaming aggregation. The full
    // per-doc fraction needs the totals join (a second aggregation —
    // batch's job); the overlap COUNTS are the stage that wants to run
    // on data as it lands.
    val evalSh = DocOps.shingles(evalDocs, DocOps.DecontamK)
      .select(col("s")).distinct()
    val stream = spark.readStream.schema(docs.schema).parquet(landing)
    val flagged = DocOps.shingles(stream, DocOps.DecontamK)
      .join(broadcast(evalSh), Seq("s"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
    val q = flagged.writeStream.format("memory").queryName("decontam_stream")
      .outputMode("update").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("decontam_stream")
      .groupBy("doc_id").agg(org.apache.spark.sql.functions.max("n_contaminated")
        .as("n_contaminated"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // batch ground truth from the full operator
    val batch = DocOps.decontamAgainst(docs, evalDocs)
      .where(col("n_contaminated") > 0)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(batch.nonEmpty && streamed === batch)
  }

  test("streaming extraction equals batch extraction; checkpoint resume skips done work") {
    val work = Files.createTempDirectory("graft-stream").toFile.getAbsolutePath
    val landing = s"$work/landing"
    val out = s"$work/out"
    val ckpt = s"$work/ckpt"

    // land the t1 corpus as a file-source input
    spark.read.parquet("data/transcripts_t1").coalesce(2)
      .write.parquet(landing)

    val q1 = ExtractStream.writer(
      ExtractStream.extractStream(ExtractStream.readTranscriptStream(spark, landing)),
      out, ckpt).start()
    q1.awaitTermination()

    val streamed = spark.read.parquet(out)
    val batch = graft.pipeline.Extract.run(spark, "data/transcripts_t1").toDF()
    assert(streamed.count() === batch.count())
    val diff = streamed.select("conv_id", "turn_idx", "cells_json", "md", "md_nohf", "filtered")
      .exceptAll(batch.select("conv_id", "turn_idx", "cells_json", "md", "md_nohf", "filtered"))
      .count()
    assert(diff === 0L)

    // restart with same checkpoint: no new input -> no new rows
    val q2 = ExtractStream.writer(
      ExtractStream.extractStream(ExtractStream.readTranscriptStream(spark, landing)),
      out, ckpt).start()
    q2.awaitTermination()
    assert(spark.read.parquet(out).count() === batch.count())
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("windowed report: watermarked event-time windows finalize and late data drops") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Boolean, String)]
    val report = ExtractStream.windowedReport(
      in.toDF().toDF("ts", "filtered", "md"), "1 minute", "1 minute")
    val q = report.writeStream.format("memory").queryName("win_report")
      .outputMode("append").start()
    try {
      in.addData((ts("2026-01-01 10:00:05"), false, "aa"),
        (ts("2026-01-01 10:00:40"), true, "b"))
      q.processAllAvailable()
      // advance watermark past 10:01 + 1min lateness -> first window closes
      in.addData((ts("2026-01-01 10:03:00"), false, "c"))
      q.processAllAvailable()
      in.addData((ts("2026-01-01 10:03:30"), false, "d"))
      q.processAllAvailable()
      val rows = spark.table("win_report").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.contains(("2026-01-01 10:00:00.0", 2L, 1L, 3L)),
        s"finalized first window missing: ${rows.mkString("; ")}")
      // a row later than the watermark allows for 10:00 must NOT reopen it
      in.addData((ts("2026-01-01 10:00:50"), false, "late-dropped"))
      q.processAllAvailable()
      val again = spark.table("win_report").collect()
        .filter(_.getTimestamp(0).toString == "2026-01-01 10:00:00.0")
      assert(again.length === 1 && again.head.getLong(1) === 2L)
    } finally q.stop()
  }

  test("session fan-in: flatMapGroupsWithState emits the doc after the event-time gap") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Int, String, java.sql.Timestamp)]
    val docs = ExtractStream.sessionFanIn(in.toDS(), gapMs = 60000L)
    val q = docs.writeStream.format("memory").queryName("conv_docs")
      .outputMode("append").start()
    try {
      // conversation A arrives out of order across two batches
      in.addData(("A", 1, "second page", ts("2026-01-01 10:00:10")),
        ("A", 0, "first page", ts("2026-01-01 10:00:00")))
      q.processAllAvailable()
      in.addData(("A", 2, "third page", ts("2026-01-01 10:00:20")))
      q.processAllAvailable()
      assert(spark.table("conv_docs").count() === 0L, "must not emit before the gap")
      // event time jumps past A's last turn + gap -> A times out and emits
      in.addData(("B", 0, "other conv", ts("2026-01-01 10:05:00")))
      q.processAllAvailable()
      in.addData(("B", 1, "still other", ts("2026-01-01 10:05:10")))
      q.processAllAvailable()
      val out = spark.table("conv_docs").as[ExtractStream.ConvDoc].collect()
      assert(out.length === 1)
      assert(out.head.conv_id === "A")
      assert(out.head.n_pages === 3)
      assert(out.head.doc_md === "first page\n\n---\n\nsecond page\n\n---\n\nthird page")
    } finally q.stop()
  }

  test("continuous incremental dedup: foreachBatch state ≡ full recompute; replay idempotent") {
    import graft.ops.DocOps
    import graft.streaming.DedupStream
    val s = spark
    import s.implicits._
    // three landing files → three micro-batches (maxFilesPerTrigger=1);
    // cross-batch exact dup (10≡1), cross-batch near-dup chain (20/21≡11),
    // isolated docs in every batch
    val batches = Seq(
      Seq((1L, words(1, 20)), (2L, words(2, 21)), (3L, words(100, 119))),
      Seq((10L, words(1, 20)), (11L, words(200, 219))),
      Seq((20L, words(200, 219)), (21L, words(200, 219)), (22L, words(300, 319))))
    val work = Files.createTempDirectory("graft-dedup-stream").toFile.getAbsolutePath
    val landing = s"$work/landing"
    val state = s"$work/state"
    batches.foreach(b => b.toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(landing))
    val schema = batches.head.toDF("doc_id", "text").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(landing)
    val q = stream.writeStream.foreachBatch(DedupStream.sink(state))
      .option("checkpointLocation", s"$work/ckpt").start()
    q.processAllAvailable(); q.stop()

    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lastV = fs.listStatus(new org.apache.hadoop.fs.Path(state))
      .map(_.getPath.getName).filter(_.startsWith("labels_v"))
      .map(_.stripPrefix("labels_v").toLong).max
    assert(lastV === batches.length - 1L)
    // round 8: versions are DELTAS — the live table resolves the chain
    val streamed = labelMap(DedupStream.readLabels(spark, state))
    val all = batches.flatten.toDF("doc_id", "text")
    val full = labelMap(DocOps.keepersFromEdges(all, DocOps.simhashEdges(all)))
    assert(streamed === full)
    assert(full(10L) === full(1L))                     // cross-batch exact dup
    assert(full(20L) === full(11L) && full(21L) === full(11L)) // near-dup chain
    assert(Set(3L, 22L).forall(d => full(d) === d))    // isolated docs

    // per-batch state WRITES are batch-incident (the r7 verdict's top perf
    // weak): each labels_v delta carries only that batch's docs plus
    // merged-component relabels, never the whole corpus state
    val deltaIds = (0L to lastV).map(v =>
      spark.read.parquet(s"$state/labels_v$v")
        .collect().map(_.getLong(0)).toSet)
    assert(deltaIds(0) === Set(1L, 2L, 3L))
    assert(deltaIds(1) === Set(10L, 11L))        // 10 merges into root 1 (already min) — no old relabel rows
    assert(deltaIds(2) === Set(20L, 21L, 22L))   // root 11 keeps its label — no old relabel rows
    // resolved reads at intermediate versions equal prefix recomputes
    val pref2 = batches.take(2).flatten.toDF("doc_id", "text")
    assert(labelMap(DedupStream.readLabels(spark, state, below = 2L)) ===
      labelMap(DocOps.keepersFromEdges(pref2, DocOps.simhashEdges(pref2))))

    // replay: re-deliver the LAST batch (same batchId) — its snapshot is
    // committed, so the replay is a no-op and the state is unchanged
    val committed = DedupStream.readLabels(spark, state).inputFiles.toSet
    DedupStream.processBatch(spark, state,
      batches.last.toDF("doc_id", "text"), lastV)
    assert(DedupStream.readLabels(spark, state).inputFiles.toSet === committed)
    assert(labelMap(DedupStream.readLabels(spark, state)) === full)
    // one manifest retained: the current snapshot lists every delta
    assert(graft.pipeline.SnapshotStore.snapshots(fs,
      new org.apache.hadoop.fs.Path(state)).map(_._1) === Seq(lastV))
    // index stays rep-level: one rep per distinct (batch, fingerprint),
    // 4 band rows each — in-batch dup groups (20/21) collapse before the
    // index ever sees them; each index_v delta holds ONLY its batch's reps
    val repsPerBatch = batches.map(b =>
      DocOps.simhash(b.toDF("doc_id", "text"))
        .select("simhash").distinct().count())
    (0L to lastV).foreach(v => assert(
      spark.read.parquet(s"$state/index_v$v").count() ===
        repsPerBatch(v.toInt) * 4L))
    assert(DedupStream.readIndex(spark, state).count() === repsPerBatch.sum * 4L)
    assert(repsPerBatch.sum < batches.map(_.length).sum) // the collapse did fire
  }

  private def words(from: Int, to: Int): String =
    (from to to).map(i => s"tok$i").mkString(" ")

  /** Writes each batch as a parquet table `<work>/b<i>`; returns the paths. */
  private def landBatches(work: String, batches: Seq[Seq[(Long, String)]]): Seq[String] = {
    val s = spark
    import s.implicits._
    batches.zipWithIndex.map { case (b, i) =>
      b.toDF("doc_id", "text").write.parquet(s"$work/b$i")
      s"$work/b$i"
    }
  }

  private def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The keeper table a from-scratch SimHash pass gives over every distinct doc. */
  private def fullKeepers(batches: Seq[Seq[(Long, String)]]): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    val all = batches.flatten.distinct.toDF("doc_id", "text")
    labelMap(graft.ops.DocOps.keepersFromEdges(all, graft.ops.DocOps.simhashEdges(all)))
  }

  test("dedup state: a crash before the commit leaves no torn version; the retry completes it") {
    import graft.streaming.DedupStream
    spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashFs].getName)
    // batch 2 holds a near-dup of batch 1 (20 ≡ 11) and a new doc (21);
    // batch 3 appends a dup of that new doc (30 ≡ 21)
    val batches = Seq(
      Seq((1L, words(1, 20)), (2L, words(100, 119))),
      Seq((10L, words(1, 20)), (11L, words(200, 219))),
      Seq((20L, words(200, 219)), (21L, words(300, 319))),
      Seq((30L, words(300, 319)), (31L, words(400, 419))))
    val full = fullKeepers(batches)
    assert(full(20L) === 11L && full(30L) === 21L)
    // the kill lands after the labels write (the index delta's directory is
    // first created) or after the index write (the manifest is staged)
    for (killAt <- Seq("index_v2", "_manifests")) {
      val work = Files.createTempDirectory("graft-dedup-crash").toFile.getAbsolutePath
      val in = landBatches(work, batches)
      val state = s"crashfs://$work/state"
      def dedup(i: Int): Unit = DocJob.run(spark, Array("dedup", in(i), state))
      dedup(0); dedup(1)
      val labels1 = labelMap(DedupStream.readLabels(spark, state))
      val index1 = DedupStream.readIndex(spark, state).inputFiles.toSet
      CrashFs.failOn = Some(s"$work/state/$killAt")
      val crash = intercept[Exception](dedup(2))
      assert(CrashFs.failOn.isEmpty, s"no crash injected at $killAt: $crash")
      // batch 2's written deltas are invisible: the state is batch 1's
      assert(labelMap(DedupStream.readLabels(spark, state)) === labels1, killAt)
      assert(DedupStream.readIndex(spark, state).inputFiles.toSet === index1, killAt)
      assert(DedupStream.nextBatchId(spark, state) === 2L, killAt)
      dedup(2); dedup(3)
      assert(labelMap(DedupStream.readLabels(spark, state)) === full, killAt)
      assert(DedupStream.readIndex(spark, state).inputFiles
        .exists(_.contains("/index_v2/")), killAt)
      graft.ops.CacheLedger.release()
    }
  }

  test("dedup state: a re-ingested doc keeps its old keeper") {
    import graft.streaming.DedupStream
    val work = Files.createTempDirectory("graft-dedup-reingest").toFile.getAbsolutePath
    val state = s"$work/state"
    // 5 ≡ 1 (keeper 1); batch 1 re-sends 5, batch 2 re-sends it again with
    // a new doc 0 that moves the component's minimum
    val batches = Seq(
      Seq((1L, words(1, 20)), (5L, words(1, 20)), (7L, words(100, 119))),
      Seq((5L, words(1, 20)), (9L, words(200, 219))),
      Seq((5L, words(1, 20)), (0L, words(1, 20))))
    val in = landBatches(work, batches)
    in.indices.foreach { i =>
      DocJob.run(spark, Array("dedup", in(i), state))
      val seen = batches.take(i + 1)
      assert(labelMap(DedupStream.readLabels(spark, state)) === fullKeepers(seen), s"batch $i")
      // one row per doc in each delta: the re-sent id is not labelled twice
      val delta = spark.read.parquet(s"$state/labels_v$i")
      assert(delta.count() === delta.select("doc_id").distinct().count(), s"batch $i")
    }
    assert(labelMap(DedupStream.readLabels(spark, state))(5L) === 0L)
    graft.ops.CacheLedger.release()
  }
}

/** Local file system under the `crashfs` scheme that fails the first
  * creation of a directory or file at or under [[CrashFs.failOn]] — a
  * writer killed at that point of its output.
  */
class CrashFs extends org.apache.hadoop.fs.FilterFileSystem(new CrashFs.Local) {
  import org.apache.hadoop.fs.Path
  import org.apache.hadoop.fs.permission.FsPermission

  private def maybeCrash(f: Path): Unit = CrashFs.synchronized {
    CrashFs.failOn.filter(d => f.toUri.getPath.startsWith(d)).foreach { d =>
      CrashFs.failOn = None
      throw new java.io.IOException(s"injected crash creating $f (under $d)")
    }
  }

  override def mkdirs(f: Path): Boolean = { maybeCrash(f); super.mkdirs(f) }

  override def mkdirs(f: Path, p: FsPermission): Boolean = { maybeCrash(f); super.mkdirs(f, p) }

  override def create(f: Path, p: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    maybeCrash(f)
    super.create(f, p, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CrashFs {
  import org.apache.hadoop.fs.{FileStatus, Path}

  @volatile var failOn: Option[String] = None

  /** The raw local file system with `crashfs` paths. Its statuses drop the
    * lazily loaded permissions, which the raw file system can only load
    * for `file:` paths.
    */
  class Local extends org.apache.hadoop.fs.RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create("crashfs:///")
    private def plain(s: FileStatus): FileStatus = new FileStatus(s.getLen,
      s.isDirectory, s.getReplication, s.getBlockSize, s.getModificationTime, s.getPath)
    override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))
    override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(plain)
  }
}
