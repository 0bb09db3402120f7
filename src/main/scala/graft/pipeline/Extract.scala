package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The flagship pipeline: transcripts table → per-turn extraction results.
  *
  * Spark shape (SURVEY.md §3.1): parquet/Iceberg scan → column-pruned
  * projection (pruning happens BEFORE the object stage — a mapPartitions is
  * a pruning barrier) → `mapPartitions` object stage (regexes and the JSON
  * parser are instantiated once per partition, the analog of the per-task
  * parser at demo/demo_gradio_batch.py:976-982) → stable `(conv_id,
  * turn_idx)` ordering at the sink (dots_ocr/parser.py:292).
  *
  * Scale notes (100 TB / 10^12 turns):
  *  - The per-turn transform is embarrassingly parallel: NO shuffle in the
  *    hot path. Scan splits are size-bounded by the source
  *    (maxPartitionBytes / Iceberg split planning), so partitions stay
  *    balanced regardless of conversation length.
  *  - A shuffle appears only in conversation-level fan-in (`docFanIn`) and
  *    in checkpoint-resume's anti join; both are keyed on conv_id where a
  *    single 1M-turn conversation could skew a reducer — `saltedRepartition`
  *    plus AQE skew handling cover that (SURVEY.md §4).
  */
object Extract {

  /** Read a transcripts parquet/Iceberg dir into the typed input. */
  def readTranscripts(spark: SparkSession, path: String): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(path)
      .select($"conv_id", $"turn_idx", $"role", $"text", $"tool")
      .as[Turn]
  }

  /** The core object stage. Input is projected to exactly the needed columns
    * first so parquet column pruning still applies upstream.
    */
  def extract(turns: Dataset[Turn]): Dataset[TurnResult] = {
    import turns.sparkSession.implicits._
    turns.mapPartitions { it =>
      // per-partition closure: compiled patterns in OutputCleaner /
      // FormatTransformer are JVM-static, shared across tasks in an executor
      it.map(ExtractTurn.apply)
    }
  }

  /** Full pipeline with stable output ordering restored after unordered
    * parallel execution (O1, parser.py:292): sortWithinPartitions keeps the
    * sort local (no extra shuffle) — output files are (conv_id, turn_idx)
    * runs, and any consumer needing a global order uses the same key.
    */
  def run(spark: SparkSession, transcriptsPath: String): Dataset[TurnResult] =
    extract(readTranscripts(spark, transcriptsPath))
      .sortWithinPartitions("conv_id", "turn_idx")

  /** Explicit skew lever for pathological input layouts (one conversation
    * dominating a file): spread rows over `parts` partitions by hashing
    * (conv_id, turn_idx/bucket) — a single huge conversation lands on
    * ~`len/bucket` partitions instead of one. Order is data-defined, so the
    * final sort key restores it (SURVEY §7.4.7).
    */
  def saltedRepartition(df: DataFrame, parts: Int, bucket: Int = 64): DataFrame =
    // NOTE: repartition(parts, expr) hash-partitions ON the expression — a
    // pre-pmod'ed salt would be hashed AGAIN (collapsing the spread), so the
    // salt column is the raw 64-bit hash of (conv_id, turn-bucket)
    df.repartition(parts, xxhash64(col("conv_id"),
      (col("turn_idx") / lit(bucket)).cast("long")))

  /** Checkpoint-resume (J1/Q5, demo/demo_gradio_batch.py:47-55,1254-1341):
    * drop turns whose (conv_id, turn_idx) already exist in the results table.
    * At scale this is a shuffled left-anti join; AQE converts it to broadcast
    * when the processed-key side is small after pruning.
    */
  def resumeFrom(turns: Dataset[Turn], processed: DataFrame): Dataset[Turn] = {
    import turns.sparkSession.implicits._
    turns.join(processed.select("conv_id", "turn_idx"),
      Seq("conv_id", "turn_idx"), "left_anti").as[Turn]
  }

  /** Conversation fan-in (A3, demo/demo_gradio.py:414-454): pages sorted by
    * turn_idx, markdown joined with "\n\n---\n\n".
    *
    * Scale shape: range-partition on conv_id (equal keys always land in ONE
    * partition) + partition-local sort, then a STREAMING per-group concat in
    * mapPartitions. Unlike collect_list + sort_array (the round-1 form), no
    * per-key aggregation buffer holds a conversation's rows as an array —
    * a 1M-turn conversation costs only its output string, which is the
    * operator's result and therefore irreducible. Sort keys include md so
    * the order is total even under duplicate turn_idx.
    */
  def docFanIn(results: DataFrame): DataFrame = {
    import results.sparkSession.implicits._
    val rows = results
      .where(col("md").isNotNull)
      .select(col("conv_id"), col("turn_idx").cast("int"), col("md"))
      .repartitionByRange(col("conv_id"))
      .sortWithinPartitions(col("conv_id"), col("turn_idx"), col("md"))
      .as[(String, Int, String)]
    rows.mapPartitions { it =>
      new Iterator[(String, String, Long)] {
        // one-row lookahead: `head` is the first row of the next group
        private var head: (String, Int, String) =
          if (it.hasNext) it.next() else null
        def hasNext: Boolean = head != null
        def next(): (String, String, Long) = {
          val conv = head._1
          val sb = new java.lang.StringBuilder(head._3)
          var n = 1L
          var continue = true
          while (continue) {
            val r = if (it.hasNext) it.next() else null
            if (r == null) { head = null; continue = false }
            else if (r._1 == conv) { sb.append("\n\n---\n\n").append(r._3); n += 1 }
            else { head = r; continue = false }
          }
          (conv, sb.toString, n)
        }
      }
    }.toDF("conv_id", "doc_md", "n_pages")
  }

  /** Corpus report aggregates (A2, output_cleaner.py:528-597) as one
    * hash-aggregation pass; partial aggregation keeps the shuffle tiny.
    */
  def corpusReport(results: DataFrame): DataFrame = {
    results.agg(
      count(lit(1)).as("total_cases"),
      sum(when(col("status") === "ok" && !col("filtered"), 1L).otherwise(0L)).as("strict_ok"),
      sum(when(col("filtered"), 1L).otherwise(0L)).as("filtered_cases"),
      sum(when(col("status") === "error", 1L).otherwise(0L)).as("error_cases"),
      sum(length(coalesce(col("md"), lit("")))).as("total_md_chars"),
      sum(col("clean_ops.delimiter_fixes").cast("long")).as("delimiter_fixes"),
      sum(col("clean_ops.duplicate_dicts_removed").cast("long")).as("duplicate_dicts_removed"),
      sum(col("clean_ops.bbox_fixes").cast("long")).as("bbox_fixes"),
      sum(when(col("clean_ops.tail_truncated"), 1L).otherwise(0L)).as("tail_truncations"))
  }

  /** Observed metrics (A2 via df.observe): corpus counters collected as a
    * side effect of the write, no extra pass. Read them after the action via
    * the returned Observation.
    */
  def withObservedMetrics(results: Dataset[TurnResult]): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("extract_metrics")
    val df = results.toDF().observe(obs,
      count(lit(1)).as("rows"),
      sum(when(col("filtered"), 1L).otherwise(0L)).as("filtered_rows"),
      sum(when(col("status") === "error", 1L).otherwise(0L)).as("error_rows"),
      sum(length(coalesce(col("md"), lit("")))).as("md_chars"))
    (df, obs)
  }

  /** Checkpointed production run (Q3-Q5 semantics, SURVEY §7.3): skip keys
    * already present in `outDir`, extract only the remainder, append results
    * + per-partition lineage. Idempotent under re-runs and task retries
    * (parquet file commits are atomic per task attempt); error rows are
    * carried, never dropped, so a later pass can re-parse them by key.
    * Returns the observed corpus metrics for the increment.
    *
    * Lineage is maintained INCREMENTALLY (round 4): the increment is
    * re-read from exactly the part-files this run appended (a before/after
    * listing diff of the results dir — O(increment) bytes, never a full
    * rescan), its bucket aggregates are merged into `lineage_buckets`
    * (sums add, min/max combine — all associative), and its physical-
    * partition lineage is APPENDED under a fresh `run_id`. A zero-row
    * resume therefore touches no results data at all beyond the anti-join's
    * pruned key scan: lineage files are left byte-identical (spec-asserted
    * in GoldenSpec).
    */
  /** The deterministic conv_id-hash bucket (portable md5-prefix family) —
    * the content key shared by bucket lineage and the optional
    * bucket-partitioned results layout.
    */
  def bucketCol(c: org.apache.spark.sql.Column, nBuckets: Int = 32): org.apache.spark.sql.Column =
    pmod(conv(substring(md5(c), 1, 15), 16, 10).cast("long"),
      lit(nBuckets.toLong)).cast("int")

  /** Manifest-aware read of a results table (plain dir when no manifest —
    * see [[SnapshotStore]]). All internal readers resolve through this, so
    * maintenance ops' pre-commit file movements are never observed.
    */
  def readResults(spark: SparkSession, outDir: String): DataFrame =
    SnapshotStore.read(spark, s"$outDir/results")

  /** Time-travel read: the results table as of snapshot `id` (the
    * VERSION-AS-OF analog; see [[SnapshotStore.readAt]] for the expiry
    * contract). Available once the table carries a manifest.
    */
  def readResultsAt(spark: SparkSession, outDir: String, id: Long): DataFrame =
    SnapshotStore.readAt(spark, s"$outDir/results", id)

  /** Retention maintenance (Iceberg `expire_snapshots` analog): keep the
    * newest `retainLast` snapshots of the results table, delete the rest's
    * manifests and exclusively-referenced data files. No-op on a table
    * with no manifest. Returns the expired snapshot ids.
    */
  def expireResultSnapshots(spark: SparkSession, outDir: String,
                            retainLast: Int = 2): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$outDir/results")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotStore.expireSnapshots(fs, p, retainLast)
  }

  /** Marker signalling "results were swapped but the lineage patch has not
    * completed" — created by [[reparseErrors]] immediately before its
    * snapshot commit and cleared only after both lineage tables are
    * patched. Its presence at the start of any run means lineage is
    * (possibly) stale in ways the rows_out invariant cannot see — reparse
    * preserves the key set, so filtered/error/md_chars can drift while
    * rows_out stays exact — and forces a full lineage heal.
    */
  private def lineageMarker(outDir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$outDir/_lineage_patch_pending")

  /** Recompute both lineage tables from the live results (run_id stamped 0
    * — the heal discards per-run history, keeping the auditable content
    * lineage exact).
    */
  private def healLineage(spark: SparkSession, outDir: String): Unit = {
    val all = readResults(spark, outDir)
    val healedBuckets = bucketLineage(all).localCheckpoint(true)
    healedBuckets.write.mode("overwrite").parquet(s"$outDir/lineage_buckets")
    healedBuckets.unpersist(blocking = false)
    val healedParts = partitionLineage(all).withColumn("run_id", lit(0L))
      .localCheckpoint(true)
    healedParts.write.mode("overwrite").parquet(s"$outDir/lineage")
    healedParts.unpersist(blocking = false)
  }

  /** Move every part-file from `srcDir` into `dstDir` (fresh UUID names —
    * collisions impossible), returning the qualified destination paths for
    * the snapshot commit. Rename failures throw: at this stage nothing has
    * been committed, so the table is untouched.
    */
  private def movePartsCollect(fs: org.apache.hadoop.fs.FileSystem,
                               srcDir: org.apache.hadoop.fs.Path,
                               dstDir: org.apache.hadoop.fs.Path): Seq[String] = {
    if (!fs.exists(dstDir) && !fs.mkdirs(dstDir))
      throw new IllegalStateException(s"could not create $dstDir")
    fs.listStatus(srcDir)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-")).toSeq
      .map { s =>
        val dst = new org.apache.hadoop.fs.Path(dstDir, s.getPath.getName)
        if (!fs.rename(s.getPath, dst))
          throw new IllegalStateException(s"rename ${s.getPath} -> $dst failed")
        SnapshotStore.qualify(fs, dst.toString)
      }
  }

  /** Move a staged rewrite (flat part-files, or bucket=N subdirs) into the
    * results dir, preserving layout; returns the moved files' paths.
    */
  private def moveStaged(fs: org.apache.hadoop.fs.FileSystem,
                         tmpPath: org.apache.hadoop.fs.Path,
                         resultsPath: org.apache.hadoop.fs.Path,
                         partitioned: Boolean): Seq[String] =
    if (partitioned)
      fs.listStatus(tmpPath)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
        .toSeq.flatMap(d => movePartsCollect(fs, d.getPath,
          new org.apache.hadoop.fs.Path(resultsPath, d.getPath.getName)))
    else movePartsCollect(fs, tmpPath, resultsPath)

  /** Whole-table rewrite through the snapshot protocol: stage in `tmpPath`
    * (already written), bootstrap a manifest over the CURRENT physical
    * files if none exists (so a crash mid-move leaves readers on the old
    * consistent snapshot, never a half-populated dir), move the staged
    * files in, commit the new snapshot, then sweep ORPHANS — files neither
    * committed nor referenced by any retained snapshot. Replaced files
    * survive (they back time travel) until [[expireResultSnapshots]].
    */
  private def commitRewrite(fs: org.apache.hadoop.fs.FileSystem,
                            tmpPath: org.apache.hadoop.fs.Path,
                            resultsPath: org.apache.hadoop.fs.Path,
                            partitioned: Boolean): Unit = {
    val live = SnapshotStore.bootstrap(fs, resultsPath,
      SnapshotStore.listDataFiles(fs, resultsPath).toSeq.sorted)
    // physical listing taken BEFORE this writer's staged files move in:
    // pre-rewrite live files + orphans stranded by earlier crashes. The
    // sweep below is restricted to (preList ++ moved) so a concurrent
    // append's moved-but-not-yet-committed files are out of reach unless
    // the append both moved in before this listing AND commits after the
    // `keep` read — i.e. spans the entire rewrite; under the declared
    // single-writer(-per-table) scope (SnapshotStore.scala:99-110) no
    // such writer exists. (Round 7: the previous post-commit full listing
    // could sweep any append that moved in anywhere in the window.)
    val preList = SnapshotStore.listDataFiles(fs, resultsPath)
    val moved = moveStaged(fs, tmpPath, resultsPath, partitioned)
    // whole-table rewrite = replace the pre-rewrite live set with the
    // staged one; through the rebase loop a concurrent APPEND landing in
    // the window survives (its files are neither in `removes` nor
    // replaced), instead of being clobbered by an absolute commit
    SnapshotStore.commitRebase(fs, resultsPath, adds = moved, removes = live)
    // sweep ORPHANS only (round 7, the Iceberg retention contract):
    // candidates are limited to files this writer observed pre-move or
    // staged itself (crash orphans, rebase-dropped stages) — a concurrent
    // append that survived the rebase must survive the sweep too — and a
    // file referenced by ANY retained snapshot manifest is out of bounds:
    // it backs a time-travel read (readResultsAt) and is retired by
    // expireResultSnapshots when its last referencing snapshot expires,
    // not here. The REPLACED live set is therefore no longer deleted at
    // commit time; snapshot N-1 stays readable until expiry.
    val referenced = SnapshotStore.referencedFiles(fs, resultsPath)
    ((preList ++ moved) -- referenced).foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      if (!fs.delete(p, false))
        System.err.println(s"[graft] WARN: could not sweep orphan $p; it is " +
          "invisible through the manifests and the next rewrite retries")
    }
  }

  /** Does a results dir use the bucket-partitioned layout? */
  private def isBucketPartitioned(fs: org.apache.hadoop.fs.FileSystem,
                                  path: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(path) && fs.listStatus(path)
      .exists(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))

  def runCheckpointed(spark: SparkSession, transcriptsPath: String,
                      outDir: String, bucketPartitioned: Boolean = false): Map[String, Any] = {
    val turns = readTranscripts(spark, transcriptsPath)
    // Resolve through Hadoop's FileSystem, not java.io.File: outDir may be
    // HDFS/S3 under spark-submit, where a local-File check is always false
    // and a resumed run would silently re-append already-processed keys.
    val resultsPath = new org.apache.hadoop.fs.Path(s"$outDir/results")
    val fs = resultsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Set[String] = SnapshotStore.listDataFiles(fs, resultsPath)
    val existed = fs.exists(resultsPath)
    // the bucketPartitioned flag governs INITIAL creation only: a resume
    // always follows the layout it finds on disk, so a caller passing the
    // wrong flag cannot append mixed-layout files that break partition
    // discovery
    val usePartitioned =
      if (existed) isBucketPartitioned(fs, resultsPath) else bucketPartitioned
    // self-healing guard for the incremental lineage: the results append
    // and the lineage writes are separate non-atomic steps, so a crash
    // between them leaves lineage stale — and a later zero-row resume
    // would never repair it. The check costs one parquet FOOTER count
    // (metadata only, no data scan) plus two ≤(32+runs)-row reads; when it
    // trips, this run falls back to a full lineage recompute.
    val bucketsPath = new org.apache.hadoop.fs.Path(s"$outDir/lineage_buckets")
    val lineagePath = new org.apache.hadoop.fs.Path(s"$outDir/lineage")
    // (only lineage_buckets carries the rows_out == table-count invariant:
    // the partition-lineage table is an append-only run log whose sums
    // legitimately exceed the row count once reparseErrors has appended a
    // re-parse batch)
    val healNeeded = existed && {
      if (fs.exists(lineageMarker(outDir))) true // crashed mid-reparse:
      // results already swapped, lineage patch incomplete — the bucket
      // invariant below CANNOT catch this (reparse preserves the key set,
      // so rows_out is unchanged while filtered/error/md_chars are stale)
      else if (!fs.exists(bucketsPath) || !fs.exists(lineagePath)) true
      else if (!spark.read.parquet(s"$outDir/lineage").columns.contains("run_id"))
        true // pre-run_id lineage table (older layout): heal stamps run_id 0
      else {
        val resultCount = readResults(spark, outDir).count()
        val bucketsSum = spark.read.parquet(s"$outDir/lineage_buckets")
          .agg(coalesce(sum(col("rows_out")), lit(0L))).collect()(0).getLong(0)
        bucketsSum != resultCount
      }
    }
    val remaining =
      if (existed) resumeFrom(turns, readResults(spark, outDir))
      else turns
    val (df, obs) = withObservedMetrics(
      extract(remaining).sortWithinPartitions("conv_id", "turn_idx"))
    val before = dataFiles()
    // the live set per the manifest, when the table carries one: crash
    // orphans may exist physically but must not enter the next snapshot
    val liveBefore = SnapshotStore.liveFiles(fs, resultsPath)
    // bucket-partitioned layout (opt-in): conv_id-hash dirs let the error
    // re-parse pass overwrite only AFFECTED buckets (partition-granular —
    // the plain-parquet stand-in for Iceberg's row-level MERGE). Tradeoff:
    // each task writes up to nBuckets files; a production deployment that
    // cares more about file counts than the extra shuffle can repartition
    // on the bucket column first.
    if (usePartitioned)
      df.withColumn("bucket", bucketCol(col("conv_id")))
        .write.partitionBy("bucket").mode("append").parquet(s"$outDir/results")
    else df.write.mode("append").parquet(s"$outDir/results")
    val metrics = obs.get.map { case (k, v) => k -> v }
    val incRows = metrics.getOrElse("rows", 0L).asInstanceOf[Long]
    val newFiles = (dataFiles() -- before).toSeq.sorted
    // a manifest-carrying table folds the appended files into a new
    // snapshot (manifest-less tables stay plain — the manifest appears
    // lazily with the first maintenance op)
    // append = an adds-only delta; routed through the optimistic rebase
    // loop (round 6) so a concurrent maintenance commit re-bases this
    // append instead of failing it (single-writer behavior identical)
    liveBefore.foreach { _ =>
      if (newFiles.nonEmpty)
        SnapshotStore.commitRebase(fs, resultsPath, adds = newFiles,
          removes = Seq.empty)
    }
    if (healNeeded) {
      // stale/missing lineage detected (crashed previous run): recompute
      // both tables from the full results table — the pre-round-4 shape,
      // run only when the incremental invariant is broken
      healLineage(spark, outDir)
      fs.delete(lineageMarker(outDir), false) // cleared only after the heal
    } else if (incRows > 0L && newFiles.nonEmpty) {
      // the increment, re-read from only this run's files (column-pruned
      // to the 4 lineage columns by the aggregates below)
      val inc = spark.read.parquet(newFiles: _*)
      val incBuckets = bucketLineage(inc)
      val merged =
        if (fs.exists(bucketsPath))
          spark.read.parquet(s"$outDir/lineage_buckets")
            .unionByName(incBuckets)
            .groupBy(col("bucket"))
            .agg(
              sum(col("rows_out")).as("rows_out"),
              sum(col("filtered_rows")).as("filtered_rows"),
              sum(col("error_rows")).as("error_rows"),
              sum(col("md_chars")).as("md_chars"),
              min(col("min_conv_id")).as("min_conv_id"),
              max(col("max_conv_id")).as("max_conv_id"))
        else incBuckets
      // ≤ nBuckets rows — materialize eagerly so the overwrite below can't
      // race its own read of the pre-merge files
      val mat = merged.localCheckpoint(true)
      mat.write.mode("overwrite").parquet(s"$outDir/lineage_buckets")
      mat.unpersist(blocking = false)
      // physical-partition lineage: one appended batch per run (records the
      // run that actually happened, rather than re-deriving partitions from
      // a full re-read of prior runs' files)
      val runId =
        if (fs.exists(lineagePath))
          spark.read.parquet(s"$outDir/lineage")
            .agg(coalesce(max(col("run_id")), lit(-1L))).collect()(0).getLong(0) + 1L
        else 0L
      partitionLineage(inc).withColumn("run_id", lit(runId))
        .write.mode("append").parquet(s"$outDir/lineage")
    }
    metrics
  }

  /** Error-row re-parse pass (Q4's loop closed; the
    * demo_gradio_batch.py:1254-1341 resume flow): select the keys of rows
    * that previously errored, re-drive exactly those turns through
    * extraction, and overwrite them in place by key. Lineage stays
    * INCREMENTAL: bucket aggregates are patched with a per-bucket delta
    * (new-row minus old-error-row sums; rows_out and the conv_id range are
    * invariant because the key set is unchanged), and the re-parse batch
    * appends its own `run_id` to the partition lineage.
    *
    * Scale note: the rewrite is FILE-granular in BOTH layouts — only the
    * part-files that contain error rows (identified by input_file_name()
    * during the same pruned scan that finds the error keys) are retired
    * and replaced; every other file survives byte-identical
    * (spec-asserted). This matches Iceberg MERGE's I/O granularity.
    * Transactionality (round 5): the swap commits through the
    * [[SnapshotStore]] manifest — replacements move in under fresh names,
    * ONE manifest rename publishes the new file set, and replaced files
    * stay on disk backing the pre-reparse snapshot (round 7 retention
    * contract; [[expireResultSnapshots]] retires them), so
    * manifest-resolving readers observe either the old or the new table,
    * never a mix (COVERAGE.md divergence #2 is thereby narrowed to
    * concurrent-writer arbitration). Replacement files accumulate per
    * pass; compaction and expiry are separate concerns, as for Iceberg —
    * [[compactResults]] also sweeps any orphans a crashed pass left. Assumes every error key still exists in the transcripts
    * table (true here by construction: error rows originate from it).
    *
    * Driver-list guard (round 5): the error-file list is collected on the
    * driver — control-plane-sized at realistic error rates, but a SYSTEMIC
    * payload bug could smear errors across every file, degenerating the
    * "file-granular" rewrite into a full-table rewrite driven through a
    * driver-held array and a per-file delete loop. When error files exceed
    * half the live set, fall back to an explicit whole-table rewrite
    * (`rewrite_mode` = "full" in the returned metrics, with a log line);
    * the lineage delta patch is granularity-independent either way.
    */
  def reparseErrors(spark: SparkSession, transcriptsPath: String,
                    outDir: String): Map[String, Any] = {
    val resultsDir = s"$outDir/results"
    val resultsPath = new org.apache.hadoop.fs.Path(resultsDir)
    val fs = resultsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = lineageMarker(outDir)
    // a crashed previous pass (marker present) or a pre-run_id lineage
    // table: heal BEFORE taking deltas against it
    val lineagePath = new org.apache.hadoop.fs.Path(s"$outDir/lineage")
    if (fs.exists(marker) ||
        (fs.exists(lineagePath) &&
          !spark.read.parquet(s"$outDir/lineage").columns.contains("run_id"))) {
      healLineage(spark, outDir)
      fs.delete(marker, false)
    }
    val results = readResults(spark, outDir)
    val errKeys = results.where(col("status") === "error")
      .select("conv_id", "turn_idx")
    if (errKeys.limit(1).count() == 0L)
      return Map("rows" -> 0L, "rewrite_mode" -> "none")

    // layout detection: bucket=N partition dirs present?
    val partitioned = isBucketPartitioned(fs, resultsPath)

    // aggregates of the rows being replaced — materialized (≤ nBuckets
    // rows) BEFORE the results dir is swapped out from under the plan
    val oldAgg = bucketLineage(results.where(col("status") === "error"))
      .select(col("bucket"), col("filtered_rows").as("f_old"),
        col("error_rows").as("e_old"), col("md_chars").as("m_old"))
      .localCheckpoint(true)

    val incDir = s"$outDir/results_reparse_inc"
    val tmpDir = s"$outDir/results_reparse_tmp"
    val incPath = new org.apache.hadoop.fs.Path(incDir)
    val tmpPath = new org.apache.hadoop.fs.Path(tmpDir)
    // scratch dirs are fully re-derivable: clear any leftovers from a
    // crashed pass up front, and always clean up on exit (success or not)
    try {
      fs.delete(incPath, true); fs.delete(tmpPath, true)

      // re-extract exactly the error keys; materialize the increment to
      // its own dir so the merge, the lineage delta, and the
      // partition-lineage batch all read it without re-running extraction
      import spark.implicits._
      val turnsErr = readTranscripts(spark, transcriptsPath).toDF()
        .join(errKeys, Seq("conv_id", "turn_idx"), "left_semi").as[Turn]
      val (incDf, obs) = withObservedMetrics(
        extract(turnsErr).sortWithinPartitions("conv_id", "turn_idx"))
      incDf.write.mode("overwrite").parquet(incDir)
      val metrics = obs.get.map { case (k, v) => k -> v }
      val inc = spark.read.parquet(incDir)

      // manifest bootstrap BEFORE any file moves: from here on, readers
      // resolve through a committed snapshot, so nothing below is visible
      // until the commit
      val live = SnapshotStore.bootstrap(fs, resultsPath,
        SnapshotStore.listDataFiles(fs, resultsPath).toSeq.sorted).toSet

      // merge-by-key, FILE-granular (see Scaladoc scale note): only the
      // part-files that actually CONTAIN error rows are rewritten —
      // input_file_name() identifies them exactly during the same pruned
      // scan that found the error keys, with no footer-stats machinery.
      val errFiles = results
        .withColumn("__f", input_file_name())
        .where(col("status") === "error")
        .select("__f").distinct().collect()
        .map(r => SnapshotStore.qualify(fs, r.getString(0))).toSet
      val fullRewrite = errFiles.size * 2 > live.size
      if (fullRewrite)
        System.err.println(s"[graft] reparse: ${errFiles.size} of " +
          s"${live.size} files contain errors — falling back from " +
          "file-granular to whole-table rewrite")

      // the survivors: non-error rows of the affected files (file-granular)
      // or of the whole table (fallback); partition columns are path-
      // carried, so the bucket is recomputed for routing either way
      val keptSrc =
        if (fullRewrite) results.drop("bucket")
        else spark.read.parquet(errFiles.toSeq.sorted: _*)
      val kept = keptSrc.where(col("status") =!= "error")
      if (partitioned)
        kept.withColumn("bucket", bucketCol(col("conv_id")))
          .unionByName(inc.withColumn("bucket", bucketCol(col("conv_id"))))
          .write.partitionBy("bucket").mode("overwrite").parquet(tmpDir)
      else kept.unionByName(inc).write.mode("overwrite").parquet(tmpDir)

      // tmp fully materialized: move replacements in (fresh UUID names),
      // then COMMIT — the one atomic step. The marker goes down first so a
      // crash after the commit but before the lineage patch forces a heal.
      val moved = moveStaged(fs, tmpPath, resultsPath, partitioned)
      fs.create(marker, true).close()
      // reparse = replace the error-holding files (or the whole live set
      // in fallback) with the rewritten ones — an (adds, removes) delta,
      // committed through the rebase loop (round 6)
      SnapshotStore.commitRebase(fs, resultsPath, adds = moved,
        removes = (if (fullRewrite) live else errFiles).toSeq)
      // replaced files are NOT deleted here (round 7, retention contract):
      // the pre-reparse snapshot manifest still lists them, so they back a
      // time-travel read of the pre-reparse table; expireResultSnapshots
      // retires them when that snapshot expires. Only unreferenced
      // stragglers (none in the normal flow) would be sweepable, and the
      // next rewrite's orphan sweep handles those.

      // bucket-lineage delta patch: only the three content sums move
      val newAgg = bucketLineage(inc)
        .select(col("bucket"), col("filtered_rows").as("f_new"),
          col("error_rows").as("e_new"), col("md_chars").as("m_new"))
      val patched = spark.read.parquet(s"$outDir/lineage_buckets")
        .join(oldAgg, Seq("bucket"), "left")
        .join(newAgg, Seq("bucket"), "left")
        .select(col("bucket"),
          col("rows_out"),
          (col("filtered_rows") - coalesce(col("f_old"), lit(0L)) +
            coalesce(col("f_new"), lit(0L))).as("filtered_rows"),
          (col("error_rows") - coalesce(col("e_old"), lit(0L)) +
            coalesce(col("e_new"), lit(0L))).as("error_rows"),
          (col("md_chars") - coalesce(col("m_old"), lit(0L)) +
            coalesce(col("m_new"), lit(0L))).as("md_chars"),
          col("min_conv_id"), col("max_conv_id"))
        .localCheckpoint(true)
      patched.write.mode("overwrite").parquet(s"$outDir/lineage_buckets")
      patched.unpersist(blocking = false)
      oldAgg.unpersist(blocking = false)

      val runId = spark.read.parquet(s"$outDir/lineage")
        .agg(coalesce(max(col("run_id")), lit(-1L))).collect()(0).getLong(0) + 1L
      partitionLineage(inc).withColumn("run_id", lit(runId))
        .write.mode("append").parquet(s"$outDir/lineage")
      // lineage consistent again: clear the heal marker
      fs.delete(marker, false)
      metrics + ("rewrite_mode" ->
        (if (fullRewrite) "full" else "file_granular"))
    } finally {
      fs.delete(incPath, true); fs.delete(tmpPath, true)
    }
  }

  /** Table maintenance: compact a results dir (flat or bucket-partitioned)
    * whose file count has grown through appends and re-parse passes — the
    * plain-parquet analog of Iceberg's rewrite_data_files. Row content is
    * preserved exactly and re-sorted to the (conv_id, turn_idx) run order
    * (O1); lineage is untouched — the row set does not change, so the
    * bucket invariant keeps holding (spec-asserted).
    *
    * Partitioned layout: one shuffle keyed on the bucket column leaves
    * each bucket in exactly one task → one file per bucket dir. Flat
    * layout: coalesce (no shuffle) down to `flatFiles` files.
    *
    * Commits through the [[SnapshotStore]] manifest (round 5): the rewrite
    * is staged, moved in under fresh names, published by one manifest
    * rename; orphans earlier crashed maintenance passes left are swept
    * after the commit, while the replaced files survive to back the
    * pre-compaction snapshot until [[expireResultSnapshots]] (round 7).
    * No step deletes live or snapshot-referenced data.
    */
  def compactResults(spark: SparkSession, outDir: String,
                     flatFiles: Int = 32, nBuckets: Int = 32): Unit = {
    val resultsDir = s"$outDir/results"
    val resultsPath = new org.apache.hadoop.fs.Path(resultsDir)
    val fs = resultsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partitioned = isBucketPartitioned(fs, resultsPath)
    val tmpDir = s"$outDir/results_compact_tmp"
    val tmpPath = new org.apache.hadoop.fs.Path(tmpDir)
    try {
      fs.delete(tmpPath, true) // leftover from a crashed pass: re-derivable
      val src = readResults(spark, outDir)
      if (partitioned)
        src.repartition(nBuckets, col("bucket"))
          .sortWithinPartitions("conv_id", "turn_idx")
          .write.partitionBy("bucket").mode("overwrite").parquet(tmpDir)
      else
        src.coalesce(flatFiles)
          .sortWithinPartitions("conv_id", "turn_idx")
          .write.mode("overwrite").parquet(tmpDir)
      commitRewrite(fs, tmpPath, resultsPath, partitioned)
    } finally fs.delete(tmpPath, true)
  }

  /** Fault-injection utility for exercising [[reparseErrors]]: degrade the
    * rows matching `pred` to the transient-error shape the extractor emits
    * (status='error', payload columns nulled, reason carried) and rewrite
    * results + both lineage tables to the CONSISTENT degraded state — as if
    * those turns had failed transiently during the original run. Test/spec
    * harness only; production errors come from the extractor itself.
    */
  def injectTransientErrors(spark: SparkSession, outDir: String,
                            pred: org.apache.spark.sql.Column): Long = {
    val resultsDir = s"$outDir/results"
    val resultsPath = new org.apache.hadoop.fs.Path(resultsDir)
    val fs = resultsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val results = readResults(spark, outDir)
    val degraded = results.select(
      col("conv_id"), col("turn_idx"), col("role"), col("tool"),
      col("orig_width"), col("orig_height"),
      when(pred, lit(0)).otherwise(col("input_width")).as("input_width"),
      when(pred, lit(0)).otherwise(col("input_height")).as("input_height"),
      when(pred, lit(null).cast("string")).otherwise(col("cells_json")).as("cells_json"),
      when(pred, lit(null).cast("string")).otherwise(col("md")).as("md"),
      when(pred, lit(null).cast("string")).otherwise(col("md_nohf")).as("md_nohf"),
      when(pred, lit(true)).otherwise(col("filtered")).as("filtered"),
      when(pred, lit("error")).otherwise(col("status")).as("status"),
      when(pred, lit("SimulatedTransientError: injected"))
        .otherwise(col("error_reason")).as("error_reason"),
      when(pred, array().cast(results.schema("spans").dataType))
        .otherwise(col("spans")).as("spans"),
      col("clean_ops"))
    val nInjected = results.where(pred).count()
    val tmpDir = s"$outDir/results_inject_tmp"
    val tmpPath = new org.apache.hadoop.fs.Path(tmpDir)
    val partitioned = results.columns.contains("bucket")
    try {
      fs.delete(tmpPath, true)
      // preserve the table layout (flat or bucket-partitioned)
      if (partitioned)
        degraded.withColumn("bucket", bucketCol(col("conv_id")))
          .write.partitionBy("bucket").mode("overwrite").parquet(tmpDir)
      else degraded.write.mode("overwrite").parquet(tmpDir)
      commitRewrite(fs, tmpPath, resultsPath, partitioned)
    } finally fs.delete(tmpPath, true)
    healLineage(spark, outDir)
    nInjected
  }

  /** Per-partition lineage/metrics table (SURVEY §4 checkpoint/lineage):
    * rows in/out, filtered and error counts per physical partition, written
    * alongside results for auditability + resume bookkeeping.
    */
  def partitionLineage(results: DataFrame): DataFrame = {
    results
      .withColumn("part_id", spark_partition_id())
      .groupBy(col("part_id"))
      .agg(
        count(lit(1)).as("rows_out"),
        sum(when(col("filtered"), 1L).otherwise(0L)).as("filtered_rows"),
        sum(when(col("status") === "error", 1L).otherwise(0L)).as("error_rows"),
        min(col("conv_id")).as("min_conv_id"),
        max(col("conv_id")).as("max_conv_id"))
  }

  /** Deterministic CONTENT-keyed lineage: per conv_id-hash bucket, rows out,
    * filtered/error counts, md volume, conv_id range. Physical-partition
    * lineage ([[partitionLineage]], also written) reflects the run that
    * happened — useful operationally but unstable across re-runs and
    * cluster sizes; bucket lineage is the AUDITABLE surface: identical for
    * any execution that produced the correct row set, so an external engine
    * can recompute it from ground truth (the `extract_lineage` oracle does,
    * from the reference-golden parquet). The hash is the portable
    * md5-prefix family (DuckDB-recomputable).
    */
  def bucketLineage(results: DataFrame, nBuckets: Int = 32): DataFrame = {
    results
      .withColumn("bucket",
        pmod(conv(substring(md5(col("conv_id")), 1, 15), 16, 10).cast("long"),
          lit(nBuckets.toLong)))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("rows_out"),
        sum(when(col("filtered"), 1L).otherwise(0L)).as("filtered_rows"),
        sum(when(col("status") === "error", 1L).otherwise(0L)).as("error_rows"),
        sum(length(coalesce(col("md"), lit("")))).as("md_chars"),
        min(col("conv_id")).as("min_conv_id"),
        max(col("conv_id")).as("max_conv_id"))
  }
}
