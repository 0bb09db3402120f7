package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.DocOps
import graft.pipeline.SnapshotStore

/** Continuous near-duplicate detection over a document stream — the
  * streaming face of round 7's incremental-append dedup: each micro-batch
  * fingerprints ONLY its own documents, probes the persisted rep-level
  * SimHash band index for collisions (verification is bit_count(xor) on
  * fingerprints already stored in the index — the historical corpus is
  * never re-read), and maintains the keeper-label table via the
  * contracted-graph CC fixpoint ([[DocOps.keepersDeltaIncremental]]).
  *
  * State layout under `stateDir` (plain parquet deltas, one pair per batch
  * id, committed through [[SnapshotStore]]):
  * {{{
  *   index_v<batchId>/    THIS batch's rep band rows (doc_id, simhash,
  *                        chunk_idx, chunk_val); the live index is the
  *                        union of all committed deltas ([[readIndex]])
  *   labels_v<batchId>/   label rows CHANGED by this batch: its docs new to
  *                        the state + old docs whose component merged; the
  *                        live keeper table resolves newest-row-wins per
  *                        doc_id ([[readLabels]])
  *   _manifests/snap-<batchId>.txt
  *                        the commit: every committed delta's part-files
  * }}}
  *
  * The snapshot is the only thing that decides which state is live: a batch
  * writes both deltas, then commits snapshot `batchId` listing them plus
  * every earlier delta, so that one rename (or link) publishes both tables
  * at once. Only the newest manifest is kept — it references every delta.
  *
  * Crashes and replays (foreachBatch re-delivers a batch after a crash):
  *  - a batch that crashed before its commit left deltas no manifest
  *    lists, which readers never see; the retry (same id: Structured
  *    Streaming re-delivers it, [[nextBatchId]] hands it out again)
  *    recomputes from the same committed state and overwrites them;
  *  - a batch whose snapshot is already committed is a no-op on replay —
  *    recomputing it would overwrite files the manifest lists.
  *  Either way the state equals the clean run's (spec-asserted).
  *
  * 100-TB shape: per-batch COMPUTE is O(batch + collisions) — batch-only
  * fingerprints (one partial agg), an equi-join against the index
  * (doc-count-proportional: maxDist+1 longs per distinct fingerprint), and
  * a CC fixpoint over the CONTRACTED graph (≤ batch-incident edges) — and
  * per-batch state WRITES are delta-sized. Reads of the label chain grow
  * with the number of deltas; a long-running deployment folds the chain
  * periodically (commit readLabels' output as a fresh bootstrap delta).
  */
object DedupStream {

  /** Part-file path of a `<table>_v<N>` delta; group 1 is N. */
  private def deltaPath(table: String): String = s"/${table}_v(\\d+)/[^/]*$$"

  private def stateFs(spark: SparkSession, stateDir: String): (FileSystem, Path) = {
    val dir = new Path(stateDir)
    (dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
  }

  /** Part-files of the current snapshot's `<table>_v<N>` deltas, N < below. */
  private def deltaFiles(spark: SparkSession, stateDir: String, table: String,
                         below: Long): Seq[String] = {
    val (fs, dir) = stateFs(spark, stateDir)
    val version = deltaPath(table).r.unanchored
    val files = SnapshotStore.liveFiles(fs, dir).getOrElse(Nil)
      .filter { case version(v) => v.toLong < below; case _ => false }
    require(files.nonEmpty, s"no committed ${table}_v* below $below under $stateDir")
    files
  }

  /** The live band index as of (strictly below) `below`: the union of the
    * committed index deltas. Each delta is one batch's rep band rows.
    */
  def readIndex(spark: SparkSession, stateDir: String,
                below: Long = Long.MaxValue): DataFrame =
    spark.read.parquet(deltaFiles(spark, stateDir, "index", below): _*)

  /** The live keeper table as of (strictly below) `below`: per doc_id the
    * row from the HIGHEST committed label delta that mentions it (a doc's
    * label changes only when a later batch merges its component, and the
    * delta for that batch carries the new row). One scan over every
    * listed file; a row's version comes from its file's delta dir.
    */
  def readLabels(spark: SparkSession, stateDir: String,
                 below: Long = Long.MaxValue): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("_v").desc)
    spark.read.parquet(deltaFiles(spark, stateDir, "labels", below): _*)
      .withColumn("_v", regexp_extract(col("_metadata.file_path"),
        deltaPath("labels"), 1).cast("long"))
      .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .select(col("doc_id"), col("keeper_doc_id"))
  }

  /** Next batch id for DIRECT (non-streaming) appends against the state:
    * the current snapshot id + 1. Structured Streaming supplies monotone
    * ids itself; a batch caller (e.g. [[graft.DocJob]] `dedup`) asks the
    * state instead.
    */
  def nextBatchId(spark: SparkSession, stateDir: String): Long = {
    val (fs, dir) = stateFs(spark, stateDir)
    SnapshotStore.currentSnapshot(fs, dir).map(_._1 + 1L).getOrElse(0L)
  }

  /** Process one micro-batch of documents(doc_id, text, …) against the
    * state under `stateDir`: write the `labels_v<batchId>` and
    * `index_v<batchId>` DELTAS, then commit them as snapshot `batchId`.
    * A no-op when that snapshot (or a later one) is already committed.
    * Exposed for direct (non-streaming) use and for replay testing.
    */
  def processBatch(spark: SparkSession, stateDir: String, batch: DataFrame,
                   batchId: Long, maxDist: Int = 3): Unit = {
    val next = nextBatchId(spark, stateDir)
    if (batchId < next) return
    val b = batch.localCheckpoint(true)
    // the first batch appends to an empty state: the same operators over
    // empty tables of the state's schemas
    val (oldIdx, labels0) =
      if (next == 0L) (DocOps.simhashIndex(b.limit(0), maxDist),
        b.select(col("doc_id"), col("doc_id").as("keeper_doc_id")).limit(0))
      else (readIndex(spark, stateDir), readLabels(spark, stateDir))
    val (edges, newIdx) = DocOps.simhashEdgesAppend(oldIdx, b, maxDist)
    val Seq(labOut, idxOut) = Seq("labels", "index").map(t => s"$stateDir/${t}_v$batchId")
    // label delta: the batch's docs + merged-component relabels only
    DocOps.keepersDeltaIncremental(b.select(col("doc_id")), labels0, edges)
      .write.mode("overwrite").parquet(labOut)
    // index delta: the batch's rep band rows alone; reps are per-batch
    // minima, so cross-batch fingerprint collisions keep one rep per
    // (batch, fingerprint) — harmless for correctness (their hamming-0
    // pair is already an edge) and bounded by batch count
    newIdx.write.mode("overwrite").parquet(idxOut)
    val (fs, dir) = stateFs(spark, stateDir)
    val written = Seq(labOut, idxOut).flatMap(o => SnapshotStore.listDataFiles(fs, new Path(o)))
    SnapshotStore.commitAt(fs, dir,
      SnapshotStore.liveFiles(fs, dir).getOrElse(Nil) ++ written, batchId)
    SnapshotStore.expireSnapshots(fs, dir, 1)
  }

  /** foreachBatch sink maintaining the dedup state. Attach with
    * `docsStream.writeStream.foreachBatch(DedupStream.sink(dir))`.
    */
  def sink(stateDir: String, maxDist: Int = 3): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      processBatch(batch.sparkSession, stateDir, batch, batchId, maxDist)
}
