package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.DocJob
import graft.ops.{CacheLedger, DocOps}
import graft.pipeline.{Extract, ExtractTurn, ResultJson, Turn, TurnResult}
import graft.streaming.DedupStream

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = xs.sum / xs.size
}

/** Pass/fail tally of one run: every job, batch and checked row is an
  * attempted operation; a thrown job or a wrong row is a failed one.
  */
final class Tally {
  var attempted = 0L
  var failed = 0L
  def check(n: Long, bad: Long, what: String): Unit = {
    attempted += n
    failed += bad
    if (bad > 0) System.err.println(s"[perfbench] CHECK FAILED: $what: $bad of $n")
  }
  /** Runs a job; a throw counts as one failed operation. */
  def job[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] JOB FAILED: $what: $e")
        None
    }
  }
}

/** One untraced run of a workload: the end-to-end numbers, and the same
  * numbers under the workload's own names.
  */
final case class Measured(primaryS: Double, secondaryS: Double, outputBytes: Double,
                          named: Seq[(String, Double, String)])

/** One traced run: the traced primary time (for the tracing overhead),
  * listener counters of the primary and secondary operation, and the
  * workload's own per-layer metrics.
  */
final case class Traced(primaryS: Double, primary: Counters, secondary: Counters,
                        layers: Seq[(String, Double, String)])

trait Workload {
  /** One untimed pass, so the timed operations do not pay JIT and codegen
    * compilation.
    */
  def warmup(): Unit
  /** Closed loop for `seconds` (at least one complete unit). */
  def measure(seconds: Double): Measured
  /** The primary operation once, untraced — the tracing-overhead baseline. */
  def primaryOnce(): Double
  /** Spans around each layer call, listener counters, layer metrics. */
  def traced(tr: Tracer, sc: SparkCounters): Traced
}

object Io {
  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = f
    (out, (System.nanoTime() - t0) / 1e9)
  }
  def bytesUnder(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }
  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete(_: Path))
      finally s.close()
    }
  }
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode(SaveMode.Overwrite).save()
  /** Runs units until `seconds` have passed, at least one. */
  def loop[T](seconds: Double)(unit: => Option[T]): Vector[T] = {
    val t0 = System.nanoTime()
    val out = Vector.newBuilder[T]
    var n = 0
    while (n == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      unit.foreach(out += _)
      n += 1
    }
    out.result()
  }
}

/** `extract`: the ExtractJob path into a fresh table, then a resume over
  * the full input (the seed held back a tenth of the keys from the first
  * run).
  */
final class ExtractWorkload(spark: SparkSession, root: String, work: String,
                            seed: Long, tally: Tally) extends Workload {
  import spark.implicits._
  // one table, partitioned on whether the seed held the key back: the
  // first run reads the `held=false` half, the resume the whole table
  private val fullPath = s"$work/extract/turns"
  private val firstPath = s"$fullPath/held=false"
  private var iter = 0

  private final case class Golden(w: Int, h: Int, cells: Option[String],
                                  md: Option[String], mdNohf: Option[String],
                                  filtered: Boolean, spans: String)

  private val goldens: Map[(String, Int), Golden] =
    Seq("expected_t1", "expected_t2").flatMap { g =>
      spark.read.parquet(s"$root/src/test/resources/$g.parquet").collect().map { r =>
        (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) -> Golden(
          r.getAs[Int]("input_width"), r.getAs[Int]("input_height"),
          Option(r.getAs[String]("cells_json")), Option(r.getAs[String]("md")),
          Option(r.getAs[String]("md_nohf")), r.getAs[Boolean]("filtered"),
          r.getAs[String]("spans_json"))
      }
    }.toMap

  val input: Gen.ExtractInput = {
    val pool = Seq("t1", "t2", "bench").flatMap(c =>
      Extract.readTranscripts(spark, s"$root/data/transcripts_$c").collect()).toVector
    Gen.extract(pool, goldens.keySet, Gen.ExtractFull, seed)
  }
  spark.sparkContext.parallelize(input.full.zipWithIndex.map { case (t, i) =>
      (t.conv_id, t.turn_idx, t.role, t.text, t.tool, i >= input.first.size) }, 8)
    .toDF("conv_id", "turn_idx", "role", "text", "tool", "held")
    .write.mode(SaveMode.Overwrite).partitionBy("held").parquet(fullPath)

  private def nextOut(): String = { iter += 1; s"$work/extract/out-$iter" }

  /** Share of the sample's turns the repair path handled (`filtered` rows
    * of the output), taken from the first checked run.
    */
  private var repairShare = Double.NaN
  private var goldenChecked = 0

  private final case class Run(freshS: Double, rows: Long, resumeS: Double,
                               fresh: Counters, resume: Counters)

  /** Fresh run then resume into `out`. */
  private def freshAndResume(out: String, sc: Option[SparkCounters] = None,
                             tr: Option[Tracer] = None): Option[Run] = {
    def traced[T](span: String)(f: => T): ((T, Counters), Double) = Io.time {
      val g = () => tr.fold(f)(_.span(span)(f))
      sc.fold((g(), Counters.Zero))(_.measure(g()))
    }
    for {
      ((m, fc), fs) <- tally.job("ExtractJob fresh")(traced("extract.fresh")(
        Extract.runCheckpointed(spark, firstPath, out)))
      ((_, rc), rs) <- tally.job("ExtractJob resume")(traced("extract.resume")(
        Extract.runCheckpointed(spark, fullPath, out)))
    } yield Run(fs, m.getOrElse("rows", 0L).asInstanceOf[Long], rs, fc, rc)
  }

  /** One row per input key; golden-keyed rows equal their goldens;
    * passthrough rows carry their input text as markdown.
    */
  private def check(out: String, committedFresh: Long): Unit = {
    tally.check(1, if (committedFresh == input.first.size) 0 else 1,
      s"fresh run committed $committedFresh of ${input.first.size} turns")
    val res = Extract.readResults(spark, out)
    val keys = res.select($"conv_id", $"turn_idx").as[(String, Int)].collect()
    val want = input.full.iterator.map(t => (t.conv_id, t.turn_idx)).toSet
    val counts = keys.groupBy(identity).view.mapValues(_.length).toMap
    val bad = want.count(k => counts.getOrElse(k, 0) != 1) + counts.keySet.count(!want(_))
    tally.check(want.size, bad, "turn keys missing, repeated or unexpected")
    if (repairShare.isNaN) repairShare = res.where($"filtered").count().toDouble / want.size
    // a varied payload is no longer the one its golden was made from
    val gkeys = want.filter(k => goldens.contains(k) && !input.varied(k)).toSeq
    val got = res.join(gkeys.toDF("conv_id", "turn_idx"), Seq("conv_id", "turn_idx"),
      "left_semi").as[TurnResult].collect()
    val mismatched = got.count { r =>
      Golden(r.input_width, r.input_height, r.cells_json, r.md, r.md_nohf,
        r.filtered, ResultJson.spansJson(r.spans)) != goldens((r.conv_id, r.turn_idx))
    }
    goldenChecked = gkeys.size
    tally.check(gkeys.size, mismatched + (gkeys.size - got.length),
      "golden-keyed turns differing from golden")
    val passthrough = res.select($"conv_id", $"turn_idx", $"tool", $"md")
      .where(!$"tool".isin(ExtractTurn.LayoutModes.toSeq: _*))
      .join(spark.read.parquet(fullPath).select($"conv_id", $"turn_idx", $"text"),
        Seq("conv_id", "turn_idx"))
    val nPass = input.full.count(t => !ExtractTurn.LayoutModes.contains(t.tool))
    tally.check(nPass, passthrough.where(!($"md" <=> $"text")).count(),
      "passthrough turns whose markdown is not their text")
  }

  /** Two whole fresh runs and resumes: after one, the first timed run is
    * still up to ~40% slower than the next, by how far JIT compilation of
    * the per-turn path and the sink has got.
    */
  def warmup(): Unit = (1 to 2).foreach { _ =>
    val out = nextOut()
    freshAndResume(out)
    Io.delete(out)
  }

  private def transform(): Unit =
    Extract.extract(Extract.readTranscripts(spark, firstPath)).toDF()
      .agg(count(lit(1)), sum(length(coalesce($"md", lit("")))), sum(size($"spans")))
      .collect()

  private def runChecked(sc: Option[SparkCounters] = None,
                         tr: Option[Tracer] = None): Option[(Run, Long)] = {
    val out = nextOut()
    val r = freshAndResume(out, sc, tr).map { run =>
      val bytes = Io.bytesUnder(out)
      check(out, run.rows)
      (run, bytes)
    }
    Io.delete(out)
    r
  }

  def measure(seconds: Double): Measured = {
    val ok = Io.loop(seconds)(runChecked())
    require(ok.nonEmpty, "no extract run completed")
    val fresh = Stats.median(ok.map(_._1.freshS))
    val resume = Stats.median(ok.map(_._1.resumeS))
    val tps = Stats.median(ok.map(x => x._1.rows / x._1.freshS))
    val n = input.full.size.toDouble
    def share(p: Turn => Boolean) = input.full.count(p) / n
    Measured(fresh, resume, Stats.median(ok.map(_._2.toDouble)), Seq(
      ("turns_per_s", tps, "turns/s"), ("resume_s", resume, "s"),
      ("runs", ok.size.toDouble, "count"),
      ("sample_turns", n, "turns"),
      ("sample.repair_share", repairShare, "ratio"),
      ("sample.over_10kb_share", share(_.text.length > 10000), "ratio"),
      ("sample.passthrough_share", share(t => !ExtractTurn.LayoutModes.contains(t.tool)), "ratio"),
      ("sample.varied_share", input.varied.size / n, "ratio"),
      ("sample.golden_checked_share", goldenChecked / n, "ratio")))
  }

  def primaryOnce(): Double = runChecked().fold(Double.NaN)(_._1.freshS)

  def traced(tr: Tracer, sc: SparkCounters): Traced = {
    val scan = Io.time(tr.span("extract.scan")(
      Extract.readTranscripts(spark, firstPath).toDF()
        .agg(count(lit(1)), sum(length($"text"))).collect()))._2
    val transform = Io.time(tr.span("extract.transform")(this.transform()))._2
    val (run, _) = runChecked(Some(sc), Some(tr)).getOrElse(sys.error("traced extract failed"))
    val layers = tr.span("extract.layers")(Layers.measure(input.full, reps = 3))
    // the router in Layers copies ExtractTurn.apply's; a stale copy shows
    // as layer times that no longer add up to the whole turn
    tally.check(1, if (layers.sumRatio >= 0.9 && layers.sumRatio <= 1.1) 0 else 1,
      f"turn.layer_sum_ratio ${layers.sumRatio}%.3f outside 0.9-1.1")
    Traced(run.freshS, run.fresh, run.resume, Seq(
      ("extract.scan_s", scan, "s"),
      ("extract.transform_s", transform, "s"),
      ("extract.sink_s", run.freshS - transform, "s")) ++ layers.metrics ++ Seq(
      ("extract.jobs", run.fresh.jobs.toDouble, "count"),
      ("extract.tasks", run.fresh.tasks.toDouble, "count"),
      ("extract.gc_s", run.fresh.gcS, "s"),
      ("extract.task_busy_s", run.fresh.runTimeS, "s"),
      ("extract.bytes_written", run.fresh.bytesWritten.toDouble, "bytes"),
      ("resume.jobs", run.resume.jobs.toDouble, "count"),
      ("resume.shuffle_bytes", run.resume.shuffleBytes.toDouble, "bytes")))
  }
}

/** `docs-dedup`: DocJob `clean` and `DocOps.dedupKeepers`, each written to
  * parquet, over a generated corpus with planted duplicates.
  */
final class DocsWorkload(spark: SparkSession, work: String, seed: Long,
                         tally: Tally) extends Workload {
  import spark.implicits._
  private val docsPath = s"$work/docs/documents"
  private val warmPath = s"$work/docs/warm"
  private var iter = 0
  val input: Gen.DocsInput = Gen.docs(Gen.DocsFull, seed)
  spark.sparkContext.parallelize(input.docs, 8).toDS()
    .write.mode(SaveMode.Overwrite).parquet(docsPath)
  spark.sparkContext.parallelize(input.docs.filter(_.doc_id < 200), 4).toDS()
    .write.mode(SaveMode.Overwrite).parquet(warmPath)

  private def docs: DataFrame = spark.read.parquet(docsPath)

  private def clean(out: String, in: String = docsPath): Option[Double] =
    tally.job("DocJob clean")(Io.time {
      DocJob.run(spark, Array("clean", in, out))
      CacheLedger.release()
    }._2)

  private def keepers(out: String, in: String = docsPath): Option[Double] =
    tally.job("dedupKeepers")(Io.time {
      DocOps.dedupKeepers(spark.read.parquet(in))
        .write.mode(SaveMode.Overwrite).parquet(out)
      CacheLedger.release()
    }._2)

  /** Keeper partition and the exact_dup count equal the planted truth. */
  private def check(cleanOut: String, keepersOut: String): Unit = {
    val got = spark.read.parquet(keepersOut).select($"doc_id", $"keeper_doc_id")
      .as[(Long, Long)].collect()
    val byId = got.toMap
    val truth = input.component
    tally.check(truth.size,
      truth.count { case (id, k) => !byId.get(id).contains(k) } + (got.length - byId.size) +
        byId.keySet.count(!truth.contains(_)),
      "docs whose keeper differs from the planted component minimum")
    val exactDups = spark.read.parquet(s"$cleanOut/verdict")
      .where($"drop_reason" === "exact_dup").count()
    tally.check(1, if (exactDups == input.exactDups) 0 else 1,
      s"exact_dup count $exactDups, planted ${input.exactDups}")
  }

  private final case class Run(cleanS: Double, keepersS: Double, bytes: Long,
                               clean: Counters, keepers: Counters)

  /** Clean then keepers, checked. */
  private def once(sc: Option[SparkCounters] = None, tr: Option[Tracer] = None): Option[Run] = {
    def traced(span: String)(f: => Option[Double]): (Option[Double], Counters) = {
      val g = () => tr.fold(f)(_.span(span)(f))
      sc.fold((g(), Counters.Zero))(_.measure(g()))
    }
    iter += 1
    val out = s"$work/docs/out-$iter"
    val (c, cc) = traced("docs.clean")(clean(s"$out/clean"))
    val (k, kc) = traced("docs.keepers")(keepers(s"$out/keepers"))
    val r = for (cs <- c; ks <- k) yield {
      check(s"$out/clean", s"$out/keepers")
      Run(cs, ks, Io.bytesUnder(out), cc, kc)
    }
    Io.delete(out)
    r
  }

  def warmup(): Unit = {
    val out = s"$work/docs/warm-out"
    clean(s"$out/clean", warmPath)
    keepers(s"$out/keepers", warmPath)
    Io.delete(out)
  }

  def measure(seconds: Double): Measured = {
    val ok = Io.loop(seconds)(once())
    require(ok.nonEmpty, "no docs-dedup run completed")
    val c = Stats.median(ok.map(_.cleanS))
    val k = Stats.median(ok.map(_.keepersS))
    Measured(c, k, Stats.median(ok.map(_.bytes.toDouble)), Seq(
      ("clean_s", c, "s"), ("keepers_s", k, "s"),
      ("runs", ok.size.toDouble, "count"),
      ("corpus_docs", input.docs.size.toDouble, "docs")))
  }

  def primaryOnce(): Double = {
    iter += 1
    val out = s"$work/docs/out-$iter"
    val s = clean(out).getOrElse(Double.NaN)
    Io.delete(out)
    s
  }

  def traced(tr: Tracer, sc: SparkCounters): Traced = {
    def phase(name: String)(f: => Any): Double = {
      val s = Io.time(tr.span(name)(f))._2
      CacheLedger.release()
      s
    }
    val exact = phase("docs.exact_dedup")(Io.noop(DocOps.exactDedup(docs)))
    val quality = phase("docs.quality")(Io.noop(DocOps.gopherRules(docs)))
    val decontam = phase("docs.decontam")(Io.noop(DocOps.decontaminate(docs)))
    // the near-dup trunk layer by layer, at representative level (one doc
    // per distinct text, as the dedup path collapses them)
    val reps = docs.groupBy(md5($"text")).agg(min($"doc_id").as("doc_id"))
    val repDocs = docs.join(reps.select($"doc_id"), Seq("doc_id"), "left_semi")
    val sh = DocOps.shingles(repDocs).persist(StorageLevel.DISK_ONLY)
    val shingle = phase("docs.shingle")(sh.count())
    val sigs = DocOps.minhashSignatures(sh).persist(StorageLevel.MEMORY_AND_DISK)
    val minhash = phase("docs.minhash")(sigs.count())
    val (cand, verified, maxBucket) = tr.span("docs.lsh_counts") {
      val bands = DocOps.lshBands(sigs).persist(StorageLevel.MEMORY_AND_DISK)
      val maxB = bands.groupBy($"band_idx", $"band_hash").count()
        .agg(max($"count")).as[Long].head()
      val c = DocOps.lshCandidates(bands).persist(StorageLevel.MEMORY_AND_DISK)
      val nc = c.count()
      val nv = DocOps.verifyJaccard(c, sh, 0.5).count()
      Seq(bands, c).foreach(_.unpersist())
      CacheLedger.release()
      (nc, nv, maxB)
    }
    Seq(sh, sigs).foreach(_.unpersist())
    var edges: DataFrame = null
    val nearDupEdges = phase("docs.near_dup_edges") {
      edges = DocOps.nearDupEdges(docs).localCheckpoint(true)
    }
    val cc = phase("docs.cc")(Io.noop(DocOps.keepersFromEdges(docs, edges)))
    val run = once(Some(sc), Some(tr)).getOrElse(sys.error("traced docs-dedup failed"))
    Traced(run.cleanS, run.clean, run.keepers, Seq(
      ("shingle_s", shingle, "s"),
      ("minhash_s", minhash, "s"),
      ("near_dup_edges_s", nearDupEdges, "s"),
      ("cc_s", cc, "s"),
      ("decontam_s", decontam, "s"),
      ("quality_s", quality, "s"),
      ("exact_dedup_s", exact, "s"),
      ("lsh.candidate_pairs", cand.toDouble, "count"),
      ("lsh.verified_pairs", verified.toDouble, "count"),
      ("lsh.precision", verified.toDouble / math.max(1L, cand), "ratio"),
      ("lsh.max_bucket", maxBucket.toDouble, "count"),
      ("keepers.jobs", run.keepers.jobs.toDouble, "count"),
      ("keepers.stages", run.keepers.stages.toDouble, "count"),
      ("keepers.shuffle_bytes", run.keepers.shuffleBytes.toDouble, "bytes"),
      ("keepers.spill_bytes", run.keepers.spillBytes.toDouble, "bytes"),
      ("keepers.gc_s", run.keepers.gcS, "s"),
      ("clean.jobs", run.clean.jobs.toDouble, "count"),
      ("clean.shuffle_bytes", run.clean.shuffleBytes.toDouble, "bytes"),
      ("cache.peak_bytes",
        math.max(run.clean.cachePeakBytes, run.keepers.cachePeakBytes).toDouble, "bytes")))
  }
}

/** `dedup-stream`: a bootstrap batch then append batches through DocJob
  * `dedup`, which reads and extends the persisted DedupStream state.
  */
final class StreamWorkload(spark: SparkSession, work: String, seed: Long,
                           tally: Tally) extends Workload {
  import spark.implicits._
  private var iter = 0
  val batches: Vector[Vector[(Long, String)]] = Gen.stream(Gen.StreamFull, seed)
  private val appends = batches.size - 1
  /** Timed appends: every one; the warm-up stream compiled the append path. */
  private val timed = 1 to appends
  /** The last half of the timed appends (rounded up): with only 4 timed
    * appends a quarter would be one batch, as noisy as a single sample.
    */
  private val late = (timed.size + 1) / 2
  spark.sparkContext.parallelize(batches.zipWithIndex.flatMap { case (b, i) =>
      b.map { case (id, text) => (id, text, i) } }, 4)
    .toDF("doc_id", "text", "batch")
    .write.mode(SaveMode.Overwrite).partitionBy("batch").parquet(s"$work/stream/batches")
  private def batchPath(i: Int) = s"$work/stream/batches/batch=$i"

  private def append(state: String, i: Int): Option[Double] =
    tally.job(s"DocJob dedup batch $i")(Io.time {
      DocJob.run(spark, Array("dedup", batchPath(i), state))
      CacheLedger.release()
    }._2)

  /** The streamed labels equal a from-scratch SimHash keeper pass over
    * every doc the stream has seen.
    */
  private def check(state: String): Unit = {
    val all = batches.flatten.toDF("doc_id", "text")
    val want = DocOps.keepersFromEdges(all, DocOps.simhashEdges(all))
      .as[(Long, Long)].collect().toMap
    val got = DedupStream.readLabels(spark, state).as[(Long, Long)].collect()
    val gotMap = got.toMap
    CacheLedger.release()
    tally.check(want.size,
      want.count { case (id, k) => !gotMap.get(id).contains(k) } +
        (got.length - gotMap.size) + gotMap.keySet.count(!want.contains(_)),
      "streamed labels differing from the full recompute")
  }

  private def newState(): String = { iter += 1; s"$work/stream/state-$iter" }

  /** One whole stream, bootstrap and every append, on its own state. */
  def warmup(): Unit = {
    val state = newState()
    batches.indices.foreach(append(state, _))
    Io.delete(state)
  }

  /** Bootstrap then every append, the timed ones' times; checked. */
  private def stream(): Option[(Seq[Double], Long)] = {
    val state = newState()
    val untimed = (0 until timed.head).flatMap(append(state, _))
    val times = if (untimed.size < timed.head) Nil else timed.flatMap(append(state, _))
    val r = if (times.size < timed.size) None else {
      check(state)
      Some((times, Io.bytesUnder(state)))
    }
    Io.delete(state)
    r
  }

  def measure(seconds: Double): Measured = {
    val all = Io.loop(seconds)(stream())
    require(all.nonEmpty, "no dedup stream completed")
    val p50 = Stats.median(all.flatMap(_._1))
    val lateS = Stats.median(all.flatMap(_._1.takeRight(late)))
    val bytes = Stats.median(all.map(_._2.toDouble))
    Measured(p50, lateS, bytes, Seq(
      ("batch_p50_s", p50, "s"), ("batch_late_s", lateS, "s"),
      ("state_bytes", bytes, "bytes"),
      ("streams", all.size.toDouble, "count"),
      ("timed_appends", timed.size.toDouble, "count")) ++
      all.head._1.zip(timed).map { case (t, i) => (s"batch_${i}_s", t, "s") })
  }

  /** Bootstrap and appends up to the first timed one, untraced: its time. */
  def primaryOnce(): Double = {
    val state = newState()
    val t = (0 to timed.head).flatMap(append(state, _)).last
    Io.delete(state)
    t
  }

  def traced(tr: Tracer, sc: SparkCounters): Traced = {
    val state = newState()
    val replay = s"$work/stream/replay"
    (0 until timed.head).foreach(append(state, _))
    val perBatch = timed.map { i =>
      // for the late batches, first the steps of one append through the
      // public state readers and dedup operators, written aside
      val versions = if (i <= appends - late) 0 else {
        val labels0 = tr.span("stream.read_labels")(
          DedupStream.readLabels(spark, state).localCheckpoint(true))
        val oldIdx = tr.span("stream.read_index")(
          DedupStream.readIndex(spark, state).localCheckpoint(true))
        val b = spark.read.parquet(batchPath(i)).localCheckpoint(true)
        val (edges, newIdx) = DocOps.simhashEdgesAppend(oldIdx, b)
        val e = tr.span("stream.edges_append")(edges.localCheckpoint(true))
        val delta = tr.span("stream.delta_cc")(
          DocOps.keepersDeltaIncremental(b.select($"doc_id"), labels0, e).localCheckpoint(true))
        tr.span("stream.write") {
          delta.write.mode(SaveMode.Overwrite).parquet(s"$replay/labels")
          newIdx.write.mode(SaveMode.Overwrite).parquet(s"$replay/index")
        }
        CacheLedger.release()
        Io.delete(replay)
        DedupStream.readLabels(spark, state).inputFiles
          .map(f => new org.apache.hadoop.fs.Path(f).getParent.toString).distinct.length
      }
      val (t, c) = sc.measure(tr.span("stream.batch")(append(state, i)))
      (t.getOrElse(Double.NaN), c, versions)
    }
    check(state)
    Io.delete(state)
    val counters = perBatch.map(_._2)
    Traced(perBatch.head._1, Counters.mean(counters), Counters.mean(counters.takeRight(late)),
      Seq(
        ("stream.read_labels_s", tr.total("stream.read_labels") / late, "s"),
        ("stream.read_index_s", tr.total("stream.read_index") / late, "s"),
        ("stream.versions_read", perBatch.last._3.toDouble, "count"),
        ("stream.edges_append_s", tr.total("stream.edges_append") / late, "s"),
        ("stream.delta_cc_s", tr.total("stream.delta_cc") / late, "s"),
        ("stream.write_s", tr.total("stream.write") / late, "s"),
        ("stream.jobs_per_batch", Stats.mean(counters.map(_.jobs.toDouble)), "count"),
        ("stream.bytes_written_per_batch",
          Stats.mean(counters.map(_.bytesWritten.toDouble)), "bytes")))
  }
}
