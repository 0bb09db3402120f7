package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.ops.CacheLedger

/** The benchmark's JVM: one workload, one seed, one closed-loop caller.
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <repoRoot> <workDir> <resultFile>
  *
  * Writes one JSON object to `resultFile`: correct/attempted/failed, the
  * metrics (end-to-end untraced, per-layer traced) and a `detail` object
  * with the workload's own metric names. `perfbench/run.py` wraps it.
  */
object Main {
  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 7,
      "usage: perfbench.Main <workload> <seed> <seconds> <trace> <root> <work> <result>")
    val Array(workload, seedS, secondsS, traceS, root, work, resultFile) = args
    val seed = seedS.toLong
    val trace = traceS == "1"
    val boot = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // set-up, as a process pays it once: JVM start, the one cold session,
    // then the workload's warm-up (lazy set-up, JIT and codegen of the timed
    // path); the benchmark's own input generation between them is excluded
    val (spark, sessionS) = Io.time(session(work))
    val tally = new Tally
    val (wl, genS) = Io.time(workloadFor(workload, spark, root, work, seed, tally))
    val (_, warmS) = Io.time { wl.warmup(); CacheLedger.release() }
    val setupS = boot + sessionS + warmS

    val detail = Seq.newBuilder[(String, Double, String)]
    detail ++= Seq(("boot_s", boot, "s"), ("session_s", sessionS, "s"),
      ("gen_s", genS, "s"), ("warmup_s", warmS, "s"))
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val m = wl.measure(secondsS.toDouble)
        detail ++= m.named
        Seq(("setup_s", setupS, "s"), ("primary_s", m.primaryS, "s"),
          ("secondary_s", m.secondaryS, "s"), ("output_bytes", m.outputBytes, "bytes"))
      } else {
        val tr = new Tracer(s"$workload-$seed-${System.currentTimeMillis()}")
        val t = tr.span(s"run.$workload")(wl.traced(tr, new SparkCounters(spark.sparkContext)))
        CacheLedger.release()
        // the untraced baseline runs after the traced pass, so it is never
        // the colder of the two: the overhead errs high, not low
        val untraced = wl.primaryOnce()
        Files.write(Paths.get(s"$work/trace.json"), tr.toJson.getBytes(StandardCharsets.UTF_8))
        detail ++= t.layers
        detail ++= Seq(("trace.primary_s", t.primaryS, "s"),
          ("trace.untraced_primary_s", untraced, "s"))
        t.primary.metrics("primary") ++ t.secondary.metrics("secondary") :+
          (("trace.overhead_s", t.primaryS - untraced, "s"))
      }
    spark.stop()

    val correct = tally.failed == 0 && tally.attempted > 0
    val failedFrac = tally.failed.toDouble / math.max(1L, tally.attempted)
    detail += (("failed_frac", failedFrac, "ratio"))
    val json =
      s"""{"correct":$correct,"attempted":${tally.attempted},"failed":${tally.failed},""" +
        s""""metrics":${Json.metrics(metrics)},"detail":${Json.metrics(detail.result())}}"""
    Files.write(Paths.get(resultFile), json.getBytes(StandardCharsets.UTF_8))
  }

  private def workloadFor(name: String, spark: SparkSession, root: String,
                          work: String, seed: Long, tally: Tally): Workload = name match {
    case "extract"      => new ExtractWorkload(spark, root, work, seed, tally)
    case "docs-dedup"   => new DocsWorkload(spark, work, seed, tally)
    case "dedup-stream" => new StreamWorkload(spark, work, seed, tally)
    case other          => sys.error(s"unknown workload '$other'")
  }
}
