package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed region of the benchmark's own code around a call into a
  * layer. Times are nanoseconds from the tracer's origin.
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, runId: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder: spans nest by call structure (a span opened
  * inside another records it as parent) and are written out at the end.
  */
final class Tracer(val runId: String) {
  private val origin = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0

  def span[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open.push(id)
    val t0 = System.nanoTime() - origin
    try f
    finally {
      open.pop()
      done += Span(id, name, t0, System.nanoTime() - origin, parent, runId)
    }
  }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq

  /** Self time per span: its duration minus its direct children's. */
  def selfSeconds: Map[Int, Double] = {
    val kids = done.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum)
    done.iterator.map(s => s.id -> (s.seconds - kids.getOrElse(s.id, 0.0))).toMap
  }

  /** Total duration of all spans with this name. */
  def total(name: String): Double = done.iterator.filter(_.name == name).map(_.seconds).sum

  def toJson: String = {
    val self = selfSeconds
    spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"run_id":${Json.str(s.runId)},""" +
        s""""self_s":${Json.num(self(s.id))}}"""
    }.mkString("{\"spans\":[\n", ",\n", "\n]}\n")
  }
}

/** Spark-listener counters for one phase (a delta between two snapshots). */
final case class Counters(jobs: Double, stages: Double, tasks: Double,
                          shuffleReadBytes: Double, shuffleWriteBytes: Double,
                          spillBytes: Double, runTimeS: Double, gcS: Double,
                          bytesWritten: Double, cachePeakBytes: Double) {
  def shuffleBytes: Double = shuffleReadBytes + shuffleWriteBytes

  /** The generic per-operation metrics, under `prefix`. */
  def metrics(prefix: String): Seq[(String, Double, String)] = Seq(
    (s"$prefix.jobs", jobs, "count"),
    (s"$prefix.stages", stages, "count"),
    (s"$prefix.tasks", tasks, "count"),
    (s"$prefix.shuffle_bytes", shuffleBytes, "bytes"),
    (s"$prefix.spill_bytes", spillBytes, "bytes"),
    (s"$prefix.gc_s", gcS, "s"),
    (s"$prefix.task_busy_s", runTimeS, "s"),
    (s"$prefix.bytes_written", bytesWritten, "bytes"),
    (s"$prefix.cache_peak_bytes", cachePeakBytes, "bytes"))
}

object Counters {
  val Zero: Counters = Counters(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  def mean(cs: Seq[Counters]): Counters = {
    def m(f: Counters => Double) = cs.map(f).sum / cs.size
    Counters(m(_.jobs), m(_.stages), m(_.tasks), m(_.shuffleReadBytes),
      m(_.shuffleWriteBytes), m(_.spillBytes), m(_.runTimeS), m(_.gcS),
      m(_.bytesWritten), m(_.cachePeakBytes))
  }
}

/** Listener attached by the benchmark. GC time is this JVM's
  * collector time (local mode runs every task in this JVM, where summed
  * per-task GC would count one pause once per running task).
  */
final class SparkCounters(sc: SparkContext) extends SparkListener {
  private val jobs, stages, tasks, shRead, shWrite, spill, runMs, written =
    new AtomicLong()
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  private val cached = new AtomicLong()
  private val peak = new AtomicLong()

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      runMs.addAndGet(m.executorRunTime)
      written.addAndGet(m.outputMetrics.bytesWritten)
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val old = Option(blocks.put(info.blockId.name, size)).map(_.longValue).getOrElse(0L)
      val now = cached.addAndGet(size - old)
      peak.accumulateAndGet(now, math.max(_, _))
    }
  }

  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Runs `f` and returns its result with the counters it moved. */
  def measure[T](f: => T): (T, Counters) = {
    org.apache.spark.PerfbenchBus.drain(sc)
    peak.set(cached.get)
    val j0 = jobs.get; val s0 = stages.get; val t0 = tasks.get
    val r0 = shRead.get; val w0 = shWrite.get; val sp0 = spill.get
    val m0 = runMs.get; val o0 = written.get; val g0 = gcMs
    val out = f
    org.apache.spark.PerfbenchBus.drain(sc)
    (out, Counters(jobs.get - j0, stages.get - s0, tasks.get - t0,
      shRead.get - r0, shWrite.get - w0, spill.get - sp0,
      (runMs.get - m0) / 1e3, (gcMs - g0) / 1e3, written.get - o0, peak.get.toDouble))
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def str(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  /** `{"name": {"value": v, "unit": u}, …}` in insertion order. */
  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s"${str(n)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
      .mkString("{", ",", "}")
}
