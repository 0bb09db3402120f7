package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import graft.clean.{OutputCleaner, StrictRepair}
import graft.geom.SmartResize
import graft.json.{JArr, JBig, JBool, JInt, JNull, JNum, JObj, JStr, JValue, PyJson, StrictFast}
import graft.pipeline.{ExtractTurn, PageGeom, Turn}
import graft.render.FormatTransformer
import graft.text.Py

/** Single-thread per-layer timings of the extraction trunk over the
  * workload's own payloads. Each turn is routed once, the way
  * `ExtractTurn.apply` routes it, into the sequence of public layer calls it
  * makes; each timed round then runs, turn by turn, the whole
  * `ExtractTurn.apply` and every call of the turn's route. All
  * `*.ns_per_turn` share one denominator — every turn of the sample — so
  * the layers add up to `turn.ns_per_turn` less the per-turn glue (page
  * geometry, result rows).
  */
object Layers {

  private val Names =
    Vector("strictfast", "pyjson", "rescale", "strictrepair", "cleaner", "render")
  private val StrictFastL = 0
  private val PyJsonL = 1
  private val RescaleL = 2
  private val RepairL = 3
  private val CleanerL = 4
  private val RenderL = 5

  /** `sumRatio`: the layer times' sum ÷ the whole turn's time. */
  final case class Result(metrics: Seq[(String, Double, String)], sumRatio: Double)

  private final class Route {
    val steps = ArrayBuffer.empty[(Int, () => Any)]
    def call[T](layer: Int)(f: () => T): T = { steps += layer -> f; f() }
  }

  def measure(turns: IndexedSeq[Turn], reps: Int): Result = {
    var layout, ok, repairTried, repaired = 0
    val routes = turns.map { t =>
      val r = new Route
      if (ExtractTurn.LayoutModes.contains(t.tool)) {
        layout += 1
        val k = route(t, r)
        if (k == Ok) ok += 1
        if (k == FusedHit || k == FusedMiss) repairTried += 1
        if (k == FusedHit) repaired += 1
      }
      r.steps.toArray
    }.toArray
    // one round: per turn, the whole `ExtractTurn.apply` and each call of
    // its route, so both see the same JIT state and host load; which of the
    // two touches the turn first alternates, so first-touch cache misses
    // fall on both equally
    def round(): (Array[Long], Long) = {
      val acc = new Array[Long](Names.size)
      var whole = 0L
      def applyTimed(i: Int): Unit = {
        val t0 = System.nanoTime()
        ExtractTurn.apply(turns(i))
        whole += System.nanoTime() - t0
      }
      var i = 0
      while (i < routes.length) {
        if (i % 2 == 0) applyTimed(i)
        val steps = routes(i)
        var j = 0
        while (j < steps.length) {
          val s0 = System.nanoTime()
          steps(j)._2()
          acc(steps(j)._1) += System.nanoTime() - s0
          j += 1
        }
        if (i % 2 == 1) applyTimed(i)
        i += 1
      }
      (acc, whole)
    }
    // two untimed rounds compile every path; then the median of `reps`
    round(); round()
    val rounds = (1 to reps).map(_ => round())
    val n = turns.size.toDouble
    val ns = Names.indices.map(l => Stats.median(rounds.map(_._1(l).toDouble)) / n)
    val turnNs = Stats.median(rounds.map(_._2.toDouble)) / n
    val sumRatio = ns.sum / turnNs
    Result(Seq(
      ("strictfast.ns_per_turn", ns(StrictFastL), "ns"),
      ("strictfast.ok_ratio", ok.toDouble / layout, "ratio"),
      ("pyjson.ns_per_turn", ns(PyJsonL), "ns"),
      ("rescale.ns_per_turn", ns(RescaleL), "ns"),
      ("strictrepair.ns_per_turn", ns(RepairL), "ns"),
      ("strictrepair.hit_ratio", repaired.toDouble / math.max(1, repairTried), "ratio"),
      ("cleaner.ns_per_turn", ns(CleanerL), "ns"),
      ("render.ns_per_turn", ns(RenderL), "ns"),
      ("turn.ns_per_turn", turnNs, "ns"),
      ("turn.layer_sum_ratio", sumRatio, "ratio")), sumRatio)
  }

  // how a layout turn was handled
  private val Ok = 0
  private val Tree = 1
  private val FusedHit = 2
  private val FusedMiss = 3
  private val Cleaned = 4

  /** Python str() of a parsed value, as `ExtractTurn.apply` hands a
    * non-list to the cleaner: scalars via str(), containers via repr().
    */
  private def pyStr(v: JValue): String = v match {
    case JStr(s)   => s
    case container => pyRepr(container)
  }

  private def pyRepr(v: JValue): String = v match {
    case JStr(s)  => Py.reprStr(s)
    case JInt(i)  => i.toString
    case JBig(i)  => i.toString
    case JNum(d)  => Py.floatRepr(d)
    case JBool(b) => if (b) "True" else "False"
    case JNull    => "None"
    case JArr(xs) => xs.map(pyRepr).mkString("[", ", ", "]")
    case JObj(es) => es.map { case (k, x) => Py.reprStr(k) + ": " + pyRepr(x) }
      .mkString("{", ", ", "}")
  }

  /** Records the layer calls `ExtractTurn.apply` makes for a layout turn. */
  private def route(t: Turn, r: Route): Int = {
    val (oh, ow) = PageGeom.of(t.conv_id, t.turn_idx)
    val (ih, iw) = SmartResize.smartResize(oh, ow)
    val (ih2, iw2) = SmartResize.smartResize(ih, iw)
    val (sx, sy) = (iw2.toDouble / ow, ih2.toDouble / oh)
    val renders = t.tool != "prompt_layout_only_en"
    val fast = r.call(StrictFastL)(() =>
      if (t.text.length > 10000) StrictFast.transcodeCapture(t.text, sx, sy)
      else StrictFast.transcode(t.text, sx, sy))
    fast match {
      case o: StrictFast.Ok =>
        if (renders) r.call(RenderL)(() => FormatTransformer.layoutJsonToMdBothLean(o.cells))
        Ok
      case _ =>
        val proven = (fast eq StrictFast.ParseFail) || (fast eq StrictFast.ParseFailTrail) ||
          fast.isInstanceOf[StrictFast.ParseFailTrailCaptured]
        val parsed =
          if (proven) None
          else r.call(PyJsonL)(() => Try(PyJson.parse(t.text))).toOption
        val rescaled = parsed match {
          case Some(JArr(xs)) =>
            r.call(RescaleL)(() => Try(ExtractTurn.postProcessCells(xs, ow, oh, iw, ih))).toOption
          case _ => None
        }
        rescaled match {
          case Some(cells) =>
            r.call(PyJsonL)(() => PyJson.dumps(JArr(cells), t.text.length + 64))
            if (renders) r.call(RenderL)(() => FormatTransformer.layoutJsonToMdBoth(cells))
            Tree
          case None =>
            val fused: Option[() => Option[OutputCleaner.CleanResult]] = fast match {
              case c: StrictFast.ParseFailTrailCaptured =>
                Some(() => StrictRepair.fromCaptured(t.text, c))
              case f if f eq StrictFast.ParseFailTrail =>
                Some(() => StrictRepair.attempt(t.text, sx, sy))
              case _ => None
            }
            val fusedRes = fused.flatMap(f => r.call(RepairL)(f))
            // a parsed non-list reaches the cleaner as its Python str(),
            // which the cleaner's time includes
            val res = fusedRes.getOrElse(r.call(CleanerL)(() =>
              OutputCleaner.cleanModelOutput(parsed match {
                case Some(JArr(xs)) => Right(xs)
                case Some(other)    => Left(pyStr(other))
                case None           => Left(t.text)
              })))
            // the repaired page's markdown: its cells' texts, joined (inline
            // in ExtractTurn.apply, so replayed here); a non-string text
            // makes apply emit an error row, and the route ends there
            val joined = r.call(RenderL)(() => res.cleaned match {
              case Right(list) =>
                val texts = list.collect {
                  case o: JObj if o.contains("text") => o.get("text").get
                }
                if (texts.forall(_.isInstanceOf[JStr]))
                  Some(texts.map { case JStr(s) => s; case _ => "" }.mkString("\n\n"))
                else None
              case Left(original) => Some(original)
            })
            if (joined.isDefined)
              r.call(PyJsonL)(() => PyJson.dumps(JStr(if (renders) t.text else joined.get)))
            if (fused.isEmpty) Cleaned else if (fusedRes.isDefined) FusedHit else FusedMiss
        }
    }
  }
}
