package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.pipeline.{ExtractTurn, Turn}

/** Seeded input generators. Every table a workload hands the program is
  * built here from `--seed`; the same seed gives the same rows in the same
  * order. Ground truth for the correctness gates is planted by
  * construction, never computed by the code under test.
  */
object Gen {

  // ------------------------------------------------------------ transcripts

  /** Parameters of the `extract` sample. */
  final case class ExtractParams(sampleTurns: Int, holdbackFrac: Double)

  val ExtractFull: ExtractParams = ExtractParams(40000, 0.10)

  /** The `extract` inputs: `first` is the sample minus the held-back keys,
    * `full` the whole sample (the resume input); `varied` holds the keys
    * whose payload was made distinct (see `extract`).
    */
  final case class ExtractInput(first: Vector[Turn], full: Vector[Turn],
                                varied: Set[(String, Int)])

  /** Seed-drawn sample with distinct text from the union of the committed
    * transcript corpora. A payload that repeats one drawn earlier (fixed
    * prompts and the fixed-text repair classes: garbage, JSON scalar,
    * repr-stressing dict) is made distinct by a `ref <key>` marker placed so
    * that the turn keeps its class — see `variant` — rather than dropped,
    * so the sample keeps the corpora's class mix. A text a golden-keyed row
    * carries is left to the first such row, whose golden then still
    * applies. No payload occurs twice, so per-payload caching cannot win.
    */
  def extract(pool: Vector[Turn], goldenKeys: Set[(String, Int)],
              p: ExtractParams, seed: Long): ExtractInput = {
    val rnd = new SplittableRandom(seed ^ 0x6578747261637431L)
    val rows = pool.sortBy(t => (t.conv_id, t.turn_idx)).toArray
    shuffle(rows, rnd)
    def golden(t: Turn) = goldenKeys((t.conv_id, t.turn_idx))
    val goldenTexts = rows.iterator.filter(golden).map(_.text).toSet
    val seen = mutable.HashSet.empty[String]
    val varied = mutable.HashSet.empty[(String, Int)]
    val distinct = rows.iterator.flatMap { t =>
      if ((golden(t) || !goldenTexts(t.text)) && seen.add(t.text)) Some(t)
      else variant(t).filter(seen.add).map { v =>
        varied += ((t.conv_id, t.turn_idx))
        t.copy(text = v)
      }
    }.take(p.sampleTurns).toVector
    require(distinct.size == p.sampleTurns,
      s"only ${distinct.size} distinct payloads, ${p.sampleTurns} requested")
    val held = math.round(p.sampleTurns * p.holdbackFrac).toInt
    ExtractInput(distinct.take(distinct.size - held), distinct, varied.toSet)
  }

  /** `t`'s payload with a marker naming its key, placed so that the turn
    * takes the same route through `ExtractTurn`: after a passthrough prompt
    * or an unparsable layout text; inside a JSON string, or inside the
    * `text` value of a JSON dict. None for any other shape.
    */
  private def variant(t: Turn): Option[String] = {
    val ref = s"ref ${t.conv_id}#${t.turn_idx}"
    val s = t.text
    val textKey = "\"text\": \""
    if (!ExtractTurn.LayoutModes.contains(t.tool)) Some(s"$s\n\n$ref")
    else if (s.length >= 2 && s.head == '"' && s.last == '"') Some(s"${s.init} $ref\"")
    else if (s.startsWith("{") && s.contains(textKey)) {
      val at = s.indexOf(textKey) + textKey.length
      Some(s"${s.substring(0, at)}$ref ${s.substring(at)}")
    } else if (s.nonEmpty && !"[{\"".contains(s.head)) Some(s"$s [$ref]")
    else None
  }

  // ------------------------------------------------------------ documents

  final case class Doc(doc_id: Long, text: String, lang: String,
                       source: String, n_chars: Long)

  /** Parameters of the `docs-dedup` corpus. */
  final case class DocsParams(nDocs: Int, hotDocs: Int, nearClusters: Int,
                              exactGroups: Int, contaminated: Int)

  val DocsFull: DocsParams = DocsParams(
    nDocs = 6000, hotDocs = 150, nearClusters = 300, exactGroups = 300,
    contaminated = 180)

  /** A generated corpus with its planted ground truth: `component(id)` is
    * the planted near-dup component (keeper = its min id), `exactDups` the
    * number of docs `DocJob clean` must drop as `exact_dup`.
    */
  final case class DocsInput(docs: Vector[Doc], component: Map[Long, Long],
                             exactDups: Long)

  /** Fixed vocabulary: a few thousand pseudo-words under a Zipf law, with
    * the Gopher stop words at the head so most long docs pass quality.
    */
  private object Vocab {
    val Stop: Array[String] =
      Array("the", "of", "and", "to", "with", "that", "be", "have", "a", "in")
    val words: Array[String] = {
      val r = new SplittableRandom(20261017L)
      val out = mutable.LinkedHashSet.empty[String] ++= Stop
      while (out.size < 6000) {
        val n = 3 + r.nextInt(7)
        out += new String(Array.fill(n)(('a' + r.nextInt(26)).toChar))
      }
      out.toArray
    }
    private val cdf: Array[Double] = {
      val w = words.indices.map(i => 1.0 / math.pow(i + 1, 0.85)).toArray
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def draw(r: SplittableRandom): String = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      words(math.min(words.length - 1, if (i >= 0) i else -i - 1))
    }
  }

  private val Langs = Array("en", "en", "en", "en", "zh", "de", "fr", "es")

  private def words(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(Vocab.draw(r))

  /** Body text: words joined by spaces with a line break every ~20 words. */
  private def render(ws: Array[String]): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < ws.length) {
      if (i > 0) sb.append(if (i % 20 == 0) '\n' else ' ')
      sb.append(ws(i))
      i += 1
    }
    sb.toString
  }

  /** `ws` with `k` positions replaced by fresh draws (never the same word). */
  private def mutate(r: SplittableRandom, ws: Array[String], k: Int): Array[String] = {
    val out = ws.clone()
    var done = 0
    while (done < k) {
      val pos = r.nextInt(out.length)
      val w = Vocab.draw(r)
      if (w != out(pos)) { out(pos) = w; done += 1 }
    }
    out
  }

  /** The deterministic eval split `DocJob clean` holds out, recomputed
    * independently: the first 15 hex digits of md5(doc_id) mod 10 == 7.
    */
  def isEval(docId: Long): Boolean = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(docId.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = md.iterator.map(b => f"${b & 0xff}%02x").mkString.take(15)
    java.lang.Long.parseLong(hex, 16) % 10 == 7
  }

  /** The `docs-dedup` corpus: singletons, exact-copy groups, near-dup
    * clusters (1–2 words replaced in a ≥60-word base: Jaccard ≥ 0.8 on
    * 3-word shingles), one hot template cluster (a shared 60-word template
    * plus a distinct 6-word tail: pairwise Jaccard ≈ 0.8, one LSH bucket in
    * almost every band) and docs that splice a 20-word span of an eval-split
    * doc (Jaccard with it ≤ 0.12, so decontamination but never dedup sees
    * them). Doc ids are a seeded permutation, so keepers are not positional.
    */
  def docs(p: DocsParams, seed: Long): DocsInput = {
    val r = new SplittableRandom(seed ^ 0x646f637364656475L)
    val ids = (0L until p.nDocs.toLong).toArray
    shuffle(ids, r)
    var next = 0
    def nextId(): Long = { val id = ids(next); next += 1; id }
    val texts = mutable.HashSet.empty[String]
    val docs = Vector.newBuilder[(Long, Array[String])]
    val component = mutable.HashMap.empty[Long, Long]
    // a fresh body whose text is new to the corpus
    def fresh(minWords: Int, maxWords: Int): Array[String] = {
      var ws = words(r, minWords + r.nextInt(maxWords - minWords + 1))
      while (!texts.add(render(ws))) ws = words(r, ws.length)
      ws
    }
    def emit(ws: Array[String]): Long = {
      val id = nextId()
      docs += id -> ws
      id
    }
    def group(members: Seq[Array[String]]): Unit = {
      val gids = members.map(emit)
      val keeper = gids.min
      gids.foreach(component(_) = keeper)
    }
    // hot template cluster
    val template = fresh(60, 60)
    group(Seq.fill(p.hotDocs) {
      var ws = template ++ words(r, 6)
      while (!texts.add(render(ws))) ws = template ++ words(r, 6)
      ws
    })
    // near-dup clusters
    (0 until p.nearClusters).foreach { _ =>
      val base = fresh(60, 130)
      val variants = Seq.fill(1 + r.nextInt(3)) {
        var v = mutate(r, base, 1 + r.nextInt(2))
        while (!texts.add(render(v))) v = mutate(r, base, 1 + r.nextInt(2))
        v
      }
      group(base +: variants)
    }
    // exact-copy groups (copies share the base's text)
    (0 until p.exactGroups).foreach { _ =>
      val base = fresh(30, 130)
      group(Seq.fill(2 + r.nextInt(3))(base))
    }
    // singletons, some of which receive an eval span below
    val singles = mutable.ArrayBuffer.empty[(Long, Array[String])]
    while (next < p.nDocs) {
      val ws = fresh(30, 130)
      val id = emit(ws)
      component(id) = id
      singles += id -> ws
    }
    // contamination: a long non-eval single takes a 20-word span of a long
    // eval single; each eval source is used once
    val longSingles = singles.filter(_._2.length >= 90)
    val (evalSrc, targets) = longSingles.partition(s => isEval(s._1))
    val spliced = mutable.HashMap.empty[Long, Array[String]]
    targets.iterator.zip(evalSrc.iterator).take(p.contaminated).foreach {
      case ((tid, tws), (_, ews)) =>
        val from = r.nextInt(ews.length - 20)
        val at = r.nextInt(tws.length - 20)
        val ws = tws.clone()
        System.arraycopy(ews, from, ws, at, 20)
        if (texts.add(render(ws))) spliced(tid) = ws
    }
    val all = docs.result().map { case (id, ws) =>
      val text = render(spliced.getOrElse(id, ws))
      Doc(id, text, Langs(r.nextInt(Langs.length)), s"src${r.nextInt(20)}",
        text.length.toLong)
    }
    // exact_dup: every non-eval doc that is not the min id of its text
    val exactDups = all.groupBy(_.text).valuesIterator.map { g =>
      val keeper = g.map(_.doc_id).min
      g.count(d => d.doc_id != keeper && !isEval(d.doc_id)).toLong
    }.sum
    DocsInput(all.sortBy(_.doc_id), component.toMap, exactDups)
  }

  // ------------------------------------------------------------ doc stream

  /** Parameters of the `dedup-stream` batches. */
  final case class StreamParams(bootstrapDocs: Int, batchDocs: Int,
                                appendBatches: Int, resendFrac: Double,
                                nearFrac: Double)

  val StreamFull: StreamParams = StreamParams(
    bootstrapDocs = 600, batchDocs = 200, appendBatches = 4,
    resendFrac = 0.1, nearFrac = 0.1)

  /** Bootstrap batch plus append batches. Each append carries exact
    * re-sends of earlier docs under new ids and one-word variants of earlier
    * docs (SimHash near-dups); doc ids are new in every batch.
    */
  def stream(p: StreamParams, seed: Long): Vector[Vector[(Long, String)]] = {
    val r = new SplittableRandom(seed ^ 0x73747265616d3031L)
    val history = mutable.ArrayBuffer.empty[Array[String]]
    val texts = mutable.HashSet.empty[String]
    var nextId = 0L
    def freshWords(): Array[String] = {
      var ws = words(r, 30 + r.nextInt(100))
      while (!texts.add(render(ws))) ws = words(r, ws.length)
      ws
    }
    def batch(n: Int, first: Boolean): Vector[(Long, String)] =
      Vector.fill(n) {
        val u = r.nextDouble()
        val ws =
          if (first || u >= p.resendFrac + p.nearFrac) freshWords()
          else {
            val old = history(r.nextInt(history.size))
            if (u < p.resendFrac) old else mutate(r, old, 1)
          }
        history += ws
        nextId += 1
        (nextId, render(ws))
      }
    batch(p.bootstrapDocs, first = true) +:
      Vector.fill(p.appendBatches)(batch(p.batchDocs, first = false))
  }

  private def shuffle[T](a: Array[T], r: SplittableRandom): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }
}
