package perfbench

import graft.extract._
import graft.model.FieldInfo
import graft.parse.{Html, XYCut}

/** Timing helpers and order statistics. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of p50/p90/p99/p99.9 that leaves at least ten samples
    * beyond it: (label, value). */
  def tail(xs: Seq[Double]): (String, Double) = {
    val n = xs.length
    val ps = Seq(0.999 -> "p99.9", 0.99 -> "p99", 0.9 -> "p90", 0.5 -> "p50")
    val (q, label) = ps.find { case (q, _) => n * (1 - q) >= 10 }.getOrElse(0.5 -> "p50")
    (label, quantile(xs, q))
  }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  def processCpuNs: Long = osBean.getProcessCpuTime
  def threadCpuNs: Long = threads.getCurrentThreadCpuTime
  def threadAllocBytes: Long = threads.getThreadAllocatedBytes(Thread.currentThread().getId)
}

/** Outside-in replay of the per-turn extraction function, one layer call at
  * a time: the same public functions `Extractor.extractTurn` composes, each
  * timed on its own, then `extractTurn` itself. What the parts do not cover
  * is reported as the unattributed share. */
final class LayerReplay {
  import LayerReplay._
  private val ns = scala.collection.mutable.HashMap.empty[(String, String), Long].withDefaultValue(0L)
  private val turnsByTool = scala.collection.mutable.HashMap.empty[String, Int].withDefaultValue(0)
  private var turnNs = 0L
  private var allocBytes = 0L
  private var fields = 0L
  var turns = 0
  /** (layer, lines, ns) per parse call, for the size-growth ratio. */
  val parseSamples = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Long)]

  private def time[A](part: String, tool: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val a = f
    ns((part, tool)) += System.nanoTime() - t0
    a
  }

  /** Replays one turn; returns the `extractTurn` result. One untimed
    * `extractTurn` first, so the timed parts and the timed whole both run
    * on warm caches. */
  def replay(text: String, tool0: String): Extracted = {
    Extractor.extractTurn(text, tool0)
    val tool = Option(tool0).getOrElse("")
    val (wrapper, profile) = tool.split(":", 2) match {
      case Array(w, p) if w == "html" || w == "pdf_runs" => (w, p)
      case _ => ("", tool)
    }
    val raw = Option(text).getOrElse("")
    val lines: Seq[String] = wrapper match {
      case "html" =>
        val t0 = System.nanoTime()
        val l = Html.extractLines(raw)
        val d = System.nanoTime() - t0
        ns(("parse.html", tool)) += d
        parseSamples += (("html", l.size, d))
        l
      case "pdf_runs" =>
        val t0 = System.nanoTime()
        val runs = XYCut.parseRuns(raw)
        val l = XYCut.toLines(runs)
        val d = System.nanoTime() - t0
        ns(("parse.xycut", tool)) += d
        parseSamples += (("xycut", runs.size, d))
        l
      case _ => raw.split("\n", -1).toSeq
    }
    if (profile == "docx") {
      val cleaned = time("extract.consent", tool)(ConsentExtractor.removePracticeHeadersFooters(lines))
      time("extract.docx", tool)(EnhancedDocxConsent.convertFields(lines))
      time("extract.classify", tool)(FormClassifier.classify(lines))
      time("extract.render", tool)(StrUtil.joinTrimmed(cleaned, '\n'))
    } else if (profile == "docling_md" || profile == "main") {
      val (_, _, spec, cleaned) = time("extract.main", tool)(MainExtractor.convertToSpecFullWithLines(lines))
      time("extract.render", tool) {
        SpecRender.renderArray(spec); StrUtil.joinTrimmed(cleaned, '\n')
      }
    } else {
      val cleaned = time("extract.consent", tool)(ConsentExtractor.removePracticeHeadersFooters(lines))
      time("extract.classify", tool)(FormClassifier.classify(lines))
      val fis: Vector[FieldInfo] = time("extract.consent", tool)(ConsentExtractor.validateAndNormalize(
        ConsentExtractor.extractFromCleaned(cleaned.toVector, Map.empty)))
      time("extract.render", tool) {
        graft.model.Spec.render(fis, includeOptional = false); StrUtil.joinTrimmed(cleaned, '\n')
      }
    }
    val a0 = Stats.threadAllocBytes
    val t0 = System.nanoTime()
    val e = Extractor.extractTurn(text, tool0)
    turnNs += System.nanoTime() - t0
    allocBytes += Stats.threadAllocBytes - a0
    fields += e.fieldCount
    turns += 1
    turnsByTool(tool) += 1
    e
  }

  /** Per-layer metrics: (name, value, unit), overall and per profile. */
  def metrics: Seq[(String, Double, String)] = {
    val t = math.max(1, turns).toDouble
    def partUs(part: String, tools: Iterable[String]) =
      tools.iterator.map(tl => ns((part, tl))).sum / 1000.0
    val allTools = turnsByTool.keys.toSeq.sorted
    val overall = Parts.map(p => (s"${p}_us_per_turn", partUs(p, allTools) / t, "us"))
    val perProfile = for (p <- Parts; tl <- allTools)
      yield (s"${p}_us_per_turn.$tl", partUs(p, Seq(tl)) / turnsByTool(tl), "us")
    val covered = Parts.map(p => partUs(p, allTools)).sum
    val unattributed = if (turnNs == 0) 0.0 else 1.0 - covered * 1000.0 / turnNs
    overall ++ Seq(
      ("parse.html_growth", growth("html"), "ratio"),
      ("parse.xycut_growth", growth("xycut"), "ratio"),
      ("extract.alloc_kb_per_turn", allocBytes / 1024.0 / t, "KB"),
      ("extract.fields_per_turn", fields / t, "count"),
      ("extract.unattributed_share", unattributed, "ratio"),
      ("extract.turn_us_per_turn", turnNs / 1000.0 / t, "us")) ++ perProfile
  }

  /** Per-line cost in the largest power-of-two size bucket over that in the
    * smallest (1.0 = linear; 1.0 when all pages share one bucket). */
  def growth(layer: String): Double = {
    val byBucket = parseSamples.filter(s => s._1 == layer && s._2 > 0)
      .groupBy(s => 31 - Integer.numberOfLeadingZeros(s._2))
    if (byBucket.size < 2) return if (byBucket.isEmpty) 0.0 else 1.0
    def perLine(b: Int) = Stats.median(byBucket(b).map(s => s._3.toDouble / s._2).toSeq)
    perLine(byBucket.keys.max) / perLine(byBucket.keys.min)
  }
}

object LayerReplay {
  val Parts: Seq[String] = Seq("parse.html", "parse.xycut", "extract.classify", "extract.main",
    "extract.consent", "extract.docx", "extract.render")
}
