package graft.extract

import scala.collection.mutable

/** NPF policy-text (text_3) renderers.
  *
  * The reference formats this block twice (pdf_to_json_converter.py:1637-2021):
  * `html_text` (final, typographic fixes applied) and `temporary_html_text`
  * (bullets preserved, "IS N OT" left unfixed). The golden
  * (references/Matching JSON References/npf.json) is the byte-level contract;
  * split anchors and emphasis rules below are derived from it (the repo's own
  * current code has drifted from its golden — e.g. the golden's
  * "&nbsp;" after "Scheduling of Appointments:" appears in no code path).
  */
object Text3Formatter {

  private val headerBold = Vector(
    "Patient Responsibilities:", "Payment:", "Dental Benefit Plans:", "Authorizations:")
  // (header, replacement) precomputed: the interpolated replacement was
  // rebuilt on every call (Java replace is a no-op-returns-this when the
  // target is absent, so only the pairs allocate on miss)
  private val headerBoldPairs =
    headerBold.map(h => (h, "<strong>" + h + "</strong>")) :+
      ("Payment is due at the time services are rendered",
        "<strong>Payment is due at the time services are rendered</strong>")

  // one-pass equivalent of the replace chain: targets never collide at the
  // same position ("Payment:" vs "Payment is due..." differ at char 7) and
  // no replacement creates a new target occurrence
  private val headerBoldPairsArr = headerBoldPairs.toArray

  /** temporary_html_text: bullets preserved (`- `), IS N OT unfixed,
    * If-we-are sentences unbolded, Scheduling/Authorizations sections absent.
    */
  // paragraph split anchors (golden-derived)
  private val tempAnchors = Vector("Toward these goals", "Financial arrangements",
    "Non-sufficient funds", "Benefits and payments", "We are required to collect",
    "If your plan allows", "If you choose to not")

  // Composed one-pass pairs for the temporary render. The original chain is
  // two-stage on overlapping targets ("- H:" gets the bullet glyph, then the
  // contained "H:" gets bolded), so the composed result is encoded directly;
  // bare header occurrences keep their bold-only pair (leftmost-first
  // matching picks the "- H:" pair when the marker is present). The \_ and
  // (initial) removals never split/join a header target in this text.
  private val tempPairs: Array[(String, String)] =
    (Vector("\\_" -> "", "(initial)" -> "") ++
      headerBold.take(3).map(h => ("- " + h, "- \uF0B7 <strong>" + h + "</strong>")) ++
      headerBoldPairs).toArray

  def formatTemporaryHtml(src0: String): String = {
    val src = StrUtil.replaceLiterals(src0, tempPairs)
    val start = StrUtil.trimFrom(src, 0, src.length)
    var end = StrUtil.trimTo(src, start, src.length)
    // drop the trailing Scheduling + Authorizations sections (the pairs above
    // leave "- Scheduling of Appointments:" untouched, so the cut point is
    // the same content position as in the chained form)
    val schedIdx = src.indexOf("- Scheduling of Appointments:", start)
    if (schedIdx >= 0 && schedIdx < end) end = StrUtil.trimTo(src, start, schedIdx)
    // anchor cut points inside the kept region (splitAtAnchors, by index)
    val cuts = new Array[Int](tempAnchors.length)
    var nc = 0
    tempAnchors.foreach { a =>
      val i = src.indexOf(a, start)
      if (i >= 0 && i < end) { cuts(nc) = i; nc += 1 }
    }
    java.util.Arrays.sort(cuts, 0, nc)
    // <p><br></p> after the 1st and 4th paragraphs (section-intro ends)
    val out = new java.lang.StringBuilder(end - start + 128)
    var emitted = 0
    var ci = -1
    while (ci < nc) {
      val a = if (ci < 0) start else cuts(ci)
      val b = if (ci + 1 < nc) cuts(ci + 1) else end
      val a2 = StrUtil.trimFrom(src, a, b)
      val b2 = StrUtil.trimTo(src, a2, b)
      if (b2 > a2) {
        out.append("<p>").append(src, a2, b2).append("</p>")
        if (emitted == 0 || emitted == 3) out.append("<p><br></p>")
        emitted += 1
      }
      ci += 1
    }
    out.toString
  }

  /** html_text: sections re-joined into one paragraph each with trailing
    * spaces, IS N OT fixed, If-we-are sentences bolded (with <u>not</u>),
    * Scheduling split at the reference's line-wrap point, &nbsp; after the
    * Scheduling header.
    */
  private val lateNoticePat =
    "(With less than 24 hour notice[^.]*\\.)".r

  // disjoint literal targets -> one builder pass instead of four copies
  private val htmlPrePairs: Array[(String, String)] = Array(
    "\\_" -> "", "(initial)" -> "", "IS N OT" -> "IS NOT",
    "co -insurance" -> "co-insurance")

  private val sectionHeaders = Vector("Patient Responsibilities:", "Payment:",
    "Dental Benefit Plans:", "Scheduling of Appointments:", "Authorizations:")
  private val contractedPair = Array(
    "If we are a contracted provider with your plan ," ->
      "<strong>If we are a contracted provider with your plan,</strong>")
  private val notContractedPair = Array(
    "If we are not a contracted provider with your dental benefit plan , " ->
      "<strong>If we are <u>not</u> a contracted provider with your dental benefit plan, </strong>")

  def formatHtml(src0: String): String = {
    val src = StrUtil.replaceLiterals(src0, htmlPrePairs).trim
    val n = src.length

    // '- ' section-delimiter positions (the sectionSplitPat lookahead split,
    // scanned by index so sections stay REGIONS of src, not copies)
    val delims = mutable.ArrayBuffer[Int]()
    var p = src.indexOf("- ")
    while (p >= 0) {
      if (sectionHeaders.exists(h => src.startsWith(h, p + 2))) delims += p
      p = src.indexOf("- ", p + 1)
    }

    val out = new java.lang.StringBuilder(n + 512)
    var lastBr = false
    // append one <p>…</p> paragraph; body receives the builder
    def para(brAfter: Boolean)(body: => Unit): Unit = {
      out.append("<p>")
      body
      out.append("</p>")
      if (brAfter) out.append("<p><br></p>")
      lastBr = brAfter
    }
    def boldInto(a: Int, b: Int): Unit =
      StrUtil.replaceLiteralsInto(out, src, a, b, headerBoldPairsArr)

    // section regions: leading text before the first delimiter, then each
    // delimiter's content (delimiter "- " itself dropped, like the split)
    val starts = (if (delims.isEmpty || delims(0) > 0) Vector(0) else Vector.empty) ++
      delims.map(_ + 2)
    val ends = delims.drop(if (delims.nonEmpty && delims(0) == 0) 1 else 0).map(identity) :+ n
    var si = 0
    while (si < starts.length) {
      val a0 = starts(si)
      val b0 = if (si < ends.length) ends(si) else n
      val a = StrUtil.trimFrom(src, a0, b0)
      val b = StrUtil.trimTo(src, a, b0)
      if (b > a) {
        if (src.startsWith("Dental Benefit Plans:", a)) {
          val ourIdx = src.indexOf("Our practice", a)
          val contractedIdx = if (ourIdx >= 0) src.indexOf("If we are a contracted provider", ourIdx) else -1
          val notIdx = if (contractedIdx >= 0) src.indexOf("If we are not a contracted provider", contractedIdx) else -1
          if (ourIdx >= 0 && ourIdx < b && contractedIdx >= 0 && contractedIdx < b && notIdx >= 0 && notIdx < b) {
            para(brAfter = true) { boldInto(a, StrUtil.trimTo(src, a, ourIdx)); out.append(' ') }
            para(brAfter = true) { out.append(src, ourIdx, StrUtil.trimTo(src, ourIdx, contractedIdx)); out.append(' ') }
            para(brAfter = true) { StrUtil.replaceLiteralsInto(out, src, contractedIdx,
              StrUtil.trimTo(src, contractedIdx, notIdx), contractedPair); out.append(' ') }
            para(brAfter = true) { StrUtil.replaceLiteralsInto(out, src, notIdx, b, notContractedPair) }
          } else { // malformed section: degrade to the generic branch
            para(brAfter = true) { boldInto(a, b); out.append(' ') }
          }
        } else if (src.startsWith("Scheduling of Appointments:", a)) {
          // small section: materialize and keep the regex-driven logic
          var s = src.substring(a, b).replace("Scheduling of Appointments: ",
            "<strong>Scheduling of Appointments:&nbsp;</strong>")
          s = lateNoticePat
            .replaceAllIn(s, m => "<strong>" + java.util.regex.Matcher.quoteReplacement(m.group(1)) + "</strong>")
          // split at the reference's PDF line-wrap point
          val wrapAnchor = " appointment time again, may be required."
          val wrapIdx = s.lastIndexOf(wrapAnchor)
          if (wrapIdx >= 0 && s.indexOf("</strong>", wrapIdx) < 0) {
            para(brAfter = false) { out.append(s, 0, wrapIdx) }
            para(brAfter = true) { out.append(s, wrapIdx + 1, s.length) }
          } else para(brAfter = true) { out.append(s) }
        } else if (src.startsWith("Authorizations:", a)) {
          para(brAfter = false) { boldInto(a, b) }
        } else {
          // Patient Responsibilities / Payment / leading text
          para(brAfter = true) { boldInto(a, b); out.append(' ') }
        }
      }
      si += 1
    }
    // no trailing <p><br></p> after the final paragraph
    if (lastBr) out.setLength(out.length - "<p><br></p>".length)
    out.toString
  }

  // ---- v2 variant (golden: /root/reference/pdfs/npf.json) ----
  // Newer docling extractions of the same form carry PDF bullet glyphs
  // (), checkbox glyphs (), markdown bold runs and curly
  // apostrophes in the policy text. Those route to the v2 renderers below,
  // whose paragraph structure mirrors the extracted lines (temporary) and
  // the v2 golden's re-segmentation anchors (final html).

  /** v2 detection: the PDF bullet glyph only appears in the newer extraction. */
  def isV2(source: String): Boolean = source.indexOf('') >= 0

  private val boldRunRe = "\\*\\*(.+?)\\*\\*".r

  /** Markdown bold runs -> <strong>, plus the reference's <u>not</u>
    * typography inside the not-contracted phrase
    * (pdf_to_json_converter.py:1878-1882). */
  private def inlineBold(s: String): String = {
    val b = boldRunRe.replaceAllIn(s,
      m => "<strong>" + java.util.regex.Matcher.quoteReplacement(m.group(1)) + "</strong>")
    b.replace("<strong>If we are not a contracted provider</strong>",
      "<strong>If we are <u>not</u> a contracted provider</strong>")
  }

  /** v2 temporary_html_text: one <p> per extracted line (empty lines were
    * already dropped by the scan-stage cleaner), a blank paragraph before
    * every line from the 3rd on (the v2 golden's section-gap structure);
    * bullets/glyphs/apostrophes/"(initial)" kept as extracted. */
  def formatTemporaryHtmlV2(rawLines: Seq[String]): String = {
    val ls = rawLines.map(_.trim.replace("\\_", "")).filter(_.nonEmpty)
    val out = new StringBuilder
    ls.zipWithIndex.foreach { case (l, idx) =>
      if (idx >= 2) out.append("<p><br></p>")
      out.append("<p>").append(inlineBold(l)).append("</p>")
    }
    out.toString
  }

  /** v2 html_text: bullets dropped, "(initial)" dropped, bold-run space
    * before a period collapsed, paragraphs re-segmented at the v2 golden's
    * anchors (flag = blank paragraph inserted before the anchor). */
  def formatHtmlV2(src0: String): String = {
    var src = src0.replace("\\_", "").replace("(initial)", "").trim
    src = src.replace("-  ", "")
    src = inlineBold(src)
    src = src.replace("</strong> .", "</strong>.")
    val anchors = Vector(
      ("Toward these goals", true), ("Financial arrangements", false),
      ("Personal checks", false), ("Benefits and payments", true),
      ("<strong>If we are a contracted provider", false), ("If our estimate", false),
      ("If your plan allows", false), ("If you choose to not", false),
      ("Because of this courtesy", true), ("To serve all of our patients", false),
      ("<strong>Authorizations:", false), ("I authorize this dental team", true))
    val out = new StringBuilder
    var pos = 0
    val cuts = anchors.flatMap { case (a, br) =>
      val idx = src.indexOf(a, pos)
      // idx == 0 is a genuine match (document starting at an anchor): the
      // duplicate (0, _) bound produces an empty leading paragraph which is
      // skipped, while the anchor's blank-paragraph flag is preserved
      if (idx >= 0) { pos = idx; Some((idx, br)) } else None
    }
    val bounds = ((0, false) +: cuts) :+ ((src.length, false))
    bounds.sliding(2).foreach { case Seq((a, _), (b, _)) =>
      val para = src.substring(a, b).trim
      val brBefore = cuts.find(_._1 == a).exists(_._2)
      if (para.nonEmpty) {
        if (brBefore) out.append("<p><br></p>")
        out.append("<p>").append(para).append("</p>")
      }
    }
    out.toString
  }

  private def splitAtAnchors(text: String, anchors: Vector[String]): Vector[String] = {
    val cuts = anchors.flatMap { a =>
      val idx = text.indexOf(a)
      if (idx >= 0) Some(idx) else None
    }.sorted
    val bounds = (0 +: cuts) :+ text.length
    bounds.sliding(2).map { case Seq(a, b) => text.substring(a, b).trim }.filter(_.nonEmpty).toVector
  }
}
