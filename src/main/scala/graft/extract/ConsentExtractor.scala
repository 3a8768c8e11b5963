package graft.extract

import graft.model._
import scala.util.matching.Regex
import scala.collection.mutable

/** Consent-profile extraction pipeline, re-expressed from scratch after the
  * behavior of /root/reference/consent_converter.py (ConsentFormFieldExtractor,
  * lines 324-1010, and ModentoSchemaValidator, lines 49-144).
  *
  * Everything here is pure Scala over one document's lines — a document never
  * spans rows, so the whole pipeline runs row-locally inside a typed Dataset
  * map (SURVEY.md §2 master rule).
  */
object ConsentExtractor {

  // ---- header/footer removal (consent_converter.py:278-321) ----
  // Of the reference's six practice-info patterns, the www/email/Route/Smile@
  // regexes are fully subsumed by the cheap markers below ('@' covers both
  // email forms, 'route' covers Route, 'www.' covers www): only the
  // parenthesized-phone and street-city-zip patterns add coverage, and each
  // is gated on its required literal char so ordinary digit lines skip the
  // regex engine entirely.
  private val parenPhoneRe = "\\(\\d{3}\\)\\s*\\d{3}-?\\d{4}".r
  // (?i) matches the reference's re.IGNORECASE on all six practice patterns;
  // it matters here because this pattern has letter classes (parenPhoneRe has
  // none, so the flag is omitted there).
  private val streetCityZipConsentRe = "(?i)\\d+\\s+[A-Z][A-Za-z\\s]+,\\s+[A-Z]{2}\\s+\\d{5}".r

  private val practiceMarkers = Vector("www.", "@", "route", "office:", "phone:", "fax:")
  private val practiceMarkersAC = MultiSubstring(practiceMarkers)

  def isPracticeInformation(line: String): Boolean = {
    // fold scan: no lowered copy per line (trim is irrelevant to contains)
    if (practiceMarkersAC.containsAnyFold(line)) return true
    if (!line.exists(_.isDigit)) return false
    (line.indexOf('(') >= 0 && parenPhoneRe.findFirstIn(line).isDefined) ||
    (line.indexOf(',') >= 0 && streetCityZipConsentRe.findFirstIn(line).isDefined)
  }

  def removePracticeHeadersFooters(lines: Seq[String]): Seq[String] =
    lines.filter(l => l.trim.nonEmpty && !isPracticeInformation(l))

  // ---- witness / doctor signature exclusion (consent_converter.py:606-687) ----
  private val witnessIndicators = Vector(
    "witness signature", "witness printed name", "witness name", "witness date",
    "witnessed by", "witness:", "witness relationship", "witness's", "witness’s")
  private val doctorSignatures = Vector(
    "doctor signature", "dentist signature", "physician signature",
    "dr. signature", "practitioner signature", "provider signature",
    "clinician signature", "doctor's", "doctor’s")
  private val parentGuardianSignatures = Vector(
    "parent signature", "guardian signature", "parent’s signature",
    "parent's signature", "guardian’s signature", "guardian's signature",
    "legal guardian’s", "legal guardian's")
  private val parentGuardianNames = Vector(
    "parent’s name", "parent's name", "guardian’s name", "guardian's name",
    "parent/guardian’s name", "parent/guardian's name")
  private val tagRe = "<[^>]+>".r
  // one-pass DFAs over the witness/doctor banks (these run per <br> segment
  // of every consent body)
  private val witnessQuickTokens = Vector("witness", "doctor", "dr.", "dentist",
    "physician", "practitioner", "provider", "clinician", "parent", "guardian",
    "legally", "printed name", "_")
  private val witnessQuickAC = MultiSubstring(witnessQuickTokens)
  private val witnessIndicatorsAC = MultiSubstring(
    witnessIndicators ++ doctorSignatures ++ parentGuardianSignatures)
  private val parentGuardianNamesAC = MultiSubstring(parentGuardianNames)

  private val printedNameCompanions = Vector("witness", "guardian", "parent")

  def isWitnessOrDoctorSignatureField(lineLower: String, filterParentGuardianNames: Boolean = true): Boolean = {
    // cheap token pre-check: every indicator requires one of these substrings
    if (!witnessQuickAC.containsAny(lineLower)) return false
    if (witnessIndicatorsAC.containsAny(lineLower)) return true
    if (filterParentGuardianNames && parentGuardianNamesAC.containsAny(lineLower)) return true
    if (lineLower.contains("patient/parent/guardian")) return true
    if (lineLower.contains("legally authorized representative")) return true
    if (lineLower.contains("printed name") &&
        printedNameCompanions.exists(lineLower.contains)) return true
    // mostly-underscore signature lines: >=10 underscores and >0.7 ratio
    val textOnly = tagRe.replaceAllIn(lineLower, "").trim
    if (textOnly.nonEmpty && textOnly.length >= 10) {
      val u = textOnly.count(_ == '_')
      if (u >= 10 && u.toDouble / textOnly.length > 0.7) return true
    }
    false
  }

  /** Fold variant of [[isWitnessOrDoctorSignatureField]]: takes the
    * original-case (tag-stripped, trimmed) text and scans case-folded — no
    * per-segment toLowerCase copy. */
  private def isWitnessFieldFold(text: String): Boolean = {
    if (!witnessQuickAC.containsAnyFold(text)) return false
    if (witnessIndicatorsAC.containsAnyFold(text)) return true
    if (parentGuardianNamesAC.containsAnyFold(text)) return true
    if (StrUtil.indexOfIgnoreCase(text, "patient/parent/guardian", 0) >= 0) return true
    if (StrUtil.indexOfIgnoreCase(text, "legally authorized representative", 0) >= 0) return true
    if (StrUtil.indexOfIgnoreCase(text, "printed name", 0) >= 0 &&
        printedNameCompanions.exists(w => StrUtil.indexOfIgnoreCase(text, w, 0) >= 0)) return true
    // mostly-underscore signature lines (callers pass tag-stripped text, so
    // the strip only re-runs in the rare nested-tag case)
    val textOnly = if (text.indexOf('<') >= 0) tagRe.replaceAllIn(text, "").trim else text
    if (textOnly.nonEmpty && textOnly.length >= 10) {
      val u = textOnly.count(_ == '_')
      if (u >= 10 && u.toDouble / textOnly.length > 0.7) return true
    }
    false
  }

  /** keep-this-segment decision for content[a0, b0) — allocation-free for
    * the common segment (no '<', quick tokens absent). */
  @inline private def segmentKeep(content: String, a0: Int, b0: Int): Boolean = {
    var hasLt = false
    var i = a0
    while (i < b0 && !hasLt) { if (content.charAt(i) == '<') hasLt = true; i += 1 }
    if (hasLt) {
      val textContent = tagRe.replaceAllIn(content.substring(a0, b0), "").trim
      textContent.isEmpty || !isWitnessFieldFold(textContent)
    } else {
      val a = StrUtil.trimFrom(content, a0, b0)
      val b = StrUtil.trimTo(content, a, b0)
      if (b <= a) true
      else if (!witnessQuickAC.containsAnyFoldRegion(content, a, b)) true
      else !isWitnessFieldFold(content.substring(a, b))
    }
  }

  private[graft] def removeWitnessAndDoctorSignatures(content: String): String = {
    // quick-token scan: if no segment can possibly be filtered, skip the
    // segment walk entirely
    if (!witnessQuickAC.containsAnyFold(content)) return content
    // walk literal "<br>" segments by index; the filtered copy is built only
    // if a segment is actually dropped (the split/lower/rejoin copies were
    // the consent route's largest allocation site)
    val n = content.length
    var sb: java.lang.StringBuilder = null
    var firstKept = true
    var segStart = 0
    var done = false
    while (!done) {
      val br = content.indexOf("<br>", segStart)
      val segEnd = if (br < 0) n else br
      val keep = segmentKeep(content, segStart, segEnd)
      if (!keep && sb == null) {
        // all earlier segments were kept: their join is the verbatim prefix
        sb = new java.lang.StringBuilder(n)
        sb.append(content, 0, math.max(0, segStart - 4))
        firstKept = segStart == 0
      } else if (keep && sb != null) {
        if (!firstKept) sb.append("<br>")
        sb.append(content, segStart, segEnd)
        firstKept = false
      }
      if (br < 0) done = true else segStart = br + 4
    }
    if (sb == null) content else sb.toString
  }

  // ---- markdown cleaning (consent_converter.py:924-942) ----
  // All patterns precompiled: this runs per line per turn, and
  // String.replaceAll would recompile the pattern on every call.
  private val mdEmptyHeaderRe = "^#+\\s*$".r
  private val mdH3Re = "^###\\s+(.+)$".r
  private val mdH2Re = "^##\\s+(.+)$".r
  private val mdBoldRe = "\\*\\*(.+?)\\*\\*".r
  private val mdLooseHashRe = "\\s*#+\\s*".r

  def cleanMarkdownFormatting(text0: String): String = {
    val t0 = text0.trim
    // fast path: no '#' and no '**' means none of the five patterns can match
    if (t0.indexOf('#') < 0 && !t0.contains("**")) return t0
    var text = mdEmptyHeaderRe.replaceAllIn(t0, "")
    text = mdH3Re.replaceAllIn(text, "<strong>$1</strong>")
    text = mdH2Re.replaceAllIn(text, "<strong>$1</strong>")
    text = mdBoldRe.replaceAllIn(text, "<strong>$1</strong>")
    text = mdLooseHashRe.replaceAllIn(text, " ")
    text.trim
  }

  // ---- practice info removal inside joined HTML (consent_converter.py:944-962) ----
  private val practiceContentPatterns: Vector[Regex] = Vector(
    "(?i)www\\.\\w+\\.com",
    "(?i)\\w+@\\w+\\.com",
    "(?i)\\(\\d{3}\\)\\d{3}-?\\d{4}",
    "(?i)\\d+\\s+[A-Z][A-Za-z\\s]+,\\s+[A-Z]{2}\\s+\\d{5}",
    "(?i)Route\\s+\\d+.*\\d{5}",
    "(?i)Smile@.*\\.com"
  ).map(_.r)

  private val wsCollapseRe = "\\s+".r

  private def ciContains(s: String, needleLower: String): Boolean = {
    val n = s.length - needleLower.length
    val c0 = needleLower.charAt(0)
    val c0U = Character.toUpperCase(c0)
    var i = 0
    while (i <= n) {
      val c = s.charAt(i)
      if ((c == c0 || c == c0U) &&
          s.regionMatches(true, i, needleLower, 0, needleLower.length)) return true
      i += 1
    }
    false
  }

  private def removePracticeHeaderFooterContent(content0: String): String = {
    var content = content0
    val hasAt = content.indexOf('@') >= 0
    val hasWww = content.contains("www.")
    val hasDigit = content.exists(_.isDigit)
    // necessary-literal guards per pattern: paren-phone needs '(', the
    // street-city-zip pattern needs ',', Route needs the word itself
    val guards = Array(hasWww, hasAt,
      hasDigit && content.indexOf('(') >= 0,
      hasDigit && content.indexOf(',') >= 0,
      hasDigit && ciContains(content, "route"), hasAt)
    practiceContentPatterns.zip(guards).foreach { case (p, g) =>
      if (g) content = p.replaceAllIn(content, "")
    }
    // skip the collapse copy when no run-of-whitespace / exotic ws exists
    var needsCollapse = false
    var i = 0
    var prevWs = false
    while (i < content.length && !needsCollapse) {
      val c = content.charAt(i)
      val ws = Character.isWhitespace(c)
      if (ws && (c != ' ' || prevWs)) needsCollapse = true
      prevWs = ws
      i += 1
    }
    if (needsCollapse) wsCollapseRe.replaceAllIn(content, " ").trim else content.trim
  }

  // ---- Modento placeholders (consent_converter.py:842-908) ----
  // NOTE on ordering: the `Dr. ___` -> `Dr. {{provider}}` rewrite runs before
  // the bare provider patterns so the "Dr. " prefix survives, matching the
  // golden (references/Matching JSON References/consent_crown_bridge_prosthetics.json,
  // "authorize<br>Dr. {{provider}} and/or ...").
  // each substitution carries a lowercase literal anchor that any match must
  // contain — a substring check that skips the regex scan for absent fields
  private[graft] val placeholderSubs: Vector[(String, Regex, String)] = Vector(
    ("dr.", "Dr\\.\\s+_+", "Dr. {{provider}}"),
    // remaining provider placeholder contexts (tab-separated / verbal)
    ("dr.", "Dr\\.\\s*\\t+", "Dr. {{provider}} "),
    // tooth number / site
    ("tooth", "Tooth\\s+Number\\s*:\\s*_+", "Tooth Number: {{tooth_or_site}}"),
    ("tooth", "Tooth\\s+Number\\s*:(?!\\s*\\{\\{)", "Tooth Number: {{tooth_or_site}}"),
    ("tooth", "Tooth\\s+No\\(s\\)\\.\\s+_+", "Tooth No(s). {{tooth_or_site}}"),
    ("tooth", "Tooth\\s+No\\.\\s*:\\s*_+", "Tooth No.: {{tooth_or_site}}"),
    ("tooth", "Tooth\\s*#\\s*:\\s*_+", "Tooth #: {{tooth_or_site}}"),
    // patient name
    ("patient", "Patient\\s+[Nn]ame\\s*:\\s*_+", "Patient Name: {{patient_name}}"),
    ("patient", "Patient\\s+[Nn]ame\\s*:(?!\\s*\\{\\{)", "Patient Name: {{patient_name}}"),
    ("patient", "Patient['’]s\\s+Name\\s*:\\s*[\\s\\t_]*", "Patient's Name: {{patient_name}}"),
    ("patient", "Patient['’]s\\s+Name\\s*:(?!\\s*\\{\\{)", "Patient's Name: {{patient_name}}"),
    ("print", "\\b[Ii],?\\s+_+\\s*\\(?\\s*print\\s+name\\s*\\)?", "I, {{patient_name}} (print name)"),
    // DOB / Date of Birth
    ("dob", "DOB\\s*:\\s*_+", "DOB: {{patient_dob}}"),
    ("dob", "DOB\\s*:(?!\\s*\\{\\{)", "DOB: {{patient_dob}}"),
    ("date", "Date\\s+of\\s+Birth\\s*:\\s*_+", "Date of Birth: {{patient_dob}}"),
    ("date", "Date\\s+of\\s+Birth\\s*:(?!\\s*\\{\\{)", "Date of Birth: {{patient_dob}}"),
    // planned procedure / diagnosis / alternative treatment
    ("planned", "Planned\\s+Procedure\\s*:\\s*_+", "Planned Procedure: {{planned_procedure}}"),
    ("planned", "Planned\\s+Procedure\\s*:(?!\\s*\\{\\{)", "Planned Procedure: {{planned_procedure}}"),
    ("diagnosis", "Diagnosis\\s*:\\s*_+", "Diagnosis: {{diagnosis}}"),
    ("diagnosis", "Diagnosis\\s*:(?!\\s*\\{\\{)", "Diagnosis: {{diagnosis}}"),
    ("alternative", "Alternative\\s+Treatment\\s*:\\s*_+", "Alternative Treatment: {{alternative_treatment}}"),
    ("alternative", "Alternative\\s+Treatment\\s*:(?!\\s*\\{\\{)", "Alternative Treatment: {{alternative_treatment}}"),
    // standalone Date (not of-Birth / Signed)
    ("date", "(?<!of\\s)(?<!Birth\\s)(?<!Signed\\s)Date\\s*:\\s*_+", "Date: {{today_date}}"),
    ("date", "(?<!of\\s)(?<!Birth\\s)(?<!Signed\\s)Date\\s*:(?!\\s*\\{\\{)", "Date: {{today_date}}")
  ).map { case (a, p, r) => (a, ("(?i)" + p).r, r) }

  /** Exact equivalent of `re.replaceAllIn(content, repl)` for patterns whose
    * every match STARTS with the literal `startAnchor` (case-insensitively):
    * the regex is evaluated only at anchor occurrences (via a transparent-
    * bounds region, so lookbehinds still see the preceding text) instead of
    * being scanned position-by-position across the whole content. The
    * replacements here are literal strings (no group references).
    */
  private def replaceAnchored(content: String, re: Regex,
                              startAnchor: String, repl: String): String = {
    var p = StrUtil.indexOfIgnoreCase(content, startAnchor, 0)
    if (p < 0) return content
    val m = re.pattern.matcher(content)
    m.useTransparentBounds(true)
    m.useAnchoringBounds(false)
    var sb: java.lang.StringBuilder = null
    var copied = 0
    while (p >= 0) {
      m.region(p, content.length)
      if (m.lookingAt()) {
        if (sb == null) sb = new java.lang.StringBuilder(content.length + 32)
        sb.append(content, copied, p).append(repl)
        copied = m.end()
        p = StrUtil.indexOfIgnoreCase(content, startAnchor, math.max(copied, p + 1))
      } else p = StrUtil.indexOfIgnoreCase(content, startAnchor, p + 1)
    }
    if (sb == null) content
    else { sb.append(content, copied, content.length); sb.toString }
  }

  private val placeholderAnchors: Vector[String] =
    placeholderSubs.map(_._1).distinct
  private val placeholderAnchorIdx: Map[String, Int] =
    placeholderAnchors.zipWithIndex.toMap
  private val placeholderAnchorAC = MultiSubstring(placeholderAnchors)

  /** Chained reference form (one full-content pass + copy per matching
    * sub) — kept for the PropertySpec equivalence test. */
  private[graft] def applyPlaceholdersChained(content0: String): String = {
    var c = content0
    var present = placeholderAnchorAC.matchedSetFold(c)
    placeholderSubs.foreach { case (anchor, re, repl) =>
      if (present(placeholderAnchorIdx(anchor))) {
        val c2 =
          if (anchor == "print") re.replaceAllIn(c, repl)
          else replaceAnchored(c, re, anchor, repl)
        if (c2 != c) {
          c = c2
          present = placeholderAnchorAC.matchedSetFold(c)
        }
      }
    }
    c
  }

  // subs grouped by anchor index, chain order preserved within each group
  private val subsByAnchor: Array[Array[(Regex, String)]] = {
    val byAnchor = Array.fill(placeholderAnchors.length)(Vector.empty[(Regex, String)])
    placeholderSubs.foreach { case (a, re, repl) =>
      val ai = placeholderAnchorIdx(a)
      byAnchor(ai) = byAnchor(ai) :+ (re -> repl)
    }
    byAnchor.map(_.toArray)
  }
  private val printAnchorIdx = placeholderAnchorIdx.getOrElse("print", -1)

  /** Single left-to-right pass over the content: at each anchor occurrence
    * the anchor's subs are tried in chain order (transparent-bounds
    * lookingAt), the first match wins and the scan resumes after it. This
    * equals the chained per-sub form because (a) all replacements insert
    * `{{…}}` templates that no pattern re-matches (the `(?!\s*\{\{)` guards
    * + template shape), and (b) different anchors' matches never overlap in
    * this corpus — equality with the chained form is property-tested.
    * The one non-anchor-initial pattern ("I, ___ (print name)") keeps its
    * replaceAllIn pre-pass; its match shares no text with other patterns.
    */
  def applyPlaceholders(content0: String): String = {
    val present = placeholderAnchorAC.matchedSetFold(content0)
    var c = content0
    if (printAnchorIdx >= 0 && present(printAnchorIdx)) {
      val (_, re, repl) = placeholderSubs.find(_._1 == "print").get
      c = re.replaceAllIn(c, repl)
    }
    val nA = placeholderAnchors.length
    val nextA = new Array[Int](nA)
    var any = false
    var ai = 0
    while (ai < nA) {
      nextA(ai) =
        if (ai != printAnchorIdx && present(ai)) StrUtil.indexOfIgnoreCase(c, placeholderAnchors(ai), 0)
        else -1
      if (nextA(ai) >= 0) any = true
      ai += 1
    }
    if (!any) return c
    val n = c.length
    var sb: java.lang.StringBuilder = null
    var copied = 0
    var done = false
    while (!done) {
      var best = -1
      var bestIdx = Int.MaxValue
      ai = 0
      while (ai < nA) {
        if (nextA(ai) >= 0 && nextA(ai) < bestIdx) { bestIdx = nextA(ai); best = ai }
        ai += 1
      }
      if (best < 0) done = true
      else {
        val subs = subsByAnchor(best)
        var si = 0
        var matchedEnd = -1
        var repl: String = null
        while (si < subs.length && matchedEnd < 0) {
          val m = subs(si)._1.pattern.matcher(c)
          m.useTransparentBounds(true)
          m.useAnchoringBounds(false)
          m.region(bestIdx, n)
          if (m.lookingAt()) { matchedEnd = m.end(); repl = subs(si)._2 }
          si += 1
        }
        if (matchedEnd >= 0) {
          if (sb == null) sb = new java.lang.StringBuilder(n + 64)
          sb.append(c, copied, bestIdx).append(repl)
          // zero-width-tail guard: patterns ending in a lookahead can end at
          // the anchor itself; always consume at least the anchor occurrence
          copied = math.max(matchedEnd, bestIdx + 1)
        }
        // advance every anchor whose cached position is behind the scan
        val resume = if (matchedEnd >= 0) copied else bestIdx + 1
        ai = 0
        while (ai < nA) {
          if (nextA(ai) >= 0 && nextA(ai) < resume)
            nextA(ai) = StrUtil.indexOfIgnoreCase(c, placeholderAnchors(ai), resume)
          ai += 1
        }
      }
    }
    if (sb == null) c
    else { sb.append(c, copied, n); sb.toString }
  }

  // ---- title ladder (consent_converter.py:725-767) ----
  private val allCapsConsentRe = "^[A-Z\\s]+CONSENT[A-Z\\s]*$".r
  private val informedConsentForRe = "(?i)^Informed\\s+Consent\\s+for\\s+".r
  private val boldTitleRe = "^\\*\\*(.+)\\*\\*$".r
  private val endsInformedConsentRe = "(?i)^.+\\s+Informed\\s+Consent\\s*$".r
  private val endsRefusalRe = "(?i)^.+\\s+[Rr]efusal\\s*$".r
  private val bulletStartRe = "^[-•]\\s+".r

  /** Detect title; returns (title, remaining lines, titleContinuationLines).
    * Continuation: an `Informed Consent for …` title wrapped across physical
    * lines is rejoined with `<br>` (golden: crown & bridge title spans two
    * lines). A continuation line is short, capitalized, unpunctuated.
    */
  private def detectTitle(lines0: Vector[String]): (Option[String], Vector[String]) = {
    var lines = lines0.dropWhile(l => mdEmptyHeaderRe.findFirstIn(l.trim).isDefined)
    if (lines.isEmpty) return (None, lines)
    val first = lines.head
    def continuation(rest: Vector[String]): (String, Vector[String]) = {
      var extra = ""
      var rem = rest
      while (rem.nonEmpty && {
        val n = rem.head.trim
        n.nonEmpty && n.length < 40 && StrUtil.splitWsCount(n) <= 4 &&
          n.head.isUpper && !n.endsWith(".") && !n.endsWith(":") && !n.contains("_")
      }) { extra += "<br>" + rem.head.trim; rem = rem.tail }
      (extra, rem)
    }
    if (first.startsWith("# "))
      (Some(first.replace("# ", "").trim), lines.tail)
    else if (first.startsWith("## "))
      (Some(first.replace("## ", "").trim), lines.tail)
    else if (allCapsConsentRe.findFirstIn(first).isDefined)
      (Some(first.trim), lines.tail)
    else if (informedConsentForRe.findFirstIn(first).isDefined) {
      val (extra, rem) = continuation(lines.tail)
      (Some(first.trim + extra), rem)
    } else if (boldTitleRe.findFirstMatchIn(first).exists(_.group(1).length < 150))
      (Some(boldTitleRe.findFirstMatchIn(first).get.group(1).trim), lines.tail)
    else if (endsInformedConsentRe.findFirstIn(first).isDefined && first.trim.length < 150)
      (Some(first.trim), lines.tail)
    else if (endsRefusalRe.findFirstIn(first).isDefined && first.trim.length < 150)
      (Some(first.trim), lines.tail)
    else (None, lines)
  }

  /** HTML builder (consent_converter.py:707-922). Returns (html, title). */
  def createEnhancedConsentHtml(consentTextLines: Seq[String],
                                boldLines: Map[String, Boolean] = Map.empty): (String, Option[String]) = {
    val (title, contentLines) = detectTitle(consentTextLines.toVector)
    if (contentLines.isEmpty && title.isEmpty)
      return ("<div style=\"text-align:center\"><strong>Informed Consent</strong><br></div>", None)

    val processed = mutable.ArrayBuffer[String]()
    var inBulletList = false
    var prevWasBoldSubheader = false
    contentLines.foreach { raw =>
      val rawTrim = raw.trim
      if (rawTrim.isEmpty) {
        if (inBulletList) { processed += "</ul>"; inBulletList = false }
      } else {
        val line = cleanMarkdownFormatting(raw)
        val lineText = line.trim
        val isBoldSubheader = boldLines.getOrElse(rawTrim, false) && {
          val isBullet = bulletStartRe.findFirstIn(rawTrim).isDefined
          !isBullet && !rawTrim.contains("_") && rawTrim.length < 100
        }
        if (isBoldSubheader && processed.nonEmpty && !prevWasBoldSubheader)
          processed += "<br>"
        if (bulletStartRe.findFirstIn(lineText).isDefined) {
          if (!inBulletList) { processed += "<ul>"; inBulletList = true }
          val cleanLine = bulletStartRe.replaceFirstIn(lineText, "")
            .replace("", "").trim
          processed += s"<li>$cleanLine</li>"
          prevWasBoldSubheader = false
        } else {
          if (inBulletList) { processed += "</ul>"; inBulletList = false }
          if (isBoldSubheader) {
            processed += s"<strong>$lineText</strong>"
            prevWasBoldSubheader = true
          } else {
            processed += lineText
            prevWasBoldSubheader = false
          }
        }
      }
    }
    if (inBulletList) processed += "</ul>"

    // join, avoiding <br> around <ul>/<li> boundaries (consent_converter.py:829-837)
    val parts = mutable.ArrayBuffer[String]()
    processed.zipWithIndex.foreach { case (line, i) =>
      if (i > 0 && !(line.startsWith("<ul>") || line.startsWith("</ul>") ||
        processed(i - 1).startsWith("<ul>") || processed(i - 1).startsWith("</ul>") ||
        line.startsWith("<li>") || line.endsWith("</li>")))
        parts += "<br>"
      parts += line
    }
    var content = StrUtil.concat(parts)
    content = removePracticeHeaderFooterContent(content)
    content = applyPlaceholders(content)
    content = removeWitnessAndDoctorSignatures(content)

    val titleHtml = title.getOrElse("Informed Consent")
    (s"""<div style="text-align:center"><strong>$titleHtml</strong><br>$content</div>""", title)
  }

  // ---- signature-area field patterns (consent_converter.py:449-458) ----
  private case class FieldPattern(regex: Regex, key: String, title: String,
                                  fieldType: String, inputType: Option[String])
  private val fieldPatterns: Vector[FieldPattern] = Vector(
    FieldPattern("(?i)Printed?\\s+[Nn]ame\\s+if\\s+signed\\s+on\\s+behalf".r,
      "printed_name_if_signed_on_behalf", "Printed name if signed on behalf of the patient", "input", None),
    FieldPattern("(?i)Parent/Guardian['’]s\\s+Name\\s*:".r,
      "parent_guardian_name", "Parent/Guardian Name", "input", Some("name")),
    FieldPattern("(?i)Patient.*Name.*Print".r,
      "patient_name_print", "Patient Name (Print)", "input", Some("name")),
    FieldPattern("(?i)Relationship\\s*_+".r,
      "relationship", "Relationship", "input", Some("name")),
    FieldPattern("(?i)Date\\s+of\\s+Birth".r,
      "date_of_birth", "Date of Birth", "date", Some("past")),
    FieldPattern("(?i)tooth\\s+no(?:mber)?\\.?\\s*[:\\(]?\\s*_+".r,
      "tooth_number", "Tooth Number", "input", Some("name")),
    FieldPattern("(?i)procedure.*follows?".r,
      "procedure_description", "Procedure Description", "input", Some("name")),
    FieldPattern("(?i)alternative.*treatment".r,
      "alternative_treatment", "Alternative Treatment", "input", Some("name"))
  )

  private val signatureMarkerRes = Vector(
    "signature\\s*:".r, "patient\\s+signature".r, "parent.*name\\s*:".r, "guardian.*name\\s*:".r)
  // gate tokens: necessary substrings of the four marker regexes — a
  // case-folded DFA hit is required before any Matcher is allocated
  private val sigMarkerGateAC = MultiSubstring(Vector("signature", "parent", "guardian"))

  private def isSignatureMarker(lineLower: String): Boolean = {
    if (lineLower.contains("signature") &&
        (signatureMarkerRes(0).findFirstIn(lineLower).isDefined ||
          signatureMarkerRes(1).findFirstIn(lineLower).isDefined)) return true
    if (lineLower.contains("name") &&
        ((lineLower.contains("parent") && signatureMarkerRes(2).findFirstIn(lineLower).isDefined) ||
          (lineLower.contains("guardian") && signatureMarkerRes(3).findFirstIn(lineLower).isDefined)))
      return true
    false
  }

  private def ctl(kvs: (String, JVal)*): JObj = JObj(kvs.toVector)

  /** Full consent-form field extraction (consent_converter.py:420-604). */
  def extractConsentFormFields(textLines0: Seq[String],
                               boldLines: Map[String, Boolean] = Map.empty): Vector[FieldInfo] =
    extractFromCleaned(removePracticeHeadersFooters(textLines0).toVector, boldLines)

  /** Same, over lines already passed through removePracticeHeadersFooters
    * (lets the fused per-turn extractor clean once for both main_text and
    * field extraction). */
  def extractFromCleaned(textLines: Vector[String],
                         boldLines: Map[String, Boolean]): Vector[FieldInfo] = {
    val fields = mutable.ArrayBuffer[FieldInfo]()
    val processedKeys = mutable.Set[String]()

    // split into consent text block vs signature area
    var signatureStartIdx: Option[Int] = None
    val consentTextLines = mutable.ArrayBuffer[String]()
    var i = 0
    while (i < textLines.length && signatureStartIdx.isEmpty) {
      val line = textLines(i)
      // fold-gate before lowering: most lines carry no marker token at all
      if (sigMarkerGateAC.containsAnyFold(line) && isSignatureMarker(line.toLowerCase))
        signatureStartIdx = Some(i)
      else {
        val t = line.trim
        if (t.nonEmpty) consentTextLines += t
      }
      i += 1
    }

    if (consentTextLines.nonEmpty) {
      val (html, _) = createEnhancedConsentHtml(consentTextLines.toSeq, boldLines)
      fields += FieldInfo("form_1", "", "text", "Form", optional = false,
        control = ctl("html_text" -> JStr(html), "hint" -> JNull), lineIdx = 0)
      processedKeys += "form_1"
    }

    // signature-area fields
    signatureStartIdx.foreach { sIdx =>
      textLines.drop(sIdx).zipWithIndex.foreach { case (line, j) =>
        val stripped = line.trim
        if (stripped.nonEmpty && !stripped.startsWith("#") &&
            !isWitnessOrDoctorSignatureField(stripped.toLowerCase, filterParentGuardianNames = false)) {
          fieldPatterns.foreach { fp =>
            if (fp.regex.findFirstIn(line).isDefined && !processedKeys.contains(fp.key) &&
                !fp.key.contains("witness") && !fp.key.contains("doctor")) {
              val control = fp.fieldType match {
                case "date" => ctl("input_type" -> fp.inputType.map(JStr).getOrElse(JNull), "hint" -> JNull)
                case _ => ctl("input_type" -> fp.inputType.map(JStr).getOrElse(JNull), "hint" -> JNull)
              }
              fields += FieldInfo(fp.key, fp.title, fp.fieldType, "Signature",
                optional = false, control = control, lineIdx = sIdx + j)
              processedKeys += fp.key
            }
          }
        }
      }
    }

    if (!processedKeys.contains("signature")) {
      fields += FieldInfo("signature", "Signature", "signature", "Signature",
        optional = false, control = ctl("hint" -> JNull, "input_type" -> JNull),
        lineIdx = textLines.length)
      processedKeys += "signature"
    }
    if (!processedKeys.contains("date_signed")) {
      fields += FieldInfo("date_signed", "Date Signed", "date", "Signature",
        optional = false, control = ctl("hint" -> JNull, "input_type" -> JStr("any")),
        lineIdx = textLines.length + 1)
      processedKeys += "date_signed"
    }

    // reorder (consent_converter.py:567-602)
    val formFields = fields.filter(_.section == "Form")
    val sigSection = fields.filter(_.section == "Signature")
    val signatureField = sigSection.find(_.fieldType == "signature")
    val dateSignedField = sigSection.find(_.key == "date_signed")
    val primaryInputs = sigSection.filter(f =>
      (f.fieldType == "input" || f.fieldType == "date") &&
        f.key != "date_signed" && f.key != "printed_name_if_signed_on_behalf")
    val secondaryInputs = sigSection.filter(_.key == "printed_name_if_signed_on_behalf")
    val others = sigSection.filter(f => !primaryInputs.contains(f) &&
      !secondaryInputs.contains(f) && !signatureField.contains(f) && !dateSignedField.contains(f))

    (formFields ++ primaryInputs ++ signatureField.toSeq ++ dateSignedField.toSeq ++
      secondaryInputs ++ others).toVector
  }

  // ---- validation/normalization (consent_converter.py:91-144) ----
  private val validTypes = Set("input", "radio", "checkbox", "dropdown", "states",
    "date", "signature", "initials", "text", "header")
  private val validInputTypes = Set("name", "email", "phone", "number", "ssn", "zip", "initials")

  def validateAndNormalize(fields0: Vector[FieldInfo]): Vector[FieldInfo] = {
    var fields = fields0
    // signature uniqueness: first keeps key "signature", rest dropped
    val sigIdxs = fields.zipWithIndex.collect { case (f, i) if f.fieldType == "signature" => i }
    if (sigIdxs.nonEmpty) {
      val first = sigIdxs.head
      fields = fields.zipWithIndex.collect {
        case (f, `first`) => f.copy(key = "signature")
        case (f, i) if !sigIdxs.tail.contains(i) => f
      }
    } else {
      fields = fields :+ FieldInfo("signature", "Signature", "signature", "Signature",
        optional = false, control = JObj(Vector.empty))
    }
    // unique keys
    val seen = mutable.Set[String]()
    fields = fields.map { f =>
      var key = f.key
      val base = key
      var counter = 2
      while (seen.contains(key)) { key = s"${base}_$counter"; counter += 1 }
      seen += key
      f.copy(key = key)
    }
    // per-question normalization; control key order matches the goldens:
    // {hint, input_type} for scalar fields, {html_text, hint} for text.
    fields.map { f =>
      var ctl = f.control
      if (ctl.get("hint").isEmpty) ctl = ctl.updated("hint", JNull)
      f.fieldType match {
        case "input" =>
          val t = ctl.get("input_type").getOrElse(JNull)
          val fixed = t match {
            case JStr(s) if !validInputTypes.contains(s) => JStr("name")
            case other => other
          }
          ctl = reorder(ctl.updated("input_type", fixed))
        case "date" =>
          val t = ctl.get("input_type").getOrElse(JNull)
          val fixed = t match {
            case JStr(s) if Set("past", "future", "any").contains(s) => JStr(s)
            case _ => JStr("any")
          }
          ctl = reorder(ctl.updated("input_type", fixed))
        case "signature" =>
          ctl = reorder(ctl.updated("hint", JNull).updated("input_type", JNull))
        case "text" =>
          ctl = JObj(Vector("html_text" -> ctl.get("html_text").getOrElse(JStr("")),
            "hint" -> JNull))
        case _ => ()
      }
      f.copy(control = ctl)
    }
  }

  /** Canonical control key order {hint, input_type, ...rest} as in the golden
    * consent JSONs (e.g. relationship in consent_crown_bridge_prosthetics.json).
    */
  private def reorder(c: JObj): JObj = {
    val hint = c.get("hint").getOrElse(JNull)
    val it = c.get("input_type").getOrElse(JNull)
    val rest = c.fields.filterNot(kv => kv._1 == "hint" || kv._1 == "input_type")
    JObj(Vector("hint" -> hint, "input_type" -> it) ++ rest)
  }

  /** Full pipeline: lines -> golden JSON string (consent profile, no
    * `optional` key — matches references/Matching JSON References goldens).
    */
  def convert(textLines: Seq[String], boldLines: Map[String, Boolean] = Map.empty): String = {
    val fields = validateAndNormalize(extractConsentFormFields(textLines, boldLines))
    Spec.render(fields, includeOptional = false)
  }

  def convertFields(textLines: Seq[String], boldLines: Map[String, Boolean] = Map.empty): Vector[FieldInfo] =
    validateAndNormalize(extractConsentFormFields(textLines, boldLines))
}
