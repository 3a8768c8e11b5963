package graft.extract

import scala.util.matching.Regex

/** Main-pipeline header/footer manager — the reference's boilerplate-removal
  * analog (field_processing/header_footer_manager.py, SURVEY.md §2.2 #7,#10):
  * 25+ practice-info patterns guarded by a form-content whitelist, mixed-line
  * form-title extraction, and the positional first/last-5% heuristic.
  */
object HeaderFooterMain {

  // The reference's .*-wrapped pattern.match() checks reduce to "line
  // contains a match of the inner pattern" — each regex below is the
  // unwrapped inner pattern, gated behind a cheap substring/char precheck so
  // ordinary content lines skip the regex engine entirely. Semantics are
  // identical: isPracticeInformation is an order-independent any-match.
  private val phoneRe = "(?i)\\b\\d{3}[-.\\s]?\\d{3}[-.\\s]?\\d{4}\\b".r
  private val emailRe = "(?i)@.*\\.(com|org|net|edu)".r
  private val wwwRe = "(?i)www\\..*\\.com".r
  private val streetAddrRe = "(?i)\\b\\d+\\s+[A-Za-z\\s]+(?:street|st|avenue|ave|road|rd|drive|dr|lane|ln|blvd|boulevard)\\b".r
  private val cityStateZipRe = "(?i)\\b[A-Za-z\\s]+,\\s*[A-Z]{2}\\s+\\d{5}".r
  private val dentistryRe = "(?i)\\b(family\\s+dental|cosmetic\\s+dentistry|pediatric\\s+dentistry|general\\s+dentistry)\\b".r
  private val specialtyRe = "(?i)\\b(orthodontic\\s+office|endodontic\\s+practice|periodontal\\s+office)\\b".r
  private val facilityWords = Vector("clinic", "center", "associates", "group", "practice", "office", "care", "solutions")
  private val facilityRe = "(?i)\\b(clinic|center|associates|group|practice|office|care|solutions)\\b".r
  private val tripleBulletRe = "•.*•.*•".r
  private val smileDentalRe = "(?i)smile.*dental".r
  private val kingeryRe = "(?i)kingery.*dental".r
  private val darienRe = "(?i)darien.*il".r
  private val pageNumRe = "(?i)page\\s+\\d+".r
  private val copyrightRe = "©.*\\d{4}".r
  private val rightsRe = "(?i)all\\s+rights\\s+reserved".r
  private val formIdRe = "(?i)form\\s*(id|number|version)".r
  private val revisedRe = "(?i)revised.*\\d{4}".r

  private val practiceKeywords = Vector(
    "smile solutions", "dental office", "family dentistry", "cosmetic dentistry",
    "orthodontics", "endodontics", "periodontics", "oral surgery", "implant dentistry")

  /** Form-content whitelist: content that must never be removed
    * (header_footer_manager.py:114-141). */
  private val formContentWhitelist = Vector(
    "patient responsibilities", "dental benefit plans", "payment is due",
    "scheduling of appointments", "authorizations", "we are committed",
    "if we are a contracted provider", "assign benefits",
    "financial and scheduling terms", "plan/group number", "our practice",
    "is not (check one)", "i authorize the release",
    "personal information necessary to process", "yes  n o (check one)",
    "check one", "(initial)", "contracted provider")

  // one-pass Aho-Corasick DFA over the whitelist (isFormContent); the
  // other per-line banks live only inside cleanAC/unionAC below
  private val formContentAC = MultiSubstring(formContentWhitelist)

  // ---- merged line-cleaning automaton: ONE case-folded DFA walk per line
  // computes every bank + every substring gate the cleaning stage needs
  // (whitelist, practice keywords, facility words, mixed-content gates and
  // the regex-bank prechecks). The separate per-bank walks and the per-line
  // trim+toLowerCase copy were ~15% of the docling route's CPU; every
  // pattern here is edge-whitespace-free ASCII, so fold presence on the raw
  // line == contains on the trimmed lowercase (PropertySpec pins this).
  private val gateTokens = Vector("page", "revised", "www.", "dental",
    "dentistry", "dontic", "periodont", "smile", "kingery", "darien",
    "rights", "form")
  private val cleanBanks: Vector[Vector[String]] = Vector(
    formContentWhitelist,         // seg 0: whitelist -> never removed
    practiceKeywords,             // seg 1: unconditional practice keywords
    facilityWords,                // seg 2: facilityRe gate
    Vector("smile@", "www."),     // seg 3: mixed-content gate
    Vector("informed consent"),   // seg 4: mixed-content subject
    gateTokens)                   // seg 5: regex-bank substring gates
  private val cleanOff: Array[Int] = cleanBanks.scanLeft(0)(_ + _.length).toArray
  private val cleanAC = MultiSubstring(cleanBanks.flatten)
  // cleaner banks UNIONED with the patient-info machine's per-line bank:
  // the cleaning walk then yields the machine's per-line flags for free on
  // every line it passes through (ids [0, machineN) are the machine's,
  // exactly machineLineAC's layout; the cleaner reads from machineN up)
  private[extract] lazy val unionBase: Int = PatientInfoMachine.machineN
  private[extract] lazy val unionAC: MultiSubstring =
    MultiSubstring(PatientInfoMachine.machineLinePatterns ++ cleanBanks.flatten)
  @inline private def segAny(flags: Array[Boolean], seg: Int, base: Int): Boolean = {
    var i = base + cleanOff(seg)
    val end = base + cleanOff(seg + 1)
    while (i < end) { if (flags(i)) return true; i += 1 }
    false
  }
  @inline private def gate(flags: Array[Boolean], i: Int, base: Int): Boolean =
    flags(base + cleanOff(5) + i)

  // fold scans: no pattern in these banks has edge whitespace, so presence
  // in trim+toLowerCase == presence under the case-folded scan of the raw
  // line (trim only strips edge ws; matches begin/end on non-ws chars)
  def isFormContent(line: String): Boolean =
    formContentAC.containsAnyFold(line)

  def isPracticeInformation(line0: String): Boolean =
    isPracticeInformationFlags(line0, cleanAC.matchedSetFold(line0), 0)

  private def isPracticeInformationFlags(line0: String, flags: Array[Boolean],
                                         base: Int): Boolean = {
    // common case (real form content) exits on the whitelist flags
    if (segAny(flags, 0, base)) return false
    val line = line0.trim
    // anchored specials: ^[^a-zA-Z]*$ (subsumes ^\s*•\s*$)
    var hasLetter = false
    var hasDigit = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c.isLetter) hasLetter = true
      if (c.isDigit) hasDigit = true
      i += 1
    }
    if (!hasLetter) return true
    if (hasDigit) {
      if (phoneRe.findFirstIn(line).isDefined) return true
      if (streetAddrRe.findFirstIn(line).isDefined) return true
      if (line.indexOf(',') >= 0 && cityStateZipRe.findFirstIn(line).isDefined) return true
      if (gate(flags, 0, base) && pageNumRe.findFirstIn(line).isDefined) return true
      if (line.indexOf('©') >= 0 && copyrightRe.findFirstIn(line).isDefined) return true
      if (gate(flags, 1, base) && revisedRe.findFirstIn(line).isDefined) return true
    }
    if (line.indexOf('@') >= 0 && emailRe.findFirstIn(line).isDefined) return true
    if (gate(flags, 2, base) && wwwRe.findFirstIn(line).isDefined) return true
    if ((gate(flags, 3, base) || gate(flags, 4, base)) &&
        dentistryRe.findFirstIn(line).isDefined) return true
    if ((gate(flags, 5, base) || gate(flags, 6, base)) &&
        specialtyRe.findFirstIn(line).isDefined) return true
    if (segAny(flags, 2, base) && facilityRe.findFirstIn(line).isDefined) return true
    if (line.indexOf('•') >= 0 && tripleBulletRe.findFirstIn(line).isDefined) return true
    if (gate(flags, 7, base) && smileDentalRe.findFirstIn(line).isDefined) return true
    if (gate(flags, 8, base) && kingeryRe.findFirstIn(line).isDefined) return true
    if (gate(flags, 9, base) && darienRe.findFirstIn(line).isDefined) return true
    if (gate(flags, 10, base) && rightsRe.findFirstIn(line).isDefined) return true
    if (gate(flags, 11, base) && formIdRe.findFirstIn(line).isDefined) return true
    segAny(flags, 1, base)
  }

  private val mixedConsentRe = "(?i)(informed\\s+consent[^•]*)".r

  private val mixedGateAC = MultiSubstring(Vector("smile@", "www."))
  private val informedConsentAC = MultiSubstring(Vector("informed consent"))

  def hasMixedPracticeContent(line: String): Boolean =
    mixedGateAC.containsAnyFold(line) && informedConsentAC.containsAnyFold(line)

  @inline private def hasMixedPracticeContentFlags(flags: Array[Boolean], base: Int): Boolean =
    segAny(flags, 3, base) && segAny(flags, 4, base)

  def extractFormContent(line: String): String =
    mixedConsentRe.findFirstMatchIn(line).map(_.group(1).trim).getOrElse("")

  /** Universal header/footer removal (the main-profile line-cleaning stage,
    * applied before field extraction — pdf_to_json_converter.py:792-793). */
  def removePracticeHeadersFooters(lines: Seq[String]): Seq[String] =
    lines.flatMap { line =>
      if (StrUtil.isBlank(line)) None
      else {
        val flags = cleanAC.matchedSetFold(line) // one walk feeds every check
        if (isPracticeInformationFlags(line, flags, 0)) None
        else if (hasMixedPracticeContentFlags(flags, 0)) {
          val extracted = extractFormContent(line)
          if (extracted.nonEmpty) Some(extracted) else None
        } else Some(line)
      }
    }

  /** Cleaning variant whose per-line walk uses the UNION automaton (machine
    * bank + cleaner banks): returns the kept lines plus, aligned 1:1, each
    * kept line's union flag array — the patient-info machine reads its own
    * per-line flags from the [0, machineN) prefix instead of re-walking
    * every line. A rewritten mixed-content line gets a null entry (its
    * text changed; the machine rescans it). */
  def removePracticeHeadersFootersFlags(lines: Seq[String])
  : (Vector[String], Array[Array[Boolean]]) = {
    val kept = Vector.newBuilder[String]
    val flagsOut = Array.newBuilder[Array[Boolean]]
    val base = unionBase
    lines.foreach { line =>
      if (!StrUtil.isBlank(line)) {
        val flags = unionAC.matchedSetFold(line)
        if (isPracticeInformationFlags(line, flags, base)) ()
        else if (hasMixedPracticeContentFlags(flags, base)) {
          val extracted = extractFormContent(line)
          if (extracted.nonEmpty) { kept += extracted; flagsOut += null }
        } else { kept += line; flagsOut += flags }
      }
    }
    (kept.result(), flagsOut.result())
  }
}
