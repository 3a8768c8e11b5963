package graft.extract

import graft.model._
import scala.util.matching.Regex
import scala.collection.mutable

/** The patient-info (NPF) state machine, re-expressed from
  * /root/reference/pdf_to_json_converter.py:4052-5139 — the reference's core
  * operator (SURVEY.md §2.4 #32): a sequential scan with current-section
  * state orchestrating radio lookahead, work-address two-line lookahead,
  * standalone-field dictionary with section-based key numbering, policy-text
  * second pass (text_3/text_4/authorization), and required-field injection.
  * All row-local — runs inside the per-turn Dataset map.
  */
object PatientInfoMachine {

  import MainExtractor.{detectFieldType, detectInputType, normalizeFieldName, parseInlineFields}

  private val checkboxSymbols = "[□■☐☑✅◉●○•\\-–\\*\\[\\]\\(\\)]"
  private val checkboxCharClass = "□■☐☑✅◉●○•\\-–\\*\\[\\]\\(\\)"

  /** Reference regex for option extraction (kept as the specification; the
    * hand-rolled scanner below is property-tested equivalent — the regex's
    * reluctant-capture + lookahead was a per-line hot spot). */
  private[graft] val optionExtractRe =
    (checkboxSymbols + "\\s*([A-Za-z0-9][A-Za-z0-9\\s\\-/&\\(\\)']+?)(?=\\s*" + checkboxSymbols + "|\\s*$)").r

  @inline private def isSym(c: Char): Boolean = c match {
    case '□' | '■' | '☐' | '☑' | '✅' | '◉' | '●' | '○' | '•' |
         '-' | '–' | '*' | '[' | ']' | '(' | ')' => true
    case _ => false
  }
  @inline private def isWsCh(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '' || c == '\f' || c == '\r'
  @inline private def isAlnumCh(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')
  @inline private def isOptionChar(c: Char): Boolean =
    isAlnumCh(c) || isWsCh(c) || c == '-' || c == '/' || c == '&' ||
      c == '(' || c == ')' || c == '\''

  def hasCheckboxSymbol(s: String): Boolean = {
    var i = 0
    while (i < s.length) { if (isSym(s.charAt(i))) return true; i += 1 }
    false
  }

  // lookahead (?=\s*SYM|\s*$): skip whitespace; succeed at a symbol or at end
  @inline private def optionEndsAt(line: String, e: Int): Boolean = {
    var i = e
    val n = line.length
    while (i < n && isWsCh(line.charAt(i))) i += 1
    i >= n || isSym(line.charAt(i))
  }

  /** Hand-rolled equivalent of optionExtractRe.findAllMatchIn: at a symbol,
    * skip whitespace, require an alphanumeric start, then extend the
    * reluctant capture one option-char at a time until the lookahead
    * succeeds (shortest capture of length >= 2 wins, exactly like `+?`).
    */
  def extractCheckboxOptions(line: String): Vector[String] = {
    val n = line.length
    var out: Vector[String] = null
    var p = 0
    while (p < n) {
      var advanced = false
      if (isSym(line.charAt(p))) {
        var q = p + 1
        while (q < n && isWsCh(line.charAt(q))) q += 1
        if (q < n && isAlnumCh(line.charAt(q))) {
          var e = q + 1
          var matched = -1
          var ok = true
          while (ok && matched < 0) {
            if (e >= n || !isOptionChar(line.charAt(e))) ok = false
            else {
              e += 1
              if (optionEndsAt(line, e)) matched = e
            }
          }
          if (matched >= 0) {
            val s = line.substring(q, matched).trim
            if (s.nonEmpty) {
              if (out == null) out = Vector(s) else out = out :+ s
            }
            p = matched
            advanced = true
          }
        }
      }
      if (!advanced) p += 1
    }
    if (out == null) Vector.empty else out
  }

  // ---- checkbox-run collection (pdf_to_json_converter.py:544-569, 1443-1476, 1628-1635) ----
  private val unifiedBulletRe = ("^\\s*(?:[•\\-–\\*]|[□■☐☑✅]|[◉●○]|\\d+[\\.\\)]\\s*|" +
    "[a-zA-Z][\\.\\)]\\s*|[\\u2022\\u2023\\u2043\\u204C\\u204D\\u2219\\u25A0\\u25A1\\u25CF\\u25CB])\\s*(.+)").r
  private val firstHistoryItemRe = ("^" + checkboxSymbols + "\\s*[A-Za-z]").r
  private val plainHistoryRe = "^[A-Za-z][A-Za-z\\s]{2,}$".r
  private val fallbackCheckRe = ("^(?:" + checkboxSymbols + "\\s*)?([A-Za-z][A-Za-z0-9\\-\\s/&]{2,})$").r

  def looksLikeFirstHistoryItem(line: String): Boolean =
    firstHistoryItemRe.findFirstIn(line).isDefined || plainHistoryRe.findFirstIn(line).isDefined

  /** Collect consecutive bullet/checkbox lines into options; returns
    * (options, nextIdx). */
  def collectCheckboxRun(lines: IndexedSeq[String], start: Int): (Vector[JObj], Int) = {
    val out = mutable.ArrayBuffer[JObj]()
    var j = start
    var done = false
    while (j < lines.length && !done) {
      val line = lines(j).trim
      if (line.isEmpty) j += 1
      else unifiedBulletRe.findFirstMatchIn(line) match {
        case Some(m) =>
          val label = StrUtil.stripTrailingRun(m.group(1).trim, ':')
          if (label.length > 2) out += JObj.of("name" -> JStr(label), "value" -> JStr(label))
          j += 1
        case None =>
          fallbackCheckRe.findFirstMatchIn(line) match {
            case Some(m) =>
              val label = StrUtil.stripTrailingRun(m.group(1).trim, ':')
              if (label.length > 2) out += JObj.of("name" -> JStr(label), "value" -> JStr(label))
              j += 1
            case None => done = true
          }
      }
    }
    (out.toVector, j)
  }

  /** Consent text block + acknowledgment + signature + date quadruple
    * (pdf_to_json_converter.py:1504-1548). */
  def emitConsentBlock(title: String, paragraphLines: Seq[String], section: String,
                       lineIdx: Int): Vector[FieldInfo] = {
    val html = "<p>" + paragraphLines.mkString(" ") + "</p>"
    Vector(
      FieldInfo(Slugify.slugify(title), title, "text", section, optional = false,
        JObj.of("html_text" -> JStr(html), "temporary_html_text" -> JStr(html),
          "text" -> JStr("")), lineIdx),
      FieldInfo("acknowledge", "I have read and understand the information above.",
        "checkbox", section, optional = false,
        JObj.of("options" -> JArr(Vector(JObj.of("name" -> JStr("I agree"), "value" -> JStr("I agree"))))),
        lineIdx + 1),
      FieldInfo("signature", "Signature", "signature", "Signature", optional = false,
        JObj(Vector.empty), lineIdx + 2),
      FieldInfo("signature_date", "Date", "date", "Signature", optional = false,
        JObj.of("input_type" -> JStr("past")), lineIdx + 3))
  }

  // ---- predefined radio banks (pdf_to_json_converter.py:1165-1251) ----
  private def opts(pairs: (String, JVal)*): JArr =
    JArr(pairs.toVector.map { case (n, v) => JObj.of("name" -> JStr(n), "value" -> v) })

  // each bank carries a required substring gate — the cheap contains check
  // skips the backtracking-prone lazy-dot regexes on ordinary lines
  private val radioBanks: Vector[(String, Regex, String, JArr)] = Vector(
    ("sex", "sex.*?(?:male|female)".r, "Sex",
      opts("Male" -> JStr("male"), "Female" -> JStr("female"))),
    ("marital", "marital.*?status".r, "Marital Status",
      opts("Married" -> JStr("Married"), "Single" -> JStr("Single"),
        "Divorced" -> JStr("Divorced"), "Separated" -> JStr("Separated"),
        "Widowed" -> JStr("Widowed"))),
    ("minor", "is.*?patient.*?minor".r, "Is the Patient a Minor?",
      opts("Yes" -> JBool(true), "No" -> JBool(false))),
    ("student", "full.*?time.*?student".r, "Full-time Student",
      opts("Yes" -> JBool(true), "No" -> JBool(false))),
    ("contact", "preferred.*?method.*?contact".r, "What Is Your Preferred Method Of Contact",
      opts("Mobile Phone" -> JStr("Mobile Phone"), "Home Phone" -> JStr("Home Phone"),
        "Work Phone" -> JStr("Work Phone"), "E-mail" -> JStr("E-mail"))),
    ("relationship", "relationship.*?to.*?patient.*(?:self|spouse|parent)".r, "Relationship To Patient",
      opts("Self" -> JStr("Self"), "Spouse" -> JStr("Spouse"),
        "Parent" -> JStr("Parent"), "Other" -> JStr("Other"))),
    ("residence", "primary.*?residence".r, "If Patient Is A Minor, Primary Residence",
      opts("Both Parents" -> JStr("Both Parents"), "Mom" -> JStr("Mom"),
        "Dad" -> JStr("Dad"), "Step Parent" -> JStr("Step Parent"),
        "Shared Custody" -> JStr("Shared Custody"), "Guardian" -> JStr("Guardian"))))

  // one DFA pass gates the whole bank (this runs on EVERY machine line;
  // the per-bank contains scans only run when some gate token is present)
  private lazy val radioBankGateAC = MultiSubstring(radioBanks.map(_._1))

  private def detectRadioQuestionUngated(lower: String): Option[(String, JArr)] = {
    var i = 0
    while (i < radioBanks.length) {
      val b = radioBanks(i)
      if (lower.contains(b._1) && b._2.findFirstIn(lower).isDefined)
        return Some((b._3, b._4))
      i += 1
    }
    None
  }

  // ---- radio key mapping (pdf_to_json_converter.py:3642-3670) ----
  def getRadioKeyForQuestion(question: String, section: String): String = {
    val q = question.toLowerCase
    if (q.contains("preferred method of contact")) "what_is_your_preferred_method_of_contact"
    else if (q.contains("patient") && q.contains("minor") && !q.contains("residence")) "is_the_patient_a_minor"
    else if (q.contains("full-time student") || q.contains("full time student")) "full_time_student"
    else if (q.contains("primary residence")) "if_patient_is_a_minor_primary_residence"
    else if (q.contains("relationship") && q.contains("patient")) {
      if (section == "FOR CHILDREN/MINORS ONLY") "relationship_to_patient_2" else "relationship_to_patient"
    }
    else if (q.contains("marital status")) "marital_status"
    else if (q.contains("sex")) "sex"
    else if (q.contains("authorize") && q.contains("personal information"))
      "i_authorize_the_release_of_my_personal_information_necessary_to_process_my_dental_benefit_claims,_including_health_information,_"
    else Slugify.slugify(question)
  }

  // ---- radio options lookahead (pdf_to_json_converter.py:3671-3851) ----
  private val embeddedQuestionIndicators = Vector(
    "full-time student", "name of school", "name of insured",
    "occupation", "employer", "street", "city", "state", "zip")
  private val optAfterCheckboxRe = (checkboxSymbols + "\\s*([^" + checkboxCharClass + "]+)").r
  private val checkboxSplitPattern = java.util.regex.Pattern.compile("[" + checkboxCharClass + "]")
  private val contactPhoneOptions = Set("mobile phone", "home phone", "work phone")

  /** Returns (question, options, nextIdx) or None. */
  def detectRadioOptionsUniversal(lines: IndexedSeq[String], startIdx: Int): Option[(String, JArr, Int)] = {
    if (startIdx >= lines.length) return None
    detectRadioOptionsUniversal(lines, startIdx, lines(startIdx).toLowerCase)
  }

  /** Variant taking the caller's lowercase view of lines(startIdx) — the
    * machine keeps one per line; avoids a second per-line toLowerCase. */
  def detectRadioOptionsUniversal(lines: IndexedSeq[String], startIdx: Int,
                                  lineLower: String): Option[(String, JArr, Int)] =
    detectRadioOptionsUniversal(lines, startIdx, lineLower,
      bankGateHit = radioBankGateAC.containsAny(lineLower))

  /** Variant taking the caller's precomputed radio-bank gate (the machine
    * folds it into its one merged per-line DFA pass). */
  def detectRadioOptionsUniversal(lines: IndexedSeq[String], startIdx: Int,
                                  lineLower: String, bankGateHit: Boolean): Option[(String, JArr, Int)] = {
    val line = lines(startIdx)

    if (bankGateHit)
      detectRadioQuestionUngated(lineLower).foreach { case (q, o) => return Some((q, o, startIdx + 1)) }

    // Pattern 1: question + checkbox options on the same line
    if (line.indexOf('□') >= 0 || line.indexOf('☐') >= 0 || line.indexOf('!') >= 0)
    sameLineCheckboxRe.findFirstMatchIn(line).foreach { m =>
      val question = StrUtil.stripTrailingRun(m.group(1).trim, ':')
      if (question.length >= 5) {
        val optionParts = checkboxSplitPattern.split(line).drop(1)
        val options = optionParts.flatMap { part =>
          val t = StrUtil.trimCharSet(part.trim, "(),. ")
          if (t.nonEmpty) {
            val v: JVal = t.toLowerCase match {
              case "yes" | "true" => JBool(true)
              case "no" | "false" => JBool(false)
              case _ => JStr(t)
            }
            Some(JObj.of("name" -> JStr(t), "value" -> v))
          } else None
        }.toVector
        if (options.length >= 2) return Some((question, JArr(options), startIdx + 1))
      }
    }

    // Pattern 2: question line + options on following lines
    val stripped = line.trim
    val strippedLower = lineLower.trim // lowercase commutes with ASCII trim
    if ((stripped.endsWith("?") || strippedLower.contains("preferred method of contact") ||
        strippedLower.contains("full-time student")) && !stripped.startsWith("##")) {
      val question = StrUtil.stripTrailingRun(stripped, '?').trim
      val questionLower = question.toLowerCase
      if (question.length >= 5) {
        val options = mutable.ArrayBuffer[JObj]()
        var nextIdx = startIdx + 1
        val maxLookahead = if (questionLower.contains("contact")) 10 else 5
        var done = false
        while (!done && nextIdx < lines.length && nextIdx < startIdx + maxLookahead) {
          val next = lines(nextIdx).trim
          if (next.isEmpty) nextIdx += 1
          else if (next.endsWith("?") || next.startsWith("##") || next.length > 100) done = true
          else if (hasCheckboxSymbol(next)) {
            optAfterCheckboxRe.findFirstMatchIn(next) match {
              case Some(om) =>
                val optionText = om.group(1).trim
                if (optionText.nonEmpty) {
                  val optionLower = optionText.toLowerCase
                  var isEmbedded = embeddedQuestionIndicators.exists(optionLower.contains)
                  if (optionLower.contains("phone") && questionLower.contains("contact") &&
                      contactPhoneOptions.contains(optionLower))
                    isEmbedded = false
                  if (isEmbedded && optionLower.startsWith("no ")) {
                    options += JObj.of("name" -> JStr("No"), "value" -> JBool(false))
                    done = true
                  } else if (isEmbedded) done = true
                  else {
                    val v: JVal = optionLower match {
                      case "yes" | "true" => JBool(true)
                      case "no" | "false" => JBool(false)
                      case _ => JStr(optionText)
                    }
                    options += JObj.of("name" -> JStr(optionText), "value" -> v)
                    nextIdx += 1
                  }
                } else nextIdx += 1
              case None => nextIdx += 1
            }
          } else done = true
        }
        if (options.length >= 2) return Some((question, JArr(options.toVector), nextIdx))
      }
    }

    // Pattern 3: "Full-time Student" with inline checkbox (mixed)
    if (lineLower.contains("full-time student") && hasCheckboxSymbol(line)) {
      val options = mutable.ArrayBuffer[JObj]()
      val noRe = noOptRe
      val yesRe = yesOptRe
      if (noRe.findFirstIn(line).isDefined) options += JObj.of("name" -> JStr("No"), "value" -> JStr("No"))
      else if (yesRe.findFirstIn(line).isDefined) options += JObj.of("name" -> JStr("Yes"), "value" -> JStr("Yes"))
      var prevIdx = startIdx - 1
      while (prevIdx >= math.max(0, startIdx - 3) && prevIdx >= 0) {
        val prev = lines(prevIdx).trim
        if (prev.nonEmpty && hasCheckboxSymbol(prev)) {
          if (yesRe.findFirstIn(prev).isDefined && !options.exists(_.get("name").contains(JStr("Yes"))))
            options += JObj.of("name" -> JStr("Yes"), "value" -> JStr("Yes"))
          else if (noRe.findFirstIn(prev).isDefined && !options.exists(_.get("name").contains(JStr("No"))))
            options += JObj.of("name" -> JStr("No"), "value" -> JStr("No"))
        }
        prevIdx -= 1
      }
      var nextIdx = startIdx + 1
      var done = false
      while (!done && nextIdx < lines.length && nextIdx < startIdx + 3) {
        val next = lines(nextIdx).trim
        if (next.isEmpty) nextIdx += 1
        else if (hasCheckboxSymbol(next)) {
          if (yesRe.findFirstIn(next).isDefined && !options.exists(_.get("name").contains(JStr("Yes"))))
            options += JObj.of("name" -> JStr("Yes"), "value" -> JStr("Yes"))
          else if (noRe.findFirstIn(next).isDefined && !options.exists(_.get("name").contains(JStr("No"))))
            options += JObj.of("name" -> JStr("No"), "value" -> JStr("No"))
          nextIdx += 1
        } else done = true
      }
      if (options.length >= 2) {
        val sorted = options.sortBy(o => o.get("name") != Some(JStr("Yes")))
        return Some(("Full-time Student", JArr(sorted.toVector), startIdx + 1))
      }
    }
    None
  }

  // ---- standalone-field dictionary (pdf_to_json_converter.py:4177-4292) ----
  private val standaloneFields: Vector[(String, (String, String, String, JObj))] = Vector(
    "SSN" -> (("ssn", "Social Security No.", "input", JObj.of("input_type" -> JStr("ssn")))),
    "Sex" -> (("sex", "Sex", "radio", JObj.of("options" ->
      opts("Male" -> JStr("male"), "Female" -> JStr("female"))))),
    "Social Security No." -> (("ssn", "Social Security No.", "input", JObj.of("input_type" -> JStr("ssn")))),
    "State" -> (("state2", "State", "states", JObj.of("input_type" -> JStr("name")))),
    "Today 's Date" -> (("todays_date", "Today's Date", "date", JObj.of("input_type" -> JStr("past")))),
    "Today's Date" -> (("todays_date", "Today's Date", "date", JObj.of("input_type" -> JStr("past")))),
    "Date of Birth" -> (("date_of_birth", "Date of Birth", "date", JObj.of("input_type" -> JStr("past")))),
    "Birthdate" -> (("birthdate", "Birthdate", "date", JObj.of("input_type" -> JStr("past")))),
    "Mobile Phone" -> (("mobile_phone", "Mobile Phone", "input", JObj.of("input_type" -> JStr("phone")))),
    "Home Phone" -> (("home_phone", "Home Phone", "input", JObj.of("input_type" -> JStr("phone")))),
    "Marital Status" -> (("marital_status", "Marital Status", "radio", JObj.of("options" ->
      opts("Married" -> JStr("Married"), "Single" -> JStr("Single"), "Divorced" -> JStr("Divorced"),
        "Separated" -> JStr("Separated"), "Widowed" -> JStr("Widowed"))))),
    "Date Signed" -> (("date_signed", "Date Signed", "date", JObj.of("input_type" -> JStr("past")))),
    "Name of Insured" -> (("name_of_insured", "Name of Insured", "input", JObj.of("input_type" -> JStr("name")))),
    "Insurance Company" -> (("insurance_company", "Insurance Company", "input", JObj.of("input_type" -> JStr("name")))),
    "Dental Plan Name" -> (("dental_plan_name", "Dental Plan Name", "input", JObj.of("input_type" -> JStr("name")))),
    "Plan/Group Number" -> (("plan_group_number", "Plan/Group Number", "input", JObj.of("input_type" -> JStr("number")))))

  // first-match-wins hash views of the dictionary (the sequential find with
  // per-key quote normalization was a per-line hot spot); normalization is
  // applied to the stored keys once
  private val standaloneByKey: Map[String, (String, String, String, JObj)] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, (String, String, String, JObj)]
    standaloneFields.foreach { case (k, e) => if (!m.contains(k)) m(k) = e }
    m.toMap
  }
  private val standaloneByNorm: Map[String, (String, String, String, JObj)] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, (String, String, String, JObj)]
    standaloneFields.foreach { case (k, e) =>
      val n = k.replace(" '", "'").replace("’", "'")
      if (!m.contains(n)) m(n) = e
    }
    m.toMap
  }

  private def sectionNumberedKey(baseKey: String, section: String): String = baseKey match {
    case "ssn" => section match {
      case "Primary Dental Plan" => "ssn_2"
      case "Secondary Dental Plan" => "ssn_3"
      case _ => "ssn"
    }
    case "date_of_birth" =>
      if (section == "FOR CHILDREN/MINORS ONLY") "date_of_birth_2" else "date_of_birth"
    case "birthdate" =>
      if (section == "Secondary Dental Plan") "birthdate_2" else "birthdate"
    case "name_of_insured" =>
      if (section == "Secondary Dental Plan") "name_of_insured_2" else "name_of_insured"
    case "insurance_company" =>
      if (section == "Secondary Dental Plan") "insurance_company_2" else "insurance_company"
    case "dental_plan_name" =>
      if (section == "Secondary Dental Plan") "dental_plan_name_2" else "dental_plan_name"
    case "plan_group_number" =>
      if (section == "Secondary Dental Plan") "plan_group_number_2" else "plan_group_number"
    case other => other
  }

  private val workAddressRe = "(?i)^Work Address:\\s*$".r

  /** Exact equivalent of workAddressRe over the line's lowercase view. */
  private[graft] def isWorkAddressLine(lineLower: String): Boolean =
    lineLower.startsWith("work address:") && {
      var i = "work address:".length
      var ok = true
      while (ok && i < lineLower.length) {
        val c = lineLower.charAt(i)
        if (!(c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'))
          ok = false
        i += 1
      }
      ok
    }
  private val workAddrFieldsRe = "(?i)Street.*City.*State.*Zip".r
  private val initialSplitRe = "(?i)\\s*_+\\s*\\(initial\\)".r
  private val yesNoCheckRe = "(?i)YES.*?N.*?O.*?\\(Check One\\)".r
  private val yesNoQuestionRe = "(?i)^(.*?)\\s+YES.*?\\(Check One\\)".r
  // the reference's nine skip-header regexes ("(?i)^Patient Name:?\\s*$"
  // etc.) expanded to their finite language (each is a literal + optional
  // '.'/':' + trailing ws, tested against a TRIMMED line): one
  // set-membership on the lowercase view replaces nine Matcher
  // allocations per candidate line (PropertySpec pins the equivalence)
  private[graft] val skipHeaderSet: Set[String] = {
    val bases = Vector("patient name", "address", "phone", "work address",
      "date of birth", "insurance company", "dental plan name")
    (bases.flatMap(b => Vector(b, b + ":")) ++
      Vector("social security no", "social security no.", "social security no:",
        "social security no.:")).toSet
  }
  private val sameLineCheckboxRe = "([^□☐!]+?)(?:□|☐|!)([^□☐!]+?)(?:□|☐|!)([^□☐!]*)".r
  private val yesOptRe = ("(?i)" + checkboxSymbols + "\\s*yes\\b").r
  private val noOptRe = ("(?i)" + checkboxSymbols + "\\s*no\\b").r

  private val authKey = "i_authorize_the_release_of_my_personal_information_necessary_to_process_my_dental_benefit_claims,_including_health_information,_"

  // ================= THE MACHINE =================

  def extract(textLines0: Seq[String]): Vector[FieldInfo] =
    extract(textLines0, null, null)

  /** Hot-path variant: the classifier already lowercased the lines (reused
    * via `preLowers`), and the line-cleaning stage's union automaton walk
    * already produced this machine's per-line flags (`preFlags` — aligned
    * with textLines0; null entries mean the cleaner rewrote that line and
    * the machine rescans it). All params nullable. */
  def extract(textLines0: Seq[String], preLowers: IndexedSeq[String],
              preFlags: Array[Array[Boolean]]): Vector[FieldInfo] = {
    val textLines = textLines0.toIndexedSeq
    // one lowercase view per line, shared by the main loop, the context
    // windows and the second pass (Java lowercases per codepoint, so joining
    // lowered lines == lowering the joined window)
    val lowers: IndexedSeq[String] =
      if (preLowers != null) preLowers else textLines.map(_.toLowerCase)
    // positional context-token index: ONE DFA pass over the document; every
    // ±N-line window query below is then a binary search, not a rescan.
    // Lazy: documents that never hit a window query skip the pass entirely
    // (already paid for when the classifier's shared walk supplied it).
    lazy val ctxIdx = new CtxIndex(ctxAC, lowers, ' ')
    val fields = mutable.ArrayBuffer[FieldInfo]()
    var currentSection = "Patient Information Form"
    val processedKeys = mutable.Set[String]()
    var i = 0

    while (i < textLines.length) {
      val line = textLines(i)
      val lineLower = lowers(i) // shared by every handler below
      val lineTrim = line.trim  // trim returns `this` when already trimmed
      var consumed = false

      if (line.length < 3) { i += 1; consumed = true }

      // one merged DFA pass per line feeds the radio-bank gate AND the
      // section-header transition below; the cleaner's union walk already
      // produced these flags for lines it passed through untouched (the
      // machine segment is the [0, machineN) prefix of the union array)
      val mlFlags: Array[Boolean] =
        if (consumed) null
        else if (preFlags != null && preFlags(i) != null) preFlags(i)
        else machineLineAC.matchedSetFold(line)
      @inline def mlAny(from: Int, until: Int): Boolean = {
        var k = from
        while (k < until) { if (mlFlags(k)) return true; k += 1 }
        false
      }

      // main radio detection
      if (!consumed) {
        detectRadioOptionsUniversal(textLines, i, lineLower,
          bankGateHit = mlAny(machineRadioBase, machineN)) match {
          case Some((question, options, nextI)) =>
            val radioKey = getRadioKeyForQuestion(question, currentSection)
            if (!processedKeys.contains(radioKey)) {
              fields += FieldInfo(radioKey, question, "radio", currentSection,
                optional = false, control = JObj.of("options" -> options), lineIdx = i)
              processedKeys += radioKey
            }
            i = nextI; consumed = true
          case None => ()
        }
      }

      // work-address two-line lookahead (hand check == the anchored
      // (?i)^Work Address:\s*$ regex, without a per-line regex scan)
      if (!consumed && isWorkAddressLine(lineLower) && i + 1 < textLines.length) {
        val next = textLines(i + 1).trim
        if (workAddrFieldsRe.findFirstIn(next).isDefined) {
          val ctxWa = ctxIdx.flags(i - 10, i + 5)
          val (mapping, sectionFor) =
            if (currentSection == "FOR CHILDREN/MINORS ONLY" &&
                (ctxWa(23) || ctxWa(20)))
              (Vector(
                ("street_3", "Street", "input", JObj.of("input_type" -> JStr("name"), "hint" -> JStr("(if different from above)"))),
                ("city_2_2", "City", "input", JObj.of("input_type" -> JStr("name"), "hint" -> JStr("(if different from above)"))),
                ("state5", "State", "states", JObj.of("input_type" -> JStr("name"))),
                ("zip_4", "Zip", "input", JObj.of("input_type" -> JStr("zip"), "hint" -> JStr("(if different from above)")))),
                "FOR CHILDREN/MINORS ONLY")
            else
              (Vector(
                ("street_2", "Street", "input", JObj.of("input_type" -> JStr("name"))),
                ("city_2", "City", "input", JObj.of("input_type" -> JStr("name"))),
                ("state_3", "State", "states", JObj.of("input_type" -> JStr("name"))),
                ("zip_2", "Zip", "input", JObj.of("input_type" -> JStr("zip")))),
                "Patient Information Form")
          mapping.foreach { case (key, title, ft, ctl) =>
            if (!processedKeys.contains(key)) {
              fields += FieldInfo(key, title, ft, sectionFor, optional = false,
                control = ctl, lineIdx = i + 1)
              processedKeys += key
            }
          }
          i += 2; consumed = true
        }
      }

      // long policy-text skip (processed in second pass)
      if (!consumed && line.length > 200 &&
          policyWords1.exists(lineLower.contains)) {
        i += 1; consumed = true
      }

      // section header transitions — flags come from the shared per-line
      // DFA pass (fold-matching == uppercase-contains for these ASCII banks)
      if (!consumed) {
        val hf = mlFlags
        val isHeader = line.startsWith("##") || mlAny(0, headerPhrases.length)
        if (isHeader) {
          val b = headerPhrases.length
          if (hf(b)) currentSection = "Patient Information Form"
          else if (hf(b + 1) || hf(b + 2)) currentSection = "FOR CHILDREN/MINORS ONLY"
          else if (hf(b + 3)) currentSection = "Secondary Dental Plan"
          else if (hf(b + 4) || hf(b + 5)) currentSection = "Primary Dental Plan"
          else if (hf(b + 6) && hf(b + 7)) currentSection = "Primary Dental Plan"
          else if (hf(b + 8) || hf(b + 9)) currentSection = "Medical History"
          else if (hf(b + 10) || hf(b + 11)) currentSection = "Signature"
          i += 1; consumed = true
        }
      }

      // standalone-field dictionary with unicode-normalized matching
      if (!consumed) {
        val lineStripped = lineTrim
        // the normalized copy only exists when a normalizable char is present
        val lineNormalized =
          if (lineStripped.indexOf(" '") >= 0 || lineStripped.indexOf('’') >= 0)
            lineStripped.replace(" '", "'").replace("’", "'")
          else lineStripped
        val matched = standaloneByKey.get(lineStripped)
          .orElse(standaloneByNorm.get(lineNormalized))
        matched.foreach { case (baseKey, title, fieldType, control) =>
          val finalKey = sectionNumberedKey(baseKey, currentSection)
          if (!processedKeys.contains(finalKey)) {
            fields += FieldInfo(finalKey, title, fieldType, currentSection,
              optional = false, control = control, lineIdx = i)
            processedKeys += finalKey
          }
          i += 1; consumed = true
        }
      }

      // consent paragraphs with risks/side effects (pdf_to_json_converter.py:4294-4310)
      if (!consumed && sigConsentSections.contains(currentSection) && line.length > 50 &&
          riskWords.exists(lineLower.contains)) {
        val consentLines = mutable.ArrayBuffer(line)
        var j = i + 1
        while (j < textLines.length && textLines(j).length > 30) {
          consentLines += textLines(j); j += 1
        }
        val block = emitConsentBlock("Risks and Acknowledgment", consentLines.toSeq, currentSection, i)
        block.foreach { f =>
          if (!processedKeys.contains(f.key)) { fields += f; processedKeys += f.key }
        }
        i = j; consumed = true
      }

      // large policy text block, first pass (pdf_to_json_converter.py:4313-4364):
      // fires only for 100-200 char lines (longer ones were policy-skipped);
      // the second pass rebuilds text_3 and reference ordering keeps the last
      if (!consumed && line.length > 100 && currentSection == "Signature" &&
          policyWords2.exists(lineLower.contains) &&
          policyYesNoRe.findFirstIn(
            glyphSpaceRe.replaceAllIn(line, " ")).isEmpty) {
        val content = mutable.ArrayBuffer(line)
        var j = i + 1
        var stop = false
        while (j < textLines.length && !stop) {
          val next = textLines(j).trim
          if (next.length < 10 || next.startsWith("##") ||
              (next.contains("_") && Vector("initial", "signature").exists(next.contains)) ||
              (next.toLowerCase.contains("initial") && next.length < 50)) stop = true
          else {
            if (next.length > 30) content += next
            j += 1
          }
        }
        val fullText = content.mkString(" ")
        if (fullText.nonEmpty && !processedKeys.contains("text_3")) {
          val html = Text3Formatter.formatHtml(fullText)
          fields += FieldInfo("text_3", "", "text", currentSection, optional = false,
            JObj.of("html_text" -> JStr(html), "temporary_html_text" -> JStr(html),
              "text" -> JStr("")), lineIdx = 0)
          processedKeys += "text_3"
        }
        i = j; consumed = true
      }

      // (initial) handler -> text_4 + initials (first pass)
      if (!consumed && lineLower.contains("(initial)")) {
        val textPart = initialSplitRe.split(line)(0).trim
        if (textPart.nonEmpty) {
          if (!processedKeys.contains("text_4")) {
            fields += FieldInfo("text_4", "", "text", currentSection, optional = false,
              control = JObj.of("html_text" -> JStr(s"<p>$textPart</p>"),
                "temporary_html_text" -> JStr(s"<p>$textPart</p>"), "text" -> JStr("")),
              lineIdx = i)
            processedKeys += "text_4"
          }
          val initialsKey =
            if (!processedKeys.contains("initials")) Some("initials")
            else if (!processedKeys.contains("initials_2")) Some("initials_2")
            else if (!processedKeys.contains("initials_3")) Some("initials_3")
            else None
          initialsKey.foreach { ik =>
            fields += FieldInfo(ik, "Initial", "input", currentSection, optional = false,
              control = JObj.of("input_type" -> JStr("initials")), lineIdx = i)
            processedKeys += ik
          }
        }
        i += 1; consumed = true
      }

      // long authorization skip (second pass)
      if (!consumed && line.length > 100 && lineLower.contains("authorize") &&
          lineLower.contains("personal information")) {
        i += 1; consumed = true
      }

      // YES/NO (Check One) consent question (short-line variant) — the
      // "YES" gate reads the shared lowercase view (an uppercase copy per
      // line showed up in allocation profiles)
      if (!consumed && lineLower.contains("yes") && yesNoCheckRe.findFirstIn(line).isDefined) {
        yesNoQuestionRe.findFirstMatchIn(line).foreach { _ =>
          if (!processedKeys.contains(authKey)) {
            fields += FieldInfo(authKey,
              "I authorize the release of my personal information necessary to process my dental benefit claims, including health information, diagnosis, and records of any treatment or exam rendered. I hereby authorize payment of benefits directly to this dental office otherwise payable to me.",
              "radio", currentSection, optional = false,
              control = JObj.of("options" -> opts("Yes" -> JBool(true), "No" -> JBool(false))),
              lineIdx = 0)
            processedKeys += authKey
            if (!processedKeys.contains("initials_3")) {
              fields += FieldInfo("initials_3", "Initial", "input", currentSection,
                optional = false, control = JObj.of("input_type" -> JStr("initials")), lineIdx = i)
              processedKeys += "initials_3"
            }
          }
        }
        i += 1; consumed = true
      }

      // Signature + Date + underscores line (case-sensitive 'Signature'/'Date')
      if (!consumed && line.contains("Signature") && line.contains("Date") && line.contains("_")) {
        if (!processedKeys.contains("signature")) {
          fields += FieldInfo("signature", "Signature", "signature", currentSection,
            optional = false, control = JObj(Vector.empty), lineIdx = 0)
          processedKeys += "signature"
        }
        if (!processedKeys.contains("date_signed")) {
          fields += FieldInfo("date_signed", "Date Signed", "date", currentSection,
            optional = false, control = JObj.of("input_type" -> JStr("past")), lineIdx = 0)
          processedKeys += "date_signed"
        }
        i += 1; consumed = true
      }

      // medical-history checkbox-run bundling (pdf_to_json_converter.py:4496-4511)
      if (!consumed && currentSection == "Medical History" && looksLikeFirstHistoryItem(line)) {
        val (options, j) = collectCheckboxRun(textLines, i)
        if (options.length >= 4 && !processedKeys.contains("medical_history")) {
          fields += FieldInfo("medical_history", "Medical History", "checkbox",
            currentSection, optional = true, JObj.of("options" -> JArr(options)), i)
          processedKeys += "medical_history"
          i = j; consumed = true
        }
      }

      // generic same-line checkbox question -> radio (pdf_to_json_converter.py:4530-4558)
      if (!consumed) {
        val checkboxOptions = extractCheckboxOptions(line)
        if (checkboxOptions.length >= 2) {
          val questionPart = checkboxSplitPattern.split(line, 2)(0).trim
          if (questionPart.nonEmpty && questionPart.length > 3) {
            val key = Slugify.slugify(questionPart)
            if (!processedKeys.contains(key)) {
              val options = checkboxOptions.map { opt =>
                val v: JVal = opt.toLowerCase match {
                  case "yes" | "true" => JBool(true)
                  case "no" | "false" => JBool(false)
                  case _ => JStr(opt)
                }
                JObj.of("name" -> JStr(opt), "value" -> v)
              }
              fields += FieldInfo(key, questionPart, "radio", currentSection,
                optional = false, JObj.of("options" -> JArr(options)), i)
              processedKeys += key
            }
            i += 1; consumed = true
          }
        }
      }

      // skip bare header labels
      if (!consumed && skipHeaderSet.contains(lineLower.trim)) {
        i += 1; consumed = true
      }

      // standalone label (ends with ':' or next line holds the underscores)
      if (!consumed && (lineTrim.endsWith(":") ||
          (!line.contains("_") && i + 1 < textLines.length && textLines(i + 1).contains("_")))) {
        var fieldName = StrUtil.stripTrailingRun(StrUtil.stripTrailingRun(lineTrim, ':'), '?')
        if (fieldName.toLowerCase.startsWith("no ") && StrUtil.splitWsCount(fieldName) > 2) {
          val potential = fieldName.substring(3).trim
          if (potential.length > 5 && !potential.toLowerCase.startsWith("name")) fieldName = potential
        }
        val fieldLower = fieldName.toLowerCase
        if (skipStandaloneNames.exists(fieldLower.contains)) {
          i += 1; consumed = true
        } else if (fieldName.length > 2 && fieldName.length < 80) {
          var fieldType = detectFieldType(fieldName)
          // detectSection over the 10-line window, via one DFA pass on the
          // line slice (take(10) of the slice == a..a+10 clamped)
          val ctxFlags = {
            val a = math.max(0, i - 10)
            ctxIdx.flags(a, math.min(i + 10, a + 10))
          }
          val detectedSection = contextVerdictFlags(ctxFlags).getOrElse(
            detectSectionTextPhaseFlags(fieldName, ctxFlags, currentSection))
          var control: JObj = fieldType match {
            case "input" => JObj.of("input_type" -> JStr(detectInputType(fieldName)))
            case "date" =>
              if (fieldLower.contains("birth") || fieldLower.contains("dob"))
                JObj.of("input_type" -> JStr("past"))
              else JObj(Vector.empty)
            case _ => JObj(Vector.empty)
          }
          if (fieldLower.contains("state") && !fieldLower.contains("estate")) {
            fieldType = "states"; control = JObj(Vector.empty)
          }
          val normalizedName = normalizeFieldName(fieldName, line)
          val baseKey = Slugify.slugify(normalizedName)
          if (!processedKeys.contains(baseKey)) {
            fields += FieldInfo(baseKey, normalizedName, fieldType, detectedSection,
              optional = false, control = control, lineIdx = i)
            processedKeys += baseKey
          }
          i += 1; consumed = true
        } else { i += 1; consumed = true }
      }

      // inline multi-field parse (the NPF bread and butter)
      if (!consumed) {
        val inline = parseInlineFields(line, lineLower)
        // context windows depend only on i — computed at most once per line
        // (manual caches: a lazy val here would allocate a LazyRef per line)
        var ctx10c: Array[Boolean] = null
        var ctx5c: Array[Boolean] = null
        var ctxVerdictC: Option[String] = null
        def ctx10 = {
          if (ctx10c == null) {
            val a = math.max(0, i - 10)
            ctx10c = ctxIdx.flags(a, math.min(i + 10, a + 10))
          }
          ctx10c
        }
        def ctx5 = {
          if (ctx5c == null) ctx5c = ctxIdx.flags(i - 5, i + 5)
          ctx5c
        }
        // context-only section verdict is field-independent: once per line
        def ctxVerdict = {
          if (ctxVerdictC == null) ctxVerdictC = contextVerdictFlags(ctx10)
          ctxVerdictC
        }
        // index loop, not foreach: the ctx caches above stay stack-local
        // (a closure would box them into ObjectRefs per line)
        var fi = 0
        while (fi < inline.length) {
          val fieldName0 = inline(fi)._1
          val fullLower = lineLower // the matched line is always this line
          var fieldName = fieldName0
          val fieldLower = fieldName.toLowerCase
          var baseKey = Slugify.slugify(fieldName)
          if (miNames.contains(fieldLower)) baseKey = "mi"
          var fieldType = detectFieldType(fieldName)
          var detectedSection = ctxVerdict.getOrElse(
            detectSectionTextPhaseFlags(fieldName, ctx10, currentSection))

          if (addrFieldNames.contains(fieldLower) &&
              (fullLower.contains("insurance company") || ctx5(21))) {
            detectedSection =
              if (ctx5(16) || currentSection == "Secondary Dental Plan")
                "Secondary Dental Plan"
              else "Primary Dental Plan"
          }

          var finalKey = baseKey
          if (currentSection == "FOR CHILDREN/MINORS ONLY") {
            if (minorNumbered.contains(baseKey)) finalKey = baseKey + "_2"
            else if (baseKey == "street")
              finalKey = if (ctx5(22)) "if_different_from_patient_street" else "street_3"
            else if (baseKey == "city")
              finalKey = if (ctx5(22)) "city_3" else "city_2_2"
            else if (baseKey == "state")
              finalKey = if (ctx5(22)) "state4" else "state5"
            else if (baseKey == "zip")
              finalKey = if (ctx5(22)) "zip_3" else "zip_4"
          } else if (currentSection == "Patient Information Form") {
            if (baseKey == "state") finalKey = "state3"
          } else if (currentSection == "Primary Dental Plan") {
            finalKey = baseKey match {
              case "street" => "street_4"; case "city" => "city_5"
              case "state" => "state_6"; case "zip" => "zip_5"; case k => k
            }
          } else if (currentSection == "Secondary Dental Plan") {
            finalKey = baseKey match {
              case "street" => "street_5"; case "city" => "city_6"
              case "state" => "state_7"; case "zip" => "zip_6"
              case "phone" => "phone_2"; case k => k
            }
          }
          if (detectedSection == "Secondary Dental Plan") {
            if (baseKey == "street" && finalKey == "street") finalKey = "street_5"
            else if (baseKey == "city" && finalKey == "city") finalKey = "city_6"
            else if (baseKey == "state" && finalKey == "state") finalKey = "state_7"
            else if (baseKey == "zip" && finalKey == "zip") finalKey = "zip_6"
            else if (baseKey == "phone" && finalKey == "phone") finalKey = "phone_2"
          }
          if (minorAddrKeys.contains(finalKey))
            detectedSection = "FOR CHILDREN/MINORS ONLY"
          else if (secondaryAddrKeys.contains(finalKey))
            detectedSection = "Secondary Dental Plan"

          if (!processedKeys.contains(finalKey)) {
            var control: JObj = JObj(Vector.empty)
            if (fieldType == "input") {
              control = JObj.of("input_type" -> JStr(detectInputType(fieldName)))
              val hint: Option[String] = finalKey match {
                case "first_name_2" | "last_name_2" => Some("Name of Responsible Party")
                case "date_of_birth_2" => Some("Responsible Party")
                case "if_different_from_patient_street" | "city_3" | "zip_3" => Some("If different from patient")
                case "employer_if_different_from_above" | "occupation_2" | "street_3" |
                     "city_2_2" | "zip_2_2" => Some("(if different from above)")
                case "phone" | "street_4" | "city_5" | "zip_5" => Some("Insurance Company")
                case _ =>
                  if (detectedSection == "FOR CHILDREN/MINORS ONLY") {
                    if (firstLastNames.contains(fieldLower)) Some("Name of Responsible Party")
                    else if (fieldLower.contains("date of birth")) Some("Responsible Party")
                    else if (fullLower.contains("if different from patient")) Some("If different from patient")
                    else if (fullLower.contains("if different from above") ||
                             ctx5(23)) Some("(if different from above)")
                    else None
                  } else if (planSections.contains(detectedSection)) {
                    if ((fullLower.contains("insurance company") || ctx5(21)) &&
                        insAddrNames.contains(fieldLower)) Some("Insurance Company")
                    else None
                  } else if (fullLower.contains("if different from patient")) Some("If different from patient")
                  else if (fullLower.contains("if different from above")) Some("(if different from above)")
                  else if (ctx5(3) &&
                           firstLastNames.contains(fieldLower)) Some("Name of Responsible Party")
                  else if (ctx5(3) &&
                           fieldLower.contains("date of birth")) Some("Responsible Party")
                  else None
              }
              control = control.updated("hint", hint.map(JStr).getOrElse(JNull))
            } else if (fieldType == "date") {
              if (fieldLower.contains("birth") || fieldLower.contains("dob"))
                control = JObj.of("input_type" -> JStr("past"))
            }
            if (fieldLower.contains("state") && !fieldLower.contains("estate")) {
              fieldType = "states"; control = JObj(Vector.empty)
            }
            if (fieldLower == "relationship to patient" &&
                detectedSection == "FOR CHILDREN/MINORS ONLY") {
              // read the shared lowercase views (no per-line lowering here)
              val lookahead = lowers.slice(i, math.min(lowers.length, i + 5))
              if (lookahead.exists(l => l.contains("self") ||
                  l.contains("spouse") || l.contains("parent"))) {
                fieldType = "radio"
                control = JObj.of("options" -> opts("Self" -> JStr("Self"), "Spouse" -> JStr("Spouse"),
                  "Parent" -> JStr("Parent"), "Other" -> JStr("Other")))
                fieldName = "Relationship To Patient"
              }
            }
            fields += FieldInfo(finalKey, fieldName, fieldType, detectedSection,
              optional = false, control = control, lineIdx = i)
            processedKeys += finalKey
          }
          fi += 1
        }
        i += 1
      }
    }

    // ---- SECOND PASS (pdf_to_json_converter.py:4885-5067) ----
    val textBlocks = mutable.ArrayBuffer[(String, Int)]()
    var authLine: Option[Int] = None
    textLines.zipWithIndex.foreach { case (line, idx) =>
      val lower = lowers(idx)
      if (lower.contains("patient responsibilities") && line.trim.length > 30)
        textBlocks += (("text_3", idx))
      else if (lower.contains("read") && lower.contains("agree") && lower.contains("(initial)"))
        textBlocks += (("text_4", idx))
      else if (lower.contains("authorize") && lower.contains("personal information") &&
               lower.contains("yes") && lower.contains("no"))
        authLine = Some(idx)
    }

    textBlocks.sortBy(_._2).foreach { case (kind, lineIdx) =>
      if (kind == "text_3") {
        val content = mutable.ArrayBuffer[String]()
        var j = lineIdx
        var stop = false
        while (j < textLines.length && !stop) {
          val cur = textLines(j).trim
          // ASCII trim commutes with lowercase: reuse the per-line view
          val curLower = lowers(j).trim
          if ((curLower.contains("read") && curLower.contains("agree")) ||
              (curLower.contains("signature") && cur.contains("___")) ||
              (curLower.contains("authorize") && curLower.contains("yes") && curLower.contains("no")))
            stop = true
          else {
            if (cur.nonEmpty && (cur.length > 10 ||
                text3ContentMarkers.exists(curLower.contains)))
              content += cur
            j += 1
          }
        }
        val fullText = content.mkString(" ")
        // v2 extraction variant (bullet glyphs present): temporary html
        // mirrors the raw line structure, final html uses the v2 anchors.
        val (html, tempHtml) =
          if (Text3Formatter.isV2(fullText))
            (Text3Formatter.formatHtmlV2(fullText),
              Text3Formatter.formatTemporaryHtmlV2(textLines.slice(lineIdx, j)))
          else
            (Text3Formatter.formatHtml(fullText),
              Text3Formatter.formatTemporaryHtml(fullText))
        fields += FieldInfo("text_3", "", "text", "Signature", optional = false,
          control = JObj.of(
            "html_text" -> JStr(html),
            "temporary_html_text" -> JStr(tempHtml),
            "text" -> JStr("")),
          lineIdx = lineIdx)
        fields += FieldInfo("initials", "Initial", "input", "Signature", optional = false,
          control = JObj.of("input_type" -> JStr("initials")), lineIdx = lineIdx)
      } else { // text_4
        val line = textLines(lineIdx)
        val textPart = "(?i)\\s*\\(initial\\)".r.split(line)(0).trim
        if (textPart.nonEmpty) {
          fields += FieldInfo("text_4", "", "text", "Signature", optional = false,
            control = JObj.of("html_text" -> JStr(s"<p>$textPart</p>"),
              "temporary_html_text" -> JStr(s"<p>$textPart</p>"), "text" -> JStr("")),
            lineIdx = lineIdx)
          fields += FieldInfo("initials_2", "Initial", "input", "Signature", optional = false,
            control = JObj.of("input_type" -> JStr("initials")), lineIdx = lineIdx)
        }
      }
    }

    authLine.foreach { idx =>
      val line = textLines(idx)
      "(?i)^(.*?)\\s+YES.*?\\(Check One\\)".r.findFirstMatchIn(line).foreach { m =>
        val question = m.group(1).trim
        fields += FieldInfo(authKey, question, "radio", "Signature", optional = false,
          control = JObj(Vector(
            "options" -> opts("Yes" -> JBool(true), "No" -> JBool(false)),
            "text" -> JStr(""),
            "html_text" -> JStr("<p>I have read the above and agree to the financial and scheduling terms.</p>"),
            "temporary_html_text" -> JStr("<p>I have read the above and agree to the financial and scheduling terms.</p>"))),
          lineIdx = idx)
        fields += FieldInfo("initials_3", "Initial", "input", "Signature", optional = false,
          control = JObj.of("input_type" -> JStr("initials")), lineIdx = idx)
      }
    }

    if (!fields.exists(_.key == "signature"))
      fields += FieldInfo("signature", "Signature", "signature", "Signature", optional = false,
        control = JObj.of("input_type" -> JStr("name")), lineIdx = 9999)
    if (!fields.exists(_.key == "date_signed"))
      fields += FieldInfo("date_signed", "Date Signed", "date", "Signature", optional = false,
        control = JObj.of("input_type" -> JStr("past")), lineIdx = 9999)

    var out = postProcessFields(fields.toVector)
    out = ensureRequiredFieldsPresent(out)
    out = postProcessFields(out)
    out = addMissingStandaloneFields(out)
    out
  }

  // hot-loop literal banks (hoisted: Set/Vector literals in method bodies
  // allocate per evaluation — these run per line / per field)
  private val miNames = Set("middle initial", "mi")
  private val addrFieldNames = Set("phone", "street", "city", "state", "zip")
  private val minorNumbered = Set("first_name", "last_name", "date_of_birth", "mobile", "home", "work", "occupation")
  private val minorAddrKeys = Set("street_3", "city_2_2", "state5", "zip_4")
  private val secondaryAddrKeys = Set("street_5", "city_6", "state_7", "zip_6")
  private val firstLastNames = Set("first name", "last name")
  private val planSections = Set("Primary Dental Plan", "Secondary Dental Plan")
  private val insAddrNames = Set("phone", "street", "city", "zip")
  private val sigConsentSections = Set("Signature", "Consent")
  private val policyWords1 = Vector("responsibility", "payment", "benefit", "insurance")
  private val policyWords2 = Vector("responsibility", "payment", "benefit", "authorize", "consent")
  private val text3ContentMarkers = Vector("patient responsibilities", "payment",
    "dental benefit", "scheduling", "authorizations", "we are committed",
    "our practice", "if we are")
  private val policyYesNoRe = "(?i)YES\\s+N\\s*O?\\s*\\(Check One\\)".r
  private val glyphSpaceRe = "[\\uf031\\uf020\\u2003\\u2002\\u2000-\\u200b\\ufeff]+".r
  private val riskWords = Vector("risks", "side effects", "complications", "potential")
  private val skipStandaloneNames = Vector("patient name", "address", "phone", "work address")
  private val headerPhrases = Vector(
    "PATIENT INFORMATION FORM", "PATIENT INFORMATION", "FOR CHILDREN/MINORS ONLY",
    "CHILDREN/MINORS", "DENTAL BENEFIT PLAN", "PRIMARY DENTAL PLAN",
    "SECONDARY DENTAL PLAN", "MEDICAL HISTORY", "HEALTH HISTORY",
    "SIGNATURE", "CONSENT")
  // section-branch tokens appended after headerPhrases in one merged bank
  // (segment offsets: headerPhrases.length is the branch base)
  private val sectionBranchTokens = Vector(
    "PATIENT INFORMATION", "CHILDREN", "MINOR", "SECONDARY DENTAL",
    "PRIMARY DENTAL", "DENTAL BENEFIT PLAN INFORMATION PRIMARY",
    "DENTAL BENEFIT PLAN", "PRIMARY", "MEDICAL", "HEALTH", "SIGNATURE", "CONSENT")
  // fold scanning needs a lowercase bank (uppercase-contains on the
  // uppercased line == lowercase-pattern fold scan on the raw line).
  // The machine-line automaton merges three per-line scans into ONE fold
  // pass: header phrases (0..), section-branch tokens, radio-bank gates
  // (segment base machineRadioBase).
  private[graft] lazy val machineLinePatterns: Vector[String] =
    (headerPhrases ++ sectionBranchTokens).map(_.toLowerCase) ++ radioBanks.map(_._1)
  private[graft] lazy val machineN: Int = machineLinePatterns.length
  private lazy val machineLineAC = MultiSubstring(machineLinePatterns)
  private val machineRadioBase = headerPhrases.length + sectionBranchTokens.length
  // detectSection text-phase banks
  private val dsInsurance = Vector("insurance", "dental plan", "group number", "id number", "plan/group",
    "name of insured", "patient relationship to insured")
  private val dsMedical = Vector("medical", "health", "history", "condition", "medication", "allerg", "surgery")
  private val dsEmergency = Vector("emergency", "notify")
  private val dsMinor = Vector("minor", "children", "parent", "guardian", "custody", "school", "responsible party")
  private val dsSignature = Vector("signature", "consent", "terms", "agree", "responsibilities", "payment", "scheduling")
  private val dsBasicInfo = Vector("first name", "last name", "nickname", "date of birth", "birthdate", "sex",
    "marital", "ssn", "social security")
  private val dsAddress = Vector("street", "city", "state", "zip", "address", "phone", "mobile", "home",
    "work", "e-mail", "email")
  private val dsEmployment = Vector("employed", "employer", "occupation")

  // ---- context-window token bank (one DFA pass per window, no joined
  // string): indices 0-15 are the four sectionIndicators banks in order;
  // 16+ are the text-phase / context5 tokens ----
  private[graft] val ctxTokens: Vector[String] = Vector(
    "for children/minors only", "minor", "children", "responsible party", // 0-3
    "primary dental plan", "dental benefit plan information primary", "primary dental", // 4-6
    "secondary dental plan",                                              // 7
    "patient responsibilities", "payment", "dental benefit plans", "scheduling",
    "authorization", "signature", "initial", "agree",                     // 8-15
    "secondary",                 // 16
    "second",                    // 17
    "insurance",                 // 18
    "dental plan",               // 19
    "different from above",      // 20
    "insurance company",         // 21
    "if different from patient", // 22
    "employer"                   // 23
  )
  private[graft] val ctxAC = MultiSubstring(ctxTokens)

  private def contextVerdictFlags(f: Array[Boolean]): Option[String] = {
    if (f(0) || f(1) || f(2) || f(3)) return Some("FOR CHILDREN/MINORS ONLY")
    if ((f(4) || f(5) || f(6)) && !f(16)) return Some("Primary Dental Plan")
    if (f(7) && f(16)) return Some("Secondary Dental Plan")
    if (f(8) || f(9) || f(10) || f(11) || f(12) || f(13) || f(14) || f(15))
      return Some("Signature")
    None
  }

  // ---- detect_section (pdf_to_json_converter.py:1002-1083) ----
  // (the four section-indicator banks live as ctxTokens indices 0-15 above)
  private val initialWordRe = "\\binitial\\b".r
  private val midInitialRe = "\\b(middle|mi)\\s+initial\\b".r

  def detectSection(text: String, contextLines: Seq[String], currentSection: String): String =
    detectSectionJoined(text, contextLines.take(10).mkString(" ").toLowerCase, currentSection)

  /** The context-only first phase: section-indicator scan over the joined
    * 10-line window. Depends only on the context, so callers processing
    * several fields on one line compute it once. */
  def contextSectionVerdict(contextLower: String): Option[String] =
    contextVerdictFlags(ctxAC.matchedSet(contextLower))

  /** Hot-path variant taking the pre-joined lowercase 10-line context (the
    * join is loop-invariant per source line — hoisted by the caller). */
  def detectSectionJoined(text: String, contextLower: String, currentSection: String): String =
    contextSectionVerdict(contextLower)
      .getOrElse(detectSectionTextPhase(text, contextLower, currentSection))

  /** The text-dependent fallback phase (context verdict was None). */
  def detectSectionTextPhase(text: String, contextLower: String, currentSection: String): String =
    detectSectionTextPhaseFlags(text, ctxAC.matchedSet(contextLower), currentSection)

  /** Flags variant: ctx is a ctxAC.matchedSet/matchedSetLines result over
    * the 10-line window (no joined window string on the hot path). */
  def detectSectionTextPhaseFlags(text: String, ctx: Array[Boolean], currentSection: String): String = {
    val textLower = text.toLowerCase
    if (dsInsurance.exists(textLower.contains))
      return if (ctx(16) || ctx(17)) "Secondary Dental Plan" else "Primary Dental Plan"
    if (dsMedical.exists(textLower.contains)) return "Medical History"
    if (dsEmergency.exists(textLower.contains) && !ctx(1))
      return "Patient Information Form"
    if (dsMinor.exists(textLower.contains)) return "FOR CHILDREN/MINORS ONLY"
    if (dsSignature.exists(textLower.contains) ||
        (initialWordRe.findFirstIn(textLower).isDefined &&
          midInitialRe.findFirstIn(textLower).isEmpty)) return "Signature"
    if (dsBasicInfo.exists(textLower.contains))
      return "Patient Information Form"
    if (dsAddress.exists(textLower.contains)) {
      if (ctx(1) || ctx(2) || ctx(3)) return "FOR CHILDREN/MINORS ONLY"
      else if (ctx(18) || ctx(19))
        return if (ctx(16)) "Secondary Dental Plan" else "Primary Dental Plan"
      else return "Patient Information Form"
    }
    if (dsEmployment.exists(textLower.contains))
      return if (ctx(20) || ctx(1))
        "FOR CHILDREN/MINORS ONLY" else "Patient Information Form"
    if (currentSection.nonEmpty) currentSection else "Patient Information Form"
  }

  // ---- post_process_fields (pdf_to_json_converter.py:2643-2740) ----
  def postProcessFields(fields0: Vector[FieldInfo]): Vector[FieldInfo] = {
    val processed = mutable.ArrayBuffer[FieldInfo]()
    fields0.foreach { f =>
      val html = f.control.getOrNull("html_text") match {
        case JStr(s) => s
        case _ => ""
      }
      if (f.fieldType == "text" && f.section == "Signature" &&
          html.contains("personal information necessary to process") &&
          html.contains("YES") && html.contains("N O")) {
        val questionPart = html.split("YES")(0).trim
        val questionTitle = "<[^>]+>".r.replaceAllIn(questionPart, "").trim
        processed += FieldInfo(authKey, questionTitle, "radio", f.section, optional = false,
          control = JObj(Vector(
            "options" -> opts("Yes" -> JBool(true), "No" -> JBool(false)),
            "text" -> JStr(""),
            "html_text" -> JStr("<p>I have read the above and agree to the financial and scheduling terms.</p>"),
            "temporary_html_text" -> JStr("<p>I have read the above and agree to the financial and scheduling terms.</p>"))),
          lineIdx = 0)
        processed += FieldInfo("initials_3", "Initial", "input", f.section, optional = false,
          control = JObj.of("input_type" -> JStr("initials")), lineIdx = 0)
      } else processed += f
    }
    // single signature field, preferring type signature, lowest line_idx
    val (sigs, rest) = processed.partition(f =>
      f.fieldType == "signature" || (f.fieldType == "input" && f.key == "signature"))
    val finalFields = mutable.ArrayBuffer[FieldInfo](rest.toSeq: _*)
    if (sigs.nonEmpty) {
      val chosen = sigs.sortBy(f => (f.fieldType != "signature", f.lineIdx)).head
      finalFields += chosen.copy(fieldType = "signature", key = "signature",
        title = "Signature", control = JObj(Vector.empty))
    }
    finalFields.toVector.map { f =>
      var out = f
      if (out.fieldType == "signature") out = out.copy(control = JObj(Vector.empty))
      if (out.key == "mi") out = out.copy(control = out.control.updated("input_type", JStr("name")))
      if (out.key == "if_different_from_patient_street") {
        val hint = out.control.get("hint").getOrElse(JNull)
        out = out.copy(control = JObj(Vector("hint" -> hint, "input_type" -> JStr("address"))))
      }
      out
    }
  }

  // ---- ensure_required_fields_present (pdf_to_json_converter.py:2742-2872) ----
  // val, not def: this constant table (with its JObjs) was rebuilt on every
  // call — ~22 KB per heavy turn; JObj/FieldInfo are immutable so sharing is safe
  private val requiredFieldsBySection: Vector[(String, Vector[(String, String, String, JObj)])] = Vector(
    "Patient Information Form" -> Vector(
      ("state", "State", "states", JObj.of("input_type" -> JStr("name"))),
      ("street_2", "Street", "input", JObj.of("input_type" -> JStr("name"))),
      ("city_2", "City", "input", JObj.of("input_type" -> JStr("name"))),
      ("state3", "State", "states", JObj.of("input_type" -> JStr("name"))),
      ("zip_2", "Zip", "input", JObj.of("input_type" -> JStr("zip"))),
      ("state2", "State", "states", JObj.of("input_type" -> JStr("name"))),
      ("mobile_phone", "Mobile Phone", "input", JObj.of("input_type" -> JStr("phone"))),
      ("home_phone", "Home Phone", "input", JObj.of("input_type" -> JStr("phone")))),
    "FOR CHILDREN/MINORS ONLY" -> Vector(
      ("first_name_2", "First Name", "input", JObj.of("input_type" -> JStr("name"), "hint" -> JStr("Name of Responsible Party"))),
      ("last_name_2", "Last Name", "input", JObj.of("input_type" -> JStr("name"), "hint" -> JStr("Name of Responsible Party"))),
      ("date_of_birth_2", "Date of Birth", "date", JObj.of("input_type" -> JStr("past"), "hint" -> JStr("Responsible Party"))),
      ("relationship_to_patient_2", "Relationship To Patient", "radio", JObj.of("options" ->
        opts("Self" -> JStr("Self"), "Spouse" -> JStr("Spouse"), "Parent" -> JStr("Parent"), "Other" -> JStr("Other")))),
      ("city_3", "City", "input", JObj.of("input_type" -> JStr("name"), "hint" -> JStr("If different from patient"))),
      ("state4", "State", "states", JObj.of("input_type" -> JStr("name"))),
      ("zip_3", "Zip", "input", JObj.of("input_type" -> JStr("zip"), "hint" -> JStr("If different from patient"))),
      ("mobile_2", "Mobile", "input", JObj.of("input_type" -> JStr("phone"))),
      ("home_2", "Home", "input", JObj.of("input_type" -> JStr("phone"))),
      ("work_2", "Work", "input", JObj.of("input_type" -> JStr("phone"))),
      ("occupation_2", "Occupation", "input", JObj.of("input_type" -> JStr("name"), "hint" -> JStr("(if different from above)"))),
      ("street_3", "Street", "input", JObj.of("input_type" -> JStr("name"), "hint" -> JStr("(if different from above)"))),
      ("city_2_2", "City", "input", JObj.of("input_type" -> JStr("name"), "hint" -> JStr("(if different from above)"))),
      ("state5", "State", "states", JObj.of("input_type" -> JStr("name"))),
      ("zip_4", "Zip", "input", JObj.of("input_type" -> JStr("zip"), "hint" -> JStr("(if different from above)"))),
      ("name_of_school", "Name of School", "input", JObj.of("input_type" -> JStr("name"))),
      ("if_different_from_patient_street", "Street", "input", JObj.of("hint" -> JStr("If different from patient"), "input_type" -> JStr("address")))),
    "Primary Dental Plan" -> Vector(
      ("street_4", "Street", "input", JObj.of("input_type" -> JStr("name"), "hint" -> JStr("Insurance Company"))),
      ("city_5", "City", "input", JObj.of("input_type" -> JStr("name"), "hint" -> JStr("Insurance Company"))),
      ("state_6", "State", "states", JObj.of("input_type" -> JStr("name"))),
      ("zip_5", "Zip", "input", JObj.of("input_type" -> JStr("zip"), "hint" -> JStr("Insurance Company"))),
      ("dental_plan_name", "Dental Plan Name", "input", JObj.of("input_type" -> JStr("name")))),
    "Secondary Dental Plan" -> Vector(
      ("name_of_insured_2", "Name of Insured", "input", JObj.of("input_type" -> JStr("name"))),
      ("birthdate_2", "Birthdate", "date", JObj.of("input_type" -> JStr("past"))),
      ("ssn_3", "Social Security No.", "input", JObj.of("input_type" -> JStr("ssn"))),
      ("insurance_company_2", "Insurance Company", "input", JObj.of("input_type" -> JStr("name"))),
      ("phone_2", "Phone", "input", JObj.of("input_type" -> JStr("phone"))),
      ("street_5", "Street", "input", JObj.of("input_type" -> JStr("name"))),
      ("city_6", "City", "input", JObj.of("input_type" -> JStr("name"))),
      ("state_7", "State", "states", JObj.of("input_type" -> JStr("name"))),
      ("zip_6", "Zip", "input", JObj.of("input_type" -> JStr("zip"))),
      ("dental_plan_name_2", "Dental Plan Name", "input", JObj.of("input_type" -> JStr("name"))),
      ("plan_group_number_2", "Plan/Group Number", "input", JObj.of("input_type" -> JStr("number"))),
      ("id_number_2", "ID Number", "input", JObj.of("input_type" -> JStr("number"))),
      ("patient_relationship_to_insured_2", "Patient Relationship to Insured", "input", JObj.of("input_type" -> JStr("name")))),
    "Signature" -> Vector(
      ("initials_2", "Initial", "input", JObj.of("input_type" -> JStr("initials"))),
      ("date_signed", "Date Signed", "date", JObj.of("input_type" -> JStr("past")))))

  def ensureRequiredFieldsPresent(fields0: Vector[FieldInfo]): Vector[FieldInfo] = {
    val fields = mutable.ArrayBuffer[FieldInfo](fields0: _*)
    val existingKeys = mutable.Set[String](fields0.map(_.key): _*)
    val sectionsPresent = mutable.Set[String](fields0.map(_.section): _*)
    if (sectionsPresent.contains("Primary Dental Plan")) sectionsPresent += "Secondary Dental Plan"
    requiredFieldsBySection.foreach { case (section, reqs) =>
      if (sectionsPresent.contains(section)) {
        reqs.foreach { case (key, title, ft, control) =>
          if (!existingKeys.contains(key)) {
            val sectionFields = fields.filter(_.section == section)
            val maxLineIdx =
              if (sectionFields.nonEmpty) sectionFields.map(_.lineIdx).max
              else {
                val primary = fields.filter(_.section == "Primary Dental Plan")
                if (primary.nonEmpty) primary.map(_.lineIdx).max + 100 else 5000
              }
            fields += FieldInfo(key, title, ft, section, optional = false,
              control = control, lineIdx = maxLineIdx + 1)
            existingKeys += key
          } else {
            control.get("hint").collect { case h if h != JNull =>
              val idx = fields.indexWhere(_.key == key)
              if (idx >= 0) fields(idx) = fields(idx).copy(
                control = fields(idx).control.updated("hint", h))
            }
          }
        }
      }
    }
    fields.toVector
  }

  // ---- hardcoded missing-field injection (pdf_to_json_converter.py:5078-5137) ----
  private val missingStandalone = Vector(
    ("patient_employed_by", "Patient Employed By", "input", "Patient Information Form",
      JObj.of("input_type" -> JStr("name")), 64),
    ("occupation", "Occupation", "input", "Patient Information Form",
      JObj.of("input_type" -> JStr("name")), 68),
    ("in_case_of_emergency_who_should_be_notified", "In case of emergency, who should be notified",
      "input", "Patient Information Form", JObj.of("input_type" -> JStr("name")), 94),
    ("relationship_to_patient", "Relationship to Patient", "input", "Patient Information Form",
      JObj.of("input_type" -> JStr("name")), 98),
    ("employer_if_different_from_above", "Employer (if different from above)", "input",
      "FOR CHILDREN/MINORS ONLY",
      JObj.of("input_type" -> JStr("name"), "hint" -> JStr("(if different from above)")), 158))

  def addMissingStandaloneFields(fields0: Vector[FieldInfo]): Vector[FieldInfo] = {
    // small static bank x direct key scan (no key-set build); unchanged
    // input returns as-is — the common complete-NPF case allocates nothing
    var added: mutable.ArrayBuffer[FieldInfo] = null
    missingStandalone.foreach { case (key, title, ft, section, control, lineIdx) =>
      if (!fields0.exists(_.key == key)) {
        if (added == null) added = mutable.ArrayBuffer.empty
        added += FieldInfo(key, title, ft, section, optional = false,
          control = control, lineIdx = lineIdx)
      }
    }
    if (added == null) fields0 else fields0 ++ added
  }
}
