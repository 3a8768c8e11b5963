package graft.extract

import graft.model._
import scala.util.matching.Regex
import scala.collection.mutable

/** Main-profile pipeline, re-expressed from
  * /root/reference/pdf_to_json_converter.py (DocumentToJSONConverter flow,
  * lines 5174-5349): route by form type, extract, manager passes, spec
  * assembly (with `optional`), final normalizations, main validator,
  * signature compliance, final cleanup. Output dict order
  * {key,type,title,control,section,optional} matches the main-profile
  * goldens (docx/PediatricExtractionFINAL32025.json, pdfs/npf.json).
  */
object MainExtractor {

  // ---------- detectors (pdf_to_json_converter.py:888-981) ----------
  private val rePrintedName = "(?i)printed?\\s*name|print\\s*name|name\\s*\\(print\\)|patient\\s*print".r
  private val reDob = "(?i)date\\s*of\\s*birth|birth\\s*date|dob|born".r
  private val reRelationship = "(?i)relationship|relation\\s*to|guardian|parent|spouse".r
  private val reConsentDate = "(?i)consent\\s*date|date\\s*of\\s*consent|today".r
  private val reFpName = "(?i)(?:first\\s*name|last\\s*name|patient\\s*name|full\\s*name)(?:\\s*[:_]|\\s*$)".r
  private val reFpEmail = "(?i)e-?mail(?:\\s*[:_]|\\s*$)".r
  private val reFpPhone = "(?i)(?:phone|mobile|home|work)(?:\\s*[:_]|\\s*$)".r
  private val reFpDate = "(?i)(?:date|birth|dob)(?:\\s*[:_]|\\s*$)".r
  private val reFpAddress = "(?i)(?:address|street|city|state|zip)(?:\\s*[:_]|\\s*$)".r
  private val reFpSsn = "(?i)(?:ssn|social\\s*security)(?:\\s*[:_]|\\s*$)".r
  private val reFpSignature = "(?i)signature(?:\\s*[:_]|\\s*$)".r
  private val reYesNo = "(?i)\\b(?:yes|no)\\b".r
  private val reYesNoTwice = "(?i)\\b(?:yes|no)\\b.*\\b(?:yes|no)\\b".r

  def detectFieldType(text: String): String = {
    val lower = text.toLowerCase
    // each (?i) regex gated on a lowercase substring that is a necessary
    // condition of the pattern — field names hit these detectors dozens of
    // times per document
    if (lower.contains("print") && rePrintedName.findFirstIn(text).isDefined) return "input"
    if (((lower.contains("birth") || lower.contains("dob") || lower.contains("born")) &&
          reDob.findFirstIn(text).isDefined) ||
        ((lower.contains("consent") || lower.contains("today")) &&
          reConsentDate.findFirstIn(text).isDefined)) return "date"
    if ((lower.contains("relation") || lower.contains("guardian") ||
         lower.contains("parent") || lower.contains("spouse")) &&
        reRelationship.findFirstIn(text).isDefined) return "input"
    if (lower.contains("signature") && reFpSignature.findFirstIn(text).isDefined) return "signature"
    if ((lower.contains("date") || lower.contains("birth") || lower.contains("dob")) &&
        reFpDate.findFirstIn(text).isDefined) return "date"
    if (lower.contains("mail") && reFpEmail.findFirstIn(text).isDefined) return "input"
    if ((lower.contains("phone") || lower.contains("mobile") || lower.contains("home") ||
         lower.contains("work")) && reFpPhone.findFirstIn(text).isDefined) return "input"
    if ((lower.contains("name") && reFpName.findFirstIn(text).isDefined) ||
        ((lower.contains("address") || lower.contains("street") || lower.contains("city") ||
          lower.contains("state") || lower.contains("zip")) &&
          reFpAddress.findFirstIn(text).isDefined) ||
        ((lower.contains("ssn") || lower.contains("social")) &&
          reFpSsn.findFirstIn(text).isDefined)) return "input"
    if (lower.contains("yes") || lower.contains("no")) {
      if ((text.contains("?") && reYesNo.findFirstIn(lower).isDefined) ||
          reYesNoTwice.findFirstIn(lower).isDefined) return "radio"
    }
    "input"
  }

  private val phoneWords = Vector("mobile", "home phone", "work phone", "cell")
  private val initialAbbrevs = Set("mi", "m.i.", "middle initial", "middle init")
  private val addressWords = Vector("street", "address", "apt", "unit", "suite")
  private val numberWords = Vector("number", "id", "#")

  def detectInputType(text: String): String = {
    val lower = text.toLowerCase
    if ((lower.contains("mail") && reFpEmail.findFirstIn(text).isDefined) ||
      lower.contains("e-mail")) "email"
    else if (((lower.contains("phone") || lower.contains("mobile") || lower.contains("home") ||
      lower.contains("work")) && reFpPhone.findFirstIn(text).isDefined) ||
      phoneWords.exists(lower.contains)) "phone"
    else if (lower.contains("ssn") || lower.contains("social security")) "ssn"
    else if (lower.contains("zip")) "zip"
    else if ((lower.contains("initial") ||
      initialAbbrevs.contains(lower.trim)) && text.length < 25) "initials"
    else if (addressWords.exists(lower.contains)) "name"
    else if (numberWords.exists(lower.contains) &&
      !lower.contains("license") && !lower.contains("phone")) "number"
    else "name"
  }

  // ---------- field-name normalization (pdf_to_json_converter.py:1085-1163) ----------
  private val nameMappings: Map[String, String] = Map(
    "first" -> "First Name", "last" -> "Last Name", "mi" -> "Middle Initial",
    "middle init" -> "Middle Initial", "middle initial" -> "Middle Initial",
    "apt/unit/suite" -> "Apt/Unit/Suite",
    "social security no" -> "Social Security No.", "social security number" -> "Social Security No.",
    "ssn" -> "Social Security No.",
    "drivers license" -> "Drivers License #", "driver license" -> "Drivers License #",
    "drivers license #" -> "Drivers License #", "dl" -> "Drivers License #",
    "date of birth" -> "Date of Birth", "dob" -> "Date of Birth",
    "birthdate" -> "Birthdate", "birth date" -> "Date of Birth",
    "today's date" -> "Today's Date", "todays date" -> "Today's Date",
    "today 's date" -> "Today's Date",
    "e-mail" -> "E-Mail", "email" -> "E-Mail",
    "mobile phone" -> "Mobile Phone", "mobile" -> "Mobile",
    "home phone" -> "Home Phone", "home" -> "Home",
    "work phone" -> "Work Phone", "work" -> "Work", "cell phone" -> "Mobile Phone",
    "name of insured" -> "Name of Insured", "insurance company" -> "Insurance Company",
    "dental plan name" -> "Dental Plan Name", "plan/group number" -> "Plan/Group Number",
    "group number" -> "Plan/Group Number", "id number" -> "ID Number",
    "relationship to patient" -> "Relationship to Patient",
    "patient relationship to insured" -> "Patient Relationship to Insured",
    "name of school" -> "Name of School", "patient employed by" -> "Patient Employed By",
    "employer" -> "Patient Employed By",
    "employer (if different from above)" -> "Employer (if different from above)",
    "occupation" -> "Occupation",
    "in case of emergency, who should be notified" -> "In case of emergency, who should be notified",
    "in case of emergency, who should be notified?" -> "In case of emergency, who should be notified",
    "emergency contact" -> "In case of emergency, who should be notified",
    "nickname" -> "Nickname", "street" -> "Street", "city" -> "City",
    "state" -> "State", "zip" -> "Zip", "phone" -> "Phone")

  def normalizeFieldName(fieldName0: String, contextLine: String = ""): String = {
    var fieldName = fieldName0
    var fieldLower = fieldName.toLowerCase.trim
    if (fieldLower.startsWith("no ") && fieldLower.length > 5) {
      val potential = fieldLower.substring(3).trim
      if (Seq("name", "school", "address", "phone").exists(potential.contains)) {
        fieldLower = potential
        fieldName = fieldName.substring(3).trim
      }
    }
    if (fieldLower == "date")
      return if (contextLine.toLowerCase.contains("today")) "Today's Date" else "Date"
    nameMappings.get(fieldLower) match {
      case Some(m) => m
      case None =>
        if (fieldLower == "first" && Seq("name", "patient").exists(contextLine.toLowerCase.contains)) "First Name"
        else if (fieldLower == "last" && Seq("name", "patient").exists(contextLine.toLowerCase.contains)) "Last Name"
        else fieldName
    }
  }

  // ---------- inline multi-field parse (pdf_to_json_converter.py:1252-1441) ----------
  // (anchor, regex, fields): the anchor is a cheap lowercase substring any
  // match must contain — skips the lazy-regex scan on non-matching lines
  private val exactPatterns: Vector[(String, Regex, Vector[(String, String)])] = Vector(
    ("first", "First.*?MI.*?Last.*?Nickname", Vector(
      "First Name" -> "first_name", "Middle Initial" -> "mi",
      "Last Name" -> "last_name", "Nickname" -> "nickname")),
    ("first", "First.*?Last(?!.*Nickname)", Vector(
      "First Name" -> "first_name_2", "Last Name" -> "last_name_2")),
    ("street", "Street.*?Apt/Unit/Suite", Vector(
      "Street" -> "street", "Apt/Unit/Suite" -> "apt_unit_suite")),
    ("street", "Street.*?City.*?State.*?Zip(?!.*Phone)", Vector(
      "Street" -> "if_different_from_patient_street", "City" -> "city_2_2",
      "State" -> "state5", "Zip" -> "zip_4")),
    ("city", "City.*?State.*?Zip(?!.*Phone)", Vector(
      "City" -> "city", "State" -> "state", "Zip" -> "zip")),
    ("street", "Street.*?City.*?State.*?Zip(?=.*Work|.*employment)", Vector(
      "Street" -> "street_2", "City" -> "city_2", "State" -> "state3", "Zip" -> "zip_2")),
    ("mobile", "Mobile.*?Home.*?Work(?!.*Address)", Vector(
      "Mobile" -> "mobile", "Home" -> "home", "Work" -> "work")),
    ("mobile phone", "Mobile Phone.*?Home Phone", Vector(
      "Mobile Phone" -> "mobile_phone", "Home Phone" -> "home_phone")),
    ("mobile", "Mobile.*?Home.*?Work.*?(?:Address|$)", Vector(
      "Mobile" -> "mobile_2", "Home" -> "home_2", "Work" -> "work_2")),
    ("e-mail", "E-Mail.*?Drivers License #", Vector(
      "E-Mail" -> "e_mail", "Drivers License #" -> "drivers_license")),
    ("patient employed", "Patient Employed By.*?Occupation", Vector(
      "Patient Employed By" -> "patient_employed_by", "Occupation" -> "occupation")),
    ("name of insured", "Name of Insured.*?Birthdate", Vector(
      "Name of Insured" -> "name_of_insured", "Birthdate" -> "birthdate")),
    ("insurance company", "Insurance Company.*?Phone", Vector(
      "Insurance Company" -> "insurance_company", "Phone" -> "phone")),
    ("dental plan", "Dental Plan Name.*?Plan/Group Number", Vector(
      "Dental Plan Name" -> "dental_plan_name", "Plan/Group Number" -> "plan_group_number")),
    ("id number", "ID Number.*?Patient Relationship to Insured", Vector(
      "ID Number" -> "id_number", "Patient Relationship to Insured" -> "patient_relationship_to_insured")),
    ("in case of emergency", "In case of emergency, who should be notified.*?Relationship to Patient", Vector(
      "In case of emergency, who should be notified" -> "in_case_of_emergency_who_should_be_notified",
      "Relationship to Patient" -> "relationship_to_patient")),
    ("employer", "Employer \\(if different from above\\).*?Relationship To Patient", Vector(
      "Employer (if different from above)" -> "employer_if_different_from_above",
      "Relationship To Patient" -> "relationship_to_patient_2")),
    ("printed name", "Signature.*?Printed Name.*?Date", Vector(
      "Signature" -> "signature", "Printed Name" -> "printed_name", "Date" -> "date_signed")),
    ("guardian", "\\(Patient/Parent/Guardian\\)\\s*Relationship\\s*\\(If patient is a minor\\)", Vector(
      "(Patient/Parent/Guardian) Relationship (If patient is a minor)" ->
        "patient_parent_guardian_relationship_if_patient_is_a_minor")),
    ("guardian", "\\(Patient/Parent/Guardian\\)\\s*\\t\\s*Relationship\\s*\\(If patient is a minor\\)", Vector(
      "(Patient/Parent/Guardian)" -> "patient_parent_guardian",
      "Relationship (If patient is a minor)" -> "relationship_if_patient_is_a_minor")),
    ("patient date of birth", "Patient Date of Birth", Vector(
      "Patient Date of Birth" -> "patient_date_of_birth")),
    ("print", "Print\\s+patient\\s+name\\s*:", Vector("Print patient name" -> "printed_name")),
    ("signature", "Patient\\s+signature", Vector("Patient signature" -> "patient_signature"))
  ).map { case (a, p, v) => (a, ("(?i)" + p).r, v.distinctBy(_._1)) }

  private val sectionHeaderSkips = Vector(
    "patient information form", "for children/minors only", "primary dental plan", "secondary dental plan")
  private val rePatientNameHeader = "(?i)^Patient Name\\s*[:_]".r
  private val inlineSkipWords = Vector("patient name", "address", "phone", "work address",
    "insurance company", "today's date", "social security no", "date of birth")
  private val underscorePatterns: Vector[Regex] = Vector(
    "([A-Za-z\\s]+?)(?:(?:\\\\_|_){2,})",
    "([A-Za-z\\s]+?)(?:\\s+(?:\\\\_|_){2,})",
    "([A-Za-z\\s]+?)\\s+(?:\\\\_|_)+",
    "([A-Za-z\\s/\\(\\)#\\.]+?)\\s*(?:\\\\_|_){2,}").map(_.r)
  private val reUnderscoreSpaces = "^[_\\s]+$".r

  /** Returns (normalizedFieldName, fullLine) pairs. */
  def parseInlineFields(line: String): Vector[(String, String)] =
    parseInlineFields(line, line.toLowerCase)

  /** Variant taking the caller's lowercase view (the machine keeps one per
    * line) — this runs on nearly every line of an NPF document. */
  def parseInlineFields(line: String, lower: String): Vector[(String, String)] = {
    if (sectionHeaderSkips.exists(lower.contains)) return Vector.empty
    if (StrUtil.isSeparatorLine(line) || line.trim.length < 3) return Vector.empty
    // anchored header pattern: cheap first-char gate before the regex
    if ((line.length > 0 && (line.charAt(0) == 'P' || line.charAt(0) == 'p')) &&
        rePatientNameHeader.findFirstIn(line).isDefined) return Vector.empty

    // exact patterns: first match wins; the banks' titles are pre-deduped,
    // so the result maps straight off the tuple list (no buffer, no Set)
    val it = exactPatterns.iterator
    while (it.hasNext) {
      val (anchor, re, tuples) = it.next()
      if ((anchor.isEmpty || lower.contains(anchor)) && re.findFirstIn(line).isDefined)
        return tuples.map { case (fieldTitle, _) => (normalizeFieldName(fieldTitle, line), line) }
    }
    // restrictive single-field colon label
    val colonIdx = line.indexOf(':')
    if (colonIdx >= 0 && line.trim.length < 50 && !inlineSkipWords.exists(lower.contains)) {
      val fieldName = line.substring(0, colonIdx).trim
      if (fieldName.length > 2 && !inlineSkipWords.contains(fieldName.toLowerCase))
        return Vector((normalizeFieldName(fieldName, line), line))
    }
    // underscore fallback (only path that needs a buffer + dedup set)
    if (line.indexOf('_') >= 0) {
      val fields = mutable.ArrayBuffer[(String, String)]()
      val seen = mutable.Set[String]()
      underscorePatterns.foreach { re =>
        re.findAllMatchIn(line).foreach { m =>
          val label = m.group(1).trim
          if (label.length > 1 && label.length < 60 && !label.startsWith("_") &&
              !label.toLowerCase.startsWith("page") && !label.toLowerCase.startsWith("form") &&
              reUnderscoreSpaces.findFirstIn(label).isEmpty && !seen.contains(label)) {
            fields += ((normalizeFieldName(label, line), line))
            seen += label
          }
        }
      }
      return fields.toVector
    }
    Vector.empty
  }

  // ---------- header/footer + witness (pdf_to_json_converter.py:2531-2617) ----------
  private val practiceIndicators = Vector("dental practice", "dental office", "dental clinic",
    "dental center", "dental group", "dentistry", "orthodontics", "oral surgery",
    "periodontics", "endodontics")
  private val medicalContext = Vector("treatment", "procedure", "surgery", "therapy", "care", "condition")
  private val contactPatterns: Vector[Regex] = Vector(
    "(?i)\\b\\d{3}[-.\\s]?\\d{3}[-.\\s]?\\d{4}\\b",
    "(?i)\\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Z|a-z]{2,}\\b",
    "(?i)\\b\\d+\\s+[A-Za-z\\s]+(street|st|avenue|ave|road|rd|drive|dr|lane|ln|way|blvd|boulevard)\\b").map(_.r)
  private val technicalArtifacts = Vector("<!-- image -->", "<image>", "</image>",
    "cf gingivectomy", "form code:", "doc id:", "page", "header:", "footer:")
  private val reFormCode = "^\\([A-Z\\s]+\\w+\\)$".r

  // one fold walk computes all three substring banks (no lowered copy per
  // line); the contact regexes are gated on the chars they require
  private val hfcBanks = Vector(practiceIndicators, medicalContext, technicalArtifacts)
  private val hfcOff: Array[Int] = hfcBanks.scanLeft(0)(_ + _.length).toArray
  private val hfcAC = MultiSubstring(hfcBanks.flatten)
  @inline private def hfcAny(flags: Array[Boolean], seg: Int): Boolean = {
    var i = hfcOff(seg)
    val end = hfcOff(seg + 1)
    while (i < end) { if (flags(i)) return true; i += 1 }
    false
  }

  def isHeaderFooterContent(line: String): Boolean = {
    val flags = hfcAC.matchedSetFold(line)
    if (hfcAny(flags, 0) && !hfcAny(flags, 1)) return true
    // phone + street need a digit, email needs '@' — skip the regex engine
    // on lines that can't match
    var hasDigit = false
    var hasAt = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c >= '0' && c <= '9') hasDigit = true
      else if (c == '@') hasAt = true
      i += 1
    }
    if ((hasDigit && (contactPatterns(0).findFirstIn(line).isDefined ||
          contactPatterns(2).findFirstIn(line).isDefined)) ||
        (hasAt && contactPatterns(1).findFirstIn(line).isDefined)) return true
    if (hfcAny(flags, 2)) return true
    val trimmed = line.trim
    if (trimmed.startsWith("(") && reFormCode.findFirstIn(trimmed).isDefined) return true
    false
  }

  private val witnessIndicatorsMain = Vector("witness signature", "witness printed name",
    "witness name", "witness date", "witnessed by", "witness:", "witness relationship")
  private val doctorSignaturesMain = Vector("doctor signature", "dentist signature",
    "physician signature", "dr. signature", "practitioner signature", "provider signature",
    "clinician signature")

  def isWitnessOrDoctorSignatureFieldMain(lineLower: String): Boolean = {
    if (witnessIndicatorsMain.exists(lineLower.contains)) return true
    if (doctorSignaturesMain.exists(lineLower.contains)) return true
    if (lineLower.contains("legally authorized representative")) return true
    if (lineLower.contains("printed name") &&
        Seq("witness", "guardian signature", "parent signature").exists(lineLower.contains)) return true
    false
  }

  // ---------- comprehensive consent HTML (pdf_to_json_converter.py:3157-3218) ----------
  private val sigSkipPatterns = Vector("signature:", "patient name:", "date of birth:", "witness:")
  private val paragraphStarters = Vector("I understand", "I agree", "I hereby",
    "Extraction of", "As in any", "They include")
  private val riskWords = Vector("Swelling", "Stretching", "Possible infection", "Bleeding", "Sharp ridges")
  private val sectionWords = Vector("risks", "complications", "alternative", "treatment")
  private val tabsRe = "\\t+".r
  private val spacesRe = " +".r

  def createComprehensiveConsentHtml(textLines: Seq[String]): String = {
    if (textLines.isEmpty)
      return "<div style=\"text-align:center\"><strong>Consent Form</strong></div>"
    val title = textLines.head
    val contentLines = if (textLines.length > 1) textLines.tail else textLines
    val sb = new StringBuilder(s"""<div style="text-align:center"><strong>$title</strong><br>""")
    val formatted = mutable.ArrayBuffer[String]()
    var currentParagraph = mutable.ArrayBuffer[String]()
    contentLines.foreach { raw =>
      var line = raw.trim
      if (line.nonEmpty) {
        line = spacesRe.replaceAllIn(tabsRe.replaceAllIn(line, " "), " ")
        val lower = line.toLowerCase
        if (!sigSkipPatterns.exists(lower.contains)) {
          val shouldBreak =
            currentParagraph.mkString(" ").length > 300 ||
              paragraphStarters.exists(line.startsWith) ||
              riskWords.exists(line.contains) ||
              sectionWords.exists(lower.contains)
          if (shouldBreak && currentParagraph.nonEmpty) {
            formatted += s"<p>${currentParagraph.mkString(" ")}</p>"
            currentParagraph = mutable.ArrayBuffer(line)
          } else currentParagraph += line
        }
      }
    }
    if (currentParagraph.nonEmpty) formatted += s"<p>${currentParagraph.mkString(" ")}</p>"
    sb.append(formatted.mkString("")).append("</div>")
    sb.toString
  }

  // ---------- generic consent extraction (#33, pdf_to_json_converter.py:2066-2238) ----------
  private val consentFieldLinePatterns: Vector[Regex] = Vector(
    "\\(Patient/Parent/Guardian\\)", "Patient.*Name.*\\(.*print.*\\)",
    "Signature.*patient.*guardian", "authorized representative").map(p => ("(?i)" + p).r)
  private val parensRe = "[()]+".r

  def extractConsentFormFields(textLines: Seq[String]): Vector[FieldInfo] = {
    val fields = mutable.ArrayBuffer[FieldInfo]()
    fields += FieldInfo("form_1", "", "text", "Form", optional = false,
      control = JObj.of("html_text" -> JStr(createComprehensiveConsentHtml(textLines))),
      lineIdx = 10)
    val processedKeys = mutable.Set[String]("form_1")
    val additional = mutable.ArrayBuffer[FieldInfo]()

    textLines.zipWithIndex.foreach { case (raw, i) =>
      val line = raw.trim
      if (line.nonEmpty) {
        // inline multi-field detection
        parseInlineFields(line).foreach { case (fieldName, _) =>
          val key = Slugify.slugify(fieldName)
          if (!processedKeys.contains(key)) {
            val fieldType = detectFieldType(fieldName)
            val control = fieldType match {
              case "input" => JObj.of("input_type" -> JStr(detectInputType(fieldName)))
              case "date" => JObj.of("input_type" -> JStr("past"))
              case _ => JObj(Vector.empty)
            }
            val section = if (Seq("signature", "date", "printed name")
              .exists(fieldName.toLowerCase.contains)) "Signature" else "Form"
            additional += FieldInfo(key, fieldName, fieldType, section,
              optional = false, control = control, lineIdx = 100 + i)
            processedKeys += key
          }
        }
        // standalone colon label
        if (line.contains(":") && line.trim.length < 100) {
          val fieldName = line.split(":", 2)(0).trim
          if (fieldName.length > 3 && fieldName.toLowerCase != "signature" &&
              !isWitnessOrDoctorSignatureFieldMain(line.toLowerCase) &&
              !isHeaderFooterContent(line)) {
            val key = Slugify.slugify(fieldName)
            if (!processedKeys.contains(key)) {
              val fieldType = detectFieldType(fieldName)
              val control = fieldType match {
                case "input" => JObj.of("input_type" -> JStr(detectInputType(fieldName)))
                case "date" => JObj.of("input_type" -> JStr("past"))
                case _ => JObj(Vector.empty)
              }
              val section = if (Seq("signature", "date", "printed name", "patient")
                .exists(fieldName.toLowerCase.contains)) "Signature" else "Form"
              additional += FieldInfo(key, fieldName, fieldType, section,
                optional = false, control = control, lineIdx = 100 + i)
              processedKeys += key
            }
          }
        }
        // consent-specific standalone patterns
        consentFieldLinePatterns.foreach { re =>
          re.findFirstIn(line).foreach { matched =>
            val fieldName = parensRe.replaceAllIn(matched, "").trim
            if (fieldName.nonEmpty && fieldName.length > 2) {
              val key = Slugify.slugify(fieldName)
              if (!processedKeys.contains(key)) {
                val fieldType = detectFieldType(fieldName)
                val control = fieldType match {
                  case "input" => JObj.of("input_type" -> JStr(detectInputType(fieldName)))
                  case "date" => JObj.of("input_type" -> JStr("past"))
                  case _ => JObj(Vector.empty)
                }
                additional += FieldInfo(key, fieldName, fieldType, "Signature",
                  optional = false, control = control, lineIdx = 101 + i)
                processedKeys += key
              }
            }
          }
        }
      }
    }
    fields ++= additional
    if (!processedKeys.contains("signature"))
      fields += FieldInfo("signature", "Signature", "signature", "Signature",
        optional = false, control = JObj(Vector.empty), lineIdx = 200)
    if (!processedKeys.contains("date_signed"))
      fields += FieldInfo("date_signed", "Date Signed", "date", "Signature",
        optional = false, control = JObj.of("input_type" -> JStr("past")), lineIdx = 201)
    fields.toVector
  }

  // ---------- enhanced consent extraction (#34, pdf_to_json_converter.py:2936-3046) ----------
  private case class EPattern(re: Regex, key: String, title: String, fieldType: String, control: JObj)
  private val enhancedFieldPatterns = Vector(
    EPattern("(?i)Patient.*Name.*Print".r, "patient_name_print", "Patient Name (Print)", "input", JObj.of("input_type" -> JStr("name"))),
    EPattern("(?i)Patient.*Name(?!\\s*\\()".r, "patient_name", "Patient Name", "input", JObj.of("input_type" -> JStr("name"))),
    EPattern("(?i)Printed?\\s+Name".r, "printed_name", "Printed Name", "input", JObj.of("input_type" -> JStr("name"))),
    EPattern("(?i)Date\\s*:?\\s*$".r, "date_signed", "Date Signed", "date", JObj.of("input_type" -> JStr("past"))),
    EPattern("(?i)Date\\s+of\\s+Birth".r, "date_of_birth", "Date of Birth", "date", JObj.of("input_type" -> JStr("past"))),
    EPattern("(?i)Relationship.*(?:minor|patient)".r, "relationship", "Relationship", "input", JObj.of("input_type" -> JStr("name"))),
    EPattern("(?i)Authorized\\s+Representative".r, "authorized_representative", "Authorized Representative", "input", JObj.of("input_type" -> JStr("name"))),
    EPattern("(?i)legal\\s+guardian".r, "legal_guardian", "Legal Guardian", "input", JObj.of("input_type" -> JStr("name"))),
    EPattern("(?i)tooth\\s+no(?:mber)?\\.?\\s*:?\\s*__+".r, "tooth_number", "Tooth Number", "input", JObj.of("input_type" -> JStr("name"))),
    EPattern("(?i)procedure.*follows?".r, "procedure_description", "Procedure Description", "input", JObj.of("input_type" -> JStr("name"))),
    EPattern("(?i)alternative.*treatment".r, "alternative_treatment", "Alternative Treatment", "input", JObj.of("input_type" -> JStr("name"))))

  private val enhancedSigMarkers = Vector("signature:", "patient name", "printed name:", "date:")
  private val mainProviderSubs: Vector[Regex] = Vector(
    "Dr\\.\\s*__+", "Dr\\.\\s*\\t+", "Dr\\.\\s*to\\s+perform",
    "consent\\s+to\\s+Dr\\.", "authorize\\s+Dr\\.").map(p => ("(?i)" + p).r)

  def extractConsentFormFieldsEnhanced(textLines: Seq[String]): Vector[FieldInfo] = {
    val fields = mutable.ArrayBuffer[FieldInfo]()
    val processedKeys = mutable.Set[String]()
    var signatureStartIdx: Option[Int] = None
    val consentTextLines = mutable.ArrayBuffer[String]()
    var i = 0
    while (i < textLines.length && signatureStartIdx.isEmpty) {
      val lower = textLines(i).toLowerCase
      if (enhancedSigMarkers.exists(lower.contains)) signatureStartIdx = Some(i)
      else if (textLines(i).trim.nonEmpty && !textLines(i).startsWith("#"))
        consentTextLines += textLines(i).trim
      i += 1
    }
    if (consentTextLines.nonEmpty) {
      fields += FieldInfo("form_1", "", "text", "Form", optional = false,
        control = JObj.of("html_text" -> JStr(createMainEnhancedConsentHtml(consentTextLines.toSeq))),
        lineIdx = 0)
      processedKeys += "form_1"
    }
    signatureStartIdx.foreach { sIdx =>
      textLines.drop(sIdx).zipWithIndex.foreach { case (line, j) =>
        val stripped = line.trim
        if (stripped.nonEmpty && !stripped.startsWith("#")) {
          enhancedFieldPatterns.foreach { ep =>
            if (ep.re.findFirstIn(line).isDefined && !processedKeys.contains(ep.key) &&
                !ep.key.contains("witness")) {
              fields += FieldInfo(ep.key, ep.title, ep.fieldType, "Signature",
                optional = false, control = ep.control, lineIdx = sIdx + j)
              processedKeys += ep.key
            }
          }
        }
      }
    }
    if (!processedKeys.contains("signature"))
      fields += FieldInfo("signature", "Signature", "signature", "Signature",
        optional = false, control = JObj(Vector.empty), lineIdx = textLines.length)
    fields.toVector
  }

  /** Main-profile enhanced HTML (pdf_to_json_converter.py:2240-2272). */
  def createMainEnhancedConsentHtml(consentTextLines: Seq[String]): String = {
    var content = consentTextLines.mkString(" ")
    content = "\\s+".r.replaceAllIn(content, " ").trim
    content = removePracticeHeaderFooterMain(content)
    mainProviderSubs.foreach(re => content = re.replaceAllIn(content, "Dr. {{provider}}"))
    val title = detectConsentTitle(content)
    val header = title match {
      case Some(t) => s"""<div style="text-align:center"><strong>$t</strong><br>"""
      case None => "<div style=\"text-align:center\"><strong>Informed Consent</strong><br>"
    }
    // fill-in underscores drop AFTER the paragraph split (so a run that led
    // a paragraph leaves its separating space behind — golden-pinned,
    // /root/reference/pdfs/consent_crown_bridge_prosthetics.json tail)
    header + splitIntoParagraphs(content).map(_.replace("_", "")).mkString("<br>") + "</div>"
  }

  private val mainPracticePatterns: Vector[Regex] = Vector(
    "www\\.\\w+\\.com", "\\w+@\\w+\\.com", "\\(\\d{3}\\)\\d{3}-?\\d{4}",
    "\\d+\\s+[A-Z][A-Za-z\\s]+,\\s+[A-Z]{2}\\s+\\d{5}", "Route\\s+\\d+.*\\d{5}",
    "Smile@.*\\.com").map(p => ("(?i)" + p).r)

  private def removePracticeHeaderFooterMain(content0: String): String = {
    var content = content0
    mainPracticePatterns.foreach(p => content = p.replaceAllIn(content, ""))
    "\\s+".r.replaceAllIn(content, " ").trim
  }

  private val titlePatterns: Vector[Regex] = Vector(
    "Informed\\s+Consent\\s+for\\s+([^.]+)", "Consent\\s+for\\s+([^.]+)",
    "([^.]*Consent[^.]*)").map(p => ("(?i)" + p).r)

  def detectConsentTitle(content: String): Option[String] =
    titlePatterns.iterator.flatMap(_.findFirstMatchIn(content))
      .map(m => "\\s+".r.replaceAllIn(m.group(1).trim, " "))
      .nextOption()

  private val sentenceSplitRe = "(?:\\.\\s+|\\n\\s*\\n)".r

  def splitIntoParagraphs(content: String): Vector[String] = {
    val sections = sentenceSplitRe.split(content)
    val paragraphs = mutable.ArrayBuffer[String]()
    var currentPara = ""
    sections.foreach { s0 =>
      val section = s0.trim
      if (section.nonEmpty) {
        if (section.length < 50 && currentPara.nonEmpty) currentPara += " " + section
        else {
          if (currentPara.nonEmpty) paragraphs += currentPara
          currentPara = section
        }
      }
    }
    if (currentPara.nonEmpty) paragraphs += currentPara
    paragraphs.toVector
  }

  // ---------- consolidation + filtering (pdf_to_json_converter.py:1550-1626, 2906-2934) ----------
  def consolidateConsentSections(fields: Vector[FieldInfo], formType: String): Vector[FieldInfo] = {
    if (!Set("consent", "structured_consent", "narrative_consent").contains(formType)) return fields
    val consentTextBlocks = mutable.ArrayBuffer[FieldInfo]()
    val riskSections = mutable.ArrayBuffer[FieldInfo]()
    val otherFields = mutable.ArrayBuffer[FieldInfo]()
    fields.foreach { f =>
      if (f.fieldType == "text" &&
          Seq("risk", "treatment", "procedure", "consent").exists(f.title.toLowerCase.contains))
        consentTextBlocks += f
      else if (Set("consent", "risks", "treatment").contains(f.section.toLowerCase) &&
               Set("text", "checkbox").contains(f.fieldType))
        riskSections += f
      else otherFields += f
    }
    if (consentTextBlocks.isEmpty && riskSections.isEmpty) return otherFields.toVector
    val combined = mutable.ArrayBuffer[String]("<h3>Recommended Treatment</h3>")
    consentTextBlocks.filter(_.title.toLowerCase.contains("treatment"))
      .foreach(f => combined += f.control.get("html_text").collect { case JStr(s) => s }.getOrElse(""))
    combined += "<h3>Risks and Side Effects</h3>"
    riskSections.filter(_.fieldType == "text")
      .foreach(f => combined += f.control.get("html_text").collect { case JStr(s) => s }.getOrElse(""))
    combined += "<h3>Treatment Alternatives</h3>"
    consentTextBlocks.filter(_.title.toLowerCase.contains("alternative"))
      .foreach(f => combined += f.control.get("html_text").collect { case JStr(s) => s }.getOrElse(""))
    val html = combined.mkString("")
    otherFields.toVector :+
      FieldInfo("consolidated_consent", "Treatment Consent Information", "text", "Consent",
        optional = false,
        control = JObj.of("html_text" -> JStr(html), "temporary_html_text" -> JStr(html), "text" -> JStr("")),
        lineIdx = otherFields.length) :+
      FieldInfo("consent_acknowledgment",
        "I have read and understand the treatment information, risks, and alternatives described above.",
        "checkbox", "Consent", optional = false,
        control = JObj.of("options" -> JArr(Vector(JObj.of("name" -> JStr("I acknowledge"), "value" -> JBool(true))))),
        lineIdx = otherFields.length + 1)
  }

  val referenceKeys: Set[String] = FieldOrdering.referenceFieldOrder.toSet

  def applyFormTypeFiltering(fields: Vector[FieldInfo], formType: String): Vector[FieldInfo] =
    if (formType == "patient_info") fields.filter(f => referenceKeys.contains(f.key)) else fields

  // ---------- routing (pdf_to_json_converter.py:2874-2904) ----------
  /** Routing plus the modular subtype classification, sharing ONE joined
    * lowercase view of the document (the join is ~the whole cost of
    * classification on large forms; computing it twice per turn was the
    * dominant avoidable allocation in the docling_md route).
    */
  def extractFieldsAndClassify(textLines: Seq[String]): (String, String, Vector[FieldInfo]) =
    extractFieldsAndClassify(textLines, null)

  /** Hot-path variant: `lineFlags` (nullable) are the per-line union-automaton
    * flags the cleaning stage already computed — the patient-info machine
    * reads its own per-line bank from their prefix instead of re-walking
    * every line. */
  private[extract] def extractFieldsAndClassify(textLines: Seq[String],
      lineFlags: Array[Array[Boolean]]): (String, String, Vector[FieldInfo]) = {
    // the classifier lowered every line anyway; the machine reuses the
    // lowers instead of re-lowering (its context index stays lazy — built
    // only by documents that actually query a context window)
    val (formType, formSubtype, lowers) = FormClassifier.classifyWithLowers(textLines)
    val fields = formType match {
      case "structured_consent" | "narrative_consent" => extractConsentFormFieldsEnhanced(textLines)
      case "records_release" => RecordsRelease.extract(textLines)
      case "patient_info" => PatientInfoMachine.extract(textLines, lowers, lineFlags)
      case "consent" => extractConsentFormFields(textLines)
      case _ => UniversalExtractor.extract(textLines)
    }
    (formType, formSubtype,
      applyFormTypeFiltering(consolidateConsentSections(fields, formType), formType))
  }

  // ---------- full pipeline ----------
  def convert(textLines: Seq[String]): String = {
    val (_, spec) = convertToSpec(textLines)
    SpecRender.renderArray(spec)
  }

  def convertToSpec(textLines0: Seq[String]): (String, Vector[SpecQ]) = {
    val (ft, _, spec) = convertToSpecFull(textLines0)
    (ft, spec)
  }

  /** Full pipeline variant that also surfaces the modular form_subtype,
    * classified from the same joined lowercase text as the form type (no
    * second join per turn — ExtractionJob's hot path).
    */
  def convertToSpecFull(textLines0: Seq[String]): (String, String, Vector[SpecQ]) = {
    val (ft, sub, spec, _) = convertToSpecFullWithLines(textLines0)
    (ft, sub, spec)
  }

  /** Variant also returning the cleaned lines the spec was extracted from
    * (the Extractor builds main_text from them — no second cleaning pass). */
  def convertToSpecFullWithLines(textLines0: Seq[String])
  : (String, String, Vector[SpecQ], Seq[String]) = {
    // main-pipeline line cleaning (scan-stage analog,
    // pdf_to_json_converter.py:792-793): header/footer manager with the
    // form-content whitelist
    val (textLines, lineFlags) =
      HeaderFooterMain.removePracticeHeadersFootersFlags(textLines0)
    val (formType, formSubtype, fields0) = extractFieldsAndClassify(textLines, lineFlags)
    var fields = FieldOrdering.ensureRequiredSignatureFields(fields0)
    fields = FieldOrdering.ensureDateSignedField(fields)
    fields = FieldOrdering.orderFields(fields)
    var spec = fields.map(SpecAssembly.toSpecQ).toVector
    spec = SpecNormalization.normalizeFieldKeys(spec)
    spec = ConsentShaping.applyConsentShaping(spec)
    spec = SpecNormalization.normalizeTextContent(spec)
    spec = SpecNormalization.normalizeAuthorizationField(spec)
    spec = MainValidator.validateAndNormalize(spec)
    spec = MainValidator.ensureSignatureCompliance(spec)
    spec = MainValidator.applyFinalCleanup(spec)
    (formType, formSubtype, spec, textLines)
  }
}
