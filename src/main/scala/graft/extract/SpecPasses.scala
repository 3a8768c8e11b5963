package graft.extract

import graft.model._
import scala.util.matching.Regex
import scala.collection.mutable

/** Spec-level question record (the JSON-dict stage of the main pipeline,
  * pdf_to_json_converter.py:5264-5288), with meta.line_idx carried for
  * stable ordering then stripped at render.
  */
final case class SpecQ(
    var key: String,
    var fieldType: String,
    var title: String,
    var control: JObj,
    var section: String,
    var optional: Boolean,
    var lineIdx: Int) {
  def render: JObj = JObj(Vector(
    "key" -> JStr(key), "type" -> JStr(fieldType), "title" -> JStr(title),
    "control" -> control, "section" -> JStr(section), "optional" -> JBool(optional)))
}

object SpecRender {
  /** Renders the spec array byte-identically to
    * `Json.render(JArr(spec.map(_.render)))` without allocating the
    * per-field JObj tree first (the tree alone was ~30 KB on the heavy NPF
    * turn; equality is pinned by a PropertySpec test over the fixtures).
    */
  def renderArray(spec: Vector[SpecQ]): String = {
    if (spec.isEmpty) return "[]"
    var hint = 16
    spec.foreach { q =>
      hint += 140 + q.key.length + q.fieldType.length + q.title.length +
        q.section.length + Json.estimate(q.control)
    }
    Json.withBuilder(hint) { sb =>
      sb.append("[\n")
      var i = 0
      while (i < spec.length) {
        val q = spec(i)
        sb.append("  {\n    \"key\": ")
        Json.appendStr(q.key, sb)
        sb.append(",\n    \"type\": ")
        Json.appendStr(q.fieldType, sb)
        sb.append(",\n    \"title\": ")
        Json.appendStr(q.title, sb)
        sb.append(",\n    \"control\": ")
        Json.renderInto(q.control, sb, 2)
        sb.append(",\n    \"section\": ")
        Json.appendStr(q.section, sb)
        sb.append(",\n    \"optional\": ").append(if (q.optional) "true" else "false")
        sb.append("\n  }")
        if (i < spec.length - 1) sb.append(',')
        sb.append('\n')
        i += 1
      }
      sb.append(']')
    }
  }
}

object SpecAssembly {
  // hoisted hot-loop literal sets (allocated once, not per field)
  private val metaControlKeys = Set("temporary_html_text", "html_text", "text")
  private val secondaryPhoneKeys = Set("mobile_2", "home_2", "work_2", "phone_2")
  private val noInputTypeTypes = Set("states", "text")
  /** _convert_fields_to_json_spec + _normalize_control_by_type
    * (pdf_to_json_converter.py:5264-5288;
    * field_processing/field_normalization_manager.py:83-132). */
  def toSpecQ(f: FieldInfo): SpecQ =
    SpecQ(f.key, f.fieldType, f.title,
      normalizeControlByType(f.control, f.fieldType, f.key),
      f.section, f.optional, f.lineIdx)

  def normalizeControlByType(control: JObj, fieldType: String, fieldKey: String): JObj = {
    var out: JObj = fieldType match {
      case "states" | "signature" => JObj(Vector.empty)
      case "text" =>
        val ordered = Vector("temporary_html_text", "html_text", "text")
          .flatMap(k => control.get(k).filter(_ != JNull).map(k -> _))
        val rest = control.fields.filter { case (k, v) =>
          !metaControlKeys.contains(k) && v != JNull
        }
        JObj(ordered ++ rest)
      case _ => JObj(control.fields.filter(_._2 != JNull))
    }
    // specific field fixes (field_normalization_manager.py:113-132)
    if (fieldKey == "if_different_from_patient_street")
      out = out.updated("input_type", JStr("address"))
    if (secondaryPhoneKeys.contains(fieldKey))
      out = out.updated("hint", JNull)
    if (fieldKey == "initials_3") out = out.without("hint")
    if (noInputTypeTypes.contains(fieldType) || fieldKey.startsWith("initials"))
      out = out.without("hint")
    out
  }
}

object FieldOrdering {
  /** field_processing/field_ordering_manager.py:32-50. */
  val referenceFieldOrder: Vector[String] = Vector(
    "todays_date", "first_name", "mi", "last_name", "nickname", "street", "apt_unit_suite",
    "city", "state", "zip", "mobile", "home", "work", "e_mail", "drivers_license", "state2",
    "what_is_your_preferred_method_of_contact", "ssn", "date_of_birth", "patient_employed_by",
    "occupation", "street_2", "city_2", "state3", "zip_2", "sex", "marital_status",
    "in_case_of_emergency_who_should_be_notified", "relationship_to_patient", "mobile_phone",
    "home_phone", "is_the_patient_a_minor", "full_time_student", "name_of_school",
    "first_name_2", "last_name_2", "date_of_birth_2", "relationship_to_patient_2",
    "if_patient_is_a_minor_primary_residence", "if_different_from_patient_street", "city_3",
    "state4", "zip_3", "mobile_2", "home_2", "work_2", "employer_if_different_from_above",
    "occupation_2", "street_3", "city_2_2", "state5", "zip_4", "name_of_insured",
    "birthdate", "ssn_2", "insurance_company", "phone", "street_4", "city_5", "state_6",
    "zip_5", "dental_plan_name", "plan_group_number", "id_number", "patient_relationship_to_insured",
    "name_of_insured_2", "birthdate_2", "ssn_3", "insurance_company_2", "phone_2", "street_5",
    "city_6", "state_7", "zip_6", "dental_plan_name_2", "plan_group_number_2", "id_number_2",
    "patient_relationship_to_insured_2", "text_3", "initials", "text_4", "initials_2",
    "i_authorize_the_release_of_my_personal_information_necessary_to_process_my_dental_benefit_claims,_including_health_information,_",
    "initials_3", "signature", "date_signed")

  private val referenceOrderSet: Set[String] = referenceFieldOrder.toSet

  def orderFields(fields0: Vector[FieldInfo]): Vector[FieldInfo] = {
    val fields = fields0.sortBy(_.lineIdx)
    // distinct-key overlap with the reference order, one pass + one set
    // (was: toSet + intersect + toMap intermediates per call)
    val seen = new java.util.HashSet[String](fields.length * 2)
    var overlap = 0
    fields.foreach { f =>
      if (seen.add(f.key) && referenceOrderSet.contains(f.key)) overlap += 1
    }
    if (overlap > seen.size * 0.5) {
      val lookup = new java.util.HashMap[String, FieldInfo](fields.length * 2)
      fields.foreach(f => lookup.put(f.key, f)) // last wins, like toMap
      val b = Vector.newBuilder[FieldInfo]
      referenceFieldOrder.foreach { k =>
        val f = lookup.get(k)
        if (f != null) b += f
      }
      fields.foreach(f => if (!referenceOrderSet.contains(f.key)) b += f)
      b.result()
    } else {
      val (sig, other) = fields.partition(_.fieldType == "signature")
      other ++ sig
    }
  }

  def ensureRequiredSignatureFields(fields0: Vector[FieldInfo]): Vector[FieldInfo] = {
    val sigs = fields0.filter(_.fieldType == "signature")
    if (sigs.isEmpty)
      fields0 :+ FieldInfo("signature", "Signature", "signature", "Signature",
        optional = false, control = JObj(Vector.empty), lineIdx = 9999)
    else {
      val first = sigs.head
      fields0.flatMap { f =>
        if (f.fieldType == "signature") {
          if (f eq first) Some(f.copy(key = "signature")) else None
        } else Some(f)
      }
    }
  }

  def ensureDateSignedField(fields: Vector[FieldInfo]): Vector[FieldInfo] = {
    val hasSig = fields.exists(_.fieldType == "signature")
    val hasDate = fields.exists(_.key == "date_signed")
    if (hasSig && !hasDate)
      fields :+ FieldInfo("date_signed", "Date Signed", "date", "Signature",
        optional = false, control = JObj.of("input_type" -> JStr("past")), lineIdx = 9999)
    else fields
  }
}

object SpecNormalization {
  /** field_processing/field_normalization_manager.py. */
  private val possessive1 = "([a-z]+)_s_([a-z]+)".r
  private val possessive2 = "([a-z]+)_s$".r
  private val directKeyMappings = Map(
    "patient_printed_name" -> "printed_name", "printed_patient_name" -> "printed_name")

  def normalizeFieldKeys(spec: Vector[SpecQ]): Vector[SpecQ] = {
    spec.foreach { q =>
      q.key = directKeyMappings.getOrElse(q.key, {
        // tighter gate: possessive1 needs "_s_", possessive2 needs a
        // trailing "_s" (a bare indexOf("_s") passed for e.g.
        // marital_status and ran both regexes for nothing)
        if (q.key.indexOf("_s_") < 0 && !q.key.endsWith("_s")) q.key
        else {
          var k = possessive1.replaceAllIn(q.key, "$1_$2")
          k = possessive2.replaceAllIn(k, "$1")
          k
        }
      })
    }
    spec
  }

  private val escapedUnicodeRe = "\\\\u[0-9a-fA-F]{4}".r

  /** split("\\s+").filter(nonEmpty).mkString(" ") without the regex engine:
    * collapse ASCII \s runs to one space, trim edges. */
  private def collapseWs(s: String): String = {
    def isWs(c: Char) = c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    var needs = s.isEmpty || isWs(s.charAt(0)) || isWs(s.charAt(s.length - 1))
    var i = 0
    while (!needs && i < s.length) {
      val c = s.charAt(i)
      if (c <= ' ') { // every \s char is <= 0x20: one compare per ordinary char
        if (c != ' ' && isWs(c)) needs = true
        else if (c == ' ' && i + 1 < s.length && s.charAt(i + 1) == ' ') needs = true
      }
      i += 1
    }
    if (!needs) return s
    val sb = new java.lang.StringBuilder(s.length)
    var inWs = true // leading whitespace dropped
    i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (isWs(c)) { if (!inWs) { sb.append(' '); inWs = true } }
      else { sb.append(c); inWs = false }
      i += 1
    }
    val n = sb.length()
    if (n > 0 && sb.charAt(n - 1) == ' ') sb.setLength(n - 1)
    sb.toString
  }

  private[extract] val htmlTextKeys = Vector("html_text", "temporary_html_text")

  // literal chains of normalizeTextContent as one-pass pair sets (targets
  // disjoint; replacements introduce no targets)
  private val normTextPairsText3: Array[(String, String)] = Array("\\_" -> "")
  private val normTextPairsFull: Array[(String, String)] = Array(
    "\\_" -> "", "" -> "", "’" -> "'", "“" -> "\"", "”" -> "\"")

  def normalizeTextContent(spec: Vector[SpecQ]): Vector[SpecQ] = {
    spec.foreach { q =>
      htmlTextKeys.foreach { tk =>
        q.control.get(tk).collect { case JStr(t0) =>
          // disjoint literal targets -> one builder pass (was up to 5 copies)
          var text = StrUtil.replaceLiterals(t0,
            if (q.key != "text_3") normTextPairsFull else normTextPairsText3)
          if (text.indexOf("\\u") >= 0) // gate: the regex needs a literal \u
            text = escapedUnicodeRe.replaceAllIn(text, "")
          text = collapseWs(text)
          // golden-derived: the OCR "IS N OT" artifact is fixed only in the
          // final html_text; temporary_html_text keeps it as extracted
          if (q.key == "text_3" && tk == "html_text") text = text.replace("IS N OT", "IS NOT")
          q.control = q.control.updated(tk, JStr(
            if (text.startsWith("<p>")) text else s"<p>$text</p>"))
        }
      }
      q.title = normalizeTitle(q.title)
    }
    spec
  }

  def normalizeTitle(title: String): String = {
    // [\uf000-\uffff] strip (gated) + \uf071 strip + trailing-\s trim,
    // regex-free: titles are short and this runs once per field
    var t = title
    var hasHigh = false
    var i = 0
    while (i < t.length && !hasHigh) { if (t.charAt(i) >= '\uf000') hasHigh = true; i += 1 }
    if (hasHigh) t = t.filterNot(c => c >= '\uf000')
    var end = t.length
    def isWs(c: Char) = c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    while (end > 0 && isWs(t.charAt(end - 1))) end -= 1
    if (end == t.length) t else t.substring(0, end)
  }

  private val authKey = "i_authorize_the_release_of_my_personal_information_necessary_to_process_my_dental_benefit_claims,_including_health_information,_"

  def normalizeAuthorizationField(spec: Vector[SpecQ]): Vector[SpecQ] = {
    spec.find(_.key == authKey).foreach { q =>
      val default = JStr("<p>I have read the above and agree to the financial and scheduling terms.</p>")
      val options = q.control.get("options").getOrElse(JArr(Vector.empty))
      val html = q.control.get("html_text").getOrElse(default)
      val temp = q.control.get("temporary_html_text").getOrElse(default)
      q.control = JObj(Vector(
        "temporary_html_text" -> temp, "html_text" -> html,
        "text" -> JStr(""), "options" -> options))
    }
    spec
  }
}

object ConsentShaping {
  /** field_processing/consent_shaping_manager.py. */
  // the reference's `.*A.*B.*` regexes are plain ordered-substring tests;
  // expressed as contains/indexOf to avoid O(n^2) backtracking on large html
  private val singleConsentMarkers = Vector(
    "i understand", "i acknowledge", "i agree", "i consent", "i authorize")
  private val orderedConsentMarkers = Vector(
    ("i have been", "informed"), ("risks", "benefits"),
    ("alternative", "treatment"), ("financial", "responsibility"),
    ("informed", "consent"))
  private val consentKeywords = Vector("consent", "acknowledge", "understand", "agree",
    "authorize", "risks", "benefits", "complications", "treatment", "procedure")
  // all three marker groups in ONE automaton: a single first/last-position
  // fold walk over the (multi-KB) html answers the single-marker presence,
  // every ordered A-then-B pair AND the distinct-keyword count — the
  // chained form rescanned the text up to 7x per call (PropertySpec pins
  // the equivalence)
  private val ccSingleN = singleConsentMarkers.length
  private val ccPairBase = ccSingleN
  private val ccKwBase = ccPairBase + 2 * orderedConsentMarkers.length
  private val ccAC = MultiSubstring(
    singleConsentMarkers ++
      orderedConsentMarkers.flatMap { case (a, b) => Vector(a, b) } ++
      consentKeywords)

  def isConsentContent(text: String): Boolean = {
    if (text == null || text.isEmpty) return false
    // disjunction of single markers / ordered pairs / >=2 distinct keywords,
    // decided in one walk that stops at the earliest satisfying character
    ccAC.foldSegmentedDisjunction(text, ccSingleN, ccPairBase,
      orderedConsentMarkers.length, ccKwBase, 2)
  }

  def applyConsentShaping(spec: Vector[SpecQ]): Vector[SpecQ] = {
    spec.foreach { q =>
      if (q.fieldType == "text") {
        q.control.getOrNull("html_text") match {
          case JStr(h) if isConsentContent(h) =>
            SpecNormalization.htmlTextKeys.foreach { tk =>
              q.control.getOrNull(tk) match {
                case JStr(t) if t.nonEmpty && !t.trim.startsWith("<p>") =>
                  q.control = q.control.updated(tk, JStr(s"<p>${t.trim}</p>"))
                case _ => ()
              }
            }
          case _ => ()
        }
      }
    }
    ensureConsentStructure(spec)
  }

  private val consentTitleWords = Vector("consent", "agreement", "authorization")
  private val consentHtmlWords = Vector("consent", "understand", "acknowledge", "agree")

  private val consentTitleAC = MultiSubstring(consentTitleWords)
  private val consentHtmlAC = MultiSubstring(consentHtmlWords)

  private def isConsentForm(spec: Vector[SpecQ]): Boolean = {
    var indicators = 0
    spec.foreach { q =>
      // fold DFA == contains over the lowered copies, without the copies
      // (html_text can be multi-KB on policy fields)
      if (consentTitleAC.containsAnyFold(q.title) || consentTitleAC.containsAnyFold(q.section))
        indicators += 1
      if (q.fieldType == "text") {
        q.control.getOrNull("html_text") match {
          case JStr(h) => if (consentHtmlAC.containsAnyFold(h)) indicators += 1
          case _ => ()
        }
      }
    }
    indicators >= 2
  }

  private def ensureConsentStructure(spec0: Vector[SpecQ]): Vector[SpecQ] = {
    var spec = spec0
    if (!isConsentForm(spec)) return spec
    if (!spec.exists(_.fieldType == "signature"))
      spec = spec :+ SpecQ("signature", "signature", "Signature", JObj(Vector.empty),
        "Signature", optional = false, lineIdx = -1)
    if (!spec.exists(_.key == "date_signed"))
      spec = spec :+ SpecQ("date_signed", "date", "Date Signed",
        JObj.of("input_type" -> JStr("past")), "Signature", optional = false,
        lineIdx = -1)
    spec
  }
}

object MainValidator {
  /** ModentoSchemaValidator, pdf_to_json_converter.py:49-541. */
  // hoisted hot-loop literal sets (allocated once, not per field)
  private val validInputTypes = Set("name", "email", "phone", "number", "ssn", "zip", "initials", "address")
  private val dateInputTypes = Set("past", "future")
  private val optionTypes = Set("radio", "checkbox", "dropdown")
  private val unwantedDupKeys = Set("relationship_to_patient_2_2", "text_4_2")
  private val validTypes = Set("input", "radio", "checkbox", "dropdown", "states",
    "date", "signature", "initials", "text", "header")
  private val genericFieldWhitelist = Set(
    "Date", "Phone", "Street", "City", "State", "Zip", "Name", "Address",
    "First Name", "Last Name", "Email", "E-Mail", "SSN", "Social Security No.",
    "Occupation", "Employer", "Insurance Company", "ID Number")
  private val patientSections = Set("Patient Information", "Patient Info", "Patient Information Form")

  /** ensure_unique_keys with order-dependent duplicate merge
    * (pdf_to_json_converter.py:103-209). */
  def ensureUniqueKeys(spec0: Vector[SpecQ]): Vector[SpecQ] = {
    val spec = mutable.ArrayBuffer[SpecQ](spec0: _*)

    def isNumbered(key: String): Boolean = {
      // key ends in "_<digits>" (no split/array allocation)
      val u = key.lastIndexOf('_')
      if (u < 0 || u == key.length - 1) return false
      var i = u + 1
      while (i < key.length) { if (!key.charAt(i).isDigit) return false; i += 1 }
      true
    }

    // isNumbered precomputed once per field (the pairwise scan below is
    // O(n²) and recomputed it per comparison); -1 sentinel instead of
    // Option so the scan allocates nothing
    val numbered = Array.tabulate(spec.length)(i => isNumbered(spec(i).key))
    val toRemove = mutable.ArrayBuffer[Int]()
    var ci = 0
    while (ci < spec.length) {
      var mergeWith = -1
      if (!numbered(ci)) {
        val current = spec(ci)
        val t = current.title
        if (t.length > 2) { // subsumes the nonEmpty checks
          val isGeneric = genericFieldWhitelist.contains(t)
          val stateSkip = t == "State"
          var p = 0
          while (p < ci && mergeWith < 0) {
            val prev = spec(p)
            if (!numbered(p) && prev.title == t && !stateSkip) {
              if (isGeneric && prev.section != current.section) {
                // generic fields only merge within the same section
              } else if (prev.section == current.section) mergeWith = p
              else if (!isGeneric && patientSections.contains(prev.section) &&
                       patientSections.contains(current.section)) mergeWith = p
            }
            p += 1
          }
        }
      }
      if (mergeWith >= 0) {
        val current = spec(ci)
        val prev = spec(mergeWith)
        if (current.section == "Patient Information" && prev.section == "Patient Information Form")
          toRemove += mergeWith
        else toRemove += ci
      }
      ci += 1
    }
    toRemove.sorted(Ordering[Int].reverse).foreach(spec.remove)

    val seen = mutable.Set[String]()
    spec.foreach { q =>
      var key = q.key
      val base = key
      var counter = 2
      while (seen.contains(key)) { key = s"${base}_$counter"; counter += 1 }
      seen += key
      q.key = key
    }
    spec.toVector
  }

  def validateAndNormalize(spec0: Vector[SpecQ]): Vector[SpecQ] = {
    var spec = spec0
    // signature uniqueness by type; drop input fields keyed "signature"
    // (drops apply only when a signature-type field exists — index loop,
    // no zipWithIndex/Set materializations per call)
    var firstSig = -1
    var i0 = 0
    while (i0 < spec.length && firstSig < 0) {
      if (spec(i0).fieldType == "signature") firstSig = i0
      i0 += 1
    }
    if (firstSig >= 0) {
      spec(firstSig).key = "signature"
      val b = Vector.newBuilder[SpecQ]
      var i = 0
      while (i < spec.length) {
        val q = spec(i)
        val drop = (q.fieldType == "signature" && i != firstSig) ||
          (q.fieldType == "input" && q.key == "signature")
        if (!drop) b += q
        i += 1
      }
      spec = b.result()
    } else
      spec = spec :+ SpecQ("signature", "signature", "Signature", JObj(Vector.empty),
        "Signature", optional = false, lineIdx = -1)

    spec = ensureUniqueKeys(spec)

    spec.foreach { q =>
      if (validTypes.contains(q.fieldType)) {
        if (q.fieldType == "states") q.control = JObj(Vector.empty)
        if (q.control.getOrNull("hint") == JNull) q.control = q.control.without("hint")
        if (q.fieldType == "input") {
          val ok = q.control.getOrNull("input_type") match {
            case JStr(s) => validInputTypes.contains(s); case _ => false
          }
          if (!ok) q.control = q.control.updated("input_type", JStr("name"))
          if (q.key == "if_different_from_patient_street")
            q.control = q.control.updated("input_type", JStr("address"))
        }
        if (q.fieldType == "date") {
          val ok = q.control.getOrNull("input_type") match {
            case JStr(s) => dateInputTypes.contains(s); case _ => false
          }
          if (!ok) q.control = q.control.without("input_type")
        }
        if (q.fieldType == "signature") q.control = JObj(Vector.empty)
        if (optionTypes.contains(q.fieldType)) {
          q.control.getOrNull("options") match {
            case JArr(opts) =>
              val fixed = opts.map {
                case o: JObj =>
                  val v = o.getOrNull("value")
                  if (v == null || v == JNull || v == JStr("")) {
                    val name = o.getOrNull("name") match {
                      case JStr(s) => s; case _ => "option"
                    }
                    o.updated("value", JStr(Slugify.slugify(name)))
                  } else o
                case other => other
              }
              q.control = q.control.updated("options", JArr(fixed))
            case _ => ()
          }
        }
      }
    }

    spec = applyConsentShapingValidator(spec)
    spec = applyMedicalHistoryGrouping(spec)
    spec = applyStableOrdering(spec)
    spec = spec.filterNot(q => unwantedDupKeys.contains(q.key))
    spec = ensureNoWitnessFields(spec)
    spec
  }

  /** validator-level consent shaping (pdf_to_json_converter.py:325-372). */
  private def applyConsentShapingValidator(spec0: Vector[SpecQ]): Vector[SpecQ] = {
    var spec = spec0
    val consentKeywords = Vector("risk", "side effect", "benefit", "alternative", "consent", "i understand")
    val appended = mutable.ArrayBuffer[SpecQ]()
    spec.foreach { q =>
      if (q.fieldType == "text" && q.section == "Signature") {
        val textContent = (q.control.getOrNull("text") match {
          case JStr(s) => s; case _ => ""
        }).toLowerCase
        if (consentKeywords.exists(textContent.contains) &&
            !spec.exists(_.key == "acknowledge") && !appended.exists(_.key == "acknowledge")) {
          appended += SpecQ("acknowledge", "checkbox",
            "I have read and understand the information above.",
            JObj.of("options" -> JArr(Vector(JObj.of("name" -> JStr("I agree"), "value" -> JStr("I agree"))))),
            "Consent", optional = false, lineIdx = -1)
        }
      }
    }
    spec = spec ++ appended
    if (!spec.exists(q => q.key == "date_signed" && q.fieldType == "date"))
      spec = spec :+ SpecQ("date_signed", "date", "Date Signed",
        JObj.of("input_type" -> JStr("past")), "Signature", optional = false,
        lineIdx = -1)
    spec
  }

  /** medical-history grouping (pdf_to_json_converter.py:375-451). */
  def applyMedicalHistoryGrouping(spec: Vector[SpecQ]): Vector[SpecQ] = {
    val sequences = mutable.ArrayBuffer[Vector[Int]]()
    var current = mutable.ArrayBuffer[Int]()
    spec.zipWithIndex.foreach { case (q, i) =>
      val isMedical = q.section == "Medical History" &&
        (q.fieldType == "checkbox" || q.fieldType == "radio") &&
        (q.control.getOrNull("options") match {
          case JArr(o) => o.length == 1; case _ => false
        })
      if (isMedical) current += i
      else if (current.nonEmpty) { sequences += current.toVector; current = mutable.ArrayBuffer() }
    }
    if (current.nonEmpty) sequences += current.toVector
    val toGroup = sequences.filter(_.length >= 6)
    if (toGroup.isEmpty) return spec
    val skip = toGroup.flatten.toSet
    val firstOf = toGroup.map(seq => seq.head -> seq).toMap
    val result = mutable.ArrayBuffer[SpecQ]()
    spec.zipWithIndex.foreach { case (q, i) =>
      if (skip.contains(i)) {
        firstOf.get(i).foreach { seq =>
          val options = seq.flatMap(idx => {
            val t = spec(idx).title
            if (t.nonEmpty) Some(JObj.of("name" -> JStr(t), "value" -> JStr(t))) else None
          })
          result += SpecQ("medical_history", "checkbox", "Medical History",
            JObj.of("options" -> JArr(options.toVector)), "Medical History",
            optional = true, lineIdx = spec(seq.head).lineIdx)
        }
      } else result += q
    }
    result.toVector
  }

  /** stable ordering + positioning fix (pdf_to_json_converter.py:453-503).
    * Python quirk preserved: fields appended without meta get
    * line_idx = their current position (setdefault(idx)), NOT infinity. */
  def applyStableOrdering(spec0: Vector[SpecQ]): Vector[SpecQ] = {
    val spec = mutable.ArrayBuffer[SpecQ](spec0: _*)
    spec.zipWithIndex.foreach { case (q, i) =>
      if (q.lineIdx == -1) q.lineIdx = i
    }
    // fix_field_positioning_issues: relationship_to_patient_2 right after date_of_birth_2
    val relIdx = spec.indexWhere(_.key == "relationship_to_patient_2")
    val dobIdx = spec.indexWhere(_.key == "date_of_birth_2")
    if (relIdx >= 0 && dobIdx >= 0 && relIdx > dobIdx) {
      val rel = spec.remove(relIdx)
      spec.insert(dobIdx + 1, rel)
      spec.zipWithIndex.foreach { case (q, i) => q.lineIdx = i }
    }
    spec.sortInPlaceBy(_.lineIdx).toVector // stable TimSort, no sorted copy
  }

  def ensureNoWitnessFields(spec: Vector[SpecQ]): Vector[SpecQ] =
    // every indicator contains the bare "witness" token (itself in the
    // bank), so the whole bank reduces to one case-insensitive scan per
    // field — no per-field toLowerCase copies
    spec.filterNot(q => StrUtil.indexOfIgnoreCase(q.key, "witness", 0) >= 0 ||
      StrUtil.indexOfIgnoreCase(q.title, "witness", 0) >= 0)

  /** _ensure_signature_compliance (pdf_to_json_converter.py:5306-5330). */
  def ensureSignatureCompliance(spec0: Vector[SpecQ]): Vector[SpecQ] = {
    val sigs = spec0.filter(_.fieldType == "signature")
    if (sigs.length > 1) {
      sigs.head.key = "signature"
      spec0.filter(q => q.fieldType != "signature" || (q eq sigs.head))
    } else if (sigs.length == 1) { sigs.head.key = "signature"; spec0 }
    else spec0 :+ SpecQ("signature", "signature", "Signature", JObj(Vector.empty),
      "Signature", optional = false, lineIdx = -1)
  }

  /** _apply_final_cleanup (pdf_to_json_converter.py:5332-5349). */
  def applyFinalCleanup(spec: Vector[SpecQ]): Vector[SpecQ] = {
    spec.foreach { q =>
      if (q.fieldType == "states" || q.fieldType == "signature") q.control = JObj(Vector.empty)
      q.title = SpecNormalization.normalizeTitle(q.title)
    }
    spec
  }
}

/** Records-release fixed template emission
  * (pdf_to_json_converter.py:3220-3399): Section A patient fields, release
  * checkbox groups, Release-To block, signature block with initials_2.
  */
object RecordsRelease {
  private def in(key: String, title: String, section: String, inputType: String,
                 lineIdx: Int, optional: Boolean = false): FieldInfo =
    FieldInfo(key, title, "input", section, optional,
      JObj.of("input_type" -> JStr(inputType)), lineIdx)

  def extract(textLines: Seq[String]): Vector[FieldInfo] = Vector(
    in("patient_name", "Patient Name", "Patient Information", "name", 0),
    FieldInfo("date_of_birth", "Date of Birth", "date", "Patient Information",
      optional = false, JObj.of("input_type" -> JStr("past")), 1),
    in("street", "Street", "Patient Information", "address", 2),
    in("city", "City", "Patient Information", "name", 3),
    FieldInfo("state", "State", "states", "Patient Information",
      optional = false, JObj(Vector.empty), 4),
    in("zip", "Zip", "Patient Information", "zip", 5),
    in("mobile_phone", "Mobile Phone", "Patient Information", "phone", 6),
    in("home_phone", "Home Phone", "Patient Information", "phone", 7),
    FieldInfo("complete_records", "Complete records", "checkbox",
      "Information to be Released", optional = false,
      JObj.of("options" -> JArr(Vector(
        JObj.of("name" -> JStr("Complete records"), "value" -> JBool(true))))), 100),
    FieldInfo("limited_records_options", "Limited records", "checkbox",
      "Information to be Released", optional = false,
      JObj.of("options" -> JArr(Vector(
        JObj.of("name" -> JStr("Radiographs/Images"), "value" -> JStr("radiographs")),
        JObj.of("name" -> JStr("Reports"), "value" -> JStr("reports")),
        JObj.of("name" -> JStr("Other"), "value" -> JStr("other"))))), 101),
    in("other_specify", "Other (specify)", "Information to be Released", "name", 102, optional = true),
    in("recipient_name", "Name", "Release To", "name", 200),
    in("recipient_address", "Address", "Release To", "address", 201),
    in("recipient_phone", "Phone", "Release To", "phone", 202),
    in("recipient_fax", "Fax", "Release To", "phone", 203),
    in("patient_employed_by", "Patient Employed By", "Signature", "name", 300),
    in("occupation", "Occupation", "Signature", "name", 301),
    in("in_case_of_emergency_who_should_be_notified",
      "In case of emergency, who should be notified", "Signature", "name", 302),
    in("relationship_to_patient", "Relationship to Patient", "Signature", "name", 303),
    FieldInfo("signature", "Signature", "signature", "Signature",
      optional = false, JObj(Vector.empty), 400),
    FieldInfo("date_signed", "Date Signed", "date", "Signature",
      optional = false, JObj.of("input_type" -> JStr("past")), 401),
    in("initials_2", "Initial", "Signature", "initials", 402))
}
