package graft.model

/** Core field model, mirroring the reference's FieldInfo dataclass
  * (/root/reference/pdf_to_json_converter.py:30-43;
  * /root/reference/consent_converter.py:33-46) but with an explicitly
  * ordered `control` (Python dicts preserve insertion order, and the golden
  * JSONs are byte-compared, so control-key order is semantic).
  */
final case class FieldInfo(
    key: String,
    title: String,
    fieldType: String,
    section: String,
    optional: Boolean = false,
    control: JObj = JObj(Vector.empty),
    lineIdx: Int = 0
)

/** The two divergent pipelines (SURVEY.md §2.9):
  *   - Main: pdf_to_json_converter.py (markdown export, optional key emitted)
  *   - Consent: consent_converter.py (text export, no optional key in golden
  *     output, hint/input_type nulls kept, date "any" allowed)
  */
sealed trait ExtractionProfile
object ExtractionProfile {
  case object Main extends ExtractionProfile
  case object Consent extends ExtractionProfile
}

object Spec {

  /** Assemble the output question array in golden key order
    * `{key, type, title, control, section[, optional]}` — see the golden
    * JSONs under "/root/reference/references/Matching JSON References". The Main
    * profile emits `optional`; the Consent-era goldens omit it.
    */
  def toJson(fields: Seq[FieldInfo], includeOptional: Boolean): JArr =
    JArr(fields.toVector.map { f =>
      val base = Vector[(String, JVal)](
        "key" -> JStr(f.key),
        "type" -> JStr(f.fieldType),
        "title" -> JStr(f.title),
        "control" -> f.control,
        "section" -> JStr(f.section)
      )
      JObj(if (includeOptional) base :+ ("optional" -> JBool(f.optional)) else base)
    })

  def render(fields: Seq[FieldInfo], includeOptional: Boolean): String =
    Json.render(toJson(fields, includeOptional))
}

object Slugify {

  /** Validator slugify (/root/reference/pdf_to_json_converter.py:53-66 and
    * consent_converter.py:56-69): NFKD-normalize, drop combining marks,
    * non-alphanumeric runs -> `_`, trim `_`, lowercase, fallback.
    */
  def slugify(text: String, fallback: String = "field"): String = {
    if (text == null || text.trim.isEmpty) return fallback
    val norm = java.text.Normalizer.normalize(text, java.text.Normalizer.Form.NFKD)
    // single pass, equivalent to: drop marks, [^a-zA-Z0-9]+ -> "_", trim "_",
    // lowercase (only ASCII alphanumerics survive, so per-char lowercase is
    // exact) — this runs once per extracted field, so no per-call regexes
    val sb = new java.lang.StringBuilder(norm.length)
    var pendingSep = false
    var i = 0
    while (i < norm.length) {
      val ch = norm.charAt(i)
      val alnum = (ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z') ||
        (ch >= '0' && ch <= '9')
      if (alnum) {
        if (pendingSep && sb.length() > 0) sb.append('_')
        pendingSep = false
        sb.append(if (ch >= 'A' && ch <= 'Z') (ch + 32).toChar else ch)
      } else {
        val t = Character.getType(ch)
        if (t != Character.NON_SPACING_MARK && t != Character.COMBINING_SPACING_MARK &&
            t != Character.ENCLOSING_MARK)
          pendingSep = true
      }
      i += 1
    }
    if (sb.length() == 0) fallback else sb.toString
  }
}
