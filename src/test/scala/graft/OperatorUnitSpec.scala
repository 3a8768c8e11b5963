package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.extract._
import graft.model._

/** Operator-level micro-fixtures lifted from the reference's own unit tests
  * (FIXTURES.md §3).
  */
class OperatorUnitSpec extends AnyFunSuite {

  test("header/footer manager drops practice lines, keeps form labels (test_refactoring.py:52-60)") {
    val lines = Seq(
      "Smile Dental • 123 Main St • City, IL 60000",
      "Patient Name:",
      "Date of Birth:",
      "www.smiledental.com • phone@dental.com")
    val cleaned = HeaderFooterMain.removePracticeHeadersFooters(lines)
    assert(cleaned == Seq("Patient Name:", "Date of Birth:"), cleaned.toString)
  }

  test("form-content whitelist protects policy lines from removal") {
    val policy = "Our practice  IS  IS N OT (check one) a contracted provider"
    assert(!HeaderFooterMain.isPracticeInformation(policy))
    assert(HeaderFooterMain.isPracticeInformation("Kingery Dental Group"))
    assert(HeaderFooterMain.isPracticeInformation("page 3 of 4"))
    assert(HeaderFooterMain.isPracticeInformation("© 2024 all rights reserved"))
  }

  test("mixed practice/form lines keep only the consent fragment") {
    val mixed = "www.smiledental.com • Informed Consent for Tooth Removal • call today"
    assert(HeaderFooterMain.hasMixedPracticeContent(mixed))
    assert(HeaderFooterMain.extractFormContent(mixed) == "Informed Consent for Tooth Removal")
  }

  test("key normalization patient_s_name -> patient_name (test_refactoring.py:43-48)") {
    val spec = Vector(SpecQ("patient_s_name", "input", "Patient Name",
      JObj(Vector.empty), "Test", optional = false, 0))
    assert(SpecNormalization.normalizeFieldKeys(spec).head.key == "patient_name")
  }

  test("placeholder cases (test_consent_placeholders.py:22-40)") {
    assert(ConsentExtractor.applyPlaceholders("Planned Procedure: _____") ==
      "Planned Procedure: {{planned_procedure}}")
    assert(ConsentExtractor.applyPlaceholders("Planned Procedure: _______________") ==
      "Planned Procedure: {{planned_procedure}}")
    assert(ConsentExtractor.applyPlaceholders("Planned procedure: _______")
      .contains("{{planned_procedure}}"))
    assert(ConsentExtractor.applyPlaceholders("Diagnosis: ____") == "Diagnosis: {{diagnosis}}")
    assert(ConsentExtractor.applyPlaceholders("Date of Birth: ____") ==
      "Date of Birth: {{patient_dob}}")
    // Date Signed is excluded by the lookbehind
    assert(!ConsentExtractor.applyPlaceholders("Date Signed Date: rest")
      .startsWith("Date Signed Date: {{today_date}}") ||
      ConsentExtractor.applyPlaceholders("x Signed Date: y").contains("Signed Date:"))
  }

  test("witness/underscore-ratio signature lines (test_enhanced_signature_filtering.py)") {
    assert(ConsentExtractor.isWitnessOrDoctorSignatureField("witness signature: ____"))
    assert(ConsentExtractor.isWitnessOrDoctorSignatureField("doctor signature"))
    assert(ConsentExtractor.isWitnessOrDoctorSignatureField("legally authorized representative"))
    assert(ConsentExtractor.isWitnessOrDoctorSignatureField("___________________________"))
    assert(!ConsentExtractor.isWitnessOrDoctorSignatureField("patient signature here"))
    // parent/guardian names pass when the flag is off (field extraction mode)
    assert(!ConsentExtractor.isWitnessOrDoctorSignatureField(
      "parent/guardian's name: ____", filterParentGuardianNames = false))
    assert(ConsentExtractor.isWitnessOrDoctorSignatureField(
      "parent/guardian's name: ____", filterParentGuardianNames = true))
  }

  test("hash-marker title ladder (test_hash_marker_removal.py)") {
    val (html, title) = ConsentExtractor.createEnhancedConsentHtml(
      Seq("# Informed refusal of necessary x-rays", "Body of the form text here."))
    assert(title.contains("Informed refusal of necessary x-rays"))
    assert(html.startsWith("<div style=\"text-align:center\"><strong>Informed refusal of necessary x-rays</strong>"))
  }

  test("universal extractor: sections, inputs, signature/date") {
    val lines = Seq(
      "## PATIENT INFORMATION",
      "First Name: ____________",
      "Sex",
      "Signature ____ Date ____")
    val fields = UniversalExtractor.extract(lines)
    val keys = fields.map(_.key)
    assert(keys.contains("first_name"), keys.toString)
    assert(keys.contains("signature") && keys.contains("date_signed"))
    assert(fields.forall(_.section == "Patient Information Form"))
  }

  test("section-header map + current-section lookup (#18/#19)") {
    val lines = Seq("## MEDICAL HISTORY", "a", "b", "## SIGNATURE", "c")
    val m = UniversalExtractor.detectSectionHeaders(lines)
    assert(m(0) == "Medical History" && m(3) == "Signature")
    assert(UniversalExtractor.currentSection(2, m) == "Medical History")
    assert(UniversalExtractor.currentSection(4, m) == "Signature")
  }

  test("medical-history checkbox run bundles >=4 items into one checkbox (#28)") {
    val lines = Seq(
      "## MEDICAL HISTORY",
      "□ Diabetes",
      "□ Heart Disease",
      "□ Asthma",
      "□ High Blood Pressure",
      "□ Arthritis",
      "Allergies: ____________")
    val fields = PatientInfoMachine.extract(lines)
    val mh = fields.find(_.key == "medical_history")
    assert(mh.isDefined, fields.map(_.key).toString)
    val opts = mh.get.control.get("options").collect { case JArr(o) => o.length }.getOrElse(0)
    assert(opts >= 4, mh.get.control.toString)
    assert(mh.get.optional)
  }

  test("risks consent paragraph emits text+acknowledge+signature+date block (#37)") {
    val lines = Seq(
      "## SIGNATURE",
      "There are risks and potential complications with this treatment that you should understand fully beforehand.",
      "These include swelling and discomfort which usually resolve quickly after treatment ends.")
    val fields = PatientInfoMachine.extract(lines)
    val keys = fields.map(_.key)
    assert(keys.contains("risks_and_acknowledgment"), keys.toString)
    assert(keys.contains("acknowledge"))
    assert(keys.contains("signature"))
  }

  test("generic same-line checkbox question becomes a radio (#4530)") {
    val lines = Seq("Preferred appointment time □ Morning □ Afternoon □ Evening")
    val fields = PatientInfoMachine.extract(lines)
    val radio = fields.find(_.key == "preferred_appointment_time")
    assert(radio.isDefined && radio.get.fieldType == "radio", fields.map(_.key).toString)
  }

  test("repeated field titles map to successive main_text occurrences") {
    val doc = "## PATIENT INFORMATION\nFirst Name\nCity\nState\nZip\n" +
      "## DENTAL BENEFIT PLAN INFORMATION PRIMARY\nCity\nState\nZip\nSignature: ____"
    val e = graft.extract.Extractor.extractTurn(doc, "docling_md")
    val resolved = e.spans.filter(_.start >= 0)
    // the two document occurrences of "City" (and "State", "Zip") are
    // assigned to distinct spans, in order
    Seq("City", "State", "Zip").foreach { title =>
      val occ1 = e.mainText.indexOf(title)
      val occ2 = e.mainText.indexOf(title, occ1 + 1)
      assert(occ1 >= 0 && occ2 > occ1, s"test doc must repeat $title")
      val starts = resolved.filter(s => e.mainText.startsWith(title, s.start) &&
        s.end - s.start == title.length).map(_.start).distinct.sorted
      assert(starts.take(2) == Vector(occ1, occ2), s"$title spans=$starts")
    }
    // injected fields whose title has no further occurrence fall back to the
    // first occurrence instead of -1
    assert(resolved.nonEmpty)
  }
}
