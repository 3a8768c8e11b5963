package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.model.Slugify
import graft.extract.ConsentExtractor
import graft.functions.TextFns

/** Property-based invariants (SURVEY.md §5.2). */
class PropertySpec extends AnyFunSuite {

  /** Deterministic sampler over a ScalaCheck Gen (scalatestplus is not in
    * the offline cache; raw scalacheck is). */
  private def forAll[A](gen: Gen[A], n: Int = 150)(f: A => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(42L)
    var i = 0
    while (i < n) {
      gen.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
      i += 1
    }
  }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(t => f(t._1, t._2))

  private val anyText: Gen[String] = Gen.asciiPrintableStr
  private val wordText: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaNumStr, Gen.const("the"), Gen.const("Dr."),
      Gen.const("___"), Gen.const("Tooth"))).map(_.mkString(" "))

  test("slugify is idempotent and emits only [a-z0-9_]") {
    forAll(anyText) { s =>
      val once = Slugify.slugify(s)
      assert(Slugify.slugify(once) == once)
      assert(once.matches("[a-z0-9_]+"), once)
      assert(!once.startsWith("_") && !once.endsWith("_"))
    }
  }

  test("placeholder substitution is idempotent (negative-lookahead guards)") {
    forAll(wordText) { s =>
      val once = ConsentExtractor.applyPlaceholders(s)
      val twice = ConsentExtractor.applyPlaceholders(once)
      assert(twice == once, s"input=$s")
    }
  }

  test("consent HTML never emits unbalanced <ul>") {
    val lineGen = Gen.oneOf(
      Gen.alphaNumStr.map(s => s"- bullet $s"),
      Gen.alphaNumStr.map(s => s"Plain line $s"),
      Gen.const(""),
      Gen.alphaNumStr.map(s => s"## Header $s"))
    forAll(Gen.listOf(lineGen)) { lines =>
      val (html, _) = ConsentExtractor.createEnhancedConsentHtml(lines)
      val opens = "<ul>".r.findAllIn(html).length
      val closes = "</ul>".r.findAllIn(html).length
      assert(opens == closes, html)
    }
  }

  test("validator key uniqueness never collides") {
    forAll(Gen.listOf(Gen.oneOf("a", "b", "signature", "date_signed", "a_2"))) { keys =>
      val fields = keys.toVector.map(k =>
        graft.model.FieldInfo(k, k.capitalize + " title word", "input", "Form"))
      val out = ConsentExtractor.validateAndNormalize(fields)
      val outKeys = out.map(_.key)
      assert(outKeys.distinct.length == outKeys.length, outKeys.toString)
      assert(out.count(_.fieldType == "signature") == 1)
    }
  }

  test("extraction always yields signature + date_signed and valid JSON") {
    forAll(Gen.listOf(anyText)) { lines =>
      val fields = ConsentExtractor.convertFields(lines)
      assert(fields.exists(f => f.fieldType == "signature" && f.key == "signature"))
      assert(fields.exists(_.key == "date_signed"))
      val json = graft.model.Spec.render(fields, includeOptional = false)
      assert(json.startsWith("[") && json.endsWith("]"))
    }
  }

  test("minhash signature similarity tracks shingle jaccard direction") {
    val doc = Gen.listOfN(30, Gen.oneOf("spark", "scala", "data", "table", "row",
      "join", "agg", "filter", "scan", "merge")).map(_.mkString(" "))
    forAll(doc) { d =>
      val sigSelf = TextFns.minHashSignature(d, 3, 64)
      assert(sigSelf.sameElements(TextFns.minHashSignature(d, 3, 64)), "deterministic")
      assert(TextFns.jaccardShingles(d, d, 3) == 1000)
    }
  }

  test("streaming minhash == hashing the materialized shingle strings") {
    // the allocation-free signature must be value-identical to the
    // wordShingles+hash64 reference form, incl. the short-text single
    // shingle and empty/null cases
    val word = Gen.oneOf("spark", "scala", "data", "Table", "ROW", "a", "", " ",
      "join,", "agg.", "café", "xy", "a\tb", "z")
    val doc = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    forAll(doc, n = 400) { d =>
      val sh = TextFns.wordShingles(d, 3)
      val ref = Array.fill(64)(Long.MaxValue)
      sh.foreach { s =>
        val base = TextFns.hash64(s)
        var p = 0
        while (p < 64) {
          val h = base * (2 * p + 1) + 0x9E3779B97F4A7C15L * p
          if (h < ref(p)) ref(p) = h
          p += 1
        }
      }
      assert(TextFns.minHashSignature(d, 3, 64).sameElements(ref), s"doc=$d")
    }
    assert(TextFns.minHashSignature(null, 3, 64).forall(_ == Long.MaxValue))
  }

  test("simhash of identical docs is identical; hamming <= 64") {
    forAll(anyText) { a =>
      assert(TextFns.simHash(a) == TextFns.simHash(a))
    }
  }

  test("XY-cut single-column order recovery under permutation") {
    forAll(Gen.choose(1, 20), Gen.choose(0L, 1000L)) { (n, seed) =>
      val lines = (0 until n).map(i => s"line number $i").toVector
      val runs = graft.parse.XYCut.synthesizeColumns(lines, cols = 1)
      val perm = new scala.util.Random(seed).shuffle(runs)
      assert(graft.parse.XYCut.toLines(perm) == lines)
    }
  }

  test("hand-rolled checkbox option scanner == reference regex") {
    import graft.extract.PatientInfoMachine
    // alphabet biased toward the overlap cases: '-','(',')' are both symbol
    // and option-content chars; include glyph symbols, ws, and plain words
    val tokens = Gen.oneOf("□", "☐", "•", "-", "–", "*", "[", "]", "(", ")",
      " ", "  ", "\t", "Yes", "No", "N/A", "full-time", "a", "Z9", "&", "/",
      "'", "Mobile Phone", ".", ",", "_")
    val lineGen = Gen.listOfN(12, tokens).map(_.mkString)
    forAll(lineGen, n = 400) { line =>
      val viaRegex = PatientInfoMachine.optionExtractRe.findAllMatchIn(line)
        .map(_.group(1).trim).filter(_.nonEmpty).toVector
      assert(PatientInfoMachine.extractCheckboxOptions(line) == viaRegex,
        s"line=${line.map(c => if (c < 127) c.toString else f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("anchored placeholder matcher == plain replaceAllIn fold") {
    val frags = Gen.oneOf(
      "Patient's Name:", "Patient Name: ___", "Patient\u2019s Name: \t__",
      "DOB:", "DOB: ____", "Date of Birth: __", "Date:", "Date: ___",
      "of Date:", "Birth Date:", "Signed Date:", "Dr. ____", "Dr.\t",
      "Tooth Number: __", "Tooth #: _", "Diagnosis: {{diagnosis}}",
      "Planned Procedure:", "Alternative Treatment: ___", "{{patient_name}}",
      " risks and benefits ", "date", "patient", "\n", " ")
    val textGen = Gen.listOfN(8, frags).map(_.mkString(" "))
    forAll(textGen, n = 300) { t =>
      val ref = ConsentExtractor.placeholderSubs.foldLeft(t) { case (c, (a, re, repl)) =>
        if (c.toLowerCase.contains(a)) re.replaceAllIn(c, repl) else c
      }
      assert(ConsentExtractor.applyPlaceholders(t) == ref, s"text=$t")
    }
  }

  test("countSignatureDatePairs == reference regex findAll count") {
    val re = "signature.*date|date.*signature".r
    val tokens = Gen.oneOf("signature", "date", "dates", "signatures", " ",
      "x", "patient ", "date of birth ", "sign here ")
    val textGen = Gen.listOfN(10, tokens).map(_.mkString)
    forAll(textGen, n = 400) { t =>
      val viaRegex = re.findAllIn(t).size
      assert(graft.extract.FormClassifier.countSignatureDatePairs(t) == viaRegex, s"text=$t")
    }
  }

  test("MultiSubstring == exists/count over contains") {
    import graft.extract.MultiSubstring
    val bank = Vector("dental office", "smile", "care", "all rights reserved",
      "office", "x-ray", "a")
    val ms = MultiSubstring(bank)
    val words = Gen.oneOf("dental", "office", "dental office", "smile", "car",
      "care", "all rights", "reserved", "all rights reserved", "x", "x-ray", "b", "")
    val textGen = Gen.listOfN(8, words).map(_.mkString(" "))
    forAll(textGen, n = 400) { t =>
      assert(ms.containsAny(t) == bank.exists(t.contains), s"text=$t")
      assert(ms.countDistinct(t) == bank.count(t.contains), s"text=$t")
    }
    // line-window scan == scan of the joined slice (windows never build
    // the joined string on the hot path)
    val linesGen = Gen.listOfN(8, Gen.oneOf("dental", "office buy", "smile",
      "all rights", "reserved", "x-r", "ay", "", "care a")).map(_.toIndexedSeq)
    val winGen = Gen.zip(linesGen, Gen.choose(0, 8), Gen.choose(0, 9))
    forAll(winGen, n = 300) { case (lines, from, until) =>
      val joined = lines.slice(from, until).mkString(" ")
      assert(ms.matchedSetLines(lines, from, until, ' ').toVector ==
        ms.matchedSet(joined).toVector, s"lines=$lines from=$from until=$until")
      // positional index answers every window query like a fresh window scan
      val idx = new graft.extract.CtxIndex(ms, lines, ' ')
      assert(idx.flags(from, until).toVector ==
        ms.matchedSetLines(lines, from, until, ' ').toVector,
        s"idx lines=$lines from=$from until=$until")
      assert(idx.flags(0, lines.length).toVector ==
        ms.matchedSetLines(lines, 0, lines.length, ' ').toVector,
        s"idx-full lines=$lines")
    }
    // prefix+full flags == independent matchedSet over the prefix slice and
    // the full text (covers the root-fast-path variant of the walk)
    forAll(Gen.zip(textGen, Gen.choose(0, 60)), n = 300) { case (t, pe) =>
      val prefixEnd = math.min(pe, t.length)
      val (pre, full) = ms.matchedSetPrefixAndFull(t, prefixEnd)
      assert(full.toVector == ms.matchedSet(t).toVector, s"full t=$t")
      assert(pre.toVector == ms.matchedSet(t.substring(0, prefixEnd)).toVector,
        s"pre t=$t prefixEnd=$prefixEnd")
    }
    // case-folded scans == scans of the lowered text (mixed-case + Kelvin)
    val mixedGen = Gen.listOfN(8, Gen.oneOf("DENTAL", "Office", "dental OFFICE",
      "SMILE", "Care", "ALL RIGHTS RESERVED", "X-Ray", "A", "K", "b", "", "\u212AELVIN", "\u0130stanbul"))
      .map(_.mkString(" "))
    forAll(mixedGen, n = 300) { t =>
      assert(ms.containsAnyFold(t) == ms.containsAny(t.toLowerCase), s"t=$t")
      assert(ms.matchedSetFold(t).toVector == ms.matchedSet(t.toLowerCase).toVector, s"t=$t")
    }
    // indexOfIgnoreCase == toLowerCase.indexOf for lowercase targets.
    // (Only meaningful where toLowerCase preserves length — U+0130 expands
    // to two chars and shifts every lowered index; the helper's offsets
    // are into the RAW string, which is what its callers need.)
    forAll(Gen.zip(mixedGen.map(_.replace('İ', 'I')),
      Gen.oneOf("dental", "office", "a", "x-ray", ""),
      Gen.choose(-2, 40)), n = 300) { case (t, tgt, from) =>
      assert(graft.extract.StrUtil.indexOfIgnoreCase(t, tgt, from) ==
        t.toLowerCase.indexOf(tgt, from), s"t=$t tgt=$tgt from=$from")
    }
    // non-ASCII pattern chars (curly apostrophe) get their own char class
    val uni = Vector("witness’s", "parent's", "café")
    val msU = MultiSubstring(uni)
    val uniText = Gen.listOfN(6, Gen.oneOf("witness’s", "witness's",
      "parent's", "parent’s", "cafe", "café", " ", "x")).map(_.mkString(" "))
    forAll(uniText, n = 200) { t =>
      assert(msU.containsAny(t) == uni.exists(t.contains), s"text=$t")
      assert(msU.countDistinct(t) == uni.count(t.contains), s"text=$t")
      assert(msU.matchedSet(t).toVector == uni.map(t.contains), s"text=$t")
    }
  }

  test("skip-header set == the reference regex bank") {
    val res = Vector(
      "(?i)^Patient Name:?\\s*$", "(?i)^Address:?\\s*$", "(?i)^Phone:?\\s*$",
      "(?i)^Work Address:?\\s*$", "(?i)^Social Security No\\.?:?\\s*$",
      "(?i)^Date of Birth:?\\s*$", "(?i)^Insurance Company:?\\s*$",
      "(?i)^Dental Plan Name:?\\s*$", "(?i)^Patient Name\\s*$").map(_.r)
    val frag = Gen.oneOf("Patient Name", "Address", "Phone", "Work Address",
      "Social Security No", "Date of Birth", "Insurance Company",
      "Dental Plan Name", "patient NAME", "Addressx", "x", "", ":", ".",
      ".:", ":.", " ", "Name")
    val lineGen = Gen.listOfN(3, frag).map(_.mkString)
    forAll(lineGen, n = 500) { raw =>
      val t = raw.trim
      val viaRegex = res.exists(_.findFirstIn(t).isDefined)
      assert(graft.extract.PatientInfoMachine.skipHeaderSet.contains(t.toLowerCase) == viaRegex,
        s"line=$raw")
    }
  }

  test("StrUtil helpers == their reference regex forms") {
    import graft.extract.StrUtil
    val charGen = Gen.oneOf(':', '?', ' ', '\t', '\u000B', '\f', '-',
      '_', '.', ',', '(', ')', 'a', 'B', '3', '’')
    val sGen = Gen.listOfN(12, charGen).map(_.mkString)
      .flatMap(s => Gen.choose(0, s.length).map(s.take))
    forAll(sGen, n = 500) { s =>
      assert(StrUtil.stripTrailingRun(s, ':') == s.replaceAll(":+$", ""), s"s=$s")
      assert(StrUtil.stripTrailingRun(s, '?') == s.replaceAll("\\?+$", ""), s"s=$s")
      assert(StrUtil.trimCharSet(s, "(),. ") ==
        s.replaceAll("^[(),. ]+|[(),. ]+$", ""), s"s=$s")
      assert(StrUtil.splitWsCount(s) == s.split("\\s+").length, s"s=$s")
      assert(StrUtil.allWsOrUnderscore(s) == s.matches("^[\\s_]*$"), s"s=$s")
      assert(StrUtil.isSeparatorLine(s) ==
        "^[_\\-\\s]*$".r.findFirstIn(s).exists(_.length == s.length), s"s=$s")
      assert(StrUtil.startsDigitsDot(s) == s.matches("^\\d+\\..*"), s"s=$s")
    }
    val lineGen = Gen.listOfN(6, Gen.oneOf("a b", "", " x ", "one\ttwo", "q:"))
    forAll(lineGen, n = 200) { ls =>
      assert(StrUtil.join(ls, ' ') == ls.mkString(" "))
      assert(StrUtil.joinTrimmed(ls, '\n') == ls.map(_.trim).mkString("\n"))
    }
  }

  test("replaceLiterals == the chained replace form on disjoint targets") {
    import graft.extract.StrUtil
    val frag = Gen.oneOf("abc", "XY", " ", "ab", "bc", "Q", "\\_", "(i)", "-")
    val srcGen = Gen.listOfN(20, frag).map(_.mkString)
    // targets chosen so no replacement creates another target and no two
    // targets can match at overlapping positions differently than the chain
    val pairs = Array("ab" -> "[AB]", "XY" -> "", "Q" -> "qq", "(i)" -> "")
    forAll(srcGen, n = 400) { src =>
      var want = src
      pairs.foreach { case (t, r) => want = want.replace(t, r) }
      assert(StrUtil.replaceLiterals(src, pairs) == want, s"src=$src")
      val sb = new java.lang.StringBuilder()
      StrUtil.replaceLiteralsInto(sb, src, 0, src.length, pairs)
      assert(sb.toString == want, s"region src=$src")
    }
  }

  test("isWorkAddressLine == the anchored work-address regex") {
    val re = "(?i)^Work Address:\\s*$".r
    val cases = Gen.oneOf("Work Address:", "work address:", "WORK ADDRESS:  ",
      "Work Address: x", "Work Address", " Work Address:", "Work Address:\t",
      "home address:", "", "Work Address:_")
    forAll(cases, n = 200) { c =>
      assert(graft.extract.PatientInfoMachine.isWorkAddressLine(c.toLowerCase) ==
        re.findFirstIn(c).isDefined, s"c=$c")
    }
  }

  test("one-pass applyPlaceholders == the chained per-sub form") {
    val frag = Gen.oneOf(
      "Patient Name: ___", "Patient Name:", "patient name: __", "Tooth Number: ___",
      "Tooth No(s). ____", "DOB: ___", "Date of Birth: ___", "Date: ___",
      "Date Signed: ___", "Dr. ____", "Planned Procedure: ___", "Diagnosis:",
      "Alternative Treatment: ___", "I, ___ (print name)", "plain text line",
      "signature ____", "<br>", " ", "consent to treatment", "Date of Birth:")
    val contentGen = Gen.listOfN(12, frag).map(_.mkString(" "))
    forAll(contentGen, n = 300) { content =>
      assert(ConsentExtractor.applyPlaceholders(content) ==
        ConsentExtractor.applyPlaceholdersChained(content), s"content=$content")
    }
  }

  test("segment-walk witness filter == the split/filter/rejoin form") {
    val seg = Gen.oneOf(
      "Witness Signature: ___", "witness printed name", "Doctor Signature",
      "Parent's Name: ___", "I consent to the procedure", "____________",
      "<strong>Consent</strong>", "Signature: ___", "", " ", "Patient/Parent/Guardian",
      "legally authorized representative", "Dr. Smith will perform", "wit<b>ness</b> x")
    val contentGen = Gen.listOfN(8, seg).map(_.mkString("<br>"))
    forAll(contentGen, n = 300) { content =>
      val want = content.split("<br>", -1).toVector.filter { s0 =>
        val textContent =
          (if (s0.indexOf('<') >= 0) "<[^>]+>".r.replaceAllIn(s0, "") else s0).trim
        textContent.isEmpty ||
          !ConsentExtractor.isWitnessOrDoctorSignatureField(textContent.toLowerCase)
      }.mkString("<br>")
      assert(ConsentExtractor.removeWitnessAndDoctorSignatures(content) == want,
        s"content=$content")
    }
  }

  test("SpecRender.renderArray is byte-identical to the JObj-tree render") {
    import graft.extract.{MainExtractor, SpecRender}
    import graft.model.{JArr, Json}
    def res(p: String): String = {
      val url = getClass.getClassLoader.getResource(p)
      require(url != null, s"missing resource $p")
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(url.toURI)),
        java.nio.charset.StandardCharsets.UTF_8)
    }
    Seq("npf", "npf_v2", "pediatric_extraction", "records_release").foreach { name =>
      val lines = res(s"fixtures/$name.txt").split("\n", -1).toSeq
      val (_, _, spec) = MainExtractor.convertToSpecFull(lines)
      assert(SpecRender.renderArray(spec) == Json.render(JArr(spec.map(_.render))), name)
    }
    assert(SpecRender.renderArray(Vector.empty) == Json.render(JArr(Vector.empty)))
  }

  test("merged line-cleaning automaton == the chained contains/regex form") {
    import graft.extract.HeaderFooterMain
    // the pre-merge reference form: independent contains-gates on the
    // trimmed lowercase plus the same regex banks, order-independent
    val practiceKeywords = Vector(
      "smile solutions", "dental office", "family dentistry", "cosmetic dentistry",
      "orthodontics", "endodontics", "periodontics", "oral surgery", "implant dentistry")
    val facilityRe = "(?i)\\b(clinic|center|associates|group|practice|office|care|solutions)\\b".r
    val facilityWords = Vector("clinic", "center", "associates", "group", "practice", "office", "care", "solutions")
    def referencePractice(line0: String): Boolean = {
      if (HeaderFooterMain.isFormContent(line0)) return false
      val line = line0.trim
      val lower = line.toLowerCase
      if (!line.exists(_.isLetter)) return true
      def re(p: String) = p.r.findFirstIn(line).isDefined
      if (line.exists(_.isDigit) && (
        re("(?i)\\b\\d{3}[-.\\s]?\\d{3}[-.\\s]?\\d{4}\\b") ||
        re("(?i)\\b\\d+\\s+[A-Za-z\\s]+(?:street|st|avenue|ave|road|rd|drive|dr|lane|ln|blvd|boulevard)\\b") ||
        re("(?i)\\b[A-Za-z\\s]+,\\s*[A-Z]{2}\\s+\\d{5}") ||
        (lower.contains("page") && re("(?i)page\\s+\\d+")) ||
        re("©.*\\d{4}") ||
        (lower.contains("revised") && re("(?i)revised.*\\d{4}")))) return true
      if (re("(?i)@.*\\.(com|org|net|edu)") && line.contains("@")) return true
      if (lower.contains("www.") && re("(?i)www\\..*\\.com")) return true
      if (re("(?i)\\b(family\\s+dental|cosmetic\\s+dentistry|pediatric\\s+dentistry|general\\s+dentistry)\\b")) return true
      if (re("(?i)\\b(orthodontic\\s+office|endodontic\\s+practice|periodontal\\s+office)\\b")) return true
      if (facilityWords.exists(lower.contains) && facilityRe.findFirstIn(line).isDefined) return true
      if (re("•.*•.*•")) return true
      if (lower.contains("smile") && re("(?i)smile.*dental")) return true
      if (lower.contains("kingery") && re("(?i)kingery.*dental")) return true
      if (lower.contains("darien") && re("(?i)darien.*il")) return true
      if (lower.contains("rights") && re("(?i)all\\s+rights\\s+reserved")) return true
      if (lower.contains("form") && re("(?i)form\\s*(id|number|version)")) return true
      practiceKeywords.exists(lower.contains)
    }
    def referenceMixed(line: String): Boolean = {
      val lower = line.toLowerCase
      (lower.contains("smile@") || lower.contains("www.")) && lower.contains("informed consent")
    }
    val frag = Gen.oneOf(
      "Smile Solutions Dental", "page 3", "Page 12 of 14", "call 555-123-4567",
      "123 Main Street", "Darien, IL 60561", "© 2023", "Revised 2019",
      "info@practice.com", "www.smiledental.com", "Family Dental Care",
      "orthodontic office", "our practice", "I authorize the release",
      "check one", "•", "• a • b • c", "informed consent", "smile@x",
      "FAMILY DENTISTRY", "periodontal office", "All Rights Reserved",
      "Form ID 7", "patient name:", "history of disease", "", "   ", "-",
      "KINGERY dental", "general dentistry office")
    val lineGen = Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, frag)).map(_.mkString(" "))
    forAll(lineGen, n = 400) { line =>
      assert(HeaderFooterMain.isPracticeInformation(line) == referencePractice(line), line)
      assert(HeaderFooterMain.hasMixedPracticeContent(line) == referenceMixed(line), line)
    }
  }

  test("classifyWithLowers == classify; lowers are the per-line lowercase views") {
    import graft.extract.FormClassifier
    val frag = Gen.oneOf(
      "FOR CHILDREN/MINORS ONLY", "Primary Dental Plan", "secondary",
      "insurance company", "Patient Name:", "signature", "date", "agree",
      "I authorize the release of records", "medical history", "",
      "employer", "different from above", "Street", "City", "State  Zip",
      "informed consent for extraction", "risks and complications",
      "□ Yes □ No", "initial", "Dental Benefit Plan Information PRIMARY",
      "responsible party", "patient responsibilities payment")
    val docGen = Gen.choose(1, 30).flatMap(n => Gen.listOfN(n, frag))
    forAll(docGen, n = 200) { lines =>
      val (t1, s1) = FormClassifier.classify(lines)
      val (t2, s2, lowers) = FormClassifier.classifyWithLowers(lines)
      assert((t1, s1) == ((t2, s2)), s"classify mismatch on $lines")
      assert(lowers == lines.map(_.toLowerCase).toIndexedSeq)
    }
  }

  test("cleaner union-flag path == separate cleaner + machine walks") {
    import graft.extract.{HeaderFooterMain, PatientInfoMachine}
    val frag = Gen.oneOf(
      "Patient Name:", "First   MI   Last", "Date of Birth:", "## MEDICAL HISTORY",
      "FOR CHILDREN/MINORS ONLY", "Primary Dental Plan", "□ Yes □ No",
      "Smile Solutions Dental", "page 3", "www.smiledental.com informed consent for implants",
      "123 Main Street", "I authorize the release", "Sex: □ M □ F",
      "Marital Status", "signature", "", "   ", "Phone:", "SECONDARY DENTAL PLAN",
      "Employer", "City", "State", "Zip", "e-mail:", "x" * 250)
    val docGen = Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, frag))
    forAll(docGen, n = 150) { lines =>
      val (cleaned, flags) = HeaderFooterMain.removePracticeHeadersFootersFlags(lines)
      assert(cleaned == HeaderFooterMain.removePracticeHeadersFooters(lines).toVector,
        s"cleaner mismatch on $lines")
      val viaFlags = PatientInfoMachine.extract(cleaned, null, flags)
      val own = PatientInfoMachine.extract(cleaned, null, null)
      assert(viaFlags == own, s"machine mismatch on $lines")
    }
  }

  test("one-pass isHeaderFooterContent == the chained contains/regex form") {
    import graft.extract.MainExtractor
    val practiceIndicators = Vector("dental practice", "dental office", "dental clinic",
      "dental center", "dental group", "dentistry", "orthodontics", "oral surgery",
      "periodontics", "endodontics")
    val medicalContext = Vector("treatment", "procedure", "surgery", "therapy", "care", "condition")
    val contactPatterns = Vector(
      "(?i)\\b\\d{3}[-.\\s]?\\d{3}[-.\\s]?\\d{4}\\b",
      "(?i)\\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Z|a-z]{2,}\\b",
      "(?i)\\b\\d+\\s+[A-Za-z\\s]+(street|st|avenue|ave|road|rd|drive|dr|lane|ln|way|blvd|boulevard)\\b").map(_.r)
    val technicalArtifacts = Vector("<!-- image -->", "<image>", "</image>",
      "cf gingivectomy", "form code:", "doc id:", "page", "header:", "footer:")
    val reFormCode = "^\\([A-Z\\s]+\\w+\\)$".r
    def reference(line: String): Boolean = {
      val lower = line.toLowerCase
      if (practiceIndicators.exists(lower.contains) && !medicalContext.exists(lower.contains)) return true
      if (contactPatterns.exists(_.findFirstIn(line).isDefined)) return true
      if (technicalArtifacts.exists(lower.contains)) return true
      if (reFormCode.findFirstIn(line.trim).isDefined) return true
      false
    }
    val frag = Gen.oneOf("Dental Practice", "treatment", "555-123-4567",
      "a@b.com", "123 Main Street", "<!-- image -->", "page", "(FORM A1)",
      "ORAL SURGERY", "surgery care", "Doc ID:", "footer:", "x", "",
      "Endodontics office", "patient name:", "header: x", "PERIODONTICS")
    val lineGen = Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, frag)).map(_.mkString(" "))
    forAll(lineGen, n = 400) { line =>
      assert(MainExtractor.isHeaderFooterContent(line) == reference(line), s"line=$line")
    }
  }

  test("one-pass isConsentContent == the chained scan form") {
    import graft.extract.{ConsentShaping, StrUtil}
    val singles = Vector("i understand", "i acknowledge", "i agree", "i consent", "i authorize")
    val pairs = Vector(
      ("i have been", "informed"), ("risks", "benefits"),
      ("alternative", "treatment"), ("financial", "responsibility"),
      ("informed", "consent"))
    val kws = Vector("consent", "acknowledge", "understand", "agree",
      "authorize", "risks", "benefits", "complications", "treatment", "procedure")
    def reference(text: String): Boolean = {
      if (text == null || text.isEmpty) return false
      val lower = text.toLowerCase
      if (singles.exists(lower.contains)) return true
      if (pairs.exists { case (a, b) =>
        val i = StrUtil.indexOfIgnoreCase(text, a, 0)
        i >= 0 && StrUtil.indexOfIgnoreCase(text, b, i + a.length) >= 0
      }) return true
      kws.count(lower.contains) >= 2
    }
    val frag = Gen.oneOf("I Understand", "risks", "BENEFITS", "informed",
      "consent", "treatment", "alternative", "financial", "responsibility",
      "i have been", "procedure", "complications", "acknowledge", "xyz",
      "benefits and risks", "<p>", "</p>", "", " ", "I AGREE")
    val textGen = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, frag)).map(_.mkString(" "))
    forAll(textGen, n = 500) { t =>
      assert(ConsentShaping.isConsentContent(t) == reference(t), s"text=$t")
    }
  }
}
