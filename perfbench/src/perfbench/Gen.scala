package perfbench

import graft.spark.{Transcripts, Turn}
import graft.parse.XYCut
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.util.SplittableRandom

/** Seeded input generator. Every input of every workload is a pure function
  * of the seed (no clock, no global RNG), so the same seed gives
  * byte-identical inputs and the program sees only what is generated here.
  *
  * Workload input properties (printed by `describe`):
  *  - profile mix: the engine's standard 9 payload profiles
  *    (`Transcripts.payloads`), assigned round-robin over the global turn
  *    index from a seeded offset, so every profile holds exactly 1/9 of the
  *    turns whatever the seed;
  *  - turn texts: each fixture is perturbed per turn (practice header line,
  *    names, dates, phone numbers, list items), so texts are unique except a
  *    stated share of exact re-sends of an earlier turn;
  *  - conversation lengths: the engine's own heavy-tailed model
  *    (`Transcripts.convLength`: 90% short, 2-8 turns; 10% long, 100-499
  *    turns) over conversation ordinals `0 until convs`, so every seed has
  *    the same conversations (ids, lengths, hash buckets) and the same turn
  *    count, and the seed varies their content;
  *  - identifiers (conversation ids, WARC record ids) do not carry the
  *    seed, so two seeds' inputs differ only in seed-driven content;
  *  - page-size ladder (turn_latency): single-column `pdf_runs:` pages whose
  *    lines are evenly spaced (gaps wider than XY-cut's minimum, the shape
  *    that makes the cut peel one line per level) and `html:` pages, from
  *    16 lines upwards.
  */
object Gen {

  val ResendShare = 0.03

  private val firstNames = Vector("Maria", "James", "Aiko", "Omar", "Lena", "Tomas",
    "Priya", "Chen", "Sofia", "Kwame", "Nadia", "Jonas", "Elena", "Ravi", "Grace")
  private val lastNames = Vector("Garcia", "Smith", "Tanaka", "Haddad", "Novak",
    "Okafor", "Patel", "Wong", "Rossi", "Mensah", "Ivanova", "Berg", "Silva", "Kim")
  private val practices = Vector("Bright Smiles", "Riverside", "Lakeview", "Northgate",
    "Maple Grove", "Harbor", "Summit", "Cedar Park", "Old Town", "Westfield")
  private val listWords = Vector("as needed", "if applicable", "see attached",
    "per visit", "annually", "on request", "with x-rays", "after review")

  private val dateRe = """\b(\d{1,2})/(\d{1,2})/(\d{2,4})\b""".r
  private val phoneRe = """\(\d{3}\) \d{3}-\d{4}""".r
  private val drRe = """\bDr\. [A-Z][a-z]+""".r

  private def pick[A](v: Vector[A], r: SplittableRandom): A = v(r.nextInt(v.size))

  /** One perturbed copy of a fixture's lines. */
  def perturbLines(lines: Seq[String], r: SplittableRandom): Vector[String] = {
    val header = s"${pick(practices, r)} Dental Group - Office ${100 + r.nextInt(900)}"
    val body = lines.map { l0 =>
      var l = dateRe.replaceAllIn(l0, _ =>
        f"${1 + r.nextInt(12)}%02d/${1 + r.nextInt(28)}%02d/${2019 + r.nextInt(7)}")
      l = phoneRe.replaceAllIn(l, _ =>
        f"(${200 + r.nextInt(700)}) ${200 + r.nextInt(700)}-${r.nextInt(10000)}%04d")
      l = drRe.replaceAllIn(l, _ => s"Dr. ${pick(lastNames, r)}")
      if ((l.startsWith("- ") || l.startsWith("* ")) && r.nextInt(4) == 0)
        l + " (" + pick(listWords, r) + ")"
      else l
    }
    val patient = s"Patient: ${pick(firstNames, r)} ${pick(lastNames, r)}"
    (header +: body.toVector) :+ patient
  }

  /** Perturbed payload text for standard profile `p` (index into
    * `Transcripts.payloads`). */
  def perturbedPayload(p: Int, r: SplittableRandom): (String, String) = {
    val (tool, text) = Transcripts.payloads(p)
    tool match {
      case "html:consent_txt" =>
        val base = Transcripts.payloads(0)._2.split("\n", -1).toSeq
        (tool, Transcripts.wrapInBoilerplateHtml(perturbLines(base, r)))
      case "pdf_runs:docling_md" =>
        val base = Transcripts.payloads(2)._2.split("\n", -1).toSeq
        (tool, XYCut.renderRuns(XYCut.synthesizeColumns(perturbLines(base, r), cols = 2)))
      case _ => (tool, perturbLines(text.split("\n", -1).toSeq, r).mkString("\n"))
    }
  }

  /** The transcript table: `convs` conversations with the engine's length
    * model, standard 9-profile mix, perturbed texts with
    * `ResendShare` exact re-sends. */
  def transcripts(seed: Long, convs: Int, tag: String): Vector[Turn] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + tag.hashCode)
    val nProfiles = Transcripts.payloads.size
    val offset = r.nextInt(nProfiles)
    val out = Vector.newBuilder[Turn]
    val texts = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var g = 0
    val roles = Vector("user", "assistant", "tool")
    for (conv <- 0 until convs) {
      val convId = f"$tag-$conv%06d"
      var t = 0
      while (t < Transcripts.convLength(conv.toLong)) {
        val payload =
          if (texts.nonEmpty && r.nextDouble() < ResendShare) texts(r.nextInt(texts.size))
          else perturbedPayload((g + offset) % nProfiles, r)
        texts += payload
        out += Turn(convId, t, roles(t % 3), payload._2, payload._1,
          new Timestamp((Transcripts.Epoch + conv * 3600L + t * 60L) * 1000L))
        t += 1; g += 1
      }
    }
    out.result()
  }

  def shuffle[A](xs: Vector[A], r: SplittableRandom): Vector[A] = {
    val arr = xs.toArray[Any]
    var i = arr.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = arr(i); arr(i) = arr(j); arr(j) = t; i -= 1 }
    arr.toVector.asInstanceOf[Vector[A]]
  }

  /** The unperturbed fixtures whose extraction is pinned byte for byte by
    * the goldens under src/test/resources/golden, with the payload profile
    * that reproduces each one. */
  val goldenFixtures: Vector[(String, String)] = Vector(
    "tooth_removal_consent" -> "consent_txt",
    "consent_crown_bridge" -> "consent_txt",
    "consent_crown_bridge_v2" -> "docling_md",
    "pediatric_extraction" -> "docling_md",
    "records_release" -> "docling_md",
    "npf_v2" -> "docling_md",
    "zoom_consent" -> "docx",
    "denture_consent" -> "docx",
    "crown_bridge_docx" -> "docx")

  def resource(path: String): String = {
    val in = getClass.getClassLoader.getResourceAsStream(path)
    require(in != null, s"missing resource $path")
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** One conversation carrying the 9 golden fixtures verbatim. */
  val GoldenConv = "golden"
  def goldenConversation: Vector[Turn] =
    goldenFixtures.zipWithIndex.map { case ((name, tool), i) =>
      Turn(GoldenConv, i, "user", resource(s"fixtures/$name.txt"), tool,
        new Timestamp(Transcripts.Epoch * 1000L + i * 60000L))
    }

  /** Evenly spaced single-column runs: 10 pt tall lines every 20 pt, so
    * every y-gap (10 pt) clears XY-cut's 6 pt minimum and all gaps tie. */
  def ladderRuns(lines: Int, seed: Long): String = {
    val r = new SplittableRandom(seed + lines)
    XYCut.renderRuns((0 until lines).map { i =>
      XYCut.Run(0, 0.0, i * 20.0, 300.0, i * 20.0 + 10.0,
        s"${pick(firstNames, r)} ${pick(lastNames, r)} line $i: ${pick(listWords, r)}")
    })
  }

  def ladderHtml(lines: Int, seed: Long): String = {
    val r = new SplittableRandom(seed + 7 * lines)
    Transcripts.wrapInBoilerplateHtml((0 until lines).map { i =>
      if (i % 5 == 0) s"- ${pick(listWords, r)} item $i"
      else s"${pick(firstNames, r)} ${pick(lastNames, r)} agrees to item $i: ${pick(listWords, r)}"
    })
  }

  /** Ladder rungs run in the timed loop (all complete at the seed). */
  val LadderRungs: Vector[Int] = Vector(16, 64, 256, 1024)
  /** Rungs run only by the traced probe, up to past the point where the
    * recursive XY-cut overflows a default-size thread stack at the seed. */
  val ProbeRungs: Vector[Int] = Vector(2048, 4096, 8192)

  def ladder(seed: Long, rungs: Seq[Int]): Vector[(String, String)] =
    rungs.toVector.flatMap(n => Vector(
      "pdf_runs:docling_md" -> ladderRuns(n, seed),
      "html:consent_txt" -> ladderHtml(n, seed)))

  // ---- curation documents ----

  private val vocab: Map[String, Vector[String]] = Map(
    "en" -> Vector("the", "of", "and", "to", "in", "is", "that", "for", "with", "as",
      "patient", "treatment", "dental", "form", "consent", "record", "office", "visit",
      "insurance", "policy", "clinic", "appointment", "procedure", "review", "signature",
      "history", "medication", "allergy", "doctor", "schedule", "payment", "claim"),
    "es" -> Vector("el", "la", "de", "que", "y", "en", "los", "por", "con", "para",
      "paciente", "tratamiento", "dental", "formulario", "consentimiento", "cita",
      "seguro", "clinica", "historia", "firma", "medico", "pago", "revision"),
    "de" -> Vector("der", "die", "und", "das", "ist", "nicht", "mit", "von", "den", "auf",
      "patient", "behandlung", "zahnarzt", "formular", "einwilligung", "termin",
      "versicherung", "praxis", "unterschrift", "zahlung", "geschichte", "bericht"),
    "fr" -> Vector("le", "la", "les", "de", "et", "est", "que", "pour", "dans", "avec",
      "patient", "traitement", "dentaire", "formulaire", "consentement", "rendez",
      "assurance", "cabinet", "signature", "paiement", "dossier", "medecin"))
  private val langs = Vector("en", "en", "en", "es", "de", "fr")

  final case class Doc(id: Int, lang: String, lines: Vector[String]) {
    def html: String = Transcripts.wrapInBoilerplateHtml(lines)
  }

  /** `n` documents: unique texts, a 10% share of near-duplicates (a copy of
    * an earlier document with ~5% of its words replaced) and a 4% share of
    * exact duplicates; 40-260 words each (evenly spread) in short
    * paragraphs. */
  def documents(seed: Long, n: Int): Vector[Doc] = {
    val r = new SplittableRandom(seed * 0xC2B2AE3D27D4EB4FL + 17)
    val out = scala.collection.mutable.ArrayBuffer.empty[Doc]
    // fixed shares in seeded positions: 4 exact and 10 near duplicates per
    // 100 documents; fresh document lengths from a fixed multiset
    val kinds = shuffle(Vector.tabulate(n)(i => if (i % 50 < 2) 'x' else if (i % 10 == 5) 'n' else 'f'), r)
    val lengths = shuffle(Vector.tabulate(n)(i => 40 + (i * 221) / math.max(1, n)), r)
    // duplicates copy a fresh document, never another copy, so duplicate
    // clusters are stars of the same shape for every seed
    val fresh = scala.collection.mutable.ArrayBuffer.empty[Doc]
    for (i <- 0 until n) {
      if (fresh.nonEmpty && kinds(i) == 'x') {
        out += fresh(r.nextInt(fresh.size)).copy(id = i)
      } else if (fresh.nonEmpty && kinds(i) == 'n') {
        val src = fresh(r.nextInt(fresh.size))
        val words = vocab(src.lang)
        out += Doc(i, src.lang, src.lines.map(_.split(" ").map(w =>
          if (r.nextInt(20) == 0) pick(words, r) else w).mkString(" ")))
      } else {
        val lang = pick(langs, r)
        val words = vocab(lang)
        val nWords = lengths(i)
        val ws = Vector.fill(nWords)(pick(words, r)) :+ s"ref$i"
        fresh += Doc(i, lang, ws.grouped(12).map(_.mkString(" ")).toVector)
        out += fresh.last
      }
    }
    out.toVector
  }

  /** A per-record-gzip WARC segment: one `response` record per document,
    * each an HTTP 200 text/html payload, each record its own gzip member. */
  def warcSegment(docs: Seq[Doc]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    docs.foreach { d =>
      val body = d.html.getBytes(UTF_8)
      val http = (s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes(UTF_8) ++ body
      val header = s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Record-ID: <urn:uuid:bench-${d.id}>\r\n" +
        s"WARC-Target-URI: https://site${d.id % 37}.example.org/doc/${d.id}\r\n" +
        f"WARC-Date: 2024-01-${1 + d.id % 28}%02dT00:00:00Z\r\n" +
        s"Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n"
      val member = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(member)
      gz.write(header.getBytes(UTF_8)); gz.write(http); gz.write("\r\n\r\n".getBytes(UTF_8))
      gz.close()
      bos.write(member.toByteArray)
    }
    bos.toByteArray
  }

  // ---- determinism ----

  def digest(turns: Seq[Turn]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    turns.foreach { t =>
      md.update(s"${t.conv_id}\u0000${t.turn_idx}\u0000${t.role}\u0000${t.tool}\u0000${t.ts.getTime}\u0000".getBytes(UTF_8))
      md.update(t.text.getBytes(UTF_8))
    }
    hex(md.digest())
  }

  def digestBytes(b: Array[Byte]): String =
    hex(java.security.MessageDigest.getInstance("SHA-256").digest(b))

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  def describe(workload: String): String = workload match {
    case "batch_commit" =>
      s"profiles=${Transcripts.payloads.map(_._1).mkString(",")} (1/9 each); " +
        s"conv lengths Transcripts.convLength (90% 2-8 / 10% 100-499 turns); " +
        s"exact re-send share=$ResendShare"
    case "turn_latency" =>
      s"standard mix plus ladder rungs ${LadderRungs.mkString(",")} lines " +
        s"(pdf_runs + html); traced probe rungs ${ProbeRungs.mkString(",")}"
    case _ => ""
  }
}
