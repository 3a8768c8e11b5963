package graft.functions

/** Pure-Scala text-analysis and dedup primitives for the training-data
  * pipeline operators (builder brief: dedup, similarity, text analysis).
  * All functions are deterministic and allocation-light so they stay cheap
  * inside a Dataset map / UDF at 100 TB scale; the heavy lifting (grouping,
  * joins) is done by Catalyst on their outputs.
  */
object TextFns {

  // ---- tokenization ----
  private val wsRe = "\\s+".r

  def tokens(text: String): Array[String] =
    if (text == null || text.trim.isEmpty) Array.empty
    else wsRe.split(text.trim)

  /** BPE-ish subword count: words are split further at letter/digit and
    * case-change boundaries (a cheap stand-in for a BPE tokenizer's
    * sub-word granularity; deterministic, no vocab needed).
    */
  private val bpeRe = "[A-Z]?[a-z]+|[A-Z]+(?![a-z])|\\d+|[^\\sA-Za-z0-9]".r

  def bpeTokenCount(text: String): Int =
    if (text == null) 0 else bpeRe.findAllIn(text).size

  // ---- language ID (character n-gram heuristic) ----
  // Tiny per-language trigram/stopword profiles — public-knowledge heuristic
  // (frequency-profile language ID, Cavnar & Trenkle style).
  private val langProfiles: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "in", "is", "that", "for", "with", "a"),
    "es" -> Set("el", "la", "de", "que", "y", "en", "los", "del", "se", "un"),
    "de" -> Set("der", "die", "und", "das", "ist", "von", "mit", "den", "ein", "zu"),
    "fr" -> Set("le", "la", "les", "de", "des", "et", "un", "une", "est", "dans"),
    "zh" -> Set.empty // no latin stopwords; detected by CJK chars
  )

  def detectLanguage(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    val cjk = text.count(c => Character.UnicodeScript.of(c) == Character.UnicodeScript.HAN)
    if (cjk * 4 > text.length) return "zh"
    val toks = tokens(text.toLowerCase)
    if (toks.isEmpty) return "und"
    val scores = langProfiles.collect { case (lang, sw) if sw.nonEmpty =>
      lang -> toks.count(sw.contains)
    }
    val (best, score) = scores.maxBy { case (l, s) => (s, l) }
    if (score == 0) "und" else best
  }

  // ---- hashing (xxhash-style 64-bit mix; public-domain finalizer) ----
  /** 64-bit string hash with a seed — splitmix64-finalized polynomial hash.
    * Deterministic across JVMs (no String.hashCode reliance beyond content).
    */
  def hash64(s: String, seed: Long = 0L): Long = {
    var h = seed ^ 0x9E3779B97F4A7C15L
    var i = 0
    while (i < s.length) {
      h = (h ^ s.charAt(i).toLong) * 0x100000001B3L
      i += 1
    }
    // splitmix64 finalizer
    h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
    h ^ (h >>> 31)
  }

  // ---- shingles / MinHash ----
  def wordShingles(text: String, k: Int): Array[String] = {
    val t = tokens(if (text == null) "" else text.toLowerCase)
    if (t.length < k) { if (t.isEmpty) Array.empty else Array(t.mkString(" ")) }
    else (0 to t.length - k).map(i => t.slice(i, i + k).mkString(" ")).toArray
  }

  /** Shingle hash streamed over word WINDOWS of the lowered text (offsets
    * into `t`), identical to shingleHash64 over the materialized words. */
  private def shingleHashOffsets(t: String, starts: Array[Int], ends: Array[Int],
                                 from: Int, k: Int): Long = {
    var h = 0x9E3779B97F4A7C15L
    var wi = from
    val end = from + k
    while (wi < end) {
      var i = starts(wi)
      val e = ends(wi)
      while (i < e) { h = (h ^ t.charAt(i).toLong) * 0x100000001B3L; i += 1 }
      if (wi < end - 1) h = (h ^ ' '.toLong) * 0x100000001B3L
      wi += 1
    }
    h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
    h ^ (h >>> 31)
  }

  // exactly regex \s without UNICODE_CHARACTER_CLASS: [ \t\n\x0B\f\r]
  @inline private def isRegexWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** MinHash signature over k-word shingles; `perms` independent hash
    * functions realized as seeds. O(|shingles| * perms). Values identical
    * to hashing wordShingles output (PropertySpec pins it, incl. the
    * String.trim-vs-regex-\s edge on control chars); neither the token
    * strings nor the shingle strings are materialized — only two int
    * offset arrays per document.
    */
  def minHashSignature(text: String, k: Int, perms: Int): Array[Long] = {
    val sig = Array.fill(perms)(Long.MaxValue)
    if (text == null) return sig
    val t = text.toLowerCase
    // String.trim semantics (chars <= ' ' stripped from the ends), then
    // words = maximal runs of non-\s chars — exactly wsRe.split(t.trim)
    var lo = 0
    var hi = t.length
    while (lo < hi && t.charAt(lo) <= ' ') lo += 1
    while (hi > lo && t.charAt(hi - 1) <= ' ') hi -= 1
    if (lo >= hi) return sig
    var words = 0
    var i = lo
    while (i < hi) { // count first: exact-size offset arrays
      if (!isRegexWs(t.charAt(i)) && (i == lo || isRegexWs(t.charAt(i - 1)))) words += 1
      i += 1
    }
    val starts = new Array[Int](words)
    val ends = new Array[Int](words)
    var w = 0
    i = lo
    while (i < hi) {
      if (!isRegexWs(t.charAt(i))) {
        if (i == lo || isRegexWs(t.charAt(i - 1))) { starts(w) = i; w += 1 }
        ends(w - 1) = i + 1
      }
      i += 1
    }
    // short text: ONE shingle of all words (wordShingles' t.mkString case)
    val kk = if (words < k) words else k
    val n = if (words < k) 1 else words - k + 1
    var s = 0
    while (s < n) {
      val base = shingleHashOffsets(t, starts, ends, s, kk)
      var p = 0
      while (p < perms) {
        // cheap independent permutations from one base hash (Zobrist-style)
        val h = base * (2 * p + 1) + 0x9E3779B97F4A7C15L * p
        if (h < sig(p)) sig(p) = h
        p += 1
      }
      s += 1
    }
    sig
  }

  /** LSH band keys: signature split into `bands` bands of `rows` each; the
    * band hash is the join/bucket key. Equal band hash => candidate pair.
    */
  def lshBandKeys(sig: Array[Long], bands: Int): Array[Long] = {
    val rows = math.max(1, sig.length / bands)
    (0 until bands).map { b =>
      var h = b.toLong ^ 0x9E3779B97F4A7C15L
      var r = b * rows
      val end = math.min(sig.length, (b + 1) * rows)
      while (r < end) { h = (h ^ sig(r)) * 0x100000001B3L; r += 1 }
      h
    }.toArray
  }

  /** Exact Jaccard similarity over distinct k-word shingles (scaled x1000). */
  def jaccardShingles(a: String, b: String, k: Int): Int = {
    val sa = wordShingles(a, k).toSet
    val sb = wordShingles(b, k).toSet
    if (sa.isEmpty && sb.isEmpty) return 1000
    val inter = sa.intersect(sb).size
    val union = sa.size + sb.size - inter
    if (union == 0) 0 else (1000L * inter / union).toInt
  }

  // ---- SimHash ----
  /** 64-bit SimHash over word tokens (Charikar): per-bit weighted majority
    * of token hashes. Near-duplicates have small Hamming distance.
    */
  def simHash(text: String): Long = {
    val t = tokens(if (text == null) "" else text.toLowerCase)
    if (t.isEmpty) return 0L
    val counts = new Array[Int](64)
    t.foreach { tok =>
      val h = hash64(tok)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  // ---- document fingerprinting (winnowing-style rolling hash) ----
  /** Karp-Rabin rolling hashes of char w-grams, winnowed: keep the minimum
    * hash in each window of size `win` (Schleimer et al. winnowing).
    * Returns the distinct fingerprint set, sorted, as the doc fingerprint.
    */
  def fingerprint(text: String, w: Int = 8, win: Int = 4): Array[Long] = {
    if (text == null || text.length < w) return Array.empty
    val n = text.length - w + 1
    val hs = new Array[Long](n)
    val B = 257L
    var pow = 1L
    var i = 0
    while (i < w - 1) { pow *= B; i += 1 }
    var h = 0L
    i = 0
    while (i < w) { h = h * B + text.charAt(i); i += 1 }
    hs(0) = h
    i = 1
    while (i < n) {
      h = (h - text.charAt(i - 1) * pow) * B + text.charAt(i + w - 1)
      hs(i) = h
      i += 1
    }
    val picked = scala.collection.mutable.SortedSet[Long]()
    i = 0
    while (i + win <= n) {
      var m = hs(i)
      var j = i + 1
      while (j < i + win) { if (hs(j) < m) m = hs(j); j += 1 }
      picked += m
      i += win
    }
    picked.toArray
  }
}
