package graft.extract

import scala.collection.mutable

/** Aho–Corasick multi-substring matcher (Aho & Corasick 1975), specialized
  * for the extraction hot path: the keyword banks (form-content whitelist,
  * practice keywords, classifier keyword sets) were each scanned with
  * `bank.exists(text.contains)` / `bank.count(text.contains)` — O(|bank| ×
  * |text|) per line or per document. A precompiled DFA does all patterns in
  * ONE pass over the text: O(|text|) with a single array index per char.
  *
  * The alphabet is ASCII (0..126) plus one extra class per distinct
  * non-ASCII char appearing in the patterns (e.g. the curly apostrophe in
  * the witness banks); any other input char maps to a catch-all class that
  * matches no pattern char (it just walks the failure chain to root).
  */
final class MultiSubstring private (
    next: Array[Int],          // flattened DFA: state*width + charClass -> state
    out: Array[Array[Int]],    // state -> pattern ids ending here (failure-closed)
    width: Int,                // alphabet width: 128 + number of extra chars
    extra: Map[Char, Int],     // non-ASCII pattern char -> class (>= 128)
    val size: Int,             // number of patterns
    patLens: Array[Int]) {     // pattern lengths (for positional queries)

  @inline def patLen(p: Int): Int = patLens(p)

  // per-char class tables for the Latin-1 range: one array load replaces
  // the branch chain + (for non-ASCII) a boxing Map lookup per char
  private val clsTab: Array[Char] = {
    val t = new Array[Char](256)
    var i = 0
    while (i < 256) {
      val c = i.toChar
      t(i) = (if (c < 127) i else extra.getOrElse(c, 127)).toChar
      i += 1
    }
    t
  }

  @inline private def cls(c: Char): Int =
    if (c < 256) clsTab(c)
    else extra.getOrElse(c, 127) // 127 = catch-all (never a pattern char)

  /** Char class after per-char lowercase folding: for a LOWERCASE pattern
    * bank, scanning with this equals scanning text.toLowerCase — without
    * materializing the lowered string. U+212A (Kelvin) folds to 'k' exactly
    * like String.toLowerCase; U+0130 (dotted I) is mapped to the catch-all
    * because String.toLowerCase expands it to "i"+U+0307, whose combining
    * char breaks any ASCII pattern continuation — so the fold scan is exact
    * for every pattern of length >= 2 (all production banks). */
  private val foldTab: Array[Char] = {
    val t = new Array[Char](256)
    var i = 0
    while (i < 256) {
      val c = i.toChar
      val f =
        if (c < 'A') i
        else if (c <= 'Z') i + 32
        else if (c < 127) i
        else {
          val lower = Character.toLowerCase(c)
          if (lower < 256) clsTab(lower).toInt else extra.getOrElse(lower, 127)
        }
      t(i) = f.toChar
      i += 1
    }
    t
  }

  @inline private def clsFold(c: Char): Int =
    if (c < 256) foldTab(c)
    else if (c == '\u0130') 127
    else cls(Character.toLowerCase(c))

  // accept flag folded into the transition word: sign bit set when the
  // TARGET state emits at least one pattern, so the scan loops test one
  // sign bit instead of dereferencing out(st) on every char. Short-typed:
  // halves the table's cache footprint (the hot loop walks several
  // automata per line, so table bytes are the scan's real cost).
  private val nextF: Array[Short] = {
    require(next.length / width <= 0x7FFF, "automaton too large for short states")
    val t = new Array[Short](next.length)
    var i = 0
    while (i < t.length) {
      val tgt = next(i)
      t(i) = (if (out(tgt).length != 0) tgt | 0x8000 else tgt).toShort
      i += 1
    }
    t
  }

  // root fast path: while the DFA sits at root, chars whose class keeps it
  // at root can be SKIPPED with one boolean load instead of the class fold +
  // transition load (most chars of most lines match nothing)
  private val rootStayFold: Array[Boolean] = {
    val t = new Array[Boolean](256)
    var i = 0
    while (i < 256) { t(i) = nextF(foldTab(i)) == 0; i += 1 }
    t
  }
  private val rootStay: Array[Boolean] = {
    val t = new Array[Boolean](256)
    var i = 0
    while (i < 256) { t(i) = nextF(clsTab(i)) == 0; i += 1 }
    t
  }

  /** containsAny(s.toLowerCase) without building the lowered string. */
  def containsAnyFold(s: String): Boolean = {
    var st = 0
    var i = 0
    val n = s.length
    while (i < n) {
      if (st == 0) {
        while (i < n && { val c = s.charAt(i); c < 256 && rootStayFold(c) }) i += 1
        if (i >= n) return false
      }
      val v = nextF(st * width + clsFold(s.charAt(i)))
      if (v < 0) return true
      st = v
      i += 1
    }
    false
  }

  /** containsAnyFold over s[from, until) — matches must lie inside the
    * region (the DFA starts at root at `from`). */
  def containsAnyFoldRegion(s: String, from: Int, until: Int): Boolean = {
    var st = 0
    var i = from
    while (i < until) {
      if (st == 0) {
        while (i < until && { val c = s.charAt(i); c < 256 && rootStayFold(c) }) i += 1
        if (i >= until) return false
      }
      val v = nextF(st * width + clsFold(s.charAt(i)))
      if (v < 0) return true
      st = v
      i += 1
    }
    false
  }

  /** matchedSet(s.toLowerCase) without building the lowered string. */
  def matchedSetFold(s: String): Array[Boolean] = {
    val seen = new Array[Boolean](size)
    var cnt = 0
    var st = 0
    var i = 0
    val n = s.length
    while (i < n && cnt < size) {
      if (st == 0) {
        while (i < n && { val c = s.charAt(i); c < 256 && rootStayFold(c) }) i += 1
      }
      if (i < n) {
        val v = nextF(st * width + clsFold(s.charAt(i)))
        st = v & 0x7FFF
        if (v < 0) {
          val o = out(st)
          var j = 0
          while (j < o.length) {
            val id = o(j)
            if (!seen(id)) { seen(id) = true; cnt += 1 }
            j += 1
          }
        }
        i += 1
      }
    }
    seen
  }

  /** Any pattern occurs in s (early exit on first hit). */
  def containsAny(s: String): Boolean = {
    var st = 0
    var i = 0
    val n = s.length
    while (i < n) {
      if (st == 0) {
        while (i < n && { val c = s.charAt(i); c < 256 && rootStay(c) }) i += 1
        if (i >= n) return false
      }
      val v = nextF(st * width + cls(s.charAt(i)))
      if (v < 0) return true
      st = v
      i += 1
    }
    false
  }

  /** Per-pattern presence flags: out(i) == bank(i) occurs in s. One pass. */
  def matchedSet(s: String): Array[Boolean] = {
    val seen = new Array[Boolean](size)
    var cnt = 0
    var st = 0
    var i = 0
    val n = s.length
    while (i < n && cnt < size) {
      if (st == 0) {
        while (i < n && { val c = s.charAt(i); c < 256 && rootStay(c) }) i += 1
      }
      if (i < n) {
        val v = nextF(st * width + cls(s.charAt(i)))
        st = v & 0x7FFF
        if (v < 0) {
          val o = out(st)
          var j = 0
          while (j < o.length) {
            val id = o(j)
            if (!seen(id)) { seen(id) = true; cnt += 1 }
            j += 1
          }
        }
        i += 1
      }
    }
    seen
  }

  /** Per-pattern presence flags over a VIRTUAL document: lines[from, until)
    * joined by `sep`, scanned without building the joined string (matches
    * spanning line boundaries still hit, exactly as in the joined form).
    * Equivalent to matchedSet(lines.slice(from, until).mkString(sep.toString)).
    */
  def matchedSetLines(lines: IndexedSeq[String], from: Int, until: Int, sep: Char): Array[Boolean] = {
    val seen = new Array[Boolean](size)
    var cnt = 0
    var st = 0
    var li = math.max(0, from)
    val lEnd = math.min(lines.length, until)
    val sepCls = cls(sep)
    while (li < lEnd && cnt < size) {
      if (li > math.max(0, from)) {
        val v = nextF(st * width + sepCls)
        st = v & 0x7FFF
        if (v < 0) {
          val o = out(st)
          var j = 0
          while (j < o.length) {
            val id = o(j)
            if (!seen(id)) { seen(id) = true; cnt += 1 }
            j += 1
          }
        }
      }
      val s = lines(li)
      var i = 0
      val n = s.length
      while (i < n && cnt < size) {
        if (st == 0) { // root fast path
          while (i < n && { val c = s.charAt(i); c < 256 && rootStay(c) }) i += 1
        }
        if (i < n) {
          val v = nextF(st * width + cls(s.charAt(i)))
          st = v & 0x7FFF
          if (v < 0) {
            val o = out(st)
            var j = 0
            while (j < o.length) {
              val id = o(j)
              if (!seen(id)) { seen(id) = true; cnt += 1 }
              j += 1
            }
          }
          i += 1
        }
      }
      li += 1
    }
    seen
  }

  /** ALL match end offsets (end-exclusive, ascending) per pattern over the
    * virtual document lines.mkString(sep.toString), in the joined string's
    * coordinates, without building it. One pass; feeds positional window
    * queries (CtxIndex) that would otherwise rescan a window per line.
    */
  def matchEnds(lines: IndexedSeq[String], sep: Char): Array[Array[Int]] = {
    val bufs = Array.fill(size)(new mutable.ArrayBuilder.ofInt)
    var st = 0
    var off = 0
    var li = 0
    val sepCls = cls(sep)
    while (li < lines.length) {
      if (li > 0) {
        val v = nextF(st * width + sepCls)
        st = v & 0x7FFF
        off += 1
        if (v < 0) {
          val o = out(st)
          var j = 0
          while (j < o.length) { bufs(o(j)) += off; j += 1 }
        }
      }
      val s = lines(li)
      var i = 0
      val n = s.length
      while (i < n) {
        if (st == 0) { // root fast path (off advances with i)
          val i0 = i
          while (i < n && { val c = s.charAt(i); c < 256 && rootStay(c) }) i += 1
          off += i - i0
        }
        if (i < n) {
          val v = nextF(st * width + cls(s.charAt(i)))
          st = v & 0x7FFF
          off += 1
          if (v < 0) {
            val o = out(st)
            var j = 0
            while (j < o.length) { bufs(o(j)) += off; j += 1 }
          }
          i += 1
        }
      }
      li += 1
    }
    bufs.map(_.result())
  }

  /** Per-pattern presence flags for the prefix s[0, prefixEnd) AND for all
    * of s, in one pass (occurrence in prefix iff its end offset <= prefixEnd). */
  def matchedSetPrefixAndFull(s: String, prefixEnd: Int): (Array[Boolean], Array[Boolean]) = {
    val seenPre = new Array[Boolean](size)
    val seenFull = new Array[Boolean](size)
    var cntFull = 0
    var st = 0
    var i = 0
    val n = s.length
    while (i < n && cntFull < size) {
      if (st == 0) { // root fast path: skip chars that keep the DFA at root
        while (i < n && { val c = s.charAt(i); c < 256 && rootStay(c) }) i += 1
      }
      if (i < n) {
        val v = nextF(st * width + cls(s.charAt(i)))
        st = v & 0x7FFF
        if (v < 0) {
          val o = out(st)
          var j = 0
          while (j < o.length) {
            val id = o(j)
            if (!seenFull(id)) { seenFull(id) = true; cntFull += 1 }
            if (i + 1 <= prefixEnd) seenPre(id) = true
            j += 1
          }
        }
        i += 1
      }
    }
    (seenPre, seenFull)
  }

  /** Number of DISTINCT patterns occurring in s (early exit once all seen).
    * Equivalent to bank.count(s.contains). */
  def countDistinct(s: String): Int = {
    if (size == 0) return 0
    val seen = new Array[Boolean](size)
    var cnt = 0
    var st = 0
    var i = 0
    val n = s.length
    while (i < n && cnt < size) {
      if (st == 0) {
        while (i < n && { val c = s.charAt(i); c < 256 && rootStay(c) }) i += 1
      }
      if (i < n) {
        val v = nextF(st * width + cls(s.charAt(i)))
        st = v & 0x7FFF
        if (v < 0) {
          val o = out(st)
          var j = 0
          while (j < o.length) {
            val id = o(j)
            if (!seen(id)) { seen(id) = true; cnt += 1 }
            j += 1
          }
        }
        i += 1
      }
    }
    cnt
  }

  /** Early-exit disjunction over a segmented bank, in ONE case-folded walk:
    * true as soon as
    *  (a) any pattern with id < singleN matches, or
    *  (b) for some pair k in [0, nPairs) — laid out as adjacent ids (a, b)
    *      from pairBase — b matches starting at or after the END of a's
    *      first match (the "A then B after it" ordered-substring test:
    *      end_b >= firstEnd_a + patLen(b)), or
    *  (c) distinct matched patterns with id >= kwFrom reach kwNeed.
    * Equivalent to computing full first/last position sets and evaluating
    * the three conditions, but stops at the earliest satisfying character —
    * consent-like text usually decides within its first line.
    */
  def foldSegmentedDisjunction(s: String, singleN: Int, pairBase: Int,
                               nPairs: Int, kwFrom: Int, kwNeed: Int): Boolean = {
    val firstEnd = Array.fill(size)(-1)
    var kwCnt = 0
    var st = 0
    var i = 0
    val n = s.length
    while (i < n) {
      if (st == 0) {
        while (i < n && { val c = s.charAt(i); c < 256 && rootStayFold(c) }) i += 1
      }
      if (i < n) {
        val v = nextF(st * width + clsFold(s.charAt(i)))
        st = v & 0x7FFF
        if (v < 0) {
          val o = out(st)
          var j = 0
          while (j < o.length) {
            val id = o(j)
            if (id < singleN) return true
            if (firstEnd(id) < 0) {
              firstEnd(id) = i + 1
              if (id >= kwFrom) { kwCnt += 1; if (kwCnt >= kwNeed) return true }
            }
            if (id >= pairBase && id < pairBase + 2 * nPairs && ((id - pairBase) & 1) == 1 &&
                firstEnd(id - 1) >= 0 && i + 1 >= firstEnd(id - 1) + patLens(id)) return true
            j += 1
          }
        }
        i += 1
      }
    }
    false
  }
}

object MultiSubstring {

  def apply(patterns: Seq[String]): MultiSubstring = {
    val pats = patterns.toArray
    // assign classes to the distinct non-ASCII pattern chars
    val extra = mutable.LinkedHashMap.empty[Char, Int]
    pats.foreach(_.foreach { c =>
      require(c != 127, "MultiSubstring patterns must not contain DEL")
      if (c >= 127 && !extra.contains(c)) extra(c) = 128 + extra.size
    })
    val width = 128 + extra.size
    def cls(c: Char): Int = if (c < 127) c else extra(c)

    // trie build (edges: node -> width-wide child table, -1 = absent)
    val edges = mutable.ArrayBuffer(Array.fill(width)(-1))
    val ends = mutable.ArrayBuffer(mutable.ArrayBuffer.empty[Int])
    var p = 0
    while (p < pats.length) {
      var st = 0
      val s = pats(p)
      var i = 0
      while (i < s.length) {
        val c = cls(s.charAt(i))
        if (edges(st)(c) == -1) {
          edges += Array.fill(width)(-1)
          ends += mutable.ArrayBuffer.empty[Int]
          edges(st)(c) = edges.length - 1
        }
        st = edges(st)(c)
        i += 1
      }
      ends(st) += p
      p += 1
    }
    // BFS failure links; convert edges to a complete DFA in place and close
    // the output sets over the failure chain
    val nStates = edges.length
    val fail = new Array[Int](nStates)
    val queue = mutable.Queue.empty[Int]
    var c = 0
    while (c < width) {
      val ch = edges(0)(c)
      if (ch == -1) edges(0)(c) = 0
      else { fail(ch) = 0; queue.enqueue(ch) }
      c += 1
    }
    while (queue.nonEmpty) {
      val st = queue.dequeue()
      ends(st) ++= ends(fail(st))
      var c2 = 0
      while (c2 < width) {
        val ch = edges(st)(c2)
        if (ch == -1) edges(st)(c2) = edges(fail(st))(c2)
        else { fail(ch) = edges(fail(st))(c2); queue.enqueue(ch) }
        c2 += 1
      }
    }
    val next = new Array[Int](nStates * width)
    var st = 0
    while (st < nStates) {
      System.arraycopy(edges(st), 0, next, st * width, width)
      st += 1
    }
    new MultiSubstring(next, ends.map(_.toArray.sorted).toArray, width,
      extra.toMap, pats.length, pats.map(_.length))
  }
}

/** Positional index over one document for a pattern bank: built with ONE
  * DFA pass (MultiSubstring.matchEnds), then any line-window presence query
  * [from, until) answers in O(patterns × log matches) — equivalent to
  * ac.matchedSetLines(lines, from, until, sep) without rescanning the
  * window's characters per query. A match counts iff it lies entirely
  * inside the window's joined span (uniform separator makes the window's
  * joined string a substring of the whole document's, so locality holds).
  */
final class CtxIndex(ac: MultiSubstring, lines: IndexedSeq[String], sep: Char) {
  // Eager on first construction (the caller holds the instance in a lazy
  // val, so documents that never query skip the pass entirely). Two lazier
  // variants were measured and rejected: (a) per-window direct scans with a
  // build budget — on the docling corpus every querying document fires ~40
  // window queries, so the budget always ran out and the hybrid paid
  // twice; (b) collecting these end positions inside the classifier's
  // full-text walk — two thirds of documents never query a window, and the
  // fatter union automaton taxed them all.
  private val ends: Array[Array[Int]] = ac.matchEnds(lines, sep)

  private val lineOff: Array[Int] = {
    val a = new Array[Int](lines.length)
    var off = 0
    var l = 0
    while (l < lines.length) { a(l) = off; off += lines(l).length + 1; l += 1 }
    a
  }

  /** Equivalent to ac.matchedSetLines(lines, from, until, sep). */
  def flags(from: Int, until: Int): Array[Boolean] = {
    val res = new Array[Boolean](ac.size)
    val a = math.max(0, from)
    val b = math.min(lines.length, until)
    if (a >= b) return res
    val winStart = lineOff(a)
    val winEnd = lineOff(b - 1) + lines(b - 1).length
    var p = 0
    while (p < ac.size) {
      val es = ends(p)
      if (es.length != 0) {
        val need = winStart + ac.patLen(p) // smallest end fully inside
        var lo = 0
        var hi = es.length
        while (lo < hi) {
          val m = (lo + hi) >>> 1
          if (es(m) < need) lo = m + 1 else hi = m
        }
        res(p) = lo < es.length && es(lo) <= winEnd
      }
      p += 1
    }
    res
  }
}
