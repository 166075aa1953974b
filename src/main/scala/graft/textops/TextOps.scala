package graft.textops

import scala.collection.mutable

/** Frequency distribution of the top-3 matched terms plus their summed count.
  *
  * Reference semantics: sciscraper `FreqDistAndCount`
  * (/root/reference/src/docscraper.py:18-34).
  */
final case class FreqDistAndCount(
    termCount: Int,
    frequencyDist: List[(String, Int)])

object TextOps {

  /** Python str.strip() whitespace set: Java's Character.isWhitespace
    * EXCLUDES the non-breaking spaces (U+00A0/U+2007/U+202F) and NEL
    * (U+0085) that Python strips — and NBSP-led text is common in HTML
    * extractions, so String.strip() would silently break tokenizer parity
    * on the first token. */
  @inline private def isPySpace(c: Char): Boolean =
    Character.isWhitespace(c) || c == '\u00A0' || c == '\u0085' ||
      c == '\u2007' || c == '\u202F'

  def pyStrip(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && isPySpace(s.charAt(a))) a += 1
    while (b > a && isPySpace(s.charAt(b - 1))) b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  /** Weighted relevance likelihood in [0,1].
    *
    * (m*1.0 + b*(-0.25) + (t-m-b)*0.5) / t, clamped; 0.0 when t<=0 or
    * either count is negative.
    * Reference: /root/reference/src/docscraper.py:208-244; goldens
    * /root/reference/tests/test_wordscore.py:6-26 (e.g. (100,20,5)->0.5625).
    */
  def calculateLikelihood(
      totalWords: Int,
      desiredMatches: Int,
      undesiredMatches: Int): Double = {
    if (totalWords <= 0 || desiredMatches < 0 || undesiredMatches < 0) return 0.0
    val otherWords = totalWords - desiredMatches - undesiredMatches
    val score =
      (desiredMatches * 1.0 + undesiredMatches * -0.25 + otherWords * 0.5) /
        totalWords
    math.max(0.0, math.min(1.0, score))
  }

  /** Parenthetical statistics spans: Python `re.findall(r"\(.*\=.*\)")`
    * (reference `docscraper.py:15` and `:171`), as a linear scan. Python's
    * `.` excludes only `\n`, so the greedy pattern matches at most once
    * per `\n`-separated line: from the line's first `(` to its last `)`,
    * when an `=` lies strictly between them. CR, NEL, LS and PS stay
    * inside a line (a CR-bearing span like "(m=3,\rsd=1)" matches). A
    * backtracking search for the pattern is cubic on a line like
    * `(=(=(=…`; this scan reads each char at most twice. */
  def parentheticals(text: String): List[String] = {
    val out = mutable.ListBuffer.empty[String]
    val n = text.length
    var i = 0
    while (i < n) {
      val open = text.indexOf('(', i)
      if (open < 0) i = n
      else {
        var eol = text.indexOf('\n', open)
        if (eol < 0) eol = n
        var close = eol - 1
        while (close > open && text.charAt(close) != ')') close -= 1
        var eq = open + 1
        while (eq < close && text.charAt(eq) != '=') eq += 1
        if (eq < close) out += text.substring(open, close + 1)
        i = eol + 1
      }
    }
    out.toList
  }

  /** The target and bycatch word sets as one immutable open-addressed
    * table, built once per pair of sets and shared by every document and
    * thread that scores against them. `target` and `bycatch` are kept so
    * a caller can key a cache on their identity. */
  final class TermTable(val target: Set[String], val bycatch: Set[String]) {
    private[TextOps] val words: Array[String] = (target.iterator ++ bycatch.iterator).distinct.toArray
    private[TextOps] val inTarget: Array[Boolean] = words.map(target.contains)
    private[TextOps] val inBycatch: Array[Boolean] = words.map(bycatch.contains)
    private[TextOps] val minLen: Int = if (words.isEmpty) Int.MaxValue else words.map(_.length).min
    private[TextOps] val maxLen: Int = if (words.isEmpty) -1 else words.map(_.length).max
    // slot -> entry + 1 (0 = empty) and that entry's hash; linear
    // probing, at most a quarter full
    private val mask: Int = Integer.highestOneBit(math.max(2, words.length) * 8 - 1) - 1
    private val slots = new Array[Int](mask + 1)
    private val slotHash = new Array[Int](mask + 1)
    words.indices.foreach { e =>
      val h = words(e).hashCode
      var k = spread(h) & mask
      while (slots(k) != 0) k = (k + 1) & mask
      slots(k) = e + 1
      slotHash(k) = h
    }

    /** The entry equal to `s[start, end)`, whose `String.hashCode` is `h`,
      * or -1. */
    private[TextOps] def find(s: String, start: Int, end: Int, h: Int): Int = {
      val len = end - start
      if (len < minLen || len > maxLen) return -1
      var k = spread(h) & mask
      while (slots(k) != 0) {
        if (slotHash(k) == h) {
          val w = words(slots(k) - 1)
          if (w.length == len && s.regionMatches(start, w, 0, len)) return slots(k) - 1
        }
        k = (k + 1) & mask
      }
      -1
    }
  }

  @inline private def spread(h: Int): Int = h ^ (h >>> 16)

  /** One document's word score: token total, both sets' top-3 matches
    * and the parenthetical spans. */
  final case class WordScore(
      totalWords: Int,
      target: FreqDistAndCount,
      bycatch: FreqDistAndCount,
      parentheticals: List[String])

  /** The reference's tokenize (`strip().lower().split(" ")`), its term
    * match against each set (`Counter.most_common(3)`) and
    * `parentheticals` in one kernel. The text is stripped and lowercased
    * once, then walked once: each `' '`-separated token is hashed in place
    * and looked up in `table`, with no token array and no substring per
    * token. Hits are counted in first-occurrence order, and each set's top
    * 3 is a stable selection over that order, so equal counts keep
    * first-occurrence order as `most_common` does. TextOpsSpec pins this
    * to the step-by-step transcriptions in `TextOpsOracle`. */
  def wordScore(text: String, table: TermTable): WordScore = {
    val s = pyStrip(text).toLowerCase(java.util.Locale.ROOT)
    val counts = new Array[Int](table.words.length)
    val order = new Array[Int](table.words.length)
    var nHit = 0
    var total = 1
    var start = 0
    var h = 0
    var i = 0
    val n = s.length
    while (i <= n) {
      val c = if (i < n) s.charAt(i) else ' '
      if (c == ' ') {
        val e = table.find(s, start, i, h)
        if (e >= 0) {
          if (counts(e) == 0) { order(nHit) = e; nHit += 1 }
          counts(e) += 1
        }
        if (i < n) total += 1
        start = i + 1
        h = 0
      } else h = 31 * h + c
      i += 1
    }
    WordScore(total,
      top3(table.words, table.inTarget, counts, order, nHit),
      top3(table.words, table.inBycatch, counts, order, nHit),
      parentheticals(text))
  }

  /** The three highest counts among the `member` entries, each pick the
    * first in `order` among equal counts — `Counter.most_common(3)`. */
  private def top3(
      words: Array[String],
      member: Array[Boolean],
      counts: Array[Int],
      order: Array[Int],
      nHit: Int): FreqDistAndCount = {
    val picked = new Array[Int](3)
    var k = 0
    var sum = 0
    var done = false
    while (k < 3 && !done) {
      var best = -1
      var j = 0
      while (j < nHit) {
        val e = order(j)
        if (member(e) && (best < 0 || counts(e) > counts(best)) &&
            !(k > 0 && picked(0) == e) && !(k > 1 && picked(1) == e))
          best = e
        j += 1
      }
      if (best < 0) done = true
      else { picked(k) = best; sum += counts(best); k += 1 }
    }
    FreqDistAndCount(sum, List.tabulate(k)(x => (words(picked(x)), counts(picked(x)))))
  }

  /** Word-set load semantics: one word per line, `strip().lower()`,
    * de-duplicated. Reference: /root/reference/src/docscraper.py:110-127.
    * In the engine this is loaded once on the driver and broadcast
    * (the reference re-reads both files per document).
    */
  def loadWordSet(lines: Iterator[String]): Set[String] =
    lines.map(l => pyStrip(l).toLowerCase(java.util.Locale.ROOT)).toSet
}
