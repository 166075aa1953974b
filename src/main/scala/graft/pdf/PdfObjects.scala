package graft.pdf

import java.nio.charset.StandardCharsets.ISO_8859_1
import scala.collection.mutable

/** PDF object model + object-level parser, from scratch (no PDFBox/Tika
  * offline; the north rule mandates from-scratch PDF/layout parse).
  * Syntax per the public PDF 1.7 spec (ISO 32000-1 §7.3).
  *
  * The parser reads the document's bytes in place: a stream object is an
  * offset and a length into them, and string operands decode into one
  * scratch buffer per parser.
  */
sealed trait PObj
case object PNull extends PObj
final case class PBool(v: Boolean) extends PObj
final case class PNum(v: Double) extends PObj { def toInt: Int = v.toInt }
final case class PStr(bytes: Array[Byte]) extends PObj {
  /** Decode per PDF text-string rules: UTF-16BE with BOM, else
    * PDFDocEncoding (≈ latin-1 for the printable range). */
  def text: String =
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xfe && (bytes(1) & 0xff) == 0xff)
      new String(bytes, 2, bytes.length - 2, java.nio.charset.StandardCharsets.UTF_16BE)
    else new String(bytes, ISO_8859_1)
}
final case class PName(v: String) extends PObj
final case class PArr(v: Vector[PObj]) extends PObj
// SeqMap: Info-dict scans have last-value-wins semantics downstream
// (DoiCascade.fromInfoValues), so iteration order is part of the
// CONTRACT, not an accident of the Map implementation — the type makes
// a hash-ordered map unrepresentable here
final case class PDict(v: scala.collection.immutable.SeqMap[String, PObj]) extends PObj {
  def get(key: String): Option[PObj] = v.get(key)
}
final case class PRef(num: Int, gen: Int) extends PObj
/** A stream object: its dictionary and the `len` payload bytes at `off`
  * in the bytes of the document that holds it. */
final case class PStream(dict: PDict, off: Int, len: Int) extends PObj

/** Recursive-descent lexer/parser over a byte array.
  *
  * Literal and hex strings decode onto [[buf]]; [[parseObj]] copies a
  * string out, while the content-stream interpreter reads its operands
  * there in place. A literal string that ran to the end of the bytes
  * leaves each of its unclosed `(` marked: a later string that reaches one
  * of them at depth ≥ 1 can never close either, so it fails there instead
  * of scanning to the end again (object-scan resumes and the backward
  * trailer search retry many starts inside one unterminated run). Comments,
  * keywords and failed hex strings keep their last span for the same
  * reason, so every retry inside one run costs O(1). */
final class PdfParser(val data: Array[Byte], var pos: Int) {
  import PdfParser._
  private val n = data.length
  def atEnd: Boolean = pos >= n
  /** The byte at pos, or -1 past the end. */
  def cur: Int = if (pos < n) data(pos) & 0xff else -1
  /** The byte `k` past pos, or -1 past the end. */
  def peek(k: Int): Int = if (pos + k < n) data(pos + k) & 0xff else -1

  /** Decoded string bytes, `bufLen` of them in use. */
  var buf: Array[Byte] = new Array[Byte](64)
  var bufLen = 0
  private def put(b: Int): Unit = {
    if (bufLen == buf.length) buf = java.util.Arrays.copyOf(buf, bufLen * 2)
    buf(bufLen) = b.toByte
    bufLen += 1
  }

  // one past each unclosed '(' of a literal string that hit the end
  private var deadParens: java.util.BitSet = null
  // positions of the '(' that opened nesting levels 2.. of the current string
  private var opens = new Array[Int](8)
  // [from, end) spans of the last comment, keyword and failed hex string:
  // a later scan that starts inside one, or runs into its start, ends
  // where it ended (a hex string's span holds a byte no pair accepts, at
  // hexBad, so it fails again)
  private var commentFrom, commentEnd, runFrom, runEnd, hexFrom, hexEnd, hexBad = -1

  /** The value of the last [[scanNumberOrRef]]: the number, or the
    * reference's object number (and [[gen]] its generation). */
  var num = 0.0
  var gen = 0.0

  def skipWs(): Unit = {
    var going = true
    while (going) {
      while (!atEnd && isWs(cur)) pos += 1
      if (cur == '%') { // comment to EOL
        val start = pos
        if (start >= commentFrom && start <= commentEnd) pos = commentEnd
        else {
          while (!atEnd && cur != 0x0a && cur != 0x0d && pos != commentFrom) pos += 1
          if (pos == commentFrom) pos = commentEnd
          commentFrom = start; commentEnd = pos
        }
      } else going = false
    }
  }

  /** Skip the run of regular bytes at pos; returns where it started. */
  def scanKeyword(): Int = {
    val start = pos
    while (!atEnd && !isWs(cur) && !isDelim(cur)) pos += 1
    start
  }

  private def keywordIs(start: Int, word: String): Boolean =
    pos - start == word.length && (0 until word.length).forall(i => data(start + i) == word.charAt(i))

  /** Parse one object at pos (after skipWs). Does NOT resolve streams —
    * the document layer handles `stream` payloads. */
  def parseObj(): PObj = {
    skipWs()
    cur match {
      case '<' => if (peek(1) == '<') parseDict() else parseString(hex = true)
      case '(' => parseString(hex = false)
      case '/' => parseName()
      case '[' => parseArray()
      case c if c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9') =>
        if (scanNumberOrRef()) PRef(num.toInt, gen.toInt) else PNum(num)
      case _ =>
        val start = pos
        if (start >= runFrom && start <= runEnd) pos = runEnd
        else {
          while (!atEnd && !isWs(cur) && !isDelim(cur) && pos != runFrom) pos += 1
          if (pos == runFrom) pos = runEnd
          runFrom = start; runEnd = pos
        }
        if (keywordIs(start, "true")) PBool(true)
        else if (keywordIs(start, "false")) PBool(false)
        else if (keywordIs(start, "null")) PNull
        else throw new PdfParseException(
          s"unexpected token '${new String(data, start, math.min(pos - start, 40), ISO_8859_1)}' at $pos")
    }
  }

  def parseDict(): PDict = {
    pos += 2 // <<
    val m = mutable.LinkedHashMap.empty[String, PObj]
    skipWs()
    while (!(cur == '>' && peek(1) == '>')) {
      if (atEnd) throw new PdfParseException("unterminated dict")
      val key = parseName().v
      val value = parseObj()
      m.update(key, value)
      skipWs()
    }
    pos += 2 // >>
    // VectorMap keeps document order: plain toMap hash-scrambles beyond 4
    // entries, making "first matching Info key" scans nondeterministic
    PDict(scala.collection.immutable.VectorMap.from(m))
  }

  /** The name at pos (on its '/', or on any byte for a dict key: the
    * first byte is skipped unread). A `#xx` escape decodes to one char. */
  def parseName(): PName = {
    pos += 1 // '/'
    val start = pos
    while (!atEnd && !isWs(cur) && !isDelim(cur) && cur != '#') pos += 1
    if (cur != '#') PName(new String(data, start, pos - start, ISO_8859_1))
    else {
      val sb = new StringBuilder(new String(data, start, pos - start, ISO_8859_1))
      while (!atEnd && !isWs(cur) && !isDelim(cur)) {
        if (cur == '#' && pos + 2 < n) {
          val hex = new String(data, pos + 1, 2, ISO_8859_1)
          try { sb.append(Integer.parseInt(hex, 16).toChar); pos += 3 }
          catch { case _: NumberFormatException => sb.append(cur.toChar); pos += 1 }
        } else { sb.append(cur.toChar); pos += 1 }
      }
      PName(sb.toString)
    }
  }

  /** Skip the name at pos (on its '/'): an escape never spans a
    * delimiter or white space, so the name ends where its regular run does. */
  def skipName(): Unit = { pos += 1; scanKeyword() }

  /** The name whose '/' is at `at`, decoded; pos is left unchanged. */
  def nameAt(at: Int): String = {
    val save = pos
    pos = at
    try parseName().v finally pos = save
  }

  def parseArray(): PArr = {
    pos += 1 // [
    val xs = Vector.newBuilder[PObj]
    skipWs()
    while (cur != ']') {
      if (atEnd) throw new PdfParseException("unterminated array")
      xs += parseObj()
      skipWs()
    }
    pos += 1
    PArr(xs.result())
  }

  private def parseString(hex: Boolean): PStr = {
    val mark = bufLen
    try {
      if (hex) scanHexString() else scanLitString()
      PStr(java.util.Arrays.copyOfRange(buf, mark, bufLen))
    } finally bufLen = mark
  }

  /** Decode the literal string at pos (on its '(') onto [[buf]]. */
  def scanLitString(): Unit = {
    val start = pos
    pos += 1 // (
    var depth = 1
    while (depth > 0) {
      // a mark sits one past a '(', so past pos none falls inside the run
      // of plain bytes below: pos is the one place to test
      if (deadParens != null && deadParens.get(pos)) unterminated(start, depth)
      var k = pos
      while (k < n && data(k) != '\\' && data(k) != '(' && data(k) != ')') k += 1
      if (k > pos) {
        if (bufLen + k - pos > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, bufLen + k - pos))
        System.arraycopy(data, pos, buf, bufLen, k - pos)
        bufLen += k - pos
        pos = k
      }
      if (atEnd) unterminated(start, depth)
      val c = cur
      pos += 1
      c match {
        case '\\' =>
          val e = cur; pos += 1
          e match {
            case 'n' => put('\n')
            case 'r' => put('\r')
            case 't' => put('\t')
            case 'b' => put('\b')
            case 'f' => put('\f')
            case '(' => put('(')
            case ')' => put(')')
            case '\\' => put('\\')
            case d if d >= '0' && d <= '7' =>
              var v = d - '0'
              var k = 0
              while (k < 2 && cur >= '0' && cur <= '7') { v = v * 8 + (cur - '0'); pos += 1; k += 1 }
              put(v)
            case 0x0a => () // line continuation
            case 0x0d => if (cur == 0x0a) pos += 1
            case other => put(other)
          }
        case '(' =>
          if (depth == opens.length) opens = java.util.Arrays.copyOf(opens, depth * 2)
          opens(depth) = pos - 1
          depth += 1
          put('(')
        case ')' =>
          depth -= 1
          if (depth > 0) put(')')
        case other => put(other)
      }
    }
  }

  // the string from `start` is open at `depth` and can never close: every
  // '(' still open is marked, whether this string hit the end itself or
  // reached a mark (past which its depth stays at least what it is now)
  private def unterminated(start: Int, depth: Int): Nothing = {
    if (deadParens == null) deadParens = new java.util.BitSet(n + 1)
    deadParens.set(start + 1)
    var k = 1
    while (k < depth) { deadParens.set(opens(k) + 1); k += 1 }
    pos = math.max(pos, n)
    throw new PdfParseException("unterminated string")
  }

  /** Decode the hex string at pos (on its '<') onto [[buf]]. White space
    * is skipped, an odd last digit pairs with '0', and a pair decodes as
    * `Integer.parseInt(pair, 16)` does, a leading sign included; any other
    * pair fails the string once its '>' has been passed. */
  def scanHexString(): Unit = {
    pos += 1 // <
    val from = pos
    // the string's end ('>' or the end of the bytes), and the last byte
    // before it that no pair accepts
    var end = from
    var bad = -1
    if (from >= hexFrom && from <= hexEnd) {
      end = hexEnd
      if (hexBad >= from) bad = hexBad
    } else {
      while (end < n && data(end) != '>' && end != hexFrom) {
        val c = data(end) & 0xff
        if (!isWs(c) && hexDigit(c) < 0 && c != '+' && c != '-') bad = end
        end += 1
      }
      if (end == hexFrom) { end = hexEnd; bad = hexBad }
    }
    pos = end + 1 // past '>'
    if (bad >= 0) {
      hexFrom = from; hexEnd = end; hexBad = bad
      throw new NumberFormatException("bad hex string")
    }
    var hi = -1
    var ok = true
    var k = from
    while (k < end) {
      val c = data(k) & 0xff
      if (!isWs(c)) {
        if (hi < 0) hi = c
        else { ok &= putHexPair(hi, c); hi = -1 }
      }
      k += 1
    }
    if (hi >= 0) ok &= putHexPair(hi, '0')
    if (!ok) throw new NumberFormatException("bad hex string")
  }

  private def putHexPair(a: Int, b: Int): Boolean = {
    val lo = hexDigit(b)
    if (lo < 0) false
    else if (a == '-') { put(-lo); true }
    else if (a == '+') { put(lo); true }
    else {
      val hi = hexDigit(a)
      hi >= 0 && { put(hi * 16 + lo); true }
    }
  }

  /** Scan the number at pos, or the `num gen R` reference it starts: true
    * for a reference (parts in [[num]] and [[gen]]), false for a number
    * (its value in [[num]]). */
  def scanNumberOrRef(): Boolean = {
    val first = scanNumber()
    num = first
    if (first >= 0 && first == math.floor(first)) {
      val afterFirst = pos
      skipWs()
      if (!atEnd && cur >= '0' && cur <= '9') {
        val g = scanNumber()
        skipWs()
        if (!atEnd && cur == 'R' &&
            (pos + 1 >= n || isWs(data(pos + 1) & 0xff) || isDelim(data(pos + 1) & 0xff))) {
          pos += 1
          gen = g
          return true
        }
      }
      pos = afterFirst
    }
    false
  }

  def parseNumber(): PNum = PNum(scanNumber())

  /** The number at pos: an optional sign, then digits and dots, valued as
    * `java.lang.Double.parseDouble` values that text (which throws on a
    * run with no digit or two dots). */
  def scanNumber(): Double = {
    skipWs()
    val start = pos
    if (cur == '+' || cur == '-') pos += 1
    var m = 0L
    var digits = 0
    var dots = 0
    var decimals = 0
    while (!atEnd && ((cur >= '0' && cur <= '9') || cur == '.')) {
      if (cur == '.') dots += 1
      else {
        m = m * 10 + (cur - '0'); digits += 1
        if (dots > 0) decimals += 1
      }
      pos += 1
    }
    // with up to 15 digits, m and 10^decimals are exact doubles, so one
    // division rounds as parseDouble does; anything else asks it
    if (digits > 0 && digits <= 15 && dots <= 1) {
      val v = m.toDouble / Pow10(decimals)
      if (data(start) == '-') -v else v
    } else java.lang.Double.parseDouble(new String(data, start, pos - start, ISO_8859_1))
  }
}

object PdfParser {
  def isWs(c: Int): Boolean =
    c == 0x20 || c == 0x0a || c == 0x0d || c == 0x09 || c == 0x0c || c == 0x00
  def isDelim(c: Int): Boolean =
    c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '{' || c == '}' || c == '/' || c == '%'
  private def hexDigit(c: Int): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1
  private val Pow10: Array[Double] = Array.iterate(1.0, 16)(_ * 10)
}

final class PdfParseException(msg: String) extends RuntimeException(msg)
