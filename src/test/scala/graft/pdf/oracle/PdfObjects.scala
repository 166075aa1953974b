package graft.pdf.oracle

import scala.collection.mutable

/** The oracle's own copy of the object model and its lexer (see
  * [[PdfDoc]] in this package).
  *
  * PDF object model + object-level parser, from scratch (no PDFBox/Tika
  * offline; the north rule mandates from-scratch PDF/layout parse).
  * Syntax per the public PDF 1.7 spec (ISO 32000-1 §7.3).
  *
  * The file is scanned as ISO-8859-1 (1 byte = 1 char, lossless for
  * 0-255) for structure; stream payloads are sliced from the original
  * bytes.
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
    else new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
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
final case class PStream(dict: PDict, raw: Array[Byte]) extends PObj

/** Recursive-descent lexer/parser over a byte window. */
final class PdfLexer(val data: Array[Byte], var pos: Int) {
  private def n = data.length
  def atEnd: Boolean = pos >= n
  private def cur: Int = if (pos < n) data(pos) & 0xff else -1

  def isWs(c: Int): Boolean =
    c == 0x20 || c == 0x0a || c == 0x0d || c == 0x09 || c == 0x0c || c == 0x00
  def isDelim(c: Int): Boolean =
    c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '{' || c == '}' || c == '/' || c == '%'

  def skipWs(): Unit = {
    var going = true
    while (going) {
      while (!atEnd && isWs(cur)) pos += 1
      if (cur == '%') { // comment to EOL
        while (!atEnd && cur != 0x0a && cur != 0x0d) pos += 1
      } else going = false
    }
  }

  def keyword(): String = {
    val start = pos
    while (!atEnd && !isWs(cur) && !isDelim(cur)) pos += 1
    new String(data, start, pos - start, java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** Parse one object at pos (after skipWs). Does NOT resolve streams —
    * the document layer handles `stream` payloads. */
  def parseObj(): PObj = {
    skipWs()
    cur match {
      case '<' =>
        if (pos + 1 < n && (data(pos + 1) & 0xff) == '<') parseDict()
        else parseHexString()
      case '(' => parseLitString()
      case '/' => parseName()
      case '[' => parseArray()
      case c if c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9') =>
        parseNumberOrRef()
      case _ =>
        keyword() match {
          case "true"  => PBool(true)
          case "false" => PBool(false)
          case "null"  => PNull
          case other   => throw new PdfParseException(s"unexpected token '$other' at $pos")
        }
    }
  }

  def parseDict(): PDict = {
    pos += 2 // <<
    val m = mutable.LinkedHashMap.empty[String, PObj]
    skipWs()
    while (!(cur == '>' && pos + 1 < n && (data(pos + 1) & 0xff) == '>')) {
      if (atEnd) throw new PdfParseException("unterminated dict")
      val PName(key) = parseName(): @unchecked
      val value = parseObj()
      m.update(key, value)
      skipWs()
    }
    pos += 2 // >>
    // VectorMap keeps document order: plain toMap hash-scrambles beyond 4
    // entries, making "first matching Info key" scans nondeterministic
    PDict(scala.collection.immutable.VectorMap.from(m))
  }

  def parseName(): PObj = {
    pos += 1 // '/'
    val sb = new StringBuilder
    while (!atEnd && !isWs(cur) && !isDelim(cur)) {
      if (cur == '#' && pos + 2 < n) {
        val hex = new String(data, pos + 1, 2, java.nio.charset.StandardCharsets.ISO_8859_1)
        try { sb.append(Integer.parseInt(hex, 16).toChar); pos += 3 }
        catch { case _: NumberFormatException => sb.append(cur.toChar); pos += 1 }
      } else { sb.append(cur.toChar); pos += 1 }
    }
    PName(sb.toString)
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

  def parseLitString(): PStr = {
    pos += 1 // (
    val out = mutable.ArrayBuilder.make[Byte]
    var depth = 1
    while (depth > 0) {
      if (atEnd) throw new PdfParseException("unterminated string")
      val c = cur
      pos += 1
      c match {
        case '\\' =>
          val e = cur; pos += 1
          e match {
            case 'n' => out += '\n'.toByte
            case 'r' => out += '\r'.toByte
            case 't' => out += '\t'.toByte
            case 'b' => out += '\b'.toByte
            case 'f' => out += '\f'.toByte
            case '(' => out += '('.toByte
            case ')' => out += ')'.toByte
            case '\\' => out += '\\'.toByte
            case d if d >= '0' && d <= '7' =>
              var v = d - '0'
              var k = 0
              while (k < 2 && cur >= '0' && cur <= '7') { v = v * 8 + (cur - '0'); pos += 1; k += 1 }
              out += v.toByte
            case 0x0a => () // line continuation
            case 0x0d => if (cur == 0x0a) pos += 1
            case other => out += other.toByte
          }
        case '(' => depth += 1; out += '('.toByte
        case ')' =>
          depth -= 1
          if (depth > 0) out += ')'.toByte
        case other => out += other.toByte
      }
    }
    PStr(out.result())
  }

  def parseHexString(): PStr = {
    pos += 1 // <
    val out = mutable.ArrayBuilder.make[Byte]
    val digits = new StringBuilder
    while (!atEnd && cur != '>') {
      val c = cur
      if (!isWs(c)) digits.append(c.toChar)
      pos += 1
    }
    pos += 1 // >
    val hex = if (digits.length % 2 == 1) digits.append('0').toString else digits.toString
    var i = 0
    while (i < hex.length) {
      out += Integer.parseInt(hex.substring(i, i + 2), 16).toByte
      i += 2
    }
    PStr(out.result())
  }

  def parseNumberOrRef(): PObj = {
    val save = pos
    val first = parseNumber()
    // try "<int> <int> R"
    first match {
      case PNum(v) if v >= 0 && v == math.floor(v) =>
        val afterFirst = pos
        skipWs()
        if (!atEnd && cur >= '0' && cur <= '9') {
          val genStart = pos
          val gen = parseNumber()
          skipWs()
          if (!atEnd && cur == 'R' &&
              (pos + 1 >= n || isWs(data(pos + 1) & 0xff) || isDelim(data(pos + 1) & 0xff))) {
            pos += 1
            return PRef(v.toInt, gen.v.toInt)
          }
          pos = genStart
          pos = afterFirst
        } else pos = afterFirst
        first
      case _ => pos = save; parseNumber()
    }
  }

  def parseNumber(): PNum = {
    skipWs()
    val start = pos
    if (cur == '+' || cur == '-') pos += 1
    while (!atEnd && ((cur >= '0' && cur <= '9') || cur == '.')) pos += 1
    val s = new String(data, start, pos - start, java.nio.charset.StandardCharsets.ISO_8859_1)
    PNum(s.toDouble)
  }
}

final class PdfParseException(msg: String) extends RuntimeException(msg)
