package graft.pdf.oracle

import scala.collection.mutable

/** The per-glyph-object text path that `graft.pdf.PdfText` replaced,
  * kept as the oracle PdfOracleSpec compares it against.
  *
  * Content-stream text interpreter + word/line assembly.
  *
  * Reproduces the extraction contract of the reference's
  * `extract_text_from_pdf` (reference src/docscraper.py:188-205):
  * pdfplumber `page.extract_text(x_tolerance=1, y_tolerance=3)` per page —
  * chars merge into a word while the horizontal gap ≤ x_tol, lines group
  * while |Δy| ≤ y_tol, words joined " ", lines joined "\n" — and the
  * caller joins page texts with " ".
  *
  * Supported operators: BT/ET, Tf, Td, TD, Tm, T*, TL, Tc, Tw, Tz, Ts,
  * Tj, TJ, ', ". Graphics-state ops are skipped (q/Q/cm tracked only as
  * no-ops — the synthetic corpus and typical article PDFs place text with
  * Tm/Td in default user space).
  */
object PdfText {

  final case class PChar(c: Char, x0: Double, x1: Double, y: Double, size: Double)

  /** Default glyph width (1/1000 em) when no /Widths present: Courier's
    * uniform 600. The synthetic corpus writes Courier, making positions
    * exact by construction. */
  private val DefaultWidth = 600.0

  final class FontInfo(val widths: Option[(Int, Array[Double])], val defaultWidth: Double) {
    def width(code: Int): Double = widths match {
      case Some((first, arr)) if code >= first && code - first < arr.length =>
        val w = arr(code - first)
        if (w > 0) w else defaultWidth
      case _ => defaultWidth
    }
  }

  def fontsFor(doc: PdfDoc)(page: doc.Page): Map[String, FontInfo] = {
    val fontDict = page.resources
      .flatMap(_.get("Font")).flatMap(doc.resolveDict)
    fontDict match {
      case Some(PDict(m)) =>
        m.flatMap { case (name, ref) =>
          doc.resolveDict(ref).map { fd =>
            val first = fd.get("FirstChar").map(doc.resolve) match {
              case Some(PNum(v)) => v.toInt
              case _             => 0
            }
            val widths = fd.get("Widths").map(doc.resolve) match {
              case Some(PArr(xs)) =>
                Some((first, xs.map { case PNum(v) => v; case _ => 0.0 }.toArray))
              case _ => None
            }
            name -> new FontInfo(widths, DefaultWidth)
          }
        }
      case _ => Map.empty
    }
  }

  /** Interpret a page's content stream into positioned chars.
    * y is emitted top-down (distance from page top), pdfplumber-style. */
  def chars(doc: PdfDoc)(page: doc.Page): List[PChar] = {
    val content = doc.pageContent(page)
    val fonts = fontsFor(doc)(page)
    val pageHeight = page.height

    val lexer = new PdfLexer(content, 0)
    val stack = mutable.ArrayBuffer.empty[PObj] // operand stack
    val out = mutable.ListBuffer.empty[PChar]

    // text state
    var fontSize = 0.0
    var font: FontInfo = new FontInfo(None, DefaultWidth)
    var charSpacing = 0.0
    var wordSpacing = 0.0
    var hscale = 1.0
    var leading = 0.0
    var rise = 0.0
    // text matrix (a b c d e f) and line matrix
    var tm = Array(1.0, 0, 0, 1, 0, 0)
    var tlm = Array(1.0, 0, 0, 1, 0, 0)

    def mul(m1: Array[Double], m2: Array[Double]): Array[Double] = Array(
      m1(0) * m2(0) + m1(1) * m2(2),
      m1(0) * m2(1) + m1(1) * m2(3),
      m1(2) * m2(0) + m1(3) * m2(2),
      m1(2) * m2(1) + m1(3) * m2(3),
      m1(4) * m2(0) + m1(5) * m2(2) + m2(4),
      m1(4) * m2(1) + m1(5) * m2(3) + m2(5))

    def translate(tx: Double, ty: Double): Unit = {
      tlm = mul(Array(1.0, 0, 0, 1, tx, ty), tlm)
      tm = tlm.clone()
    }

    def num(o: PObj): Double = o match { case PNum(v) => v; case _ => 0.0 }

    // advance the text matrix by a pure translation T(adv,0)·tm: only the
    // e/f components change (e' = adv·a + e, f' = adv·b + f) — updated in
    // place instead of two array allocations PER CHARACTER (tm is always
    // a private clone after BT/Td/Tm, so mutation never aliases tlm)
    def advance(adv: Double): Unit = {
      tm(4) += adv * tm(0)
      tm(5) += adv * tm(1)
    }

    def showString(str: PStr): Unit = {
      var i = 0
      while (i < str.bytes.length) {
        val code = str.bytes(i) & 0xff
        val ch = code.toChar
        val w0 = font.width(code) / 1000.0
        val adv = (w0 * fontSize + charSpacing +
          (if (code == 0x20) wordSpacing else 0.0)) * hscale
        // glyph origin in text space -> device space via tm (assume CTM=I)
        val x = tm(4)
        val yUp = tm(5) + rise
        out += PChar(ch, x, x + w0 * fontSize * hscale, pageHeight - yUp, fontSize)
        advance(adv)
        i += 1
      }
    }

    def showTJ(arr: PArr): Unit = arr.v.foreach {
      case s: PStr => showString(s)
      case PNum(k) => advance(-k / 1000.0 * fontSize * hscale)
      case _ => ()
    }

    while (!lexer.atEnd) {
      lexer.skipWs()
      if (!lexer.atEnd) {
        val c = lexer.data(lexer.pos) & 0xff
        if (c == '(' || c == '<' || c == '[' || c == '/' ||
            c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9')) {
          try stack += lexer.parseObj()
          catch { case _: Exception => lexer.pos += 1 }
        } else {
          val op = lexer.keyword()
          if (op.isEmpty) lexer.pos += 1
          else {
            op match {
              case "BT" =>
                tm = Array(1.0, 0, 0, 1, 0, 0); tlm = tm.clone()
              case "ET" => ()
              case "Tf" =>
                if (stack.length >= 2) {
                  fontSize = num(stack.last)
                  stack(stack.length - 2) match {
                    case PName(nm) => font = fonts.getOrElse(nm, new FontInfo(None, DefaultWidth))
                    case _         => ()
                  }
                }
              case "Td" =>
                if (stack.length >= 2)
                  translate(num(stack(stack.length - 2)), num(stack.last))
              case "TD" =>
                if (stack.length >= 2) {
                  leading = -num(stack.last)
                  translate(num(stack(stack.length - 2)), num(stack.last))
                }
              case "Tm" =>
                if (stack.length >= 6) {
                  val s = stack.takeRight(6).map(num).toArray
                  tlm = s; tm = s.clone()
                }
              case "T*" => translate(0, -leading)
              // lastOption: a malformed operator with no operand (e.g.
              // unsupported inline-image bytes tokenizing as keywords)
              // must not throw and lose the whole document's text
              case "TL" => stack.lastOption.foreach(o => leading = num(o))
              case "Tc" => stack.lastOption.foreach(o => charSpacing = num(o))
              case "Tw" => stack.lastOption.foreach(o => wordSpacing = num(o))
              case "Tz" => stack.lastOption.foreach(o => hscale = num(o) / 100.0)
              case "Ts" => stack.lastOption.foreach(o => rise = num(o))
              case "Tj" =>
                stack.lastOption.foreach { case s: PStr => showString(s); case _ => () }
              case "TJ" =>
                stack.lastOption.foreach { case a: PArr => showTJ(a); case _ => () }
              case "'" =>
                translate(0, -leading)
                stack.lastOption.foreach { case s: PStr => showString(s); case _ => () }
              case "\"" =>
                if (stack.length >= 3) {
                  wordSpacing = num(stack(stack.length - 3))
                  charSpacing = num(stack(stack.length - 2))
                  translate(0, -leading)
                  stack.last match { case s: PStr => showString(s); case _ => () }
                }
              case _ => () // non-text operator: operands just get dropped
            }
            stack.clear()
          }
        }
      }
    }
    out.toList
  }

  /** pdfplumber's default x/y tolerances: a char gap wider than XTol
    * starts a new word, a baseline step taller than YTol a new line. */
  private val XTol = 1.0
  private val YTol = 3.0

  /** Stable (y, x0) order of the line grouping, and the x0 order of a
    * line: java.lang.Double.compare on the primitive fields, which is
    * what Ordering[Double] does, so NaN sorts after every number and
    * -0.0 before 0.0. */
  private val ByYX: java.util.Comparator[PChar] = (a, b) => {
    val c = java.lang.Double.compare(a.y, b.y)
    if (c != 0) c else java.lang.Double.compare(a.x0, b.x0)
  }
  private val ByX: java.util.Comparator[PChar] = (a, b) => java.lang.Double.compare(a.x0, b.x0)

  /** pdfplumber-shaped extract_text over positioned chars. */
  def assemble(chars: List[PChar]): String = {
    // group into lines by top-down y with tolerance, CHAINED off the
    // previous char like pdfplumber's cluster_objects/cluster_list (a new
    // cluster starts when the gap from the PREVIOUS sorted value exceeds
    // the tolerance — anchoring at the line's first char instead would
    // split a drifting baseline, e.g. y = 100/102.5/105 with YTol 3, that
    // pdfplumber chains into one line). Both sorts are TimSort, so stable.
    val cs = chars.toArray
    java.util.Arrays.sort(cs, ByYX)
    val out = new java.lang.StringBuilder
    var start = 0
    while (start < cs.length) {
      var end = start + 1
      while (end < cs.length && !(cs(end).y - cs(end - 1).y > YTol)) end += 1
      java.util.Arrays.sort(cs, start, end, ByX)
      // words are maximal runs of non-space chars with no gap over XTol;
      // they join with " ", and non-empty lines with "\n"
      val lineStart = out.length
      var inWord = false
      var prevX1 = Double.NaN
      var k = start
      while (k < end) {
        val ch = cs(k)
        if (ch.c == ' ') inWord = false
        else {
          // a NaN x0 or x1 makes the gap NaN, which never splits
          if (inWord && ch.x0 - prevX1 > XTol) inWord = false
          if (!inWord) {
            if (out.length > lineStart) out.append(' ')
            else if (lineStart > 0) out.append('\n')
            inWord = true
          }
          out.append(ch.c)
        }
        prevX1 = ch.x1
        k += 1
      }
      start = end
    }
    out.toString
  }

  /** Full-document text: pages joined with " "
    * (reference src/docscraper.py:205). */
  def extractText(doc: PdfDoc): String =
    doc.pages.map(p => assemble(chars(doc)(p))).mkString(" ")
}
