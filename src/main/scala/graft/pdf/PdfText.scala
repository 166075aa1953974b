package graft.pdf

/** Content-stream text interpreter + word/line assembly.
  *
  * Reproduces the extraction contract of the reference's
  * `extract_text_from_pdf` (/root/reference/src/docscraper.py:188-205):
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

  /** One page's positioned glyphs in content-stream order, one primitive
    * column per field: the char, its left and right x, and its top-down
    * y. Growable; `size` glyphs are in use. */
  final class Glyphs(capacity: Int) {
    var size = 0
    var c = new Array[Char](math.max(capacity, 16))
    var x0 = new Array[Double](c.length)
    var x1 = new Array[Double](c.length)
    var y = new Array[Double](c.length)

    def add(ch: Char, gx0: Double, gx1: Double, gy: Double): Unit = {
      if (size == c.length) reserve(1)
      c(size) = ch; x0(size) = gx0; x1(size) = gx1; y(size) = gy
      size += 1
    }

    /** Make room for `more` glyphs past `size`. */
    def reserve(more: Int): Unit = if (size + more > c.length) {
      val cap = math.max(c.length * 2, size + more)
      c = java.util.Arrays.copyOf(c, cap)
      x0 = java.util.Arrays.copyOf(x0, cap)
      x1 = java.util.Arrays.copyOf(x1, cap)
      y = java.util.Arrays.copyOf(y, cap)
    }
  }

  /** Default glyph width (1/1000 em) when no /Widths present: Courier's
    * uniform 600. The synthetic corpus writes Courier, making positions
    * exact by construction. */
  private val DefaultWidth = 600.0

  /** A font's /Widths from /FirstChar (`widths` null when it has none). */
  final class FontInfo(first: Int, widths: Array[Double]) {
    def width(code: Int): Double =
      if (widths != null && code >= first && code - first < widths.length) {
        val w = widths(code - first)
        if (w > 0) w else DefaultWidth
      } else DefaultWidth
  }
  private val NoWidths = new FontInfo(0, null)

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
              case Some(PArr(xs)) => xs.map { case PNum(v) => v; case _ => 0.0 }.toArray
              case _ => null
            }
            name -> new FontInfo(first, widths)
          }
        }
      case _ => Map.empty
    }
  }

  // operand kinds; a reference, dict, name inside an array, boolean or
  // null is Other: the text operators read none of them
  private final val Num = 0
  private final val Name = 1
  private final val Str = 2
  private final val Arr = 3
  private final val Other = 4

  /** An operand stack in parallel columns: kind, number value, and a
    * [from, to) range — a string's bytes in the parser's buffer, an
    * array's elements in a second stack, a name's '/' offset in `from`. */
  private final class Operands {
    var size = 0
    var kind = new Array[Int](16)
    var num = new Array[Double](16)
    var from = new Array[Int](16)
    var to = new Array[Int](16)

    def push(k: Int, v: Double, a: Int, b: Int): Unit = {
      if (size == kind.length) {
        kind = java.util.Arrays.copyOf(kind, size * 2)
        num = java.util.Arrays.copyOf(num, size * 2)
        from = java.util.Arrays.copyOf(from, size * 2)
        to = java.util.Arrays.copyOf(to, size * 2)
      }
      kind(size) = k; num(size) = v; from(size) = a; to(size) = b
      size += 1
    }

    /** The number at `i`, 0 for any other operand. */
    def numAt(i: Int): Double = if (kind(i) == Num) num(i) else 0.0
  }

  /** Interpret a page's content stream into positioned chars.
    * y is emitted top-down (distance from page top), pdfplumber-style.
    * Operands are read as the object parser reads them, without building
    * objects for the ones the text operators use: a string decodes onto
    * the parser's buffer and stays there until the next operator clears
    * the stack. An operand that fails to parse is dropped, and reading
    * resumes one byte past where its parse stopped. */
  def chars(doc: PdfDoc)(page: doc.Page): Glyphs = {
    val content = doc.pageContent(page)
    val fonts = fontsFor(doc)(page)
    val pageHeight = page.height

    val lex = new PdfParser(content, 0)
    val stack = new Operands
    val elems = new Operands // the elements of the array operands
    val out = new Glyphs(math.min(content.length, 4096))

    // text state
    var fontSize = 0.0
    var font = NoWidths
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

    // advance the text matrix by a pure translation T(adv,0)·tm: only the
    // e/f components change (e' = adv·a + e, f' = adv·b + f) — updated in
    // place instead of two array allocations PER CHARACTER (tm is always
    // a private clone after BT/Td/Tm, so mutation never aliases tlm)
    def advance(adv: Double): Unit = {
      tm(4) += adv * tm(0)
      tm(5) += adv * tm(1)
    }

    def showString(from: Int, to: Int): Unit = {
      out.reserve(to - from)
      var i = from
      while (i < to) {
        val code = lex.buf(i) & 0xff
        val w0 = font.width(code) / 1000.0
        val adv = (w0 * fontSize + charSpacing +
          (if (code == 0x20) wordSpacing else 0.0)) * hscale
        // glyph origin in text space -> device space via tm (assume CTM=I)
        val x = tm(4)
        val yUp = tm(5) + rise
        out.add(code.toChar, x, x + w0 * fontSize * hscale, pageHeight - yUp)
        advance(adv)
        i += 1
      }
    }

    // show the string operand at `i`, if it is one
    def showAt(i: Int): Unit =
      if (stack.kind(i) == Str) showString(stack.from(i), stack.to(i))

    def showTJ(i: Int): Unit = {
      var e = stack.from(i)
      while (e < stack.to(i)) {
        elems.kind(e) match {
          case Str => showString(elems.from(e), elems.to(e))
          case Num => advance(-elems.num(e) / 1000.0 * fontSize * hscale)
          case _ => ()
        }
        e += 1
      }
    }

    // one operand, or one element of an array operand, onto `into`; a
    // string's bytes go onto the parser's buffer
    def operand(into: Operands): Unit = lex.cur match {
      case '(' =>
        val from = lex.bufLen
        lex.scanLitString()
        into.push(Str, 0, from, lex.bufLen)
      case '<' if lex.peek(1) != '<' =>
        val from = lex.bufLen
        lex.scanHexString()
        into.push(Str, 0, from, lex.bufLen)
      case c if c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9') =>
        if (lex.scanNumberOrRef()) into.push(Other, 0, 0, 0) else into.push(Num, lex.num, 0, 0)
      case '/' if into eq stack =>
        val at = lex.pos
        lex.skipName()
        stack.push(Name, 0, at, 0)
      case '[' if into eq stack =>
        lex.open()
        try {
          lex.pos += 1
          val from = elems.size
          lex.skipWs()
          while (lex.cur != ']') {
            if (lex.atEnd) throw new PdfParseException("unterminated array")
            operand(elems)
            lex.skipWs()
          }
          lex.pos += 1
          stack.push(Arr, 0, from, elems.size)
        } finally lex.close()
      case _ =>
        lex.parseObj()
        into.push(Other, 0, 0, 0)
    }

    // an operator at [start, start + len) of the content
    def operator(start: Int, len: Int): Unit = {
      val n = stack.size
      val a = content(start)
      val b = if (len == 2) content(start + 1) else 0
      if (len == 1 && a == '\'') {
        translate(0, -leading)
        if (n > 0) showAt(n - 1)
      } else if (len == 1 && a == '"') {
        if (n >= 3) {
          wordSpacing = stack.numAt(n - 3)
          charSpacing = stack.numAt(n - 2)
          translate(0, -leading)
          showAt(n - 1)
        }
      } else if (len == 2 && a == 'B' && b == 'T') {
        tm = Array(1.0, 0, 0, 1, 0, 0); tlm = tm.clone()
      } else if (len == 2 && a == 'T') b match {
        case 'f' =>
          if (n >= 2) {
            fontSize = stack.numAt(n - 1)
            if (stack.kind(n - 2) == Name)
              font = fonts.getOrElse(lex.nameAt(stack.from(n - 2)), NoWidths)
          }
        case 'd' =>
          if (n >= 2) translate(stack.numAt(n - 2), stack.numAt(n - 1))
        case 'D' =>
          if (n >= 2) {
            leading = -stack.numAt(n - 1)
            translate(stack.numAt(n - 2), stack.numAt(n - 1))
          }
        case 'm' =>
          if (n >= 6) {
            val s = Array.tabulate(6)(k => stack.numAt(n - 6 + k))
            tlm = s; tm = s.clone()
          }
        case '*' => translate(0, -leading)
        // a malformed operator with no operand (e.g. unsupported
        // inline-image bytes tokenizing as keywords) must not throw and
        // lose the whole document's text
        case 'L' => if (n > 0) leading = stack.numAt(n - 1)
        case 'c' => if (n > 0) charSpacing = stack.numAt(n - 1)
        case 'w' => if (n > 0) wordSpacing = stack.numAt(n - 1)
        case 'z' => if (n > 0) hscale = stack.numAt(n - 1) / 100.0
        case 's' => if (n > 0) rise = stack.numAt(n - 1)
        case 'j' => if (n > 0) showAt(n - 1)
        case 'J' => if (n > 0 && stack.kind(n - 1) == Arr) showTJ(n - 1)
        case _ => ()
      }
      // any other operator (ET included) just drops its operands
    }

    while (!lex.atEnd) {
      lex.skipWs()
      if (!lex.atEnd) {
        val c = lex.cur
        if (c == '(' || c == '<' || c == '[' || c == '/' ||
            c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9')) {
          val e = elems.size
          val b = lex.bufLen
          try operand(stack)
          catch { case _: Exception => lex.pos += 1; elems.size = e; lex.bufLen = b }
        } else {
          val start = lex.scanKeyword()
          if (lex.pos == start) lex.pos += 1
          else {
            operator(start, lex.pos - start)
            stack.size = 0; elems.size = 0; lex.bufLen = 0
          }
        }
      }
    }
    out
  }

  /** pdfplumber's default x/y tolerances: a char gap wider than XTol
    * starts a new word, a baseline step taller than YTol a new line. */
  private val XTol = 1.0
  private val YTol = 3.0

  /** Stable (y, x0) order of the line grouping, and the x0 order of a
    * line: java.lang.Double.compare on the primitive columns, which is
    * what Ordering[Double] does, so NaN sorts after every number and
    * -0.0 before 0.0. */
  private def compare(g: Glyphs, byY: Boolean, a: Int, b: Int): Int = {
    val c = if (byY) java.lang.Double.compare(g.y(a), g.y(b)) else 0
    if (c != 0) c else java.lang.Double.compare(g.x0(a), g.x0(b))
  }

  /** Stable sort of the glyph indices `ix[from, until)` — a check first,
    * since content streams mostly draw in reading order and a stable sort
    * of sorted input is the identity; otherwise the library's stable sort. */
  private def sortIndices(g: Glyphs, ix: Array[Int], from: Int, until: Int, byY: Boolean): Unit = {
    var k = from + 1
    while (k < until && compare(g, byY, ix(k - 1), ix(k)) <= 0) k += 1
    if (k < until) {
      val boxed = Array.tabulate[Integer](until - from)(i => ix(from + i))
      java.util.Arrays.sort(boxed, (a: Integer, b: Integer) => compare(g, byY, a, b))
      k = 0
      while (k < boxed.length) { ix(from + k) = boxed(k); k += 1 }
    }
  }

  /** pdfplumber-shaped extract_text over positioned chars. */
  def assemble(g: Glyphs): String = {
    // group into lines by top-down y with tolerance, CHAINED off the
    // previous char like pdfplumber's cluster_objects/cluster_list (a new
    // cluster starts when the gap from the PREVIOUS sorted value exceeds
    // the tolerance — anchoring at the line's first char instead would
    // split a drifting baseline, e.g. y = 100/102.5/105 with YTol 3, that
    // pdfplumber chains into one line). Both sorts are stable.
    val n = g.size
    val ix = Array.range(0, n)
    sortIndices(g, ix, 0, n, byY = true)
    val cs = g.c
    val x0s = g.x0
    val x1s = g.x1
    val ys = g.y
    // each glyph writes at most a separator and itself
    val out = new Array[Char](2 * n)
    var len = 0
    var start = 0
    while (start < n) {
      var end = start + 1
      while (end < n && !(ys(ix(end)) - ys(ix(end - 1)) > YTol)) end += 1
      sortIndices(g, ix, start, end, byY = false)
      // words are maximal runs of non-space chars with no gap over XTol;
      // they join with " ", and non-empty lines with "\n"
      val lineStart = len
      var inWord = false
      var prevX1 = Double.NaN
      var k = start
      while (k < end) {
        val i = ix(k)
        val ch = cs(i)
        if (ch == ' ') inWord = false
        else {
          // a NaN x0 or x1 makes the gap NaN, which never splits
          if (inWord && x0s(i) - prevX1 > XTol) inWord = false
          if (!inWord) {
            if (len > lineStart) { out(len) = ' '; len += 1 }
            else if (lineStart > 0) { out(len) = '\n'; len += 1 }
            inWord = true
          }
          out(len) = ch
          len += 1
        }
        prevX1 = x1s(i)
        k += 1
      }
      start = end
    }
    new String(out, 0, len)
  }

  /** Full-document text: pages joined with " "
    * (/root/reference/src/docscraper.py:205). */
  def extractText(doc: PdfDoc): String =
    doc.pages.map(p => assemble(chars(doc)(p))).mkString(" ")
}
