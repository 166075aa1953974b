package graft.pdf

import java.nio.charset.StandardCharsets.ISO_8859_1
import scala.util.Random
import graft.util.Deflate

/** A deterministic corpus of hard PDFs for the reader's oracle-equality
  * property: `generate(seed)` draws one document from the seed. A quarter
  * are `PdfWriter.build` bytes with an incremental update appended; the
  * rest are laid out here in the writer's object shapes. Then both are
  * bent the ways crawled PDFs bend.
  *
  * Structure: object streams (with and without a PNG predictor), XRef
  * streams standing in for the trailer, incremental updates that redefine
  * ids top-level and inside a later object stream, reference and `Kids`
  * cycles, `/Contents` arrays, a bad, negative, indirect, huge or missing
  * `/Length`, a missing `endstream`, header spellings with VT, tab or form
  * feed separators and with Latin-1 bytes after `obj`, object numbers past
  * Int.MaxValue, `N G obj` spelled inside payloads, truncation and byte
  * flips at seeded offsets.
  *
  * Content: random operator soup over every text operator, with fonts
  * that carry `/Widths` from `/FirstChar` (direct and indirect), literal
  * strings with every escape and nesting, hex strings with odd lengths,
  * signs and bad digits, numbers that parse slowly, fail or overflow to
  * infinity, operands of the wrong kind, comments, stray delimiters and an
  * unterminated string, array or dict at the end. Streams are raw,
  * FlateDecode (optionally PNG-predicted), ASCIIHex, a filter chain or an
  * unsupported filter.
  */
object HardPdfs {

  private def b(s: String): Array[Byte] = s.getBytes(ISO_8859_1)

  private def pick[T](rng: Random, xs: T*): T = xs(rng.nextInt(xs.length))

  // --- content streams ---------------------------------------------------

  private val Words = Seq("alpha", "beta gamma", "x", "doi: 10.1234/ab.c", "effect (d = 0.4)",
    "Café über", "  spaced  out  ", "a", "", "1 0 obj", "end", "ÿ\u0080")

  private def number(rng: Random): String = rng.nextInt(14) match {
    case 0 | 1 | 2 => rng.nextInt(800).toString
    case 3 | 4 => f"${rng.nextDouble() * 700}%.2f"
    case 5 => "-" + rng.nextInt(50)
    case 6 => pick(rng, "-0", "0", ".5", "5.", "+3", "-.25", "007")
    case 7 => "0." + (1 to 16 + rng.nextInt(3)).map(_ => rng.nextInt(10)).mkString
    case 8 => (1 to 15 + rng.nextInt(4)).map(_ => 1 + rng.nextInt(9)).mkString + "." + rng.nextInt(100)
    case 9 => "9" * (20 + rng.nextInt(320)) // past Double.MaxValue at 309 digits
    case 10 => pick(rng, "1.2.3", "..", "-", "+", ".", "1e5", "--1")
    case 11 => f"${rng.nextDouble() * 20 - 10}%.3f"
    case _ => (rng.nextInt(3) * 12).toString
  }

  private def litString(rng: Random): String = {
    val w = pick(rng, Words: _*).flatMap {
      case '(' => "\\("
      case ')' => "\\)"
      case c => c.toString
    }
    rng.nextInt(9) match {
      case 0 => s"($w\\n\\r\\t\\b\\f\\\\)"
      case 1 => s"(oct \\101\\7\\0123\\9 $w)"
      case 2 => s"(nest (ed $w) (x(y)z))"
      case 3 => s"(cont\\\n$w\\\r\nline\\\rmore)"
      case 4 => s"(unbalanced \\( $w)"
      case 5 => s"(\u000b$w\u0000)"
      case _ => s"($w)"
    }
  }

  private def hexString(rng: Random): String = rng.nextInt(8) match {
    case 0 => "<48 65 6C 6c 6f>"
    case 1 => "<4865 6>"
    case 2 => "<+f-1 41>"
    case 3 => "<4g41>"
    case 4 => "<>"
    case 5 => "<41\u000042>"
    case _ => "<" + pick(rng, Words: _*).getBytes(ISO_8859_1).map(x => f"${x & 0xff}%02x").mkString + ">"
  }

  private def string(rng: Random): String = if (rng.nextInt(4) == 0) hexString(rng) else litString(rng)

  private def op(rng: Random): String = {
    def n = number(rng)
    def s = string(rng)
    rng.nextInt(40) match {
      case 0 | 1 => "BT"
      case 2 => "ET"
      case 3 | 4 => s"/F${1 + rng.nextInt(4)} ${pick(rng, "12", "9.5", "0", "-8", "24")} Tf"
      case 5 | 6 => s"$n $n Td"
      case 7 => s"${pick(rng, "0", "3")} ${pick(rng, "-14", "14", "-2", "0")} TD"
      case 8 | 9 => s"${pick(rng, "1 0 0 1", "2 0 0 2", "1 0.5 0 1", "0 1 -1 0")} $n $n Tm"
      case 10 | 11 => "T*"
      case 12 => s"$n TL"
      case 13 => s"${pick(rng, "0", "0.5", "-1", "3")} Tc"
      case 14 => s"${pick(rng, "0", "2", "-3")} Tw"
      case 15 => s"${pick(rng, "100", "90", "150", "0")} Tz"
      case 16 => s"${pick(rng, "0", "3", "-2")} Ts"
      case 17 | 18 | 19 | 20 | 21 => s"$s Tj"
      case 22 | 23 | 24 => s"[$s ${pick(rng, "-120", "50", "-10", "0", n)} $s ${pick(rng, "", "-300 ", "1 0 R ")}$s] TJ"
      case 25 => s"$s '"
      case 26 => s"${pick(rng, "1", "0")} ${pick(rng, "0", "0.5")} $s \""
      case 27 => pick(rng, "q", "Q", "1 0 0 1 0 0 cm", "/GS1 gs", "EMC", "0 g", "re f")
      case 28 => pick(rng, "<< /MCID 3 /Alt (x) >> BDC", "/Span << /ActualText <FEFF0041> >> BDC")
      case 29 => pick(rng, "1 0 R Tj", "true Tj", "null", "(a) 1 0 R Tj", "/F#31 12 Tf", "/F1#2 12 Tf")
      case 30 => pick(rng, "% comment (not a string\n", "%\r", "{ } ) ] >", "éè Tj", "\u000b")
      case 31 => pick(rng, "[[1 2] (in) /N (b) << /A 1 >> 3] TJ", "[(a) (b)", "[(a) Tj] TJ", "[1.2.3 (x)] TJ")
      case 32 => s"$n $n $n Td" // one operand too many
      case 33 => s"$n Tm" // too few
      case 34 => s"$s $n Tj" // wrong kind on top
      case 35 => s"12 ${pick(rng, "1.2.3", "0.0.1")} Td"
      case 36 => s"$n $n TD T* $s Tj"
      case _ => s"$s Tj"
    }
  }

  /** A content stream of random operators inside a BT/ET, ending with a
    * seeded tail: nothing, or an unterminated string, array or dict. */
  def content(rng: Random): Array[Byte] = {
    val ops = (0 until 4 + rng.nextInt(40)).map(_ => op(rng))
    val tail = rng.nextInt(8) match {
      case 0 => "\n(unterminated " + string(rng) + " Tj ET"
      case 1 => "\n[(open array) Tj"
      case 2 => "\n<< /Open 1"
      case 3 => "\n<4142"
      case _ => "\nET"
    }
    val sep = pick(rng, "\n", " ", "\r\n", "\n\n")
    b(("BT /F1 12 Tf 72 720 Td" +: ops).mkString(sep) + tail)
  }

  // --- stream encodings --------------------------------------------------

  /** PNG-predict `raw` in rows of `columns` bytes (one byte per pixel),
    * each row with a seeded filter type 0–4. */
  def pngPredict(raw: Array[Byte], columns: Int, rng: Random): Array[Byte] = {
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    val padded = raw ++ new Array[Byte]((columns - raw.length % columns) % columns)
    val out = new java.io.ByteArrayOutputStream
    var prev = new Array[Byte](columns)
    padded.grouped(columns).foreach { row =>
      val ft = rng.nextInt(5)
      out.write(ft)
      for (i <- 0 until columns) {
        val left = if (i >= 1) row(i - 1) & 0xff else 0
        val up = prev(i) & 0xff
        val ul = if (i >= 1) prev(i - 1) & 0xff else 0
        val predicted = ft match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case _ => paeth(left, up, ul)
        }
        out.write(((row(i) & 0xff) - predicted) & 0xff)
      }
      prev = row
    }
    out.toByteArray
  }

  private def hex(bytes: Array[Byte]): Array[Byte] =
    b(bytes.map(x => f"${x & 0xff}%02X").grouped(32).map(_.mkString).mkString("\n") + ">")

  /** (dict entries, payload) for `raw` under a seeded filter. */
  def encode(raw: Array[Byte], rng: Random): (String, Array[Byte]) = rng.nextInt(7) match {
    case 0 | 1 => ("", raw)
    case 2 => ("/Filter /FlateDecode", Deflate(raw, 6))
    case 3 =>
      val cols = 1 + rng.nextInt(12)
      (s"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns $cols >>",
        Deflate(pngPredict(raw, cols, rng), 6))
    case 4 => ("/Filter /ASCIIHexDecode", hex(raw))
    case 5 => ("/Filter [/ASCIIHexDecode /FlateDecode]", hex(Deflate(raw, 6)))
    case _ => ("/Filter /LZWDecode", raw) // unsupported: passed through
  }

  // --- documents ---------------------------------------------------------

  private def header(rng: Random, num: Long, gen: Int = 0): String = {
    val sep = if (rng.nextInt(6) == 0) pick(rng, "\u000b", "\t\u000c", "\r\n", "  ") else " "
    val after = if (rng.nextInt(12) == 0) pick(rng, "\u000b", "×", "é", "ª", "_", "5") else "\n"
    s"$num$sep$gen${sep}obj$after"
  }

  private def plain(rng: Random, num: Long, body: String): Array[Byte] =
    b(header(rng, num) + body + "\nendobj\n")

  private def streamObj(rng: Random, num: Int, dict: String, payload: Array[Byte],
      lengthRef: Int): Array[Byte] = {
    val length = rng.nextInt(14) match {
      case 0 => s"${payload.length + 1 + rng.nextInt(4)}"
      case 1 => s"${math.max(0, payload.length - 1 - rng.nextInt(4))}"
      case 2 => "-5"
      case 3 => s"$lengthRef 0 R"
      case 4 => pick(rng, "99999999999", "2147483647", "1e3")
      case 5 => "/Foo"
      case _ => payload.length.toString
    }
    val missingEnd = rng.nextInt(25) == 0
    b(header(rng, num) + s"<< $dict /Length $length >>\nstream" + pick(rng, "\n", "\r\n", "\r", "")) ++
      payload ++ b(if (missingEnd) "\n" else pick(rng, "\nendstream", "endstream", "\r\nendstream") +
        "\nendobj\n")
  }

  private def info(rng: Random): String = {
    val title = pick(rng, "(A Study of Things)", "<FEFF00540069>", "(T\\(1\\))", "(été)")
    val extra = rng.nextInt(5) match {
      case 0 => " /doi (10.4242/x.1) /Pages 3"
      case 1 => " /Author (Someone) /Trapped /False /Flag true /Ref 2 0 R"
      case 2 => " /Subject (10.1000/abc) /Keywords (arXiv:2101.00001)"
      case _ => ""
    }
    s"<< /Title $title /Producer (gen)$extra >>"
  }

  /** One document drawn from `seed`, and a name listing its variants. */
  def generate(seed: Long): (String, Array[Byte]) = {
    // spread the seeds: java.util.Random's first draws barely differ
    // between consecutive small seeds
    val rng = new Random(seed * 0x9E3779B97F4A7C15L)
    val notes = Vector.newBuilder[String]
    def note(s: String): Unit = notes += s
    val out = new java.io.ByteArrayOutputStream
    def w(bytes: Array[Byte]): Unit = out.write(bytes)
    if (rng.nextInt(4) == 0) writerDoc(rng, note, w) else builtDoc(rng, note, w)
    var bytes = out.toByteArray
    if (rng.nextInt(5) == 0) {
      note("flipped")
      bytes = bytes.clone()
      (0 until 1 + rng.nextInt(4)).foreach { _ =>
        bytes(rng.nextInt(bytes.length)) = pick(rng, '(', ')', '<', '>', '[', ']', '\u000b', '0', 'é', ' ').toByte
      }
    }
    if (rng.nextInt(5) == 0) {
      note("truncated")
      bytes = bytes.take(9 + rng.nextInt(bytes.length - 9))
    }
    (s"seed $seed [${notes.result().mkString(",")}]", bytes)
  }

  /** `PdfWriter.build` bytes, then an incremental update that redefines
    * the first page's content stream with operator soup, and sometimes
    * the Info dict. */
  private def writerDoc(rng: Random, note: String => Unit, w: Array[Byte] => Unit): Unit = {
    note("writer")
    val pages = (0 until 1 + rng.nextInt(3)).map(_ =>
      PdfWriter.PageSpec((0 until rng.nextInt(8)).map(_ => pick(rng, Words: _*))))
    val meta = Map("Title" -> pick(rng, "A (Parens) Title", "Plain")) ++
      (if (rng.nextBoolean()) Map("doi" -> "10.4242/test.001") else Map.empty)
    w(PdfWriter.build(pages, meta, compress = rng.nextBoolean()))
    val n = pages.length
    if (rng.nextBoolean()) {
      val (dict, payload) = encode(content(rng), rng)
      w(streamObj(rng, 4 + n, dict, payload, 3))
    }
    if (rng.nextBoolean()) w(plain(rng, 4 + 2 * n, info(rng)))
    if (rng.nextBoolean()) w(b(s"trailer\n<< /Root 1 0 R /Info ${4 + 2 * n} 0 R >>\n%%EOF\n"))
  }

  /** A document laid out here, object by object, with the structural
    * variants drawn from `rng`. */
  private def builtDoc(rng: Random, note: String => Unit, w: Array[Byte] => Unit): Unit = {
    w(b("%PDF-1.5\n%âãÏÓ\n"))

    val twoPages = rng.nextBoolean()
    val kids = if (twoPages) "3 0 R 4 0 R" else "3 0 R"
    val kidsCycle = rng.nextInt(10) == 0
    val fonts = "/Font << /F1 5 0 R /F2 6 0 R /F3 7 0 R >>"
    val page3 = s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Resources << $fonts >> /Contents 8 0 R >>"
    val page4 = s"<< /Type /Page /Parent 2 0 R /Resources << $fonts >> /Contents [9 0 R 10 0 R] >>"
    val widths = (0 until 20).map(_ => pick(rng, "500", "600", "250", "0", "-10", "1000", "/X")).mkString(" ")
    val font6 = s"<< /Type /Font /Subtype /Type1 /FirstChar ${pick(rng, "32", "97", "0", "-5")} /Widths [$widths] >>"
    val font7 = "<< /Type /Font /Subtype /TrueType /Widths 11 0 R >>"
    val pool = Seq(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> s"<< /Type /Pages /Kids [${if (kidsCycle) "2 0 R " else ""}$kids] /Count 2 >>",
      3 -> page3, 4 -> page4,
      5 -> "<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>",
      6 -> font6, 7 -> font7,
      11 -> s"[${(0 until 60).map(_ => pick(rng, "600", "400", "700")).mkString(" ")}]",
      12 -> (if (rng.nextInt(8) == 0) { note("info-cycle"); "14 0 R" } else info(rng)),
      14 -> "15 0 R", 15 -> "14 0 R",
      16 -> "<< /Title (Outline item) /Parent 17 0 R /Next 18 0 R >>")
    if (kidsCycle) note("kids-cycle")

    // objects 5, 6, 7, 12 may go into an object stream (13 holds the lengths)
    val useObjStm = rng.nextInt(3) == 0
    val inStm = if (useObjStm) Set(5, 6, 7, 12) else Set.empty[Int]
    pool.filterNot { case (n, _) => inStm(n) }.foreach { case (n, body) =>
      if (rng.nextInt(40) == 0) { note("junk-header"); w(b("% 99999999999 0 obj\n99999999999 0 obj << >> endobj\n")) }
      // a string that never closes: every object after it sits inside it,
      // and each of their strings opens and closes a level of it
      if (rng.nextInt(60) == 0) { note("open-string"); w(plain(rng, 19, pick(rng, "(open (x) ", "<< /A (a(b)c ", "[(\\( ", "<4g "))) }
      w(plain(rng, n, body))
    }
    if (useObjStm) {
      note("objstm")
      w(objStm(rng, 20, pool.filter { case (n, _) => inStm(n) }))
    }
    def contentObj(num: Int): Unit = {
      val raw = content(rng)
      val (dict, payload) = encode(raw, rng)
      if (dict.nonEmpty) note(dict.split(' ')(1))
      w(streamObj(rng, num, dict, payload, 13))
      w(plain(rng, 13, payload.length.toString))
    }
    contentObj(8)
    if (twoPages) {
      note("contents-array")
      contentObj(9); contentObj(10)
    }
    if (rng.nextInt(6) == 0) { note("obj-in-payload"); w(streamObj(rng, 21, "", b("22 0 obj << /Type /Catalog >> endobj"), 13)) }
    // 2^32 + 8: an id that wraps onto page 3's content if read as an Int
    if (rng.nextInt(40) == 0) { note("junk-header"); w(b("4294967304 0 obj << >> endobj\n")) }

    // the trailer: a classic one, an XRef stream standing in for it, or both
    val xrefOnly = rng.nextInt(4) == 0
    val infoKey = if (rng.nextInt(5) == 0) "" else " /Info 12 0 R"
    if (xrefOnly) {
      note("xref-stream")
      w(streamObj(rng, 30, s"/Type /XRef /Root 1 0 R$infoKey /Size 31", new Array[Byte](12), 13))
    } else w(b(s"xref\n0 1\n0000000000 65535 f \ntrailer\n<< /Size 31 /Root 1 0 R$infoKey >>\nstartxref\n9\n%%EOF\n"))

    // an incremental update redefines the info dict and page 3's content,
    // top-level or inside a new object stream
    if (rng.nextInt(3) == 0) {
      val newInfo = "<< /Title (Revised Title) /Producer (rev2) >>"
      if (rng.nextBoolean()) { note("update-top"); w(plain(rng, 12, newInfo)) }
      else { note("update-objstm"); w(objStm(rng, 40, Seq(12 -> newInfo))) }
      if (rng.nextBoolean()) contentObj(8)
      if (rng.nextBoolean()) w(b(s"trailer\n<< /Root 1 0 R /Info 12 0 R /Prev 9 >>\n%%EOF\n"))
    }
    if (rng.nextInt(8) == 0) {
      note("broken-trailer")
      w(b(pick(rng, "trailer\n<< /Root 3 0 R /X (open", "trailer <4g", "trailer % no dict", "trailer [1 0 R]")))
    }
  }

  /** An object stream `num` holding `objs` (not streams), FlateDecode,
    * optionally PNG-predicted, with /N and /First sometimes indirect. */
  private def objStm(rng: Random, num: Int, objs: Seq[(Int, String)]): Array[Byte] = {
    val bodies = objs.map { case (_, body) => body + "\n" }
    val offsets = bodies.scanLeft(0)(_ + _.length).init
    val head = objs.map(_._1).zip(offsets).map { case (n, o) => s"$n $o" }.mkString(" ") + "\n"
    val raw = b(head + bodies.mkString)
    val (filter, payload) =
      if (rng.nextBoolean()) {
        val cols = 4 + rng.nextInt(8)
        (s"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns $cols >>",
          Deflate(pngPredict(raw, cols, rng), 6))
      } else ("/Filter /FlateDecode", Deflate(raw, 6))
    val n = if (rng.nextInt(6) == 0) s"${num + 1} 0 R" else objs.length.toString
    b(header(rng, num) + s"<< /Type /ObjStm /N $n /First ${head.length} $filter /Length ${payload.length} >>\nstream\n") ++
      payload ++ b("\nendstream\nendobj\n") ++ b(s"${num + 1} 0 obj ${objs.length} endobj\n")
  }
}
