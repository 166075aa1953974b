package graft.pdf

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.CorpusGen

/** The byte-slice reader (`PdfDoc`, `PdfText`) against the regex-and-copy
  * reader it replaced (`graft.pdf.oracle`): the same pages, text,
  * metadata in its order, glyph positions bit for bit, and the same
  * failure class, on every CorpusGen PDF of docIds 0–4999 and on the
  * seeded hard corpus of [[HardPdfs]]. */
class PdfOracleSpec extends AnyFunSuite {

  /** What a reader makes of one document, composed as `Extractor` does:
    * pages, then each page's glyphs and text, then the metadata. Glyphs
    * are (char, x0, x1, y) with the doubles as their bits. */
  final case class Outcome(ok: Boolean, error: String, pages: Int, text: String,
      metadata: Seq[(String, String)], glyphs: Seq[Seq[(Char, Long, Long, Long)]])

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  private def outcome(read: => Outcome): Outcome =
    try read catch {
      case e @ (_: Exception | _: StackOverflowError) =>
        Outcome(ok = false, e.getClass.getSimpleName, 0, "", Nil, Nil)
    }

  def current(bytes: Array[Byte]): Outcome = outcome {
    val doc = new PdfDoc(bytes)
    val pages = doc.pages
    val glyphs = pages.map(p => PdfText.chars(doc)(p))
    val text = glyphs.map(PdfText.assemble).mkString(" ")
    Outcome(ok = true, "", pages.length, text, doc.metadata.toSeq, glyphs.map(g =>
      (0 until g.size).map(i => (g.c(i), bits(g.x0(i)), bits(g.x1(i)), bits(g.y(i))))))
  }

  def reference(bytes: Array[Byte]): Outcome = outcome {
    val doc = new oracle.PdfDoc(bytes)
    val pages = doc.pages
    val glyphs = pages.map(p => oracle.PdfText.chars(doc)(p))
    val text = glyphs.map(oracle.PdfText.assemble).mkString(" ")
    Outcome(ok = true, "", pages.length, text, doc.metadata.toSeq, glyphs.map(_.map(ch =>
      (ch.c, bits(ch.x0), bits(ch.x1), bits(ch.y)))))
  }

  private def assertSame(name: String, bytes: Array[Byte]): Outcome = {
    val got = current(bytes)
    val want = reference(bytes)
    if (got != want) {
      def show(o: Outcome) = s"ok=${o.ok} ${o.error} pages=${o.pages} glyphs=${o.glyphs.map(_.size)}\n" +
        s"  text=${o.text.take(200)}\n  metadata=${o.metadata}"
      val firstGlyph = got.glyphs.zip(want.glyphs).flatMap { case (g, w) => g.zip(w) }
        .find { case (g, w) => g != w }
      fail(s"$name: readers differ\nGOT:  ${show(got)}\nWANT: ${show(want)}\nfirst glyph diff: $firstGlyph")
    }
    got
  }

  test("the reader equals the oracle on every CorpusGen PDF of docIds 0-4999") {
    val ids = (0L until 5000L).filter(CorpusGen.isPdfDoc)
    ids.foreach { id =>
      val o = assertSame(s"doc $id", CorpusGen.genDoc(id)._1.html)
      assert(o.ok && o.text.nonEmpty, s"doc $id")
    }
    assert(ids.size == 1500)
  }

  test("the reader equals the oracle on the seeded hard PDF corpus") {
    val n = 3000
    val tags = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    var failed, withText = 0
    (0L until n).foreach { seed =>
      val (name, bytes) = HardPdfs.generate(seed)
      val o = assertSame(name, bytes)
      name.dropWhile(_ != '[').drop(1).stripSuffix("]").split(',').filter(_.nonEmpty)
        .foreach(t => tags(t) += 1)
      if (!o.ok) failed += 1
      if (o.text.nonEmpty) withText += 1
    }
    // the corpus reaches what it is for: every variant many times, text on
    // most documents, and some documents on the failure paths
    val want = Seq("objstm", "xref-stream", "update-top", "update-objstm", "info-cycle",
      "kids-cycle", "contents-array", "obj-in-payload", "junk-header", "flipped", "truncated",
      "/FlateDecode", "/ASCIIHexDecode", "[/ASCIIHexDecode", "/LZWDecode", "open-string",
      "broken-trailer", "writer")
    want.foreach(t => assert(tags(t) >= 30, s"variant $t drawn ${tags(t)} times: $tags"))
    assert(withText > n / 2 && failed > 0, s"withText=$withText failed=$failed")
  }

  test("header spellings: VT separators and the byte after obj decide what is an object") {
    // \s takes VT (0x0B) but not NUL; a Latin-1 letter, a digit or '_'
    // after "obj" is a word char, so no header. '×' and VT are not, but
    // neither is PDF white space, so the object after them fails to parse
    val doc = (sep: String, after: String) =>
      "%PDF-1.4\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
        "2 0 obj << /Type /Pages /Kids [3 0 R] >> endobj\n" +
        "3 0 obj << /Type /Page /Contents 4 0 R >> endobj\n" +
        s"4${sep}0${sep}obj${after}<< /Length 19 >> stream\nBT (hello) Tj ET   \nendstream endobj\n" +
        "trailer << /Root 1 0 R >>\n"
    val read = for (sep <- Seq(" ", "\u000b", "\u0000", "\t\u000c");
        after <- Seq("\n", "é", "ª", "×", "\u000b", "5", "_")) yield {
      assertSame(s"sep=${sep.map(_.toInt)} after=${after.map(_.toInt)}",
        doc(sep, after).getBytes("ISO-8859-1")).text == "hello"
    }
    assert(read.count(identity) == 3) // {space, VT, tab+FF} x {\n}
  }

  test("a Flate bomb ends both readers with the same error class") {
    val deflated = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.DeflaterOutputStream(deflated)
    val zeros = new Array[Byte](1 << 16)
    (0L until (graft.util.Inflate.MaxBytes >> 16) + 16).foreach(_ => zos.write(zeros))
    zos.close()
    val bomb = deflated.toByteArray
    val pdf = "%PDF-1.5\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n".getBytes("ISO-8859-1") ++
      "2 0 obj << /Type /Pages /Kids [3 0 R] >> endobj\n3 0 obj << /Type /Page /Contents 4 0 R >> endobj\n"
        .getBytes("ISO-8859-1") ++
      s"4 0 obj << /Filter /FlateDecode /Length ${bomb.length} >>\nstream\n".getBytes("ISO-8859-1") ++
      bomb ++ "\nendstream endobj\ntrailer << /Root 1 0 R >>\n".getBytes("ISO-8859-1")
    val o = assertSame("bomb", pdf)
    assert(!o.ok && o.error == "InflateLimitExceeded")
  }
}
