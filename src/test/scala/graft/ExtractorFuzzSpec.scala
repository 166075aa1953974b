package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Extractor
import graft.model.PageRecord

/** The extract stage's row-level failure contract: NEVER throw — at scale
  * one poison page must cost one ok=false row, not a task retry storm. */
class ExtractorFuzzSpec extends AnyFunSuite {

  private def page(bytes: Array[Byte]) = PageRecord(
    "https://fuzz.example.org/x", new java.sql.Timestamp(0L), bytes, "", "en")

  test("random bytes never throw") {
    val rng = new scala.util.Random(42)
    (0 until 500).foreach { _ =>
      val n = rng.nextInt(4096)
      val bytes = new Array[Byte](n)
      rng.nextBytes(bytes)
      val doc = Extractor.extract(page(bytes)) // must not throw
      assert(doc.url.nonEmpty)
    }
  }

  // a one-page PDF whose page content is object 4, for hand-built streams
  private val latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
  private def bytes(s: String) = s.getBytes(latin1)
  private def streamObj(num: Int, dict: String, body: Array[Byte]) =
    bytes(s"$num 0 obj\n<< $dict /Length ${body.length} >>\nstream\n") ++ body ++
      bytes("\nendstream\nendobj\n")
  private val pages = bytes("%PDF-1.5\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
    "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n" +
    "3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>\nendobj\n")
  private val trailer = bytes("trailer\n<< /Root 1 0 R >>\n%%EOF\n")

  /** A Flate content stream whose zlib header carries the FDICT
    * preset-dictionary flag (the PDF side of PngSpec's FDICT case):
    * Inflater.inflate() returns 0 with needsInput() false forever. Set
    * FDICT (bit 5 of FLG) on a valid stream and refix FCHECK so
    * (CMF*256+FLG) % 31 == 0. */
  private def fdictPdf: Array[Byte] = {
    val deflated = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.DeflaterOutputStream(deflated)
    zos.write(bytes("BT /F1 12 Tf 72 720 Td (hello world) Tj ET"))
    zos.close()
    val stream = deflated.toByteArray
    val cmf = stream(0) & 0xff
    val flg = ((stream(1) & 0xff) | 0x20) & 0xe0
    stream(1) = (flg | (31 - (cmf * 256 + flg) % 31) % 31).toByte
    pages ++ streamObj(4, "/Filter /FlateDecode", stream) ++ trailer
  }

  test("adversarial PDF-magic payloads degrade to err rows, not exceptions") {
    val cases = Seq[Array[Byte]](
      "%PDF-".getBytes,
      "%PDF-1.7\n%%EOF".getBytes,
      ("%PDF-1.4\n1 0 obj\n<< /Type /Catalog >>\nendobj\n" +
        "xref\n0 1\ntrailer\n<< /Root 1 0 R >>\nstartxref\n999999\n%%EOF").getBytes,
      "%PDF-1.4\n1 0 obj\n<< /Length 99999 >>\nstream\n ".getBytes,
      fdictPdf)
    // a stalled inflate loop HANGS instead of failing, so each case runs
    // on a bounded future
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    cases.foreach { b =>
      val doc = Await.result(Future(Extractor.extract(page(b))), 10.seconds)
      assert(!doc.ok || doc.kind == "pdf") // degraded or parsed, never thrown
    }
    // byte runs that the object scan or the backward trailer search once
    // read in quadratic time: a digit run under the header regex, and
    // retried unterminated strings, hex strings, comments and keywords
    // (VT separates a header but is no PDF white space). 1 MB of each
    // gives, within the future, the row the regex-and-copy reader gives
    // for 16 KB of it
    def oracleRow(b: Array[Byte]): (Boolean, String, String) =
      try (true, "", graft.pdf.oracle.PdfText.extractText(new graft.pdf.oracle.PdfDoc(b)))
      catch { case e: Exception => (false, e.getClass.getSimpleName, "") }
    def run(r: String, n: Int) = bytes("%PDF-1.4\n" + r * (n / r.length))
    // (a dict opened in every header is bounded by the nesting limit)
    Seq("7", "1 0 obj(", "trailer(", "1 0 obj<", "trailer<", "1 0 obj%", "1\u000b0\u000bobj!",
        "1 0 obj<<").foreach { r =>
      val want = oracleRow(run(r, 16 << 10))
      val doc = Await.result(Future(Extractor.extract(page(run(r, 1000000)))), 10.seconds)
      assert((doc.ok, doc.error.takeWhile(_ != ':'), doc.extracted_text) == want, s"run of '$r'")
      assert(want == ((true, "", "")), s"run of '$r'")
    }
    // a string that reached the end leaves a mark; a later string with a
    // long run of parens before that mark must still read in linear time,
    // both on the object scan's resume and on the backward trailer search
    Seq(("1 0 obj(1 0 obj(", ")("), ("trailer(", "trailer(")).foreach { case (pre, post) =>
      def marked(n: Int) = bytes("%PDF-1.4\n" + pre + "()" * (n / 2) + post)
      val want = oracleRow(marked(16 << 10))
      val doc = Await.result(Future(Extractor.extract(page(marked(1000000)))), 10.seconds)
      assert((doc.ok, doc.error.takeWhile(_ != ':'), doc.extracted_text) == want, s"parens after '$pre'")
    }
    // a string after each `trailer` that closes only at the far end: the
    // backward trailer search skips a candidate that does not open a dict
    def farClosing(n: Int) = bytes("%PDF-1.4\n" + "trailer(" * (n / 9) + ")" * (n / 9))
    val want = oracleRow(farClosing(16 << 10))
    val doc = Await.result(Future(Extractor.extract(page(farClosing(1000000)))), 10.seconds)
    assert((doc.ok, doc.error.takeWhile(_ != ':'), doc.extracted_text) == want, "far-closing trailer strings")
    // a page-tree node whose Kids name it more than once: each node is
    // walked once, so the tree is one page, not 2^63 or 30^63 walks
    Seq("2 0 R 2 0 R 3 0 R", "2 0 R " * 30 + "3 0 R").foreach { kids =>
      val pdf = bytes("%PDF-1.5\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
        s"2 0 obj\n<< /Type /Pages /Kids [$kids] >>\nendobj\n" +
        "3 0 obj\n<< /Type /Page /MediaBox [0 0 612 792] /Contents 4 0 R >>\nendobj\n") ++
        streamObj(4, "", bytes("BT (hello) Tj ET")) ++ trailer
      val (doc, want) = Await.result(Future((Extractor.extract(page(pdf)), oracleRow(pdf))), 10.seconds)
      assert((doc.ok, doc.error.takeWhile(_ != ':'), doc.extracted_text) == want, s"Kids [$kids]")
      assert(want == ((true, "", "hello")), s"Kids [$kids]")
    }
  }

  test("a Flate bomb past the inflate cap becomes an ok=false row, not an OOM") {
    // ~65 KB of deflated zeros that inflate 1 MiB past the cap: without
    // the cap this inflates in full and the page extracts as empty text
    val deflated = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.DeflaterOutputStream(deflated)
    val zeros = new Array[Byte](1 << 16)
    (0L until (graft.util.Inflate.MaxBytes >> 16) + 16).foreach(_ => zos.write(zeros))
    zos.close()
    val stream = deflated.toByteArray
    // the bomb as the page's content stream, and as an object stream
    // beside a readable page (which alone would extract as ok)
    val inputs = Seq(
      "content stream" -> (pages ++ streamObj(4, "/Filter /FlateDecode", stream) ++ trailer),
      "object stream" -> (pages ++ streamObj(4, "", bytes("BT (hello) Tj ET")) ++
        streamObj(5, "/Type /ObjStm /N 1 /First 4 /Filter /FlateDecode", stream) ++ trailer))
    inputs.foreach { case (where, pdf) =>
      val doc = Extractor.extract(page(pdf))
      assert(!doc.ok,
        s"bomb in $where extracted as ok (kind=${doc.kind}, ${doc.extracted_text.length} chars)")
      assert(doc.error.startsWith("InflateLimitExceeded"), s"$where: ${doc.error}")
    }
  }

  test("malformed HTML (unclosed tags, nulls, deep nesting) never throws") {
    val cases = Seq(
      "<html><div><div><div>" + "<p>" * 2000 + "text",
      "<a href='x y'>link</a><<<<>>>>",
      "<!DOCTYPE html><script>while(1){</script",
      "  not html at all �",
      "<main>" + ("x" * 100000))
    cases.foreach { s =>
      val doc = Extractor.extract(page(s.getBytes("UTF-8")))
      assert(doc.kind == "html" || !doc.ok)
    }
  }

  test("random tag soup (implied closers, close-tag attrs) never throws") {
    // targets the tree-builder's stack manipulation: implied end tags for
    // li/dt/dd/td/th/tr, decorated close tags, stray closers — random
    // sequences of exactly these constructs must never underflow the
    // stack or throw
    val rng = new scala.util.Random(7)
    (0 until 300).foreach { caseIdx =>
      val soup = graft.html.TagSoup.stackSoup(rng)
      val doc = Extractor.extract(page(soup.getBytes("UTF-8")))
      assert(doc.kind == "html" || !doc.ok, s"case $caseIdx")
    }
  }

  test("hostile text extracts and scores in bounded time") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val target = graft.corpus.CorpusGen.TargetWords.toSet
    val bycatch = graft.corpus.CorpusGen.BycatchWords.toSet
    // "(=" x 32k: a backtracking \(.*=.*\) search is cubic in this line
    // (4 KB already takes seconds); a 1 MB text of one token; three texts
    // of the arXiv digit shape (four digits, '.', a digit), which reach
    // the arXiv patterns through the DOI fallback on the main text
    val cases = Seq(
      ("(= paragraph", "(=" * 32768, 1),
      ("1 MB token", "x" * (1 << 20), 1),
      ("one long id", "1234." + "5" * 1000000, 1),
      ("many short ids", "1234.5 " * 150000, 150000),
      ("chained ids", "2024.1" * 170000 + "x", 1))
    cases.foreach { case (what, text, words) =>
      val html = "<html><body><p>" + text + "</p></body></html>"
      val doc = Await.result(Future(
        Extractor.score(Extractor.extract(page(html.getBytes("UTF-8"))), target, bycatch)), 10.seconds)
      assert(doc.ok, s"$what: ${doc.error}")
      assert(doc.total_word_count == words && doc.paper_parentheticals.isEmpty, what)
    }
  }

  test("null and empty payloads") {
    assert(!Extractor.extract(page(null)).extracted_text.nonEmpty)
    val empty = Extractor.extract(page(Array.emptyByteArray))
    assert(empty.url.nonEmpty)
  }
}
