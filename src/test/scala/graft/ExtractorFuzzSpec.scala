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

  test("adversarial PDF-magic payloads degrade to err rows, not exceptions") {
    val cases = Seq[Array[Byte]](
      "%PDF-".getBytes,
      "%PDF-1.7\n%%EOF".getBytes,
      ("%PDF-1.4\n1 0 obj\n<< /Type /Catalog >>\nendobj\n" +
        "xref\n0 1\ntrailer\n<< /Root 1 0 R >>\nstartxref\n999999\n%%EOF").getBytes,
      "%PDF-1.4\n1 0 obj\n<< /Length 99999 >>\nstream\n ".getBytes)
    cases.foreach { b =>
      val doc = Extractor.extract(page(b))
      assert(!doc.ok || doc.kind == "pdf") // degraded or parsed, never thrown
    }
  }

  test("a Flate bomb past the inflate cap becomes an ok=false row, not an OOM") {
    // ~65 KB of deflated zeros that inflate 1 MiB past the cap: without
    // the cap this inflates in full and the page extracts as empty text
    val deflated = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.DeflaterOutputStream(deflated)
    val zeros = new Array[Byte](1 << 16)
    (0L until (graft.pdf.PdfDoc.MaxInflatedBytes >> 16) + 16).foreach(_ => zos.write(zeros))
    zos.close()
    val stream = deflated.toByteArray
    val latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
    val head = "%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
      "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n" +
      "3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>\nendobj\n" +
      s"4 0 obj\n<< /Length ${stream.length} /Filter /FlateDecode >>\nstream\n"
    val tail = "\nendstream\nendobj\ntrailer\n<< /Root 1 0 R >>\n%%EOF\n"
    val doc = Extractor.extract(page(head.getBytes(latin1) ++ stream ++ tail.getBytes(latin1)))
    assert(!doc.ok, s"bomb extracted as ok (kind=${doc.kind}, ${doc.extracted_text.length} chars)")
    assert(doc.error.startsWith("InflateLimitExceeded"), doc.error)
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
    val tags = Vector("ul", "ol", "li", "dl", "dt", "dd", "table", "tr",
      "td", "th", "p", "div", "span", "main")
    (0 until 300).foreach { caseIdx =>
      val sb = new StringBuilder
      (0 until 40).foreach { _ =>
        val t = tags(rng.nextInt(tags.length))
        rng.nextInt(5) match {
          case 0 => sb.append(s"<$t>word ")
          case 1 => sb.append(s"</$t>")
          case 2 => sb.append(s"""</$t class="x">""")
          case 3 => sb.append(s"<$t>")
          case _ => sb.append("text ")
        }
      }
      val doc = Extractor.extract(page(sb.toString.getBytes("UTF-8")))
      assert(doc.kind == "html" || !doc.ok, s"case $caseIdx")
    }
  }

  test("null and empty payloads") {
    assert(!Extractor.extract(page(null)).extracted_text.nonEmpty)
    val empty = Extractor.extract(page(Array.emptyByteArray))
    assert(empty.url.nonEmpty)
  }
}
