package graft.perfbench

import java.nio.charset.StandardCharsets
import graft.model.{ExtractedDoc, PageRecord, ScoredDoc}
import graft.html.{Boilerplate, HtmlParser}
import graft.pdf.{PdfDoc, PdfText}
import graft.ids.DoiCascade
import graft.pipeline.Extractor

/** `Extractor.extract` + `Extractor.score` recomposed from the public
  * layer functions, in Extractor's call order, with a timer around each
  * layer call. The result must equal Extractor's byte for byte (the
  * benchmark checks the digest of both on every traced run, and
  * PerfBenchSpec pins it per document), so the per-layer times describe
  * the same work the untraced pipeline does.
  */
object TracedExtract {

  val Layers: Vector[String] = Vector("html.tokenize", "html.boilerplate", "pdf.objects",
    "pdf.chars", "pdf.assemble", "ids.doi", "textops.score")
  private val Tokenize = 0
  private val BoilerplateL = 1
  private val Objects = 2
  private val Chars = 3
  private val Assemble = 4
  private val Doi = 5
  private val Score = 6

  /** Per-partition layer counters: nanos and call counts per layer,
    * docs and bytes per parser, failures by error class. */
  final class Counters extends Serializable {
    val ns = new Array[Long](Layers.length)
    val calls = new Array[Long](Layers.length)
    var htmlDocs, htmlBytes, pdfDocs, pdfBytes = 0L
    val errors = scala.collection.mutable.HashMap.empty[String, Long]

    @inline def timed[T](layer: Int)(f: => T): T = {
      val t0 = System.nanoTime()
      try f
      finally { ns(layer) += System.nanoTime() - t0; calls(layer) += 1 }
    }
  }

  def extract(page: PageRecord, c: Counters): ExtractedDoc = {
    val nBytes = if (page.html == null) 0L else page.html.length.toLong
    try {
      if (PdfDoc.isPdf(page.html)) {
        c.pdfDocs += 1; c.pdfBytes += nBytes
        extractPdf(page, nBytes, c)
      } else {
        c.htmlDocs += 1; c.htmlBytes += nBytes
        extractHtml(page, nBytes, c)
      }
    } catch {
      // the same catch as Extractor.extract, so hostile pages fail alike
      case e @ (_: Exception | _: StackOverflowError) =>
        val cls = e.getClass.getSimpleName
        c.errors(cls) = c.errors.getOrElse(cls, 0L) + 1
        ExtractedDoc(page.url, "err", "", "", "", "", Nil, nBytes, ok = false,
          error = s"$cls: ${String.valueOf(e.getMessage).take(200)}")
    }
  }

  private def extractPdf(page: PageRecord, nBytes: Long, c: Counters): ExtractedDoc = {
    val doc = c.timed(Objects)(new PdfDoc(page.html))
    val pages = c.timed(Objects)(doc.pages)
    val text = pages.map { p =>
      val chars = c.timed(Chars)(PdfText.chars(doc)(p))
      c.timed(Assemble)(PdfText.assemble(chars))
    }.mkString(" ")
    val metadata = c.timed(Objects)(doc.metadata)
    val doi = c.timed(Doi)(DoiCascade(metadata, text).map(_.identifier).getOrElse(""))
    ExtractedDoc(page.url, "pdf", text, metadata.getOrElse("Title", ""), "", doi, Nil,
      nBytes, ok = true, error = "")
  }

  private def extractHtml(page: PageRecord, nBytes: Long, c: Counters): ExtractedDoc = {
    val dom = c.timed(Tokenize)(HtmlParser.parse(new String(page.html, StandardCharsets.UTF_8)))
    val ex = c.timed(BoilerplateL)(Boilerplate.extract(dom))
    ExtractedDoc(page.url, "html", ex.mainText, ex.title.getOrElse(""),
      ex.abstractText.getOrElse(""), ex.doi.getOrElse(""), ex.citationSpans, nBytes,
      ok = true, error = "")
  }

  def score(doc: ExtractedDoc, target: Set[String], bycatch: Set[String], c: Counters): ScoredDoc =
    c.timed(Score)(Extractor.score(doc, target, bycatch))
}
