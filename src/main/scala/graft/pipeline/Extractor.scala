package graft.pipeline

import graft.model.{PageRecord, ExtractedDoc, ScoredDoc, TermCount}
import graft.html.{HtmlParser, Boilerplate}
import graft.pdf.{PdfDoc, PdfText}
import graft.ids.DoiCascade
import graft.textops.{TextOps, Float16}

/** Per-row extraction + scoring, pure Scala (no Spark dependency) so the
  * byte-identical goldens pin it without a cluster. The pipeline calls
  * these from `mapPartitions`. The parsers are stateless; the one piece
  * of shared state is the scoring term table, built once per pair of
  * word sets and reused by every document, task and caller
  * (ExtractPipeline, Modes, the traced benchmark).
  */
object Extractor {

  /** Route on magic bytes and extract. Never throws: failures surface as
    * ok=false rows (the reference skips None results,
    * /root/reference/src/fetch.py:79-81 — we keep the row + error for
    * lineage instead of dropping it silently). */
  def extract(page: PageRecord): ExtractedDoc = {
    val nBytes = if (page.html == null) 0L else page.html.length.toLong
    try {
      if (PdfDoc.isPdf(page.html)) extractPdf(page, nBytes)
      else extractHtml(page, nBytes)
    } catch {
      // StackOverflowError is an Error, not an Exception: an adversarial
      // deeply-recursive document would otherwise escape this handler and
      // kill the Spark task instead of becoming an ok=false row. The
      // stack is fully unwound by the time we are here, so recovering is
      // safe; genuinely fatal errors (OOM, interrupts) still propagate.
      case e @ (_: Exception | _: StackOverflowError) =>
        ExtractedDoc(page.url, "err", "", "", "", "", Nil, nBytes, ok = false,
          error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
    }
  }

  private def extractPdf(page: PageRecord, nBytes: Long): ExtractedDoc = {
    val doc = new PdfDoc(page.html)
    val text = PdfText.extractText(doc)
    val metadata = doc.metadata
    val doi = DoiCascade(metadata, text).map(_.identifier).getOrElse("")
    ExtractedDoc(
      url = page.url,
      kind = "pdf",
      extracted_text = text,
      title = metadata.getOrElse("Title", ""),
      abstract_text = "",
      doi = doi,
      citation_spans = Nil,
      n_bytes = nBytes,
      ok = true,
      error = "")
  }

  private def extractHtml(page: PageRecord, nBytes: Long): ExtractedDoc = {
    val dom = HtmlParser.parse(
      new String(page.html, java.nio.charset.StandardCharsets.UTF_8))
    val ex = Boilerplate.extract(dom)
    ExtractedDoc(
      url = page.url,
      kind = "html",
      extracted_text = ex.mainText,
      title = ex.title.getOrElse(""),
      abstract_text = ex.abstractText.getOrElse(""),
      doi = ex.doi.getOrElse(""),
      citation_spans = ex.citationSpans,
      n_bytes = nBytes,
      ok = true,
      error = "")
  }

  // One-entry cache keyed by both sets: every caller scores a run of
  // documents against one pair, so the table is built once per pair, and
  // it is immutable once published. Identity is the fast test; equality
  // keeps concurrent tasks that each deserialized their own copy of the
  // same sets (Modes' closures) from rebuilding it in turn.
  @volatile private var lastTable: TextOps.TermTable = _

  private def termTable(target: Set[String], bycatch: Set[String]): TextOps.TermTable = {
    def same(a: Set[String], b: Set[String]) = (a eq b) || a == b
    val t = lastTable
    if (t != null && same(t.target, target) && same(t.bycatch, bycatch)) t
    else {
      val fresh = new TextOps.TermTable(target, bycatch)
      lastTable = fresh
      fresh
    }
  }

  /** Score a text channel against broadcast word sets — the DocScraper
    * obtain semantics (/root/reference/src/docscraper.py:129-174) minus
    * the per-document word-set re-read (broadcast once instead). */
  def score(
      doc: ExtractedDoc,
      targetSet: Set[String],
      bycatchSet: Set[String]): ScoredDoc = {
    val ws = TextOps.wordScore(doc.extracted_text, termTable(targetSet, bycatchSet))
    val target = ws.target
    val bycatch = ws.bycatch
    val raw = TextOps.calculateLikelihood(ws.totalWords, target.termCount, bycatch.termCount)
    ScoredDoc(
      url = doc.url,
      kind = doc.kind,
      extracted_text = doc.extracted_text,
      title = doc.title,
      abstract_text = doc.abstract_text,
      doi = doc.doi,
      citation_spans = doc.citation_spans,
      matching_terms = target.termCount,
      bycatch_terms = bycatch.termCount,
      total_word_count = ws.totalWords,
      wordscore = Float16.quantize(raw),
      target_terms_top_3 = target.frequencyDist.map { case (t, c) => TermCount(t, c) },
      bycatch_terms_top_3 = bycatch.frequencyDist.map { case (t, c) => TermCount(t, c) },
      paper_parentheticals = ws.parentheticals,
      n_bytes = doc.n_bytes,
      ok = doc.ok,
      error = doc.error)
  }
}
