package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.CorpusGen
import graft.pipeline.Extractor

/** The north-rule correctness gate, pure form: byte-identical extracted
  * text per url against generator goldens, across both HTML and PDF
  * paths, without any cluster. */
class CorpusExtractionSpec extends AnyFunSuite {

  val N = 400

  test("generator is deterministic") {
    val (p1, g1) = CorpusGen.genDoc(123)
    val (p2, g2) = CorpusGen.genDoc(123)
    assert(p1.url == p2.url && g1 == g2)
    assert(java.util.Arrays.equals(p1.html, p2.html))
  }

  test("genGolden equals genDoc's golden without building page bytes") {
    // PDF ids (x % 10 >= 7) and HTML ids, across both rng-draw shapes
    (0L until 40L).foreach { id =>
      assert(CorpusGen.genGolden(id) == CorpusGen.genDoc(id)._2, s"id=$id")
    }
  }

  test(s"byte-identical extracted text for $N synthetic docs (HTML + PDF)") {
    var htmlDocs = 0
    var pdfDocs = 0
    (0L until N).foreach { id =>
      val (page, golden) = CorpusGen.genDoc(id)
      val ex = Extractor.extract(page)
      assert(ex.ok, s"doc $id failed: ${ex.error}")
      assert(ex.extracted_text == golden.extracted_text,
        s"doc $id (${ex.kind}) text mismatch:\nGOT:  ${ex.extracted_text.take(300)}\nWANT: ${golden.extracted_text.take(300)}")
      if (ex.kind == "html") htmlDocs += 1 else pdfDocs += 1
    }
    assert(htmlDocs > 100 && pdfDocs > 50, s"mix check html=$htmlDocs pdf=$pdfDocs")
  }

  test("byte-identical extraction holds at the size tail (50x-tiled heavy docs)") {
    // the heavy-tail bench corpus must be CORRECT, not just fast: the
    // same byte-identity gate on 50x-body pages exercises the parsers'
    // large-input paths (HTML across all four layout shapes + multi-page
    // PDFs) and pins that genHeavyDoc's golden tiles consistently
    var pdfDocs = 0
    Seq(0L, 1L, 2L, 3L, 7L, 9L, 13L, 17L, 27L, 96L).foreach { id =>
      val (page, golden) = CorpusGen.genHeavyDoc(id, 50)
      val (normal, _) = CorpusGen.genDoc(id)
      assert(page.html.length > normal.html.length * 10, s"doc $id not heavy")
      val ex = Extractor.extract(page)
      assert(ex.ok, s"heavy doc $id failed: ${ex.error}")
      assert(ex.extracted_text == golden.extracted_text,
        s"heavy doc $id (${ex.kind}) text mismatch")
      assert(ex.title == golden.title && ex.doi == golden.doi, s"heavy doc $id fields")
      if (ex.kind == "pdf") pdfDocs += 1
    }
    assert(pdfDocs >= 3, s"mix check pdf=$pdfDocs")
  }

  test("structured fields match goldens (title, abstract, doi, citations)") {
    (0L until N).foreach { id =>
      val (page, golden) = CorpusGen.genDoc(id)
      val ex = Extractor.extract(page)
      assert(ex.title == golden.title, s"doc $id title")
      assert(ex.doi == golden.doi, s"doc $id doi: got '${ex.doi}' want '${golden.doi}'")
      if (ex.kind == "html") {
        assert(ex.abstract_text == golden.abstract_text, s"doc $id abstract")
        assert(ex.citation_spans == golden.citation_spans, s"doc $id citations")
      }
    }
  }

  test("scoring facts: raw hit counts in goldens bound the top-3 sums") {
    (0L until N).foreach { id =>
      val (page, golden) = CorpusGen.genDoc(id)
      val tokens = graft.textops.TextOpsOracle.tokenize(page.text)
      assert(tokens.length == golden.total_words, s"doc $id token count")
      val t = graft.textops.TextOpsOracle.matchTerms(tokens, CorpusGen.TargetWords.toSet)
      val b = graft.textops.TextOpsOracle.matchTerms(tokens, CorpusGen.BycatchWords.toSet)
      assert(t.termCount <= golden.target_hits, s"doc $id target top3 > raw")
      assert(b.termCount <= golden.bycatch_hits, s"doc $id bycatch top3 > raw")
      // wordscore from the top-3 sums is in range and deterministic
      val s = graft.textops.TextOps.calculateLikelihood(tokens.length, t.termCount, b.termCount)
      assert(s >= 0.0 && s <= 1.0)
    }
  }

  test("every scored field is pinned: SHA-256 over score(extract(_)) for docIds 0-4999") {
    // the goldens pin text, title, abstract, doi and citations; this digest
    // also pins top-3 terms, parentheticals, counts and wordscore, and the
    // 50x-tiled heavy doc every 97th id covers the parsers' large inputs
    assert(CorpusExtractionSpec.scoredDigest(0L until 5000L) ==
      "d23fea2d427b4a981e162643351349e20381a21fc85246233b54c7fa4d75681f")
  }

  test("skew fixture: hot domain holds ~30% of rows") {
    val hot = (0L until 1000L).count(id => CorpusGen.domainId(id) == 0)
    assert(hot == 300)
  }
}

object CorpusExtractionSpec {

  /** SHA-256 over every field of `Extractor.score(Extractor.extract(_))`
    * for the given docIds, in order. Each id with id % 97 == 96 is the
    * 50x-tiled heavy doc instead of the plain one. */
  def scoredDigest(ids: Iterable[Long]): String =
    pagesDigest(ids.iterator.map { id =>
      if (id % 97 == 96) CorpusGen.genHeavyPage(id, 50) else CorpusGen.genDoc(id)._1
    })

  /** SHA-256 over every `ScoredDoc` field of each page, in order. */
  def pagesDigest(pages: Iterator[graft.model.PageRecord]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    def long(v: Long): Unit = { buf.clear(); buf.putLong(v); md.update(buf.array, 0, 8) }
    def str(s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      long(b.length.toLong); md.update(b)
    }
    def strs(xs: Seq[String]): Unit = { long(xs.length.toLong); xs.foreach(str) }
    def terms(xs: Seq[graft.model.TermCount]): Unit = {
      long(xs.length.toLong); xs.foreach { t => str(t.term); long(t.count.toLong) }
    }
    val target = CorpusGen.TargetWords.toSet
    val bycatch = CorpusGen.BycatchWords.toSet
    pages.foreach { page =>
      val d = Extractor.score(Extractor.extract(page), target, bycatch)
      str(d.url); str(d.kind); str(d.extracted_text); str(d.title); str(d.abstract_text)
      str(d.doi); strs(d.citation_spans)
      long(d.matching_terms.toLong); long(d.bycatch_terms.toLong); long(d.total_word_count.toLong)
      long(java.lang.Float.floatToRawIntBits(d.wordscore).toLong)
      terms(d.target_terms_top_3); terms(d.bycatch_terms_top_3); strs(d.paper_parentheticals)
      long(d.n_bytes); long(if (d.ok) 1L else 0L); str(d.error)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
