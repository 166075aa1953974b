package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.CorpusGen
import graft.model.PageRecord
import graft.pipeline.Extractor

class PerfBenchSpec extends AnyFunSuite {

  private val target = CorpusGen.TargetWords.toSet
  private val bycatch = CorpusGen.BycatchWords.toSet

  test("traced layer composition equals Extractor.extract and score byte for byte") {
    val corpus = (0L until 300L).map(i => CorpusGen.genDoc(i)._1)
    val pdf = corpus.find(p => new String(p.html.take(4), "ISO-8859-1") == "%PDF").get
    val ts = new java.sql.Timestamp(0L)
    // pages that take the failure paths: truncated and corrupt PDFs, a
    // page without bytes, and a malformed-markup page
    val hostile = Seq(
      pdf.copy(url = "u:trunc", html = pdf.html.take(pdf.html.length / 2)),
      pdf.copy(url = "u:garbage", html = "%PDF-1.4\n1 0 obj << /Kids [1 0 R] >>".getBytes("UTF-8")),
      PageRecord("u:null", ts, null, "", "en"),
      PageRecord("u:tags", ts, ("<div>" * 500 + "x").getBytes("UTF-8"), "", "en"))
    val c = new TracedExtract.Counters
    (corpus ++ hostile).foreach { p =>
      val want = Extractor.extract(p)
      val got = TracedExtract.extract(p, c)
      assert(got == want, s"extract differs for ${p.url}")
      assert(TracedExtract.score(got, target, bycatch, c) == Extractor.score(want, target, bycatch),
        s"score differs for ${p.url}")
    }
    assert(c.htmlDocs + c.pdfDocs == corpus.size + hostile.size)
    assert(c.calls.forall(_ > 0), "every layer was timed at least once")
    assert(c.errors.values.sum >= 1, "the failure paths counted their error classes")
  }

  test("the same seed gives identical input digests, another seed different ones") {
    assert(Inputs.corpusDigest(7, 200) == Inputs.corpusDigest(7, 200))
    assert(Inputs.corpusDigest(7, 200) != Inputs.corpusDigest(8, 200))
    assert(Inputs.documentsDigest(7, 2000) == Inputs.documentsDigest(7, 2000))
    assert(Inputs.documentsDigest(7, 2000) != Inputs.documentsDigest(8, 2000))
    // seeds pick disjoint docId ranges with CorpusGen's own shares
    assert(Inputs.corpusBase(7) + 1000000 <= Inputs.corpusBase(8))
    assert(Inputs.corpusBase(8) % 30 == 0)
  }

  test("self time is duration minus the part covered by children") {
    val spans = Seq(
      Span(1, 0, "pass", 0, 100),
      Span(2, 1, "spark.task", 10, 50),
      Span(3, 1, "spark.task", 40, 70), // overlaps task 2: covered once
      Span(4, 2, "html.tokenize", 12, 48, busyNs = 30, count = 5))
    val self = Tracer.selfTimes(spans)
    assert(self(1) == 100 - 60)
    assert(self(2) == 40 - 30)
    assert(self(3) == 30)
    assert(self(4) == 30)
  }

  test("every metric name printed matches BENCHMARK.json, with unit and direction") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("BENCHMARK.json"))
    def list(key: String): Seq[Metrics.M] = {
      val it = json.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).map(n =>
        Metrics.M(n.get("name").asText, n.get("unit").asText, n.get("better").asText)).toSeq
    }
    assert(list("end_to_end") == Metrics.EndToEnd)
    assert(list("per_layer") == Metrics.PerLayer)
    val workloads = json.get("workloads").elements()
    assert(Iterator.continually(workloads).takeWhile(_.hasNext).map(_.next().get("name").asText)
      .toSeq == Workload.Names)
    for (trace <- Seq(false, true)) {
      val names = Metrics.catalog(trace).map(_.name)
      val line = Metrics.resultLine(correct = true, 1, 0, trace, names.map(_ -> 1.5).toMap)
      val printed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
        .get("metrics").fieldNames()
      assert(Iterator.continually(printed).takeWhile(_.hasNext).map(_.next()).toSeq == names)
      intercept[IllegalArgumentException](
        Metrics.resultLine(correct = true, 1, 0, trace, names.drop(1).map(_ -> 1.0).toMap))
    }
  }

  test("work-thread CPU: a thread started between readings counts from zero") {
    val before = Map(1L -> 100L, 2L -> 50L)
    val after = Map(1L -> 300L, 3L -> 40L) // thread 2 ended, thread 3 started
    assert(PerfBench.workCpuS(before, after) == 240 / 1e9)
    val me = PerfBench.workThreadsCpuNs()
    assert(me.contains(Thread.currentThread().getId), "the calling thread is measured")
  }
}
