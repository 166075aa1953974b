package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.BinaryFeatures
import graft.pipeline.ExtractPipeline

class BinaryFeaturesSpec extends AnyFunSuite with SparkTestBase {

  test("magic-byte sniffing routes formats") {
    assert(BinaryFeatures.sniffFormat("%PDF-1.7".getBytes) == "pdf")
    assert(BinaryFeatures.sniffFormat("<!DOCTYPE html><html>".getBytes) == "html")
    assert(BinaryFeatures.sniffFormat(Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)) == "png")
    assert(BinaryFeatures.sniffFormat(Array(0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte)) == "jpeg")
    // tiny payloads are real content, never "empty"
    assert(BinaryFeatures.sniffFormat(Array[Byte](1, 2)) == "bin")
    assert(BinaryFeatures.sniffFormat("<a".getBytes) == "html")
    assert(BinaryFeatures.sniffFormat(Array.emptyByteArray) == "empty")
    assert(BinaryFeatures.sniffFormat(null) == "empty")
  }

  test("entropy: uniform bytes -> 8 bits, constant bytes -> 0") {
    val uniform = Array.tabulate[Byte](256 * 16)(i => (i % 256).toByte)
    assert(BinaryFeatures.entropyE4(uniform) == 80000L)
    assert(BinaryFeatures.entropyE4(Array.fill[Byte](100)(7)) == 0L)
  }

  test("frame offsets are evenly spaced and in-range") {
    val offs = BinaryFeatures.frameOffsets(1000)
    assert(offs == Seq(0L, 125L, 250L, 375L, 500L, 625L, 750L, 875L))
    assert(BinaryFeatures.frameOffsets(0) == Nil)
  }

  test("stub decode is deterministic and length-stable") {
    val b = "some binary payload for the stub decoder".getBytes
    assert(BinaryFeatures.stubDecode(b) == BinaryFeatures.stubDecode(b))
    assert(BinaryFeatures.stubDecode(b).length == 8)
    assert(BinaryFeatures.stubDecode(Array.emptyByteArray) == Seq.fill(8)(0L))
  }

  test("distributed stage: formats match the corpus PDF/HTML split") {
    val feats = BinaryFeatures.stage(ExtractPipeline.pages(spark, 200, 4))
    val byFormat = feats.toDF().groupBy("format").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byFormat("pdf") == 60)  // 30% of docIds are PDFs (CorpusGen)
    assert(byFormat("html") == 140)
  }
}
