package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.Png

/** The from-scratch baseline PNG codec (round-6 verdict #5). Round-trips
  * pin the decoder against the encoder; the corruption sweeps pin the
  * never-throw contract and the CRC/bomb guards; the closed-form tests
  * pin decoded values without trusting the encoder. */
class PngSpec extends AnyFunSuite {

  private def m(k: Long): Long = graft.util.SplitMix.nonNeg(k)

  /** Recompute a chunk's CRC after patching its data in place (CRC spans
    * type + data; layout: [off-8:len][off-4:type][off:data][off+len:crc]). */
  private def fixCrc(bytes: Array[Byte], dataOff: Int, dataLen: Int): Unit = {
    val crc = new java.util.zip.CRC32()
    crc.update(bytes, dataOff - 4, 4 + dataLen)
    val v = crc.getValue
    bytes(dataOff + dataLen) = ((v >> 24) & 0xff).toByte
    bytes(dataOff + dataLen + 1) = ((v >> 16) & 0xff).toByte
    bytes(dataOff + dataLen + 2) = ((v >> 8) & 0xff).toByte
    bytes(dataOff + dataLen + 3) = (v & 0xff).toByte
  }

  test("round-trip: every color type x every scanline filter (incl. cycling)") {
    for (ch <- Seq(1, 2, 3, 4); ft <- Seq(-1, 0, 1, 2, 3, 4)) {
      val (w, h) = (13, 9) // odd dims so filters cross pixel boundaries unaligned
      val px = Array.tabulate(w * h * ch)(j => (m(ch * 100000 + ft * 10000 + j) % 256).toByte)
      val d = Png.decode(Png.encode(w, h, ch, px, ft))
        .getOrElse(fail(s"decode failed ch=$ch ft=$ft"))
      assert(d.width == w && d.height == h && d.channels == ch)
      assert(java.util.Arrays.equals(d.pixels, px), s"pixels differ ch=$ch ft=$ft")
    }
  }

  test("palette round-trip expands indices through PLTE to RGB") {
    val pal = Array[Byte](10, 20, 30, 120, (200 & 0xff).toByte, (250 & 0xff).toByte, 0, 0, 0)
    val (w, h) = (7, 5)
    val idx = Array.tabulate(w * h)(j => (j % 3).toByte)
    val d = Png.decode(Png.encodePalette(w, h, pal, idx)).get
    assert(d.width == w && d.height == h && d.channels == 3)
    idx.zipWithIndex.foreach { case (ix, j) =>
      assert(d.pixels(3 * j) == pal(3 * ix) &&
        d.pixels(3 * j + 1) == pal(3 * ix + 1) &&
        d.pixels(3 * j + 2) == pal(3 * ix + 2), s"pixel $j")
    }
  }

  test("closed-form: solid-color image decodes to the exact mean") {
    val px = Array.fill(16 * 16 * 3)(200.toByte)
    val d = Png.decode(Png.encode(16, 16, 3, px)).get
    assert(graft.multimodal.BinaryFeatures.pixelMeanE4(d.pixels) == 200L * 10000)
    // and a 0..255 gray ramp tiled evenly: mean = 127.5 exactly
    val ramp = Array.tabulate(256 * 4)(j => (j % 256).toByte)
    val r = Png.decode(Png.encode(32, 32, 1, ramp)).get
    assert(graft.multimodal.BinaryFeatures.pixelMeanE4(r.pixels) == 1275000L)
  }

  test("FDICT zlib stream fails cleanly instead of spinning the inflate loop") {
    // round-7 ADVICE (medium): a zlib header with the preset-dictionary
    // flag makes Inflater.inflate() return 0 with needsInput() false and
    // finished() false — the old loop condition only bailed on
    // needsInput, so this input spun a task forever. Craft it from a
    // valid PNG by patching the IDAT zlib header: set FDICT (bit 5 of
    // FLG) and refix FCHECK so (CMF*256+FLG) % 31 == 0, then refix the
    // chunk CRC (the CRC covers attacker-controlled bytes, so a real
    // adversary ships a valid CRC too).
    val good = Png.encode(8, 8, 3, Array.tabulate(192)(j => (j * 3).toByte))
    // locate the IDAT chunk: walk chunks from offset 8
    var off = 8
    var idatData = -1
    var idatLen = -1
    while (idatData < 0) {
      val len = ((good(off) & 0xff) << 24) | ((good(off + 1) & 0xff) << 16) |
        ((good(off + 2) & 0xff) << 8) | (good(off + 3) & 0xff)
      val typ = new String(good, off + 4, 4, "US-ASCII")
      if (typ == "IDAT") { idatData = off + 8; idatLen = len }
      else off += 12 + len
    }
    val evil = good.clone()
    val cmf = evil(idatData) & 0xff
    var flg = (evil(idatData + 1) & 0xff) | 0x20 // set FDICT
    flg = (flg & 0xe0) | ((31 - (cmf * 256 + (flg & 0xe0)) % 31) % 31) // refix FCHECK
    evil(idatData + 1) = flg.toByte
    fixCrc(evil, idatData, idatLen)
    // must return None promptly — a regression here HANGS, so run it on
    // a bounded future
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val res = Await.result(Future(Png.decode(evil)), 10.seconds)
    assert(res.isEmpty, "FDICT stream must fail decode")
  }

  test("every single-byte corruption decodes to None, never throws") {
    val good = Png.encode(8, 8, 3, Array.tabulate(192)(j => (j * 7).toByte), 4)
    assert(Png.decode(good).isDefined)
    (0 until good.length).foreach { n => // truncation at every prefix
      assert(Png.decode(java.util.Arrays.copyOf(good, n)).isEmpty, s"truncated at $n")
    }
    (0 until good.length).foreach { i => // bit flip at every byte
      val bad = good.clone()
      bad(i) = (bad(i) ^ 0x01).toByte
      assert(Png.decode(bad).isEmpty, s"bit flip at $i survived (CRC must catch it)")
    }
  }

  test("unsupported profiles and decompression bombs are rejected from the header") {
    val good = Png.encode(8, 8, 3, Array.tabulate(192)(j => j.toByte))
    // bit depth 16 (offset 24 = sig 8 + len 4 + type 4 + w 4 + h 4)
    val deep = good.clone(); deep(24) = 16; fixCrc(deep, 16, 13)
    assert(Png.decode(deep).isEmpty)
    // interlace Adam7 (offset 28)
    val adam = good.clone(); adam(28) = 1; fixCrc(adam, 16, 13)
    assert(Png.decode(adam).isEmpty)
    // bomb: header claims 30000x30000 RGB (2.7 GB) on a 1 KB body — must
    // be rejected BEFORE inflation, from the header fields alone
    val bomb = good.clone()
    bomb(16) = 0; bomb(17) = 0; bomb(18) = 0x75; bomb(19) = 0x30 // w = 30000
    bomb(20) = 0; bomb(21) = 0; bomb(22) = 0x75; bomb(23) = 0x30 // h = 30000
    fixCrc(bomb, 16, 13)
    val t0 = System.nanoTime()
    assert(Png.decode(bomb).isEmpty)
    assert((System.nanoTime() - t0) < 1e9, "bomb guard must reject without inflating")
  }

  test("a filter byte above 4 is rejected even when the CRC is valid") {
    // 3x3 gray, rows stored unfiltered; PNG allows filter types 0-4 only,
    // while the shared unfilter passes an unknown type's row through (the
    // PDF predictor rule), so the decoder must reject it before unfiltering
    def png(rowFilters: Seq[Int]): Array[Byte] = {
      val raw = rowFilters.zipWithIndex.flatMap { case (f, y) =>
        f.toByte +: Seq.tabulate(3)(x => (10 * y + x).toByte)
      }.toArray
      val zos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.DeflaterOutputStream(zos)
      z.write(raw); z.close()
      val out = new java.io.ByteArrayOutputStream()
      def chunk(typ: String, data: Array[Byte]): Unit = {
        val len = java.nio.ByteBuffer.allocate(4).putInt(data.length).array()
        val body = typ.getBytes("US-ASCII") ++ data
        val crc = new java.util.zip.CRC32(); crc.update(body)
        out.write(len); out.write(body)
        out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
      }
      out.write(Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
      chunk("IHDR", Array[Byte](0, 0, 0, 3, 0, 0, 0, 3, 8, 0, 0, 0, 0))
      chunk("IDAT", zos.toByteArray)
      chunk("IEND", Array.empty[Byte])
      out.toByteArray
    }
    val d = Png.decode(png(Seq(0, 0, 0))).getOrElse(fail("unfiltered rows must decode"))
    assert(d.pixels.toSeq == Seq(0, 1, 2, 10, 11, 12, 20, 21, 22).map(_.toByte))
    assert(Png.decode(png(Seq(0, 5, 0))).isEmpty, "filter byte 5 in row 2 must fail decode")
  }

  test("q20 corpus pngs: deterministic, all five profiles decode, 17th truncates") {
    val a = graft.corpus.CorpusGen.genPngPage(5)
    val b = graft.corpus.CorpusGen.genPngPage(5)
    assert(java.util.Arrays.equals(a.html, b.html))
    assert(a.url == b.url)
    // every 17th page sniffs as png but fails decode CLEANLY
    val trunc = graft.corpus.CorpusGen.genPngPage(17)
    assert(graft.multimodal.BinaryFeatures.sniffFormat(trunc.html) == "png")
    assert(Png.decode(trunc.html).isEmpty)
    // the five profile kinds (i%5) decode with the expected channel count
    val wantCh = Map(0 -> 1, 1 -> 3, 2 -> 3, 3 -> 2, 4 -> 4)
    (1 to 5).foreach { i =>
      val page = graft.corpus.CorpusGen.genPngPage(i.toLong)
      val d = Png.decode(page.html).getOrElse(fail(s"corpus png $i failed decode"))
      assert(d.channels == wantCh(i % 5), s"png $i channels")
      assert(d.width * d.height * d.channels == d.pixels.length)
    }
  }
}
