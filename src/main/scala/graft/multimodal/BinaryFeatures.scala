package graft.multimodal

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model.PageRecord

/** Multimodal-column plumbing: treat opaque `binary` payloads (here the
  * corpus `html` bytes; in production images/audio/video) as first-class
  * columns with typed metadata, and run decode / feature-extract /
  * frame-sample as a batched per-partition stage.
  *
  * The Spark-side shape is the real deliverable — schema, partitioning,
  * batch iteration, deterministic outputs. The media decode itself is a
  * STUB (no codec libraries ship in this container): `stubDecode` derives
  * a deterministic fake feature vector from the bytes, clearly marked, so
  * the pipeline is testable end-to-end and a real decoder (libjpeg/ffmpeg
  * behind the same signature) drops in without touching the plan.
  */
object BinaryFeatures {

  final case class MediaFeatures(
      url: String,
      format: String,        // sniffed from magic bytes
      n_bytes: Long,
      head_hex: String,      // first 8 bytes, hex
      entropy_e4: Long,      // byte-histogram Shannon entropy, 1e-4 fixed point
      frame_offsets: Seq[Long], // evenly spaced "frame sample" positions
      stub_embedding: Seq[Long], // STUB decode output (deterministic fake)
      // REAL decode (round-6 verdict #5): from-scratch baseline PNG
      // decoder (graft.multimodal.Png). Zero fields when the payload is
      // not a decodable PNG — decode failures degrade to the histogram
      // row, never throw.
      png_ok: Boolean,
      width: Long,
      height: Long,
      channels: Long,        // after palette expansion
      pixel_mean_e4: Long)   // mean DECODED pixel byte value, 1e-4 fixed point

  /** Magic-byte sniffing — the only honest part of "decode". "empty"
    * means zero bytes; a 1-3 byte payload is real (if tiny) content and
    * sniffs as html/bin, never "empty". */
  def sniffFormat(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.length == 0) "empty"
    else if (bytes.length < 4) {
      if (bytes(0) == '<') "html" else "bin"
    }
    else if (bytes(0) == '%' && bytes(1) == 'P' && bytes(2) == 'D' && bytes(3) == 'F') "pdf"
    else if (bytes(0) == 0x89.toByte && bytes(1) == 'P') "png"
    else if (bytes(0) == 0xFF.toByte && bytes(1) == 0xD8.toByte) "jpeg"
    else {
      // html iff the FIRST NON-WHITESPACE byte is '<' (leading blank
      // lines are common in real pages). Scanning the head for a '<'
      // ANYWHERE misclassified arbitrary binaries whose first bytes
      // happen to contain 0x3C — e.g. a 60px-wide GIF's width field —
      // as html (round-5 review).
      var i = 0
      while (i < math.min(bytes.length, 15) &&
          (bytes(i) == ' ' || bytes(i) == '\t' || bytes(i) == '\r' || bytes(i) == '\n'))
        i += 1
      if (i < bytes.length && bytes(i) == '<') "html" else "bin"
    }
  }

  def entropyE4(bytes: Array[Byte]): Long = {
    if (bytes == null || bytes.isEmpty) return 0L
    val hist = new Array[Long](256)
    var i = 0
    while (i < bytes.length) { hist(bytes(i) & 0xff) += 1; i += 1 }
    val n = bytes.length.toDouble
    var h = 0.0
    var j = 0
    while (j < 256) {
      if (hist(j) > 0) { val p = hist(j) / n; h -= p * (math.log(p) / math.log(2.0)) }
      j += 1
    }
    math.floor(h * 10000.0 + 0.5).toLong
  }

  /** Frames sampled per payload (and stub embedding dimensions). */
  private val Frames = 8

  /** Evenly spaced sample offsets — the video "frame sample" analog. */
  def frameOffsets(nBytes: Long): Seq[Long] =
    if (nBytes <= 0) Nil else (0 until Frames).map(i => i * nBytes / Frames)

  /** STUB: stands in for a real media decoder + feature extractor.
    * Deterministic 8-dim fake "embedding" mixed from sampled bytes, so
    * downstream similarity plumbing has stable inputs. Replace with a
    * real decoder behind the same signature outside this sandbox. */
  def stubDecode(bytes: Array[Byte]): Seq[Long] = {
    if (bytes == null || bytes.isEmpty) return Seq.fill(Frames)(0L)
    frameOffsets(bytes.length.toLong).map { off =>
      var h = 0xcbf29ce484222325L
      var i = off.toInt
      val end = math.min(bytes.length, off.toInt + 64)
      while (i < end) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
      h & 0xffffffffL
    }
  }

  /** Mean decoded pixel byte value in 1e-4 fixed point. The sum is exact
    * (Long over <=64 MiB of bytes), the single rounding matches the
    * oracle's CAST(FLOOR(10000.0*sum/count + 0.5)). */
  def pixelMeanE4(px: Array[Byte]): Long = {
    if (px.isEmpty) return 0L
    var s = 0L
    var i = 0
    while (i < px.length) { s += px(i) & 0xff; i += 1 }
    math.floor(10000.0 * s / px.length + 0.5).toLong
  }

  def extract(page: PageRecord): MediaFeatures = {
    val b = page.html
    val n = if (b == null) 0L else b.length.toLong
    val head = if (b == null) "" else
      b.take(8).map(x => f"${x & 0xff}%02x").mkString
    val fmt = sniffFormat(b)
    val png = if (fmt == "png") Png.decode(b) else None
    MediaFeatures(
      url = page.url,
      format = fmt,
      n_bytes = n,
      head_hex = head,
      entropy_e4 = entropyE4(b),
      frame_offsets = frameOffsets(n),
      stub_embedding = stubDecode(b),
      png_ok = png.isDefined,
      width = png.map(_.width.toLong).getOrElse(0L),
      height = png.map(_.height.toLong).getOrElse(0L),
      channels = png.map(_.channels.toLong).getOrElse(0L),
      pixel_mean_e4 = png.map(d => pixelMeanE4(d.pixels)).getOrElse(0L))
  }

  /** The distributed stage: one batched pass per partition (the Scala
    * analog of mapInPandas batches — decoder state would be reused across
    * the partition's rows). */
  def stage(pages: Dataset[PageRecord]): Dataset[MediaFeatures] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.mapPartitions(_.map(extract))
  }
}
