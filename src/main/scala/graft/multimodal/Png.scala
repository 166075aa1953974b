package graft.multimodal

import graft.util.{Deflate, Inflate, PngFilter}

/** From-scratch PNG baseline codec (round-6 verdict #5: make q20's
  * multimodal column REAL — the only missing primitive was a decoder, and
  * PNG's compression is the same zlib stream the PDF stack's
  * FlateDecode inflates, through the same `graft.util.Inflate`; no codec
  * jars needed).
  *
  * Decoder scope (everything else returns None, never throws):
  *   - bit depth 8, interlace 0 (non-Adam7), compression 0, filter
  *     method 0 — the overwhelmingly common baseline profile;
  *   - color types 0 (gray), 2 (RGB), 3 (palette, expanded to RGB),
  *     4 (gray+alpha), 6 (RGBA);
  *   - per-chunk CRC32 verification (java.util.zip.CRC32);
  *   - all five scanline filters (None/Sub/Up/Average/Paeth), undone by
  *     the row-filter core `graft.util.PngFilter` that the PDF PNG
  *     predictors share;
  *   - a decompression-bomb guard: decoded pixel bytes are capped at
  *     `Inflate.MaxBytes` BEFORE inflation, from header fields alone.
  *
  * The encoder exists for deterministic test/corpus generation: it writes
  * the same baseline profile, optionally cycling the filter type per row
  * so round-trip tests exercise every unfilter path. Rows are filtered by
  * `PngFilter.filterRow` and IDAT is compressed by `graft.util.Deflate`,
  * the zlib writer the PDF writer shares.
  *
  * PNG spec: https://www.w3.org/TR/png-3/ (public). Format constants
  * (signature, chunk layout, filter algebra) are from the spec, not any
  * existing codec's source.
  */
object Png {

  final case class Decoded(
      width: Int,
      height: Int,
      channels: Int, // AFTER palette expansion: 1, 2, 3 or 4
      pixels: Array[Byte]) // row-major, width*height*channels bytes

  private val Signature: Array[Byte] =
    Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  private def be32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  /** Raw channel count per color type (pre palette expansion); -1 for
    * color types this baseline decoder does not accept. */
  private def rawChannels(colorType: Int): Int = colorType match {
    case 0 => 1 // gray
    case 2 => 3 // rgb
    case 3 => 1 // palette index
    case 4 => 2 // gray + alpha
    case 6 => 4 // rgba
    case _ => -1
  }

  /** Decode `bytes` as a baseline PNG. None on ANY structural problem —
    * bad signature, unsupported profile, CRC mismatch, truncated or
    * oversized IDAT, palette index out of range. Never throws (the
    * extractor's never-throw contract). */
  def decode(bytes: Array[Byte]): Option[Decoded] =
    try decodeInner(bytes)
    catch { case _: Throwable => None }

  private def decodeInner(bytes: Array[Byte]): Option[Decoded] = {
    if (bytes == null || bytes.length < Signature.length + 25) return None
    var i = 0
    while (i < Signature.length) {
      if (bytes(i) != Signature(i)) return None
      i += 1
    }
    var off = Signature.length
    var width, height, bitDepth, colorType, interlace = -1
    var palette: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream()
    var seenIhdr = false
    var seenIend = false
    val crc = new java.util.zip.CRC32()
    while (!seenIend) {
      if (off + 12 > bytes.length) return None // truncated chunk header
      val len = be32(bytes, off)
      if (len > Int.MaxValue - 12 || off + 12 + len > bytes.length) return None
      val dataOff = off + 8
      crc.reset()
      crc.update(bytes, off + 4, 4 + len.toInt) // type + data
      if (crc.getValue != be32(bytes, dataOff + len.toInt)) return None
      val ctype = new String(bytes, off + 4, 4, "US-ASCII")
      ctype match {
        case "IHDR" =>
          // IHDR must be the FIRST chunk (spec §11.2.1)
          if (seenIhdr || off != Signature.length || len != 13) return None
          seenIhdr = true
          width = be32(bytes, dataOff).toInt
          height = be32(bytes, dataOff + 4).toInt
          bitDepth = bytes(dataOff + 8) & 0xff
          colorType = bytes(dataOff + 9) & 0xff
          val compression = bytes(dataOff + 10) & 0xff
          val filterMethod = bytes(dataOff + 11) & 0xff
          interlace = bytes(dataOff + 12) & 0xff
          if (width <= 0 || height <= 0 || bitDepth != 8 ||
            rawChannels(colorType) < 0 || compression != 0 ||
            filterMethod != 0 || interlace != 0) return None
        case "PLTE" =>
          if (!seenIhdr || len % 3 != 0 || len == 0 || len > 768) return None
          palette = java.util.Arrays.copyOfRange(bytes, dataOff, dataOff + len.toInt)
        case "IDAT" =>
          if (!seenIhdr) return None
          idat.write(bytes, dataOff, len.toInt)
        case "IEND" => seenIend = true
        case _ => () // ancillary chunks (tEXt, gAMA, ...) are skipped
      }
      off = dataOff + len.toInt + 4
    }
    if (!seenIhdr) return None
    val rawCh = rawChannels(colorType)
    if (colorType == 3 && palette == null) return None
    val outCh = if (colorType == 3) 3 else rawCh
    // bomb guard BEFORE inflating: the decoded size is fully determined
    // by header fields, so a 1 KB bomb claiming 1 GB dies here
    if (width.toLong * height * outCh > Inflate.MaxBytes) return None
    val rowBytes = width.toLong * rawCh
    val rawLen = (height.toLong * (rowBytes + 1)).toInt
    // exactly rawLen bytes: a short, stalled or longer stream is None
    // (past the limit Inflate throws, and decode maps that to None)
    val z = idat.toByteArray
    val raw = Inflate(z, 0, z.length, limit = rawLen)
    if (raw.length != rawLen) return None
    // a filter type above 4 is invalid in PNG; the shared unfilter would
    // pass its row through (the PDF rule), so reject it first
    val stride = rowBytes.toInt
    if ((0 until height).exists(y => (raw(y * (stride + 1)) & 0xff) > 4)) return None
    val flat = PngFilter.unfilter(raw, height, stride, bpp = rawCh)
    if (colorType == 3) {
      // palette expansion to RGB
      val nEntries = palette.length / 3
      val px = new Array[Byte](width * height * 3)
      var k = 0
      while (k < flat.length) {
        val idx = flat(k) & 0xff
        if (idx >= nEntries) return None
        px(3 * k) = palette(3 * idx)
        px(3 * k + 1) = palette(3 * idx + 1)
        px(3 * k + 2) = palette(3 * idx + 2)
        k += 1
      }
      Some(Decoded(width, height, 3, px))
    } else Some(Decoded(width, height, rawCh, flat))
  }

  // ---- encoder (deterministic test/corpus generation) ------------------

  private def chunk(out: java.io.ByteArrayOutputStream, ctype: String, data: Array[Byte]): Unit = {
    def w32(v: Long): Unit = {
      out.write(((v >> 24) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt)
      out.write(((v >> 8) & 0xff).toInt)
      out.write((v & 0xff).toInt)
    }
    w32(data.length.toLong)
    val t = ctype.getBytes("US-ASCII")
    out.write(t, 0, 4)
    out.write(data, 0, data.length)
    val crc = new java.util.zip.CRC32()
    crc.update(t)
    crc.update(data)
    w32(crc.getValue)
  }

  /** Encode a baseline PNG. `channels` 1/2/3/4 -> color type 0/4/2/6.
    * `filterType` 0-4 fixes one filter; -1 cycles row%5 so a round-trip
    * test exercises every unfilter path. */
  def encode(width: Int, height: Int, channels: Int, pixels: Array[Byte],
      filterType: Int = -1): Array[Byte] = {
    require(pixels.length == width * height * channels, "pixel buffer size")
    val colorType = channels match {
      case 1 => 0
      case 2 => 4
      case 3 => 2
      case 4 => 6
      case _ => throw new IllegalArgumentException(s"channels $channels")
    }
    encodeWith(width, height, colorType, channels, pixels, None, filterType)
  }

  /** Encode a palette (color type 3) PNG from RGB triplets + index rows. */
  def encodePalette(width: Int, height: Int, palette: Array[Byte],
      indices: Array[Byte], filterType: Int = -1): Array[Byte] = {
    require(palette.length % 3 == 0 && palette.length <= 768, "palette size")
    require(indices.length == width * height, "index buffer size")
    encodeWith(width, height, 3, 1, indices, Some(palette), filterType)
  }

  private def encodeWith(width: Int, height: Int, colorType: Int, rawCh: Int,
      flat: Array[Byte], palette: Option[Array[Byte]], filterType: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Signature, 0, Signature.length)
    val ihdr = new Array[Byte](13)
    def p32(off: Int, v: Int): Unit = {
      ihdr(off) = ((v >> 24) & 0xff).toByte
      ihdr(off + 1) = ((v >> 16) & 0xff).toByte
      ihdr(off + 2) = ((v >> 8) & 0xff).toByte
      ihdr(off + 3) = (v & 0xff).toByte
    }
    p32(0, width)
    p32(4, height)
    ihdr(8) = 8 // bit depth
    ihdr(9) = colorType.toByte
    // compression 0, filter 0, interlace 0 already zero
    chunk(out, "IHDR", ihdr)
    palette.foreach(p => chunk(out, "PLTE", p))
    val stride = width * rawCh
    val raw = new java.io.ByteArrayOutputStream()
    var y = 0
    while (y < height) {
      val f = if (filterType >= 0) filterType % 5 else y % 5
      val row = PngFilter.filterRow(flat, y, stride, rawCh, f)
      raw.write(row, 0, row.length)
      y += 1
    }
    chunk(out, "IDAT", Deflate(raw.toByteArray, java.util.zip.Deflater.BEST_SPEED))
    chunk(out, "IEND", Array.empty[Byte])
    out.toByteArray
  }
}
