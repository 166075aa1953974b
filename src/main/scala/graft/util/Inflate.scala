package graft.util

import java.util.zip.Inflater

/** The one bounded zlib inflate, shared by PDF FlateDecode and PNG IDAT.
  * Each used to carry its own loop, and the copies drifted: the FDICT
  * stall guard landed in one, the output cap in the other. Keep exactly
  * one `Inflater` loop (LintSpec pins it).
  */
object Inflate {

  /** Default output cap: a few KB of deflated zeros inflate to
    * gigabytes, and one such stream would otherwise OOM the task. */
  val MaxBytes: Long = 64L << 20

  /** Output past the cap. Extractor reports the simple class name as an
    * ok=false row's error class, so keep the name. */
  final class InflateLimitExceeded(inputBytes: Int, limit: Long) extends RuntimeException(
    s"zlib stream of $inputBytes bytes inflates past $limit bytes")

  /** Inflate the `len` bytes of `bytes` at `off` (zlib framing, or raw
    * deflate when `nowrap`) and return the output produced before the
    * stream ended, the input ran out, or inflate made no progress. The zero-progress exit is the
    * stall guard: a zlib header with the FDICT preset-dictionary flag
    * makes `inflate()` return 0 with `needsInput()` false forever, which
    * once spun an executor task on hostile crawl bytes. Throws
    * [[InflateLimitExceeded]] past `limit` output bytes, and
    * `DataFormatException` on a corrupt stream. */
  def apply(bytes: Array[Byte], off: Int, len: Int, nowrap: Boolean = false,
      limit: Long = MaxBytes): Array[Byte] = {
    val inf = new Inflater(nowrap)
    // finally: the stall, cap and DataFormatException exits must also
    // release the native zlib state — leaking one Inflater per bad stream
    // is native memory pressure the heap never sees
    try {
      inf.setInput(bytes, off, len)
      val out = new java.io.ByteArrayOutputStream(math.min(len * 4L, limit).toInt)
      val buf = new Array[Byte](8192)
      var k = -1
      while (k != 0 && !inf.finished() && !inf.needsInput()) {
        k = inf.inflate(buf)
        if (out.size.toLong + k > limit) throw new InflateLimitExceeded(len, limit)
        out.write(buf, 0, k)
      }
      out.toByteArray
    } finally inf.end()
  }
}
