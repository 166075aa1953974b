package graft.util

import java.util.zip.Deflater

/** The one zlib deflate, shared by the PDF writer's FlateDecode streams
  * and the PNG encoder's IDAT. Keep exactly one `Deflater` loop (LintSpec
  * pins it), the counterpart of [[Inflate]].
  */
object Deflate {

  /** zlib-framed deflate of `bytes` at `level`, a `Deflater` level such
    * as `Deflater.BEST_SPEED`. */
  def apply(bytes: Array[Byte], level: Int): Array[Byte] = {
    val d = new Deflater(level)
    // finally: release the native zlib state even if deflate throws
    try {
      d.setInput(bytes)
      d.finish()
      val out = new java.io.ByteArrayOutputStream(bytes.length)
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }
}
