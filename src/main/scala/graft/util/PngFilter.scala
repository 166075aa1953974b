package graft.util

/** The PNG row-filter algebra (PNG spec §9), shared by the PDF PNG
  * predictors (/DecodeParms /Predictor >= 10, ISO 32000-1 §7.4.4.4) and
  * the PNG codec. A filtered row is one filter byte followed by the row's
  * bytes, each stored as the difference from a prediction made of its
  * left (`a`), up (`b`) and up-left (`c`) neighbours, 0 outside the image.
  */
object PngFilter {

  /** Prediction for filter type `ft`: 0 None, 1 Sub, 2 Up, 3 Average,
    * 4 Paeth; any other type predicts 0, so its bytes pass through. */
  def predict(ft: Int, a: Int, b: Int, c: Int): Int = ft match {
    case 1 => a
    case 2 => b
    case 3 => (a + b) >> 1
    case 4 => paeth(a, b, c)
    case _ => 0
  }

  /** Paeth predictor (§9.4): nearest of a/b/c to a+b-c with the spec's
    * tie order a, b, c. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a)
    val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Undo the filters of the first `nRows` rows of `data`, each a filter
    * byte plus `rowLen` bytes, with `bpp` bytes per pixel; returns
    * `nRows * rowLen` bytes. A filter byte above 4 copies its row raw
    * (the PDF rule; the PNG decoder rejects such rows before calling). */
  def unfilter(data: Array[Byte], nRows: Int, rowLen: Int, bpp: Int): Array[Byte] = {
    val out = new Array[Byte](nRows * rowLen)
    var r = 0
    while (r < nRows) {
      val ft = data(r * (rowLen + 1)) & 0xff
      val src = r * (rowLen + 1) + 1
      val dst = r * rowLen
      var i = 0
      while (i < rowLen) {
        val a = if (i >= bpp) out(dst + i - bpp) & 0xff else 0
        val b = if (r > 0) out(dst - rowLen + i) & 0xff else 0
        val c = if (i >= bpp && r > 0) out(dst - rowLen + i - bpp) & 0xff else 0
        out(dst + i) = ((data(src + i) & 0xff) + predict(ft, a, b, c)).toByte
        i += 1
      }
      r += 1
    }
    out
  }

  /** Filter row `y` of `flat` (`stride` bytes per row, `bpp` per pixel)
    * with filter type `ft`: the inverse of [[unfilter]] for that row. */
  def filterRow(flat: Array[Byte], y: Int, stride: Int, bpp: Int, ft: Int): Array[Byte] = {
    val row = new Array[Byte](stride + 1)
    row(0) = ft.toByte
    val dst = y * stride
    var x = 0
    while (x < stride) {
      val a = if (x >= bpp) flat(dst + x - bpp) & 0xff else 0
      val b = if (y > 0) flat(dst - stride + x) & 0xff else 0
      val c = if (x >= bpp && y > 0) flat(dst - stride + x - bpp) & 0xff else 0
      row(x + 1) = ((flat(dst + x) & 0xff) - predict(ft, a, b, c)).toByte
      x += 1
    }
    row
  }
}
