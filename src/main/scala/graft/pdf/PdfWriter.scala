package graft.pdf

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.zip.Deflater
import graft.util.Deflate

/** Minimal deterministic PDF writer for the synthetic corpus.
  *
  * Emits classic-xref PDF 1.4 with Courier text pages (uniform 600/1000
  * glyph width, so extraction positions are exact by construction),
  * optional FlateDecode content compression, and an Info dict carrying
  * Title/doi-style metadata — the shapes the DOI cascade reads
  * (/root/reference/src/doifrompdf.py:30-52, metadata branch :55-84).
  */
object PdfWriter {

  final case class PageSpec(lines: Seq[String])

  private val FontSize = 12.0
  private val Leading = 14.0
  private val X0 = 72.0
  private val Y0 = 720.0
  val PageWidth = 612.0
  val PageHeight = 792.0
  val MaxLinesPerPage: Int = ((Y0 - 40) / Leading).toInt + 1 // keep y > 0

  private def esc(s: String): String =
    s.flatMap {
      case '('  => "\\("
      case ')'  => "\\)"
      case '\\' => "\\\\"
      case c    => c.toString
    }

  /** Content stream for one page: first line at (72,720), then T* with
    * 14pt leading. Alternates Tj / TJ-with-kerning to exercise both show
    * operators (TJ kerning of -10/1000 em stays below the 1pt word gap,
    * so assembled text is unchanged). */
  private def contentStream(page: PageSpec): String = {
    val sb = new StringBuilder
    sb.append("BT\n/F1 ").append(fmt(FontSize)).append(" Tf\n")
    sb.append(fmt(Leading)).append(" TL\n")
    sb.append(fmt(X0)).append(' ').append(fmt(Y0)).append(" Td\n")
    page.lines.zipWithIndex.foreach { case (line, i) =>
      if (i > 0) sb.append("T*\n")
      if (i % 2 == 1 && line.length > 4) {
        val split = line.length / 2
        sb.append('[').append('(').append(esc(line.substring(0, split)))
          .append(") -10 (").append(esc(line.substring(split))).append(")] TJ\n")
      } else {
        sb.append('(').append(esc(line)).append(") Tj\n")
      }
    }
    sb.append("ET\n")
    sb.toString
  }

  private def fmt(d: Double): String =
    if (d == math.floor(d)) d.toLong.toString else d.toString

  /** Build the PDF bytes. `info` keys land in the Info dict verbatim
    * (e.g. "Title", "doi", "Author"). */
  def build(
      pages: Seq[PageSpec],
      info: Map[String, String] = Map.empty,
      compress: Boolean = false): Array[Byte] = {

    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))

    val nPages = pages.length
    // object numbering: 1 catalog, 2 pages, 3 font, 4..3+n page objs,
    // 4+n..3+2n content streams, 4+2n info (if any)
    val firstPageObj = 4
    val firstContentObj = 4 + nPages
    val infoObj = if (info.nonEmpty) Some(4 + 2 * nPages) else None
    val nObjs = 3 + 2 * nPages + (if (info.nonEmpty) 1 else 0)

    val offsets = new Array[Long](nObjs + 1)
    def mark(num: Int): Unit = offsets(num) = out.size().toLong

    w("%PDF-1.4\n%âãÏÓ\n")

    mark(1)
    w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")

    mark(2)
    val kids = (0 until nPages).map(i => s"${firstPageObj + i} 0 R").mkString(" ")
    w(s"2 0 obj\n<< /Type /Pages /Kids [$kids] /Count $nPages >>\nendobj\n")

    mark(3)
    w("3 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>\nendobj\n")

    pages.zipWithIndex.foreach { case (_, i) =>
      val num = firstPageObj + i
      mark(num)
      w(s"$num 0 obj\n<< /Type /Page /Parent 2 0 R " +
        s"/MediaBox [0 0 ${fmt(PageWidth)} ${fmt(PageHeight)}] " +
        s"/Resources << /Font << /F1 3 0 R >> >> " +
        s"/Contents ${firstContentObj + i} 0 R >>\nendobj\n")
    }

    pages.zipWithIndex.foreach { case (page, i) =>
      val num = firstContentObj + i
      mark(num)
      val raw = contentStream(page).getBytes(ISO_8859_1)
      val (body, filter) =
        if (compress) (Deflate(raw, Deflater.DEFAULT_COMPRESSION), " /Filter /FlateDecode")
        else (raw, "")
      w(s"$num 0 obj\n<< /Length ${body.length}$filter >>\nstream\n")
      out.write(body)
      w("\nendstream\nendobj\n")
    }

    infoObj.foreach { num =>
      mark(num)
      val entries = info.map { case (k, v) => s"/$k (${esc(v)})" }.mkString(" ")
      w(s"$num 0 obj\n<< $entries >>\nendobj\n")
    }

    val xrefPos = out.size().toLong
    w(s"xref\n0 ${nObjs + 1}\n")
    w("0000000000 65535 f \n")
    (1 to nObjs).foreach { i =>
      w(f"${offsets(i)}%010d 00000 n \n")
    }
    w("trailer\n<< /Size " + (nObjs + 1) + " /Root 1 0 R" +
      infoObj.map(n => s" /Info $n 0 R").getOrElse("") + " >>\n")
    w(s"startxref\n$xrefPos\n%%EOF\n")

    out.toByteArray
  }

  /** The text that `PdfText.extractText` must return for a `PdfDoc` of
    * pages built by this writer: lines joined "\n" per page, pages joined
    * " " — computed from the source, independent of the parser (golden by
    * construction).
    */
  def expectedText(pages: Seq[PageSpec]): String =
    pages.map(_.lines.filter(_.trim.nonEmpty).map(collapse).mkString("\n")).mkString(" ")

  /** Word assembly collapses runs of spaces (space chars only close the
    * current word); leading/trailing spaces vanish. */
  private def collapse(line: String): String =
    line.split(" ").filter(_.nonEmpty).mkString(" ")
}
