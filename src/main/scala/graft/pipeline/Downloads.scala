package graft.pipeline

import org.apache.spark.sql.{Dataset, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.{PageRecord, DownloadReceipt}

/** The reference `download` mode re-expressed (BulkPDFScraper /
  * ImagesDownloader, /root/reference/src/downloaders.py:137-182,293-344):
  * resolve a download link, fetch bytes, emit a receipt per row. Offline,
  * the bytes already live in the pages table, so the stage is the receipt
  * + naming logic; online, the fetch happens in the same mapPartitions
  * with a per-partition HTTP client (the reference reuses one module-
  * global Session, webscrapers.py:24).
  *
  * Receipts + payload stay COLUMNS of one distributed table — a driver-
  * side file-per-document sink (the reference's tempfile dance,
  * downloaders.py:91-117) cannot scale past one machine.
  */
object Downloads {

  /** sci-hub-style location.href link cleaning applied relationally —
    * SURVEY.md §2.7 row 38, goldens in IdentifiersSpec. */
  def cleanLink(rawOnclick: String, baseUrl: String): String =
    graft.ids.LinkCleaner.formatDownloadLink(rawOnclick, baseUrl).getOrElse("")

  /** Full sci-hub button-page resolution (downloaders.py:215-230): the
    * `#buttons button:nth-child(1)` selector descent, its onclick
    * attribute, and the cleaned link ("" on any miss). ONE definition —
    * the q36 driver query and Modes.download both compose it, so the q36
    * oracle keeps covering the mode path. */
  def resolveButton(html: String, baseUrl: String): (String, String) = {
    val dom = graft.html.HtmlParser.parse(html)
    val onclick = graft.html.Selectors.cssFirst(dom, "#buttons button:nth-child(1)")
      .flatMap(dom.attr(_, "onclick")).getOrElse("")
    (onclick, cleanLink(onclick, baseUrl))
  }

  /** Lowercase md5 hex — the deterministic stand-in for the reference's
    * randint/Etag nondeterminism (§2.7 row 47), chosen over FNV because
    * the DuckDB oracle computes the identical function, making receipt
    * naming cross-engine checkable. */
  def md5hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new StringBuilder(32)
    d.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  /** Receipt per page. Deterministic filepath: dated prefix (reference
    * naming, fetch.py:258-263) + content-independent url digest. */
  def receipts(pages: Dataset[PageRecord], today: java.time.LocalDate): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    val prefix = graft.sources.Sources.datePrefix(today)
    pages.map { p =>
      val ok = p.html != null && p.html.nonEmpty
      val kind = if (graft.pdf.PdfDoc.isPdf(p.html)) "pdf" else "html"
      DownloadReceipt(
        downloader = "graft.BulkDownloader",
        url = p.url,
        success = ok,
        filepath = s"$prefix/${md5hex(p.url)}.$kind",
        n_bytes = if (ok) p.html.length.toLong else 0L)
    }.toDF()
  }

  /** Deterministic minimal PNG payload (signature + url-digest-derived
    * filler): the offline stand-in for the fetched image bytes, sniffable
    * by graft.multimodal.BinaryFeatures' png magic check. Length is a
    * pure function of md5(imgUrl) so the oracle can recompute n_bytes. */
  def pngPayload(imgUrl: String): Array[Byte] = {
    val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')
    val h = md5hex(imgUrl)
    val n = 64 + Integer.parseInt(h.substring(0, 4), 16) % 128
    val seed = java.lang.Long.parseUnsignedLong(h.substring(0, 16), 16)
    val body = Array.tabulate[Byte](n)(i => ((seed >>> (i % 8 * 8)) & 0xff).toByte)
    sig ++ body
  }

  /** Images-mode receipts (reference ImagesDownloader,
    * /root/reference/src/downloaders.py:293-344): one figure fetch per
    * HTML page. Filename keeps the reference's
    * `{today}_{etag}_{file_id}.{ext}` shape (downloaders.py:346-366) with
    * the Etag and file_id made deterministic (Etag = md5 prefix of the
    * image url; file_id = url digest folded into the reference's
    * randint(1,255) range); ext = the url's last dot-suffix
    * (downloaders.py:306). */
  /** One image receipt, named `{today}_{etag}_{file_id}.{ext}` exactly as
    * above — shared by the pages path (imageReceipts) and the images MODE
    * (Modes.images), so the naming spec exists once. */
  def imageReceipt(pageUrl: String, imgUrl: String, prefix: String): DownloadReceipt = {
    // faithful reference quirk (downloaders.py:306 `split(".")[-1]`):
    // a suffix-less url yields a slash-bearing "extension" (e.g.
    // "org/7/0") — the reference does the same, so the filepath matches
    // its behavior rather than a sanitized ideal
    val ext = imgUrl.split('.').last
    val etag = md5hex(imgUrl).substring(0, 16)
    val fileId = Integer.parseInt(md5hex(pageUrl).substring(0, 2), 16) % 255 + 1
    val payload = pngPayload(imgUrl)
    DownloadReceipt(
      downloader = "graft.ImagesDownloader",
      url = imgUrl,
      success = payload.nonEmpty,
      filepath = s"${prefix}_${etag}_$fileId.$ext",
      n_bytes = payload.length.toLong)
  }

  def imageReceipts(pages: Dataset[PageRecord], today: java.time.LocalDate): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    val prefix = graft.sources.Sources.datePrefix(today)
    pages
      .filter(p => !graft.pdf.PdfDoc.isPdf(p.html))
      .map(p => imageReceipt(p.url, s"${p.url}/figures/0.png", prefix))
      .toDF()
  }
}
