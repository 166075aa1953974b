package graft.pdf.oracle

import scala.collection.{immutable, mutable}
import graft.util.{Inflate, PngFilter}

/** The regex-and-copy PDF reader that `graft.pdf.PdfDoc` replaced, kept
  * as the oracle PdfOracleSpec compares it against.
  *
  * Document-level PDF reader: object table, page tree, metadata, stream
  * decoding. Robustness-first: objects are located by scanning for
  * `N G obj` headers rather than trusting the xref table (tolerates
  * incremental updates and slightly off offsets); FlateDecode is inflated
  * via java.util.zip with zlib and raw fallbacks.
  */
final class PdfDoc(data: Array[Byte]) {

  // one latin-1 view of the bytes, shared by scanObjects and findTrailer
  // (each was allocating its own 2x-size char[] per document)
  private val dataStr = new String(data, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** The object table, in FILE ORDER (ObjStm contents interleaved at
    * their container's position), unique ids. Two deliberate semantics
    * here:
    *   - fallback scans ("first/last object that looks like X") iterate
    *     this table in its order — a hash-ordered Map's values made
    *     damaged-file page order and multi-revision trailer/info picks
    *     nondeterministic;
    *   - an id conflict resolves to the LAST definition in file order,
    *     uniformly across top-level and ObjStm-contained copies (a
    *     blanket top-level preference inverts for incremental
    *     updates that store the revision in a NEW ObjStm — the common
    *     shape in xref-stream-only PDFs; without real xref processing,
    *     file position is the only revision signal, and appended-later
    *     means newer for both storage forms). A redefined id also MOVES
    *     to its winning definition's position, so first/last fallback
    *     scans see the newest revision's order. */
  val objects: immutable.SeqMap[(Int, Int), PObj] = {
    val top = scanObjects()
    val m = mutable.LinkedHashMap.empty[(Int, Int), PObj]
    def define(id: (Int, Int), o: PObj): Unit = { m.remove(id); m.update(id, o) }
    top.foreach { case (id, o) =>
      define(id, o)
      o match {
        case st @ PStream(dict, _) if dict.get("Type").contains(PName("ObjStm")) =>
          objStmContents(st, top).foreach { case (cid, co) => define(cid, co) }
        case _ => ()
      }
    }
    immutable.SeqMap.from(m)
  }
  private val trailerDict: Option[PDict] = findTrailer()

  /** Objects stored inside ONE /Type /ObjStm compressed stream (PDF
    * 1.5+, ISO 32000-1 §7.5.7): header is N pairs "objnum offset",
    * bodies start at /First. Needed for real-world fixtures like
    * reference tests/test_dirs/test_pdf_1.pdf. Returns contents in
    * header order; the caller interleaves them at the container's file
    * position so id conflicts resolve by position uniformly. */
  private def objStmContents(
      st: PStream,
      top: collection.Map[(Int, Int), PObj]): Vector[((Int, Int), PObj)] = {
    // this runs INSIDE the `objects` initializer, so resolution must go
    // through `top`, never this.objects (still null here) —
    // /Filter, /N and /First are all legal as indirect references
    def resolveTop(o: PObj): PObj = resolveIn(top, o)
    val dict = st.dict
    val out = Vector.newBuilder[((Int, Int), PObj)]
    try {
      val bytes = decodeStreamUsing(st, resolveTop(_))
      val n = resolveTop(dict.get("N").getOrElse(PNull)) match { case PNum(v) => v.toInt; case _ => 0 }
      val first = resolveTop(dict.get("First").getOrElse(PNull)) match { case PNum(v) => v.toInt; case _ => 0 }
      val header = new PdfLexer(bytes, 0)
      val pairs = (0 until n).map { _ =>
        val num = header.parseNumber().toInt
        val off = header.parseNumber().toInt
        (num, off)
      }
      pairs.foreach { case (num, off) =>
        try {
          val lex = new PdfLexer(bytes, first + off)
          out += (((num, 0), lex.parseObj()))
        } catch { case _: Exception => () }
      }
    } catch {
      // a bomb inside an object stream ends the document like any other
      case e: Inflate.InflateLimitExceeded => throw e
      case _: Exception => ()
    }
    out.result()
  }

  private def scanObjects(): mutable.LinkedHashMap[(Int, Int), PObj] = {
    val out = mutable.LinkedHashMap.empty[(Int, Int), PObj]
    val s = dataStr
    val objPat = java.util.regex.Pattern.compile("(?m)(\\d+)\\s+(\\d+)\\s+obj\\b")
    val m = objPat.matcher(s)
    // resume AFTER each successfully parsed object (stream payloads can
    // contain byte runs that spell "N G obj"; scanning through them would
    // let junk pseudo-objects overwrite the real object with that id)
    var searchFrom = 0
    while (searchFrom < s.length && m.find(searchFrom)) {
      val lexer = new PdfLexer(data, m.end())
      searchFrom = m.end()
      try {
        // inside the try: a number past Int.MaxValue is junk, skipped like a failed parse
        val num = m.group(1).toInt
        val gen = m.group(2).toInt
        val value = lexer.parseObj()
        lexer.skipWs()
        // stream payload?
        val obj =
          if (s.startsWith("stream", lexer.pos)) {
            var p = lexer.pos + "stream".length
            if (p < data.length && data(p) == '\r') p += 1
            if (p < data.length && data(p) == '\n') p += 1
            val dict = value.asInstanceOf[PDict]
            val len = dict.get("Length") match {
              case Some(PNum(v)) => Some(v.toInt)
              case Some(r: PRef) => None // resolved below via endstream scan
              case _             => None
            }
            val end = len match {
              // l >= 0: a corrupt negative /Length would make the
              // substring below throw and the per-object catch would
              // silently DROP the object instead of taking the
              // endstream-scan fallback
              case Some(l) if l >= 0 && p + l <= data.length &&
                  s.indexOf("endstream", p + l) >= 0 &&
                  s.substring(p + l, math.min(p + l + 20, s.length)).trim.startsWith("endstream") =>
                p + l
              case _ =>
                val idx = s.indexOf("endstream", p)
                if (idx < 0) data.length
                else {
                  // back off the EOL before endstream
                  var e = idx
                  if (e > 0 && data(e - 1) == '\n') e -= 1
                  if (e > 0 && data(e - 1) == '\r') e -= 1
                  e
                }
            }
            searchFrom = end
            PStream(dict, java.util.Arrays.copyOfRange(data, p, end))
          } else {
            searchFrom = lexer.pos
            value
          }
        // remove-then-update: a redefined id (incremental update) moves
        // to its LAST definition's position, keeping the whole-file
        // last-wins ordering `objects` builds on
        out.remove((num, gen))
        out.update((num, gen), obj)
      } catch { case _: Exception => () } // tolerate junk between objects
    }
    out
  }

  private def findTrailer(): Option[PDict] = {
    val s = dataStr
    var idx = s.lastIndexOf("trailer")
    while (idx >= 0) {
      try {
        val lexer = new PdfLexer(data, idx + "trailer".length)
        return Some(lexer.parseObj().asInstanceOf[PDict])
      } catch { case _: Exception => idx = s.lastIndexOf("trailer", idx - 1) }
    }
    // PDF 1.5+ cross-reference STREAM doubles as the trailer dict; with
    // incremental updates several XRef streams exist and the LAST in file
    // order is the newest revision (its /Root //Info supersede earlier ones)
    objects.values.collect {
      case PStream(d, _) if d.get("Type").contains(PName("XRef")) => d
    }.lastOption
  }

  /** Bounded indirect-reference resolution: a circular ref chain (legal
    * to construct, seen in corrupt files) degrades to PNull instead of a
    * StackOverflowError — an Error would escape the pipeline's exception
    * handling and kill the task. */
  def resolve(o: PObj): PObj = resolveIn(objects, o)

  /** [[resolve]] against the object table `objs`, at most 64 hops deep. */
  private def resolveIn(objs: collection.Map[(Int, Int), PObj], o: PObj, depth: Int = 0): PObj = o match {
    case PRef(num, gen) =>
      if (depth >= 64) PNull
      else objs.get((num, gen)).map(resolveIn(objs, _, depth + 1)).getOrElse(PNull)
    case other => other
  }

  def resolveDict(o: PObj): Option[PDict] = resolve(o) match {
    case d: PDict      => Some(d)
    case PStream(d, _) => Some(d)
    case _             => None
  }

  /** Info dictionary with pdfplumber-style keys (no leading slash),
    * values as decoded strings, in DOCUMENT order (SeqMap — the
    * downstream DoiCascade value scan is last-value-wins, so order is
    * contractual). Reference consumer:
    * reference src/doifrompdf.py:114-126. */
  def metadata: scala.collection.immutable.SeqMap[String, String] = {
    // outline (bookmark) items also carry /Title — a dict with tree-link
    // keys is navigation, not document metadata, and must not be promoted
    // to the Info dict by the fallback
    def looksLikeOutline(d: PDict): Boolean =
      Seq("Parent", "First", "Next", "Prev", "Dest", "A", "Kids")
        .exists(k => d.get(k).isDefined)
    val infoDict = trailerDict.flatMap(_.get("Info")).flatMap(resolveDict)
      .orElse {
        // fallback: FIRST file-order object that looks like an info dict
        objects.valuesIterator.collectFirst {
          case d: PDict if (d.get("Producer").isDefined || d.get("Title").isDefined) &&
              !looksLikeOutline(d) => d
        }
      }
    infoDict match {
      case Some(PDict(m)) =>
        m.collect { case (k, v) =>
          val sv = resolve(v) match {
            case s: PStr   => s.text
            case PName(nm) => nm
            case PNum(x)   => if (x == math.floor(x)) x.toLong.toString else x.toString
            case PBool(b)  => b.toString
            case _         => ""
          }
          k.stripPrefix("/") -> sv
        }
      case None => scala.collection.immutable.SeqMap.empty
    }
  }

  /** Pages in tree order. Each page: (dict, inherited resources, mediaBox). */
  final case class Page(dict: PDict, resources: Option[PDict], mediaBox: Array[Double]) {
    def height: Double = mediaBox(3) - mediaBox(1)
  }

  def pages: List[Page] = {
    val catalog = trailerDict.flatMap(_.get("Root")).flatMap(resolveDict)
      .orElse(objects.valuesIterator.collectFirst {
        case d: PDict if d.get("Type").contains(PName("Catalog")) => d
      })
    val rootPages = catalog.flatMap(_.get("Pages")).flatMap(resolveDict)

    val out = mutable.ListBuffer.empty[Page]
    // depth-bounded: a Kids entry referencing itself or an ancestor (cyclic
    // page tree in a corrupt file) must not recurse unboundedly
    def walk(node: PDict, inhRes: Option[PDict], inhBox: Option[Array[Double]], depth: Int): Unit = {
      if (depth >= 64) return
      val res = node.get("Resources").flatMap(resolveDict).orElse(inhRes)
      val box = node.get("MediaBox").map(resolve) match {
        case Some(PArr(xs)) if xs.length == 4 =>
          Some(xs.map { case PNum(v) => v; case _ => 0.0 }.toArray)
        case _ => inhBox
      }
      resolve(node.get("Type").getOrElse(PNull)) match {
        case PName("Pages") =>
          node.get("Kids").map(resolve) match {
            case Some(PArr(kids)) =>
              kids.foreach(k => resolveDict(k).foreach(walk(_, res, box, depth + 1)))
            case _ => ()
          }
        case PName("Page") =>
          out += Page(node, res, box.getOrElse(Array(0, 0, 612, 792)))
        case _ => ()
      }
    }
    rootPages.foreach(walk(_, None, None, 0))
    if (out.isEmpty) {
      // fallback: collect raw Page objects in file order (`objects`
      // keeps file order; a hash map's values do not)
      objects.valuesIterator.foreach {
        case d: PDict if d.get("Type").contains(PName("Page")) =>
          walk(d, None, None, 0)
        case _ => ()
      }
    }
    out.toList
  }

  /** Concatenated decoded content-stream bytes for a page. */
  def pageContent(page: Page): Array[Byte] = {
    val streams: Seq[PStream] = page.dict.get("Contents").map(resolve) match {
      case Some(st: PStream) => Seq(st)
      case Some(PArr(xs)) =>
        xs.flatMap(x => resolve(x) match { case st: PStream => Some(st); case _ => None })
      case _ => Seq.empty
    }
    val bufs = streams.map(decodeStream)
    if (bufs.length == 1) bufs.head
    else {
      // spec: multiple content streams behave as one separated by whitespace
      val total = bufs.map(_.length).sum + math.max(0, bufs.length - 1)
      val out = new Array[Byte](total)
      var off = 0
      bufs.zipWithIndex.foreach { case (b, i) =>
        if (i > 0) { out(off) = '\n'; off += 1 }
        System.arraycopy(b, 0, out, off, b.length)
        off += b.length
      }
      out
    }
  }

  def decodeStream(st: PStream): Array[Byte] = decodeStreamUsing(st, resolve)

  private def decodeStreamUsing(st: PStream, res: PObj => PObj): Array[Byte] = {
    val filters: List[String] = st.dict.get("Filter").map(res) match {
      case Some(PName(nm)) => List(nm)
      case Some(PArr(xs))  => xs.collect { case PName(nm) => nm }.toList
      case _               => Nil
    }
    // /DecodeParms (or its /DP alias) parallels /Filter: a single dict or
    // an array with one entry per filter
    val parms: List[Option[PDict]] =
      st.dict.get("DecodeParms").orElse(st.dict.get("DP")).map(res) match {
        case Some(d: PDict) => List(Some(d))
        case Some(PArr(xs)) =>
          xs.map(x => res(x) match { case d: PDict => Some(d); case _ => None }).toList
        case _ => Nil
      }
    filters.zipWithIndex.foldLeft(st.raw) { case (bytes, (f, fi)) =>
      f match {
        case "FlateDecode" =>
          applyPredictor(inflate(bytes), parms.lift(fi).flatten, res)
        case "ASCIIHexDecode" =>
          val hex = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
            .takeWhile(_ != '>').filterNot(c => c.isWhitespace)
          val padded = if (hex.length % 2 == 1) hex + "0" else hex
          padded.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
        case _ => bytes // unsupported filter: pass through
      }
    }
  }

  /** /DecodeParms predictors (ISO 32000-1 §7.4.4.4). Real-world ObjStm and
    * XRef streams are near-always FlateDecode + PNG Predictor 12; without
    * undoing the predictor the inflated bytes are row-filter-coded garbage
    * and every object in the stream is silently dropped. PNG predictors
    * (>= 10) carry a per-row filter byte, undone by the row-filter core
    * the PNG codec shares (`PngFilter.unfilter`); TIFF predictor 2 is
    * horizontal differencing. */
  private def applyPredictor(
      data: Array[Byte], parm: Option[PDict], res: PObj => PObj): Array[Byte] = {
    def intOf(key: String, dflt: Int): Int =
      parm.flatMap(_.get(key).map(res)) match {
        case Some(PNum(v)) => v.toInt
        case _             => dflt
      }
    val predictor = intOf("Predictor", 1)
    if (predictor <= 1 || data.isEmpty) return data
    val colors = intOf("Colors", 1)
    val bpc = intOf("BitsPerComponent", 8)
    val columns = intOf("Columns", 1)
    val bpp = math.max(1, colors * bpc / 8)
    val rowLen = math.max(1, (columns * colors * bpc + 7) / 8)
    if (predictor == 2) {
      if (bpc != 8) return data // sub-byte TIFF differencing: not seen in practice
      val out = data.clone()
      var r = 0
      while (r + rowLen <= out.length) {
        var i = r + bpp
        while (i < r + rowLen && i < out.length) {
          out(i) = (out(i) + out(i - bpp)).toByte; i += 1
        }
        r += rowLen
      }
      out
    } else PngFilter.unfilter(data, data.length / (rowLen + 1), rowLen, bpp)
  }

  // zlib first, raw deflate when zlib fails or yields nothing; a stream
  // neither reads is empty. The output cap is the one failure that must
  // NOT fall back: it ends the document as an ok=false row.
  private def inflate(bytes: Array[Byte]): Array[Byte] = {
    def attempt(nowrap: Boolean): Option[Array[Byte]] =
      try Some(Inflate(bytes, 0, bytes.length, nowrap)) catch {
        case e: Inflate.InflateLimitExceeded => throw e
        case _: Exception => None
      }
    attempt(nowrap = false).filter(_.nonEmpty)
      .orElse(attempt(nowrap = true)).getOrElse(Array.emptyByteArray)
  }
}

object PdfDoc {
  /** Magic sniff used by the pipeline to route binary page bodies:
    * reference analog is "is this file a PDF" by extension
    * (reference src/serials.py:46-63); here bytes start `%PDF-`. */
  def isPdf(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 5 &&
      bytes(0) == '%' && bytes(1) == 'P' && bytes(2) == 'D' &&
      bytes(3) == 'F' && bytes(4) == '-'
}
