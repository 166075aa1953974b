package graft.html

import scala.collection.mutable

/** The tokenizer + tree builder that `HtmlParser` replaced, building the
  * pointer DOM (`HElem`/`HText`/`HComment`) as the oracle for the arena
  * parser. Its only change is that an element's attribute `Map` keeps
  * source order (a `VectorMap`), so the two trees can be compared with
  * attributes in order. Entity decoding is the String decoder the
  * parser used, over the shared `Entities` tables.
  */
object PointerParser {

  private val VoidTags = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr")

  private val RawTextTags = Set("script", "style", "textarea", "title")

  /** HTML integration points (HTML5 tree construction): elements inside
    * svg/math whose CONTENT is parsed as HTML again, so the foreign
    * self-closing rule stops applying beneath them. (svg's `title` is
    * one too, but it is RCDATA here and never reaches the open stack.)
    * mi/mo/mn/ms/mtext are the MathML TEXT integration points — without
    * them `<math><mi><b/>x` honored the self-closing flag where lexbor
    * parses the content as HTML. annotation-xml is
    * treated as an integration point unconditionally; HTML5 gates it on
    * encoding=text/html|application/xhtml+xml — accepted approximation
    * (the non-HTML-encoding case embeds non-HTML content this extractor
    * would discard either way). */
  private val IntegrationPoints = Set("foreignobject", "desc", "annotation-xml",
    "mi", "mo", "mn", "ms", "mtext")

  /** Tags whose open implicitly closes an open <p>. */
  private val PClosers = Set(
    "address", "article", "aside", "blockquote", "div", "dl", "fieldset",
    "footer", "form", "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr",
    "main", "nav", "ol", "p", "pre", "section", "table", "ul")

  /** Implied end tags beyond <p> (HTML5 tree construction): opening tag ->
    * (open siblings it closes, scope boundaries that stop the search).
    * Unclosed <li>/<td>/<tr>/<dt>/<dd> are ubiquitous in real-world HTML;
    * without this they nest into each other and blockTexts would drop
    * every sibling's text except the last. */
  private val ImpliedClosers: Map[String, (Set[String], Set[String])] = Map(
    "li" -> ((Set("li"), Set("ul", "ol"))),
    "dt" -> ((Set("dt", "dd"), Set("dl"))),
    "dd" -> ((Set("dt", "dd"), Set("dl"))),
    "td" -> ((Set("td", "th"), Set("tr", "table"))),
    "th" -> ((Set("td", "th"), Set("tr", "table"))),
    "tr" -> ((Set("tr"), Set("table"))))

  /** Case-insensitive close-tag search (needle starts with '<', so the
    * scan only regionMatches at '<' positions) — avoids materializing a
    * lowercase copy of every page just for rawtext handling. A match must
    * be followed by '>', '/', whitespace, or end-of-input so `</script`
    * does not terminate at `</scripted>`. */
  private def indexOfCloser(hay: String, needle: String, from: Int): Int = {
    val last = hay.length - needle.length
    var i = if (from < 0) 0 else from
    while (i <= last) {
      if (hay.charAt(i) == '<' && hay.regionMatches(true, i, needle, 0, needle.length)) {
        val after = i + needle.length
        if (after >= hay.length || hay.charAt(after) == '>' ||
            hay.charAt(after) == '/' || hay.charAt(after).isWhitespace)
          return i
      }
      i += 1
    }
    -1
  }

  def parse(html: String): HElem = {
    val root = HElem("#root")
    val stack = mutable.Stack[HElem](root)
    // count of OPEN svg/math elements, maintained on push/pop: almost no
    // page is foreign content, so the foreign test below is O(1) in the
    // common case and the integration-point stack scan runs only inside
    // real svg/math subtrees (a per-start-tag stack walk was pure
    // overhead on the extraction hot path)
    var svgMathOpen = 0
    def popS(): Unit = {
      val e = stack.pop()
      if (e.tag == "svg" || e.tag == "math") svgMathOpen -= 1
    }
    def pushS(e: HElem): Unit = {
      if (e.tag == "svg" || e.tag == "math") svgMathOpen += 1
      stack.push(e)
    }
    var i = 0
    val n = html.length
    val text = new java.lang.StringBuilder

    def flushText(): Unit = {
      if (text.length > 0) {
        stack.top.append(new HText(decode(text.toString)))
        text.setLength(0)
      }
    }

    while (i < n) {
      val c1 = if (html.charAt(i) == '<' && i + 1 < n) html.charAt(i + 1) else ' '
      if (c1 != '!' && c1 != '/' && !c1.isLetter) {
        // a text run, copied in bulk up to the next '<' (a '<' that starts
        // no tag is text too)
        val lt = html.indexOf('<', i + 1)
        val stop = if (lt < 0) n else lt
        text.append(html, i, stop)
        i = stop
      } else {
        flushText()
        if (c1 == '!') {
          if (html.startsWith("<!--", i)) {
            val end = html.indexOf("-->", i + 4)
            val stop = if (end < 0) n else end
            stack.top.append(new HComment(html.substring(i + 4, stop)))
            i = if (end < 0) n else end + 3
          } else { // doctype / CDATA-ish: skip to '>'
            val end = html.indexOf('>', i)
            i = if (end < 0) n else end + 1
          }
        } else if (c1 == '/') {
          val end = html.indexOf('>', i)
          val stop = if (end < 0) n else end
          // per HTML5, end-tag attributes and a trailing slash are parsed
          // and DISCARDED ('</div class="x">' still closes the div) — the
          // name is everything up to the first whitespace or '/'
          val tag = html.substring(i + 2, stop).trim
            .takeWhile(ch => !ch.isWhitespace && ch != '/')
            .toLowerCase(java.util.Locale.ROOT)
          // pop to the matching open tag if present; ignore stray closers
          if (stack.exists(e => e.tag == tag)) {
            while (stack.top.tag != tag) popS()
            if (stack.size > 1) popS()
          }
          i = if (end < 0) n else end + 1
        } else {
          val (elem, selfClosed, after) = parseTag(html, i)
          i = after
          val tag = elem.tag
          if (PClosers.contains(tag)) {
            // implicit </p>
            if (stack.exists(_.tag == "p")) {
              while (stack.top.tag != "p") popS()
              if (stack.size > 1) popS()
            }
          }
          ImpliedClosers.get(tag).foreach { case (closees, bounds) =>
            // close an open same-family sibling, but never across the
            // enclosing list/table boundary (stack index 0 = top)
            val idx = stack.indexWhere(e =>
              closees.contains(e.tag) || bounds.contains(e.tag))
            if (idx >= 0 && closees.contains(stack(idx).tag)) {
              var popped = 0
              while (popped <= idx && stack.size > 1) { popS(); popped += 1 }
            }
          }
          stack.top.append(elem)
          // HTML5 tree construction IGNORES the self-closing flag on
          // non-void HTML elements ('<title/>Actual</title>' is a title
          // with text, not an empty one) — it is honored only in FOREIGN
          // content (svg/math, where '<path/>' really is closed). The
          // reference's selectolax/lexbor engine is HTML5-compliant, so
          // honoring '/' on '<title/>' or '<script/>' diverged from it:
          // title text fell into body and script-adjacent markup leaked
          // into extracted text. Foreign = nearest
          // svg/math ancestor WITHOUT an intervening HTML integration
          // point (foreignObject, svg desc/title, math annotation-xml) —
          // inside an integration point content is HTML again.
          val foreign = tag == "svg" || tag == "math" || (svgMathOpen > 0 && {
            val idx = stack.indexWhere(e => e.tag == "svg" || e.tag == "math" ||
              IntegrationPoints.contains(e.tag))
            idx >= 0 && !IntegrationPoints.contains(stack(idx).tag)
          })
          if (!(selfClosed && foreign) && !VoidTags.contains(tag)) {
            if (RawTextTags.contains(tag)) {
              // raw text until the matching close tag. script/style are
              // RAWTEXT (no entity decoding); title/textarea are RCDATA —
              // character references DO decode there per HTML5, and the
              // title field heuristic reads this text
              val closer = "</" + tag
              val idx = indexOfCloser(html, closer, i)
              val stop = if (idx < 0) n else idx
              if (stop > i) {
                val raw = html.substring(i, stop)
                val textVal =
                  if (tag == "script" || tag == "style") raw
                  else decode(raw)
                elem.append(new HText(textVal))
              }
              i = if (idx < 0) n else {
                val gt = html.indexOf('>', idx)
                if (gt < 0) n else gt + 1
              }
            } else if (stack.size < 2048) {
              pushS(elem)
            }
            // depth cap: beyond 2048 open elements (never reached by real
            // pages) children attach to the current top instead of
            // nesting deeper, so downstream recursive walks stay bounded
          }
        }
      }
    }
    flushText()
    root
  }

  /** Parse one open tag starting at `<`; returns (element, selfClosed,
    * index after '>'). A repeated attribute is dropped: the first value
    * wins, as in HTML5 tree construction (and lexbor, behind the
    * reference's selectolax). */
  private def parseTag(html: String, start: Int): (HElem, Boolean, Int) = {
    var i = start + 1
    val n = html.length
    val tagStart = i
    while (i < n && (html.charAt(i).isLetterOrDigit || html.charAt(i) == '-')) i += 1
    val tag = html.substring(tagStart, i).toLowerCase(java.util.Locale.ROOT)
    var attrs: Map[String, String] = scala.collection.immutable.VectorMap.empty
    def put(name: String, value: String): Unit =
      if (!attrs.contains(name)) attrs = attrs.updated(name, value)
    var selfClosed = false
    var done = false
    while (i < n && !done) {
      html.charAt(i) match {
        case '>' => done = true; i += 1
        case '/' if i + 1 < n && html.charAt(i + 1) == '>' =>
          selfClosed = true; done = true; i += 2
        case w if w.isWhitespace => i += 1
        case _ =>
          // attribute name
          val nameStart = i
          while (i < n && !html.charAt(i).isWhitespace &&
                 html.charAt(i) != '=' && html.charAt(i) != '>' && html.charAt(i) != '/') i += 1
          val name = html.substring(nameStart, i).toLowerCase(java.util.Locale.ROOT)
          while (i < n && html.charAt(i).isWhitespace) i += 1
          if (i < n && html.charAt(i) == '=') {
            i += 1
            while (i < n && html.charAt(i).isWhitespace) i += 1
            if (i < n && (html.charAt(i) == '"' || html.charAt(i) == '\'')) {
              val q = html.charAt(i); i += 1
              val vStart = i
              while (i < n && html.charAt(i) != q) i += 1
              put(name, decode(html.substring(vStart, i)))
              if (i < n) i += 1
            } else {
              val vStart = i
              while (i < n && !html.charAt(i).isWhitespace && html.charAt(i) != '>') i += 1
              put(name, decode(html.substring(vStart, i)))
            }
          } else if (name.nonEmpty) {
            put(name, "")
          } else {
            i += 1 // defensive: avoid infinite loop on malformed input
          }
      }
    }
    (HElem(tag, attrs), selfClosed, i)
  }

  private def numericRef(cp: Int): Array[Char] =
    Entities.C1Map.get(cp) match {
      case Some(ch) => Array(ch)
      // HTML5 numeric-charref error cases -> U+FFFD: NUL, surrogate code
      // points and out-of-range values. Character.toChars(0xD800) would
      // emit a LONE UTF-16 surrogate — malformed UTF-16 that downstream
      // encoders (parquet write, UTF-8 hashing) each mangle their own
      // way, making fingerprints/dedup keys for the same logical text
      // writer-dependent.
      case None if cp == 0 || (cp >= 0xD800 && cp <= 0xDFFF) || cp > 0x10FFFF =>
        Array('�')
      case None => Character.toChars(cp)
    }

  def decode(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    val n = s.length
    // numeric refs have NO spec length bound (zero-padded forms like
    // &#x0001F600; are legal and real) — the 10-char window only caps the
    // NAMED lookup; digit strings past Int/0x10FFFF are the HTML5
    // out-of-range error (U+FFFD), not a literal passthrough
    def parseCp(digits: String, radix: Int): Option[Int] =
      if (digits.isEmpty || !digits.forall(Character.digit(_, radix) >= 0)) None
      else scala.util.Try(java.lang.Long.parseLong(digits, radix)) match {
        case scala.util.Success(v) if v <= 0x10FFFFL => Some(v.toInt)
        case _ => Some(0x110000) // valid digits, out of range -> U+FFFD path
      }
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        val isNum = semi > i + 1 && s.charAt(i + 1) == '#'
        if (semi > i && (semi - i <= 10 || (isNum && semi - i <= 32))) {
          val body = s.substring(i + 1, semi)
          val cp =
            if (body.startsWith("#x") || body.startsWith("#X")) parseCp(body.substring(2), 16)
            else if (body.startsWith("#")) parseCp(body.substring(1), 10)
            else None
          cp match {
            case Some(v) => sb.appendAll(numericRef(v)); i = semi + 1
            case None if !isNum => Entities.Named.get(body) match {
              case Some(rep) => sb.append(rep); i = semi + 1
              case None      => sb += c; i += 1
            }
            case None => sb += c; i += 1
          }
        } else { sb += c; i += 1 }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }
}
