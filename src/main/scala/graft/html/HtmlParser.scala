package graft.html

import HtmlDom._

/** From-scratch HTML tokenizer + tree builder, filling one `HtmlDom`
  * arena per page.
  *
  * A pragmatic HTML5-ish parser (not a full spec implementation): handles
  * tags, attributes in all four quoting forms (a repeated attribute keeps
  * its first value), void elements, rawtext elements (script/style) and
  * RCDATA ones (title/textarea), comments, doctype, entities, unbalanced
  * close tags, implied end tags, foreign content (svg/math) with its
  * integration points, and a depth cap of 2048 open elements. Text and
  * attribute values stay ranges over the page; only runs holding `&` are
  * decoded. Comments end the text run before them but are not stored: no
  * reader of the tree looks at them.
  */
object HtmlParser {

  def parse(html: String): HtmlDom = new Builder(html).run()

  private final val DepthCap = 2048

  /** One parse: the open-element stack and per-name open counts over the
    * page's arena. */
  private final class Builder(html: String) {
    private val dom = new HtmlDom(html)
    // the page's characters; decoding appends to dom.buf (which may move),
    // never to this prefix
    private val src = dom.buf
    private val n = html.length

    private var stack = new Array[Int](64)
    private var stackTag = new Array[Int](64)
    private var sp = 0
    // open elements per name id, so "is a <p> open" is one array read;
    // svg + math counts make the foreign-content test O(1) off svg/math
    private var open = new Array[Int](Names.length + 8)

    private val side = new java.lang.StringBuilder
    private var rFrom = 0
    private var rTo = 0

    private def push(x: Int, tag: Int): Unit = {
      if (tag >= open.length) open = java.util.Arrays.copyOf(open, math.max(open.length * 2, tag + 1))
      if (sp == stack.length) {
        stack = java.util.Arrays.copyOf(stack, sp * 2)
        stackTag = java.util.Arrays.copyOf(stackTag, sp * 2)
      }
      stack(sp) = x; stackTag(sp) = tag; sp += 1
      open(tag) += 1
    }

    private def pop(): Unit = {
      sp -= 1
      dom.ends(stack(sp)) = dom.size
      open(stackTag(sp)) -= 1
    }

    @inline private def isOpen(tag: Int): Boolean = tag >= 0 && tag < open.length && open(tag) > 0

    /** Pop to and including the innermost open `tag`, never the root. */
    private def closeTo(tag: Int): Unit = {
      while (stackTag(sp - 1) != tag) pop()
      if (sp > 1) pop()
    }

    /** Sets `rFrom`/`rTo` to the characters of `src[s, e)` with entities
      * decoded: the range itself unless it holds a `&`. */
    private def settle(s: Int, e: Int): Unit = {
      var k = s
      while (k < e && src(k) != '&') k += 1
      if (k == e) { rFrom = s; rTo = e }
      else {
        side.setLength(0)
        side.append(src, s, k - s)
        Entities.decode(src, k, e, side)
        rFrom = dom.appendChars(side)
        rTo = rFrom + side.length
      }
    }

    // the open text run: its start, or -1, and the classifier-length state
    // of its characters so far (recomputed on the decoded text if it holds
    // an entity)
    private var textFrom = -1
    private var textCount = 0
    private var textLastWs = true
    private var textAmp = false

    /** Add the characters `src[i, next '<')` (the first may be '<') to the
      * open text run; returns the index of that '<' or `n`. */
    private def scanText(from: Int): Int = {
      if (textFrom < 0) { textFrom = from; textCount = 0; textLastWs = true; textAmp = false }
      var count = textCount
      var lastWs = textLastWs
      var amp = textAmp
      var i = from
      while ({
        val c = src(i)
        if (!isWhitespace(c)) { count += 1; lastWs = false; if (c == '&') amp = true }
        else if (!lastWs) { count += 1; lastWs = true }
        i += 1
        i < n && src(i) != '<'
      }) ()
      textCount = count; textLastWs = lastWs; textAmp = amp
      i
    }

    private def flushText(end: Int): Unit = if (textFrom >= 0) {
      val parent = stack(sp - 1)
      if (!textAmp)
        dom.addNode(Text, parent, textFrom, end,
          if (textLastWs && textCount > 0) textCount - 1 else textCount)
      else addTextTo(parent, textFrom, end)
      textFrom = -1
    }

    /** Case-insensitive close-tag search (needle starts with '<', so the
      * scan only regionMatches at '<' positions). A match must be followed
      * by '>', '/', whitespace, or end-of-input so `</script` does not
      * terminate at `</scripted>`. */
    private def indexOfCloser(needle: String, from: Int): Int = {
      val last = n - needle.length
      var i = from
      while (i <= last) {
        if (src(i) == '<' && html.regionMatches(true, i, needle, 0, needle.length)) {
          val after = i + needle.length
          if (after >= n || src(after) == '>' || src(after) == '/' ||
              isWhitespace(src(after)))
            return i
        }
        i += 1
      }
      -1
    }

    def run(): HtmlDom = {
      push(dom.addNode(Root, -1, 0, 0, 0), Root)
      var i = 0
      while (i < n) {
        val c1 = if (src(i) == '<' && i + 1 < n) src(i + 1) else ' '
        if (c1 != '!' && c1 != '/' && !Character.isLetter(c1)) {
          // a text run up to the next '<' (a '<' that starts no tag is
          // text too); consecutive runs form one text node
          i = scanText(i)
        } else {
          flushText(i)
          i =
            if (c1 == '!') skipMarkup(i)
            else if (c1 == '/') endTag(i)
            else startTag(i)
        }
      }
      flushText(n)
      while (sp > 0) pop()
      dom
    }

    /** A comment (not stored) or a doctype / CDATA-ish run up to '>'. */
    private def skipMarkup(i: Int): Int =
      if (html.startsWith("<!--", i)) {
        val end = html.indexOf("-->", i + 4)
        if (end < 0) n else end + 3
      } else {
        val end = html.indexOf('>', i)
        if (end < 0) n else end + 1
      }

    /** Per HTML5, end-tag attributes and a trailing slash are parsed and
      * DISCARDED ('</div class="x">' still closes the div): the name is
      * what follows `</`, trimmed of chars <= ' ', up to the first
      * whitespace or '/'. A stray closer is ignored. */
    private def endTag(i: Int): Int = {
      val end = html.indexOf('>', i)
      val stop = if (end < 0) n else end
      var s = i + 2
      while (s < stop && src(s) <= ' ') s += 1
      var t = stop
      while (t > s && src(t - 1) <= ' ') t -= 1
      var e = s
      while (e < t && !isWhitespace(src(e)) && src(e) != '/') e += 1
      val tag = dom.find(src, s, e)
      if (isOpen(tag)) closeTo(tag)
      if (end < 0) n else end + 1
    }

    private def startTag(at: Int): Int = {
      var i = at + 1
      while (i < n && (isLetterOrDigit(src(i)) || src(i) == '-')) i += 1
      val tag = dom.intern(src, at + 1, i)
      val attrFrom = dom.attrCount
      var selfClosed = false
      var done = false
      while (i < n && !done) {
        val c = src(i)
        if (c == '>') { done = true; i += 1 }
        else if (c == '/' && i + 1 < n && src(i + 1) == '>') { selfClosed = true; done = true; i += 2 }
        else if (isWhitespace(c)) i += 1
        else {
          val nameStart = i
          while (i < n && !isWhitespace(src(i)) &&
                 src(i) != '=' && src(i) != '>' && src(i) != '/') i += 1
          val nameEnd = i
          while (i < n && isWhitespace(src(i))) i += 1
          if (i < n && src(i) == '=') {
            i += 1
            while (i < n && isWhitespace(src(i))) i += 1
            if (i < n && (src(i) == '"' || src(i) == '\'')) {
              val q = src(i); i += 1
              val vStart = i
              while (i < n && src(i) != q) i += 1
              putAttr(attrFrom, nameStart, nameEnd, vStart, i)
              if (i < n) i += 1
            } else {
              val vStart = i
              while (i < n && !isWhitespace(src(i)) && src(i) != '>') i += 1
              putAttr(attrFrom, nameStart, nameEnd, vStart, i)
            }
          } else if (nameEnd > nameStart) {
            putAttr(attrFrom, nameStart, nameEnd, 0, 0)
          } else {
            i += 1 // defensive: avoid infinite loop on malformed input
          }
        }
      }
      val fl = flags(tag)
      if ((fl & PCloser) != 0 && open(P) > 0) closeTo(P)
      val closees = closes(tag)
      if (closees != 0) {
        // close an open same-family sibling, but never across the
        // enclosing list/table boundary
        val stopAt = closees | bounds(tag)
        var k = sp - 1
        while (k >= 0 && (family(stackTag(k)) & stopAt) == 0) k -= 1
        if (k >= 0 && (family(stackTag(k)) & closees) != 0) while (sp > math.max(k, 1)) pop()
      }
      val x = dom.addNode(tag, stack(sp - 1), attrFrom, dom.attrCount, 0)
      // HTML5 tree construction IGNORES the self-closing flag on non-void
      // HTML elements ('<title/>Actual</title>' is a title with text), as
      // the reference's selectolax/lexbor does. It is honored only in
      // FOREIGN content: the nearest svg/math ancestor WITHOUT an
      // intervening HTML integration point (foreignObject, desc,
      // annotation-xml and the MathML text points mi/mo/mn/ms/mtext;
      // annotation-xml counts unconditionally, an accepted approximation).
      val foreign = tag == Svg || tag == MathMl || (open(Svg) + open(MathMl) > 0 && {
        var k = sp - 1
        while (k >= 0 && (flags(stackTag(k)) & (Foreign | Integration)) == 0) k -= 1
        k >= 0 && (flags(stackTag(k)) & Integration) == 0
      })
      if (!(selfClosed && foreign) && (fl & Void) == 0) {
        if ((fl & RawText) != 0) {
          // raw text until the matching close tag. script/style are
          // RAWTEXT (no entity decoding); title/textarea are RCDATA:
          // character references decode there per HTML5, and the title
          // field heuristic reads this text
          val idx = indexOfCloser("</" + dom.name(tag), i)
          val stop = if (idx < 0) n else idx
          if (stop > i) {
            if ((fl & Undecoded) != 0) dom.addNode(Text, x, i, stop, 0)
            else addTextTo(x, i, stop)
            dom.ends(x) = x + 2
          }
          i = if (idx < 0) n else {
            val gt = html.indexOf('>', idx)
            if (gt < 0) n else gt + 1
          }
        } else if (sp < DepthCap) {
          push(x, tag)
        }
        // depth cap: beyond 2048 open elements (never reached by real
        // pages) children attach to the current top instead of nesting
        // deeper, so downstream walks stay bounded
      }
      i
    }

    private def addTextTo(parent: Int, s: Int, e: Int): Unit = {
      settle(s, e)
      dom.addNode(Text, parent, rFrom, rTo, classifierLen(dom.buf, rFrom, rTo))
    }

    /** Adds an attribute unless the element already has one of that name:
      * the first value wins, as in HTML5 tree construction (and lexbor). */
    private def putAttr(attrFrom: Int, ns: Int, ne: Int, vs: Int, ve: Int): Unit = {
      val id = dom.intern(src, ns, ne)
      var a = attrFrom
      while (a < dom.attrCount) { if (dom.attrNames(a) == id) return; a += 1 }
      settle(vs, ve)
      dom.addAttr(id, rFrom, rTo)
    }
  }
}

/** HTML entity decoding: the full HTML4 named set (case-sensitive names
  * per spec) + numeric refs, decoded from a range of the page into a
  * builder. */
object Entities {
  private[html] val Named = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "mdash" -> "—", "ndash" -> "–",
    "hellip" -> "…", "copy" -> "©", "reg" -> "®",
    "ldquo" -> "“", "rdquo" -> "”", "lsquo" -> "‘",
    "rsquo" -> "’", "times" -> "×", "middot" -> "·",
    "AElig" -> "Æ",
    "Aacute" -> "Á",
    "Acirc" -> "Â",
    "Agrave" -> "À",
    "Alpha" -> "Α",
    "Aring" -> "Å",
    "Atilde" -> "Ã",
    "Auml" -> "Ä",
    "Beta" -> "Β",
    "Ccedil" -> "Ç",
    "Chi" -> "Χ",
    "Dagger" -> "‡",
    "Delta" -> "Δ",
    "ETH" -> "Ð",
    "Eacute" -> "É",
    "Ecirc" -> "Ê",
    "Egrave" -> "È",
    "Epsilon" -> "Ε",
    "Eta" -> "Η",
    "Euml" -> "Ë",
    "Gamma" -> "Γ",
    "Iacute" -> "Í",
    "Icirc" -> "Î",
    "Igrave" -> "Ì",
    "Iota" -> "Ι",
    "Iuml" -> "Ï",
    "Kappa" -> "Κ",
    "Lambda" -> "Λ",
    "Mu" -> "Μ",
    "Ntilde" -> "Ñ",
    "Nu" -> "Ν",
    "OElig" -> "Œ",
    "Oacute" -> "Ó",
    "Ocirc" -> "Ô",
    "Ograve" -> "Ò",
    "Omega" -> "Ω",
    "Omicron" -> "Ο",
    "Oslash" -> "Ø",
    "Otilde" -> "Õ",
    "Ouml" -> "Ö",
    "Phi" -> "Φ",
    "Pi" -> "Π",
    "Prime" -> "″",
    "Psi" -> "Ψ",
    "Rho" -> "Ρ",
    "Scaron" -> "Š",
    "Sigma" -> "Σ",
    "THORN" -> "Þ",
    "Tau" -> "Τ",
    "Theta" -> "Θ",
    "Uacute" -> "Ú",
    "Ucirc" -> "Û",
    "Ugrave" -> "Ù",
    "Upsilon" -> "Υ",
    "Uuml" -> "Ü",
    "Xi" -> "Ξ",
    "Yacute" -> "Ý",
    "Yuml" -> "Ÿ",
    "Zeta" -> "Ζ",
    "aacute" -> "á",
    "acirc" -> "â",
    "acute" -> "´",
    "aelig" -> "æ",
    "agrave" -> "à",
    "alefsym" -> "ℵ",
    "alpha" -> "α",
    "and" -> "∧",
    "ang" -> "∠",
    "aring" -> "å",
    "asymp" -> "≈",
    "atilde" -> "ã",
    "auml" -> "ä",
    "bdquo" -> "„",
    "beta" -> "β",
    "brvbar" -> "¦",
    "bull" -> "•",
    "cap" -> "∩",
    "ccedil" -> "ç",
    "cedil" -> "¸",
    "cent" -> "¢",
    "chi" -> "χ",
    "circ" -> "ˆ",
    "clubs" -> "♣",
    "cong" -> "≅",
    "crarr" -> "↵",
    "cup" -> "∪",
    "curren" -> "¤",
    "dArr" -> "⇓",
    "dagger" -> "†",
    "darr" -> "↓",
    "deg" -> "°",
    "delta" -> "δ",
    "diams" -> "♦",
    "divide" -> "÷",
    "eacute" -> "é",
    "ecirc" -> "ê",
    "egrave" -> "è",
    "empty" -> "∅",
    "emsp" -> " ",
    "ensp" -> " ",
    "epsilon" -> "ε",
    "equiv" -> "≡",
    "eta" -> "η",
    "eth" -> "ð",
    "euml" -> "ë",
    "euro" -> "€",
    "exist" -> "∃",
    "fnof" -> "ƒ",
    "forall" -> "∀",
    "frac12" -> "½",
    "frac14" -> "¼",
    "frac34" -> "¾",
    "frasl" -> "⁄",
    "gamma" -> "γ",
    "ge" -> "≥",
    "hArr" -> "⇔",
    "harr" -> "↔",
    "hearts" -> "♥",
    "iacute" -> "í",
    "icirc" -> "î",
    "iexcl" -> "¡",
    "igrave" -> "ì",
    "image" -> "ℑ",
    "infin" -> "∞",
    "int" -> "∫",
    "iota" -> "ι",
    "iquest" -> "¿",
    "isin" -> "∈",
    "iuml" -> "ï",
    "kappa" -> "κ",
    "lArr" -> "⇐",
    "lambda" -> "λ",
    "lang" -> "〈",
    "laquo" -> "«",
    "larr" -> "←",
    "lceil" -> "⌈",
    "le" -> "≤",
    "lfloor" -> "⌊",
    "lowast" -> "∗",
    "loz" -> "◊",
    "lrm" -> "‎",
    "lsaquo" -> "‹",
    "macr" -> "¯",
    "micro" -> "µ",
    "minus" -> "−",
    "mu" -> "μ",
    "nabla" -> "∇",
    "ne" -> "≠",
    "ni" -> "∋",
    "not" -> "¬",
    "notin" -> "∉",
    "nsub" -> "⊄",
    "ntilde" -> "ñ",
    "nu" -> "ν",
    "oacute" -> "ó",
    "ocirc" -> "ô",
    "oelig" -> "œ",
    "ograve" -> "ò",
    "oline" -> "‾",
    "omega" -> "ω",
    "omicron" -> "ο",
    "oplus" -> "⊕",
    "or" -> "∨",
    "ordf" -> "ª",
    "ordm" -> "º",
    "oslash" -> "ø",
    "otilde" -> "õ",
    "otimes" -> "⊗",
    "ouml" -> "ö",
    "para" -> "¶",
    "part" -> "∂",
    "permil" -> "‰",
    "perp" -> "⊥",
    "phi" -> "φ",
    "pi" -> "π",
    "piv" -> "ϖ",
    "plusmn" -> "±",
    "pound" -> "£",
    "prime" -> "′",
    "prod" -> "∏",
    "prop" -> "∝",
    "psi" -> "ψ",
    "rArr" -> "⇒",
    "radic" -> "√",
    "rang" -> "〉",
    "raquo" -> "»",
    "rarr" -> "→",
    "rceil" -> "⌉",
    "real" -> "ℜ",
    "rfloor" -> "⌋",
    "rho" -> "ρ",
    "rlm" -> "‏",
    "rsaquo" -> "›",
    "sbquo" -> "‚",
    "scaron" -> "š",
    "sdot" -> "⋅",
    "sect" -> "§",
    "shy" -> "­",
    "sigma" -> "σ",
    "sigmaf" -> "ς",
    "sim" -> "∼",
    "spades" -> "♠",
    "sub" -> "⊂",
    "sube" -> "⊆",
    "sum" -> "∑",
    "sup" -> "⊃",
    "sup1" -> "¹",
    "sup2" -> "²",
    "sup3" -> "³",
    "supe" -> "⊇",
    "szlig" -> "ß",
    "tau" -> "τ",
    "there4" -> "∴",
    "theta" -> "θ",
    "thetasym" -> "ϑ",
    "thinsp" -> " ",
    "thorn" -> "þ",
    "tilde" -> "˜",
    "trade" -> "™",
    "uArr" -> "⇑",
    "uacute" -> "ú",
    "uarr" -> "↑",
    "ucirc" -> "û",
    "ugrave" -> "ù",
    "uml" -> "¨",
    "upsih" -> "ϒ",
    "upsilon" -> "υ",
    "uuml" -> "ü",
    "weierp" -> "℘",
    "xi" -> "ξ",
    "yacute" -> "ý",
    "yen" -> "¥",
    "yuml" -> "ÿ",
    "zeta" -> "ζ",
    "zwj" -> "‍",
    "zwnj" -> "‌")

  /** HTML5 numeric-character-reference table: code points 0x80-0x9F map
    * through Windows-1252 (the spec's compatibility table) instead of
    * emitting C1 control characters — '&#146;'-style Word-exported smart
    * quotes are ubiquitous on legacy pages and would otherwise land as
    * invisible junk bytes in extracted text. Unmapped C1 points (0x81,
    * 0x8D, 0x8F, 0x90, 0x9D) pass through per the same table. */
  private[html] val C1Map: Map[Int, Char] = Map(
    0x80 -> '€', 0x82 -> '‚', 0x83 -> 'ƒ', 0x84 -> '„',
    0x85 -> '…', 0x86 -> '†', 0x87 -> '‡', 0x88 -> 'ˆ',
    0x89 -> '‰', 0x8A -> 'Š', 0x8B -> '‹', 0x8C -> 'Œ',
    0x8E -> 'Ž', 0x91 -> '‘', 0x92 -> '’', 0x93 -> '“',
    0x94 -> '”', 0x95 -> '•', 0x96 -> '–', 0x97 -> '—',
    0x98 -> '˜', 0x99 -> '™', 0x9A -> 'š', 0x9B -> '›',
    0x9C -> 'œ', 0x9E -> 'ž', 0x9F -> 'Ÿ')

  /** Append the UTF-16 of numeric reference `cp`. */
  private def appendNumeric(cp: Int, out: java.lang.StringBuilder): Unit =
    C1Map.get(cp) match {
      case Some(ch) => out.append(ch)
      // HTML5 numeric-charref error cases -> U+FFFD: NUL, surrogate code
      // points and out-of-range values. A LONE UTF-16 surrogate is
      // malformed UTF-16 that downstream encoders (parquet write, UTF-8
      // hashing) each mangle their own way, making fingerprints/dedup
      // keys for the same logical text writer-dependent.
      case None if cp == 0 || (cp >= 0xD800 && cp <= 0xDFFF) || cp > 0x10FFFF =>
        out.append('\uFFFD')
      case None => out.appendCodePoint(cp)
    }

  /** Code point of the digits `cs[s, e)` in `radix`; -1 when there are no
    * digits or one is not a digit. Numeric refs have NO spec length bound
    * (zero-padded forms like &#x0001F600; are legal and real); a value
    * past 0x10FFFF is the HTML5 out-of-range error, returned as 0x110000. */
  private def codePoint(cs: Array[Char], s: Int, e: Int, radix: Int): Int = {
    if (s >= e) return -1
    var v = 0
    var i = s
    while (i < e) {
      val d = Character.digit(cs(i), radix)
      if (d < 0) return -1
      if (v <= 0x10FFFF) v = v * radix + d
      i += 1
    }
    if (v <= 0x10FFFF) v else 0x110000
  }

  /** Decode the entities of `cs[s, e)` into `out`. A reference ends at the
    * first ';' after its '&'; a named one spans at most 10 chars from '&'
    * to ';', a numeric one at most 32. Anything else stays literal text. */
  private[html] def decode(cs: Array[Char], s: Int, e: Int, out: java.lang.StringBuilder): Unit = {
    var i = s
    while (i < e) {
      val c = cs(i)
      if (c != '&') { out.append(c); i += 1 }
      else {
        val lim = math.min(e, i + 33)
        var semi = i + 1
        while (semi < lim && cs(semi) != ';') semi += 1
        val isNum = semi > i + 1 && cs(i + 1) == '#'
        var next = i + 1
        if (semi < lim && (semi - i <= 10 || isNum)) {
          if (isNum) {
            val hex = semi > i + 2 && (cs(i + 2) == 'x' || cs(i + 2) == 'X')
            val cp = if (hex) codePoint(cs, i + 3, semi, 16) else codePoint(cs, i + 2, semi, 10)
            if (cp >= 0) { appendNumeric(cp, out); next = semi + 1 }
          } else Named.get(new String(cs, i + 1, semi - i - 1)) match {
            case Some(rep) => out.append(rep); next = semi + 1
            case None      => ()
          }
        }
        if (next == i + 1) out.append(c)
        i = next
      }
    }
  }
}
