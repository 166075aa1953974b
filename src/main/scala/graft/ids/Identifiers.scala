package graft.ids

import java.util.regex.Pattern

/** DOI / arXiv identifier extraction + normalization.
  *
  * Reference semantics: /root/reference/src/doi_regex.py:5-82; golden table
  * /root/reference/tests/test_doiregex.py:5-39. Patterns are transcribed to
  * Java regex dialect (identical constructs here: char classes, named
  * groups, inline flags); all searches run over the casefolded input, and
  * `standardize` keeps the LAST match's groups (Python
  * `meta.update(m.groupdict())` in a finditer loop).
  */
object Identifiers {

  // --- pattern banks (doi_regex.py:5-19) ---------------------------------
  // UNICODE_CHARACTER_CLASS: Python's \s/\d are Unicode-aware (an NBSP
  // after a DOI — common in HTML-extracted text — terminates the match in
  // Python but not in ASCII-only Java \s). UNIX_LINES: Python's $ only
  // matches before a final \n, Java's also before \r\n — without it a
  // CRLF-terminated id would match here where the reference returns None.
  private val Flags = Pattern.UNICODE_CHARACTER_CLASS | Pattern.UNIX_LINES

  // The flags alone do NOT close the whitespace gap: Python's \s
  // (Py_UNICODE_ISSPACE) = Unicode White_Space PLUS the four information
  // separators U+001C–001F, which Java's \p{IsWhite_Space} excludes —
  // and those chars do occur in PDF-extracted text. Every \s in this
  // file's patterns sits INSIDE a character class, so appending the
  // separator range to each class makes the two engines' sets equal
  // (empirically: '10.1234/abc<U+001C>more' extracts in the reference but
  // failed here before this rewrite; parity pinned in IdentifiersSpec).
  private def withPySpace(re: String): String =
    re.replace("""\s""", """\s\x1c-\x1f""")

  private def pyPattern(re: String): Pattern =
    Pattern.compile(withPySpace(re), Flags)

  private val DoiPatterns: List[Pattern] = List(
    pyPattern("doi[\\s.:]{0,2}(10\\.\\d{4}[\\d:.\\-/a-z]+)(?:[\\s\\n\"<]|$)"),
    pyPattern("(10\\.\\d{4}[\\d:.\\-/a-z]+)(?:[\\s\\n\"<]|$)"),
    pyPattern("(10\\.\\d{4}[:.\\-/a-z]+[:.\\-\\d]+)(?:[\\s\\na-z\"<]|$)"),
    pyPattern("https?://[ -~]*doi[ -~]*/(10\\.\\d{4,9}/[-._;()/:a-z0-9]+)(?:[\\s\\n\"<]|$)"),
    pyPattern("^(10\\.\\d{4,9}/[-._;()/:a-z0-9]+)$")
  )

  private val ArxivPatterns: List[Pattern] = List(
    pyPattern("^(\\d{4}\\.\\d+)(?:v\\d+)?$"),
    pyPattern("arxiv[\\s]*:[\\s]*(\\d{4}\\.\\d+)(?:v\\d+)?(?:[\\s\\n\"<]|$)"),
    pyPattern("(\\d{4}\\.\\d+)(?:v\\d+)?(?:\\.pdf)"),
    pyPattern("^(\\d{4}\\.\\d+)(?:v\\d+)?$")
  )

  // --- normalizers (doi_regex.py:21-45) -----------------------------------
  // (?xmdU): COMMENTS + MULTILINE as in the reference's verbose pattern,
  // plus UNIX_LINES (d) and UNICODE_CHARACTER_CLASS (U) for Python parity.
  private val DoiRegex = Pattern.compile(withPySpace(
    """(?xmdU)
      (?<marker>   doi[:/\s]{0,3})?
      (?<prefix>
        (?<namespace> 10)
        [.]
        (?<registrant> \d{2,9})
      )
      (?<sep>      [:\-/\s\]])
      (?<suffix>   [\-._;()/:a-z0-9]+[a-z0-9])
      (?<trailing> ([\s\n"<.]|$))
    """))

  private val ArxivRegex = Pattern.compile(withPySpace(
    """(?xidU)
      (?<marker>arxiv[:/\s]{0,3})?
      (?<identifier>\d{4}\.\d+)
      (?:v\d+)?
      (?<trailing>\.pdf)?$
    """))

  /** Canonicalize a raw DOI-ish string to `10.{registrant}/{suffix}` or a
    * bare arXiv id; None when the normalizer finds no match.
    * Last finditer match wins (doi_regex.py:57-59).
    */
  def standardize(identifier: String, isDoi: Boolean): Option[String] = {
    val folded = identifier.toLowerCase(java.util.Locale.ROOT)
    if (isDoi) {
      val m = DoiRegex.matcher(folded)
      var last: Option[String] = None
      while (m.find()) last = Some(s"10.${m.group("registrant")}/${m.group("suffix")}")
      last
    } else {
      val m = ArxivRegex.matcher(folded)
      var last: Option[String] = None
      while (m.find()) last = Some(m.group("identifier"))
      last
    }
  }

  /** Whether `hay` contains any of `needles` under
    * `regionMatches(true, …)`, in one pass without folding the haystack.
    * Each needle is non-empty and starts with an ASCII char, which an
    * ASCII hay char case-matches only if the two are equal up to ASCII
    * case; so regionMatches runs only there and at non-ASCII chars, where
    * folds like 'ı'/'İ' → 'i' still apply. At an ASCII hay char the next
    * hay char must also pass the same test against an ASCII second needle
    * char: be non-ASCII, or equal to it up to ASCII case. */
  private[graft] def containsIgnoreCase(hay: String, needles: Array[String]): Boolean = {
    def asciiLower(c: Char): Int = if (c >= 'A' && c <= 'Z') c + 32 else c
    val firsts = needles.map { nd =>
      require(nd.nonEmpty && nd.charAt(0) < 0x80, s"needle must start with an ASCII char: '$nd'")
      asciiLower(nd.charAt(0))
    }
    // -1: no second-char test (a one-char needle, or a non-ASCII second
    // char, which an ASCII hay char can fold onto)
    val seconds = needles.map(nd => if (nd.length > 1 && nd.charAt(1) < 0x80) asciiLower(nd.charAt(1)) else -1)
    val n = hay.length
    def mayMatchAt(j: Int, want: Int): Boolean =
      want < 0 || (j < n && { val d = hay.charAt(j); d >= 0x80 || asciiLower(d) == want })
    var i = 0
    while (i < n) {
      val c = hay.charAt(i)
      val lc = asciiLower(c)
      var k = 0
      while (k < needles.length) {
        if ((c >= 0x80 || (lc == firsts(k) && mayMatchAt(i + 1, seconds(k)))) &&
            hay.regionMatches(true, i, needles(k), 0, needles(k).length)) return true
        k += 1
      }
      i += 1
    }
    false
  }

  private val ArxivLiterals = Array("arxiv", ".pdf")

  /** Try each DOI pattern, then each arXiv pattern, over the casefolded
    * text; first hit is standardized (doi_regex.py:70-82). DOI patterns
    * standardize group(1); arXiv patterns standardize the WHOLE match
    * (group 0), reproducing the reference's branch at :78-79.
    */
  def extract(text: String): Option[String] = {
    // necessary-condition prescans (semantics-preserving) run on the RAW
    // text: every DOI pattern contains the case-invariant literal `10.`,
    // and every arXiv pattern needs "arxiv", ".pdf", or the WHOLE input
    // shaped like an anchored id. The O(n) lowercase copy — this runs
    // over the full main text of every page — is only paid when a
    // prescan actually hits. NOTE: casefold ≈ toLowerCase here; they
    // differ on ligatures/sharp-s (U+FB01 etc.), which do not occur in
    // well-formed identifiers (divergence documented, accepted).
    val mightDoi = text.contains("10.")
    val mightArxiv = containsIgnoreCase(text, ArxivLiterals) || anchoredIdShape(text)
    if (!mightDoi && !mightArxiv) return None
    val folded = text.toLowerCase(java.util.Locale.ROOT)
    if (mightDoi) {
      DoiPatterns.foreach { p =>
        val m = p.matcher(folded)
        if (m.find()) {
          val g = m.group(1)
          if (g != null && g.nonEmpty) return standardize(g, isDoi = true)
        }
      }
    }
    if (mightArxiv) {
      ArxivPatterns.foreach { p =>
        val m = p.matcher(folded)
        if (m.find()) {
          val whole = m.group(0)
          if (whole != null && whole.nonEmpty) return standardize(whole, isDoi = false)
        }
      }
    }
    None
  }

  /** Necessary condition for the two ANCHORED arXiv patterns
    * (`^\d{4}\.\d+(v\d+)?$`): every char of the whole input is a digit
    * (Character.isDigit — the patterns compile with
    * UNICODE_CHARACTER_CLASS, so \d accepts Unicode digits and the
    * prescan must too), '.', 'v'/'V' (raw text, pre-fold), or a final
    * newline ($ matches before one). Body text has other letters and
    * exits on the first char. */
  private def anchoredIdShape(s: String): Boolean = {
    if (s.isEmpty) return false
    // code-point loop: UNICODE_CHARACTER_CLASS \d matches supplementary-
    // plane Nd digits (surrogate pairs), so the prescan must test the code
    // point, not the UTF-16 char — else prescan and regex disagree
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (!(Character.isDigit(cp) || cp == '.' || cp == 'v' || cp == 'V' || cp == '\n')) return false
      i += Character.charCount(cp)
    }
    true
  }

  /** Search-field sniff: DOI-shaped queries search by doi, everything else
    * by text. Reference: /root/reference/src/webscrapers.py:264-276;
    * goldens /root/reference/tests/test_webscrapers.py:15-31.
    */
  def searchField(query: String): String =
    if (query.startsWith("10.")) "doi" else "text_search"
}
