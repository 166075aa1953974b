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
    pyPattern("(\\d{4}\\.\\d+)(?:v\\d+)?(?:\\.pdf)")
    // the reference lists the first pattern a second time, last; that
    // copy can never be the first to match, so it is left out
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

  /** Try each DOI pattern, then each arXiv pattern, over the casefolded
    * text; first hit is standardized (doi_regex.py:70-82). DOI patterns
    * standardize group(1); arXiv patterns standardize the WHOLE match
    * (group 0), reproducing the reference's branch at :78-79.
    */
  def extract(text: String): Option[String] = {
    // necessary-condition prescans (semantics-preserving) run on the RAW
    // text: every DOI pattern contains the case-invariant literal `10.`,
    // and every arXiv pattern contains `\d{4}\.\d` (see arxivShape).
    // The O(n) lowercase copy — this runs over the full main text of
    // every page — is only paid when a prescan actually hits. NOTE:
    // casefold ≈ toLowerCase here; they differ on ligatures/sharp-s
    // (U+FB01 etc.), which do not occur in well-formed identifiers
    // (divergence documented, accepted).
    val mightDoi = text.contains("10.")
    val mightArxiv = arxivShape(text)
    if (!mightDoi && !mightArxiv) None
    else firstHit(text.toLowerCase(java.util.Locale.ROOT), mightDoi, mightArxiv)
  }

  /** The bank itself over already-folded text: the DOI patterns when
    * `doi`, then the arXiv patterns when `arxiv`; the first hit is
    * standardized. With both flags set this is `extract` without its
    * prescans. */
  private[graft] def firstHit(folded: String, doi: Boolean, arxiv: Boolean): Option[String] = {
    if (doi) {
      DoiPatterns.foreach { p =>
        val m = p.matcher(folded)
        if (m.find()) {
          val g = m.group(1)
          if (g != null && g.nonEmpty) return standardize(g, isDoi = true)
        }
      }
    }
    if (arxiv) {
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

  /** Whether `s` holds four digits, a '.', then a digit: the shape every
    * arXiv pattern contains (`\d{4}\.\d+`). Digits are tested by code
    * point with Character.isDigit, which is what UNICODE_CHARACTER_CLASS
    * `\d` matches (supplementary-plane digits included). Lowercasing
    * neither creates nor removes a digit or a '.', and maps each to
    * itself alone, so the shape in the raw text is necessary for any
    * arXiv pattern to match the folded text. */
  private def arxivShape(s: String): Boolean = {
    var digits = 0 // length of the digit run that ends before cp
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      if (Character.isDigit(cp)) digits += 1
      else if (cp == '.' && digits >= 4 && i < s.length && Character.isDigit(s.codePointAt(i))) return true
      else digits = 0
    }
    false
  }

  /** Search-field sniff: DOI-shaped queries search by doi, everything else
    * by text. Reference: /root/reference/src/webscrapers.py:264-276;
    * goldens /root/reference/tests/test_webscrapers.py:15-31.
    */
  def searchField(query: String): String =
    if (query.startsWith("10.")) "doi" else "text_search"
}
