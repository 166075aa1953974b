package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.prop.TableDrivenPropertyChecks
import graft.ids.{Identifiers, LinkCleaner, DoiCascade}

class IdentifiersSpec extends AnyFunSuite with TableDrivenPropertyChecks {

  // /root/reference/tests/test_doiregex.py:5-18
  val doiGoldens = Table(
    ("input", "expected"),
    ("10.1234/abc.123", Some("10.1234/abc.123")),
    ("10.1234/abc123", Some("10.1234/abc123")),
    ("https://doi.org/10.1234/abc.123", Some("10.1234/abc.123")),
    ("https://doi.org/10.1234/abc123", Some("10.1234/abc123")),
    ("https://doi.org/10.1234/123.456", Some("10.1234/123.456")),
    ("https://doi.org/10.1234/123456", Some("10.1234/123456")),
    ("1234.5678", Some("1234.5678")))

  test("Python regex parity: Unicode whitespace terminators, CRLF anchors") {
    // NBSP after the DOI (ubiquitous in HTML-extracted text): Python \s
    // matches it; ASCII-only Java \s would miss the whole DOI
    assert(Identifiers.extract("see doi:10.1234/abc for details") ==
      Some("10.1234/abc"))
    // CRLF-terminated anchored arXiv id: Python's $ does NOT match before
    // \r\n, so the reference returns None — and so must we (UNIX_LINES)
    assert(Identifiers.standardize("2101.00001\r\n", isDoi = false).isEmpty)
    // plain-\n termination still accepted (Python $ matches before it)
    assert(Identifiers.standardize("2101.00001\n", isDoi = false) ==
      Some("2101.00001"))
  }

  test("Python regex parity: U+001C-001F information separators count as \\s") {
    // Py_UNICODE_ISSPACE includes the four information separators; Java's
    // \p{IsWhite_Space} does not. These chars occur in PDF-extracted text.
    // Goldens generated by running /root/reference/src/doi_regex.py
    // (extract_identifier / standardize_identifier) on each input.
    val goldens = Table(
      ("input", "expected"),
      ("see 10.1234/abc\u001Cmore", Some("10.1234/abc")),
      ("doi:10.5555/xyz.12\u001Drest", Some("10.5555/xyz.12")),
      ("10.1234/abc\u001F", Some("10.1234/abc")),
      // the reference ALSO returns None for these (the arXiv inner
      // re-standardize rejects the captured separator before `$`; the
      // 2-digit registrant fails \d{4}); parity means None here too
      ("arxiv:2101.00001\u001Ctail", None),
      ("prefix 10.1000\u001Esuf.fix9\u001Ctail", None),
      ("10.99/x\u001C", None))
    forAll(goldens) { (in, expected) =>
      assert(Identifiers.extract(in) == expected, s"input=${in.map(c => f"$c%c(${c.toInt}%02x)").mkString}")
    }
    // standardize's sep/trailing classes take the separators too
    assert(Identifiers.standardize("10.1000\u001Esuf.fix9\u001C", isDoi = true) ==
      Some("10.1000/suf.fix9"))
    assert(Identifiers.standardize("doi:\u001F10.77/ab\u001D", isDoi = true) ==
      Some("10.77/ab"))
    assert(Identifiers.standardize("arxiv\u001C:2101.04567v2", isDoi = false) ==
      Some("2101.04567"))
  }

  test("extract: DOI golden table") {
    forAll(doiGoldens) { (in, expected) =>
      assert(Identifiers.extract(in) == expected, s"input=$in")
    }
  }

  // /root/reference/tests/test_doiregex.py:21-39
  val arxivGoldens = Table(
    ("input", "expected"),
    ("arxiv:1234.5678v1", Some("1234.5678")),
    ("arxiv:1234.5678", Some("1234.5678")),
    ("arxiv:1234.5678.pdf", Some("1234.5678")),
    ("arxiv:1234.5678v123", Some("1234.5678")),
    ("arxiv:1234.5678v123.pdf", Some("1234.5678")),
    ("1234.5678v123.pdf", Some("1234.5678")),
    ("https://arxiv.org/abs/1234.5678", None),
    ("https://arxiv.org/abs/1234.5678v1", None),
    ("https://arxiv.org/abs/1234.5678.pdf", Some("1234.5678")),
    ("https://arxiv.org/abs/1234.5678v123", None),
    ("https://arxiv.org/abs/1234.5678v123.pdf", Some("1234.5678")),
    ("1234.5678", Some("1234.5678")))

  test("extract: arXiv golden table incl. the None expectations") {
    forAll(arxivGoldens) { (in, expected) =>
      assert(Identifiers.extract(in) == expected, s"input=$in")
    }
  }

  test("extract casefolds (uppercase DOI)") {
    assert(Identifiers.extract("10.1234/ABC.123") == Some("10.1234/abc.123"))
  }

  test("anchored-id prescan agrees with UNICODE \\d on supplementary-plane digits") {
    // OSMANYA DIGIT ONE (U+104A1): Nd outside the BMP — a surrogate pair in
    // UTF-16. UNICODE_CHARACTER_CLASS \d matches it by CODE POINT, so the
    // char-by-char prescan must too, or prescan and regex disagree.
    val d = new String(Character.toChars(0x104A1))
    val id = d * 4 + "." + d * 4
    assert(Identifiers.extract(id) == Some(id))
  }

  test("extract equals the bank over the folded text: its prescans drop no hit (seeded property)") {
    import java.util.Locale
    // the premise of the arXiv shape scan, over every code point:
    // lowercasing keeps each digit and '.' as itself alone, and turns no
    // other char into one
    (0 to Character.MAX_CODE_POINT).foreach { cp =>
      val s = new String(Character.toChars(cp))
      val lower = s.toLowerCase(Locale.ROOT)
      if (Character.isDigit(cp) || cp == '.') assert(lower == s, f"U+$cp%04X")
      else assert(!lower.codePoints.anyMatch(c => Character.isDigit(c) || c == '.'), f"U+$cp%04X")
    }
    // ASCII, Arabic-Indic, fullwidth and supplementary-plane digits
    val digits = Vector("0", "1", "4", "7", "9", "\u0661", "\u0667", "\uFF13",
      new String(Character.toChars(0x104A1)))
    val alphabet = digits ++ Vector(".", "v", "V", ":", "/", "\"", "<", "arxiv", "ARXIV",
      "arx\u0131v", "ARX\u0130V", ".pdf", ".PDF", "10.", "doi", "http://", " ", "\u00A0", "\u001C",
      "\n", "\r\n", "a", "k", "X", "z")
    val rnd = new scala.util.Random(13)
    def digitRun(n: Int) = Vector.fill(n)(digits(rnd.nextInt(digits.length))).mkString
    // id-shaped runs: 3-5 digits, '.', 1-3 digits, sometimes a version
    def idRun = digitRun(3 + rnd.nextInt(3)) + "." + digitRun(1 + rnd.nextInt(3)) +
      (if (rnd.nextBoolean()) "v" + digitRun(1) else "")
    def shown(t: String) = t.flatMap(c => if (c < 0x20 || c > 0x7e) "\\u%04x".format(c.toInt) else c.toString)
    var hits = 0
    (1 to 20000).foreach { _ =>
      val t = Vector.fill(rnd.nextInt(8))(
        if (rnd.nextInt(4) == 0) idRun else alphabet(rnd.nextInt(alphabet.length))).mkString
      val got = Identifiers.extract(t)
      assert(got == Identifiers.firstHit(t.toLowerCase(Locale.ROOT), doi = true, arxiv = true), shown(t))
      if (got.isDefined) hits += 1
    }
    assert(hits > 500, s"only $hits of the texts hold an identifier")
  }

  test("extract: arXiv prescan hits at index 0, at the last index, after a non-ASCII char") {
    assert(Identifiers.extract("arXiv:2101.01234") == Some("2101.01234"))
    assert(Identifiers.extract("see 2101.01234v2.pdf") == Some("2101.01234"))
    assert(Identifiers.extract("\u00e9t\u00e9 ARXIV:1901.12345") == Some("1901.12345"))
    assert(Identifiers.extract("\u0130 2101.01234.PDF") == Some("2101.01234"))
    // the prescan matches the dotless i, but the arXiv pattern runs over
    // the lowercased text, where it stays dotless
    assert(Identifiers.extract("arX\u0131v:2101.01234") == None)
    assert(Identifiers.extract("no literal 2101.01234 here") == None)
  }

  test("standardize is idempotent on its own output (seeded property)") {
    val rnd = new scala.util.Random(7)
    (1 to 500).foreach { _ =>
      val reg = 1000 + rnd.nextInt(9000)
      val suffix = (1 to 5).map(_ => "abcdefghij0123456789".charAt(rnd.nextInt(20))).mkString
      val id = s"10.$reg/$suffix"
      val once = Identifiers.standardize(id, isDoi = true)
      assert(once.isDefined)
      assert(Identifiers.standardize(once.get, isDoi = true) == once)
    }
  }

  // /root/reference/tests/test_webscrapers.py:15-31
  val sniffGoldens = Table(
    ("input", "expected"),
    ("10.1000/182", "doi"),
    ("apples", "text_search"),
    ("10.1000/185", "doi"),
    ("Don Quixote", "text_search"),
    ("12.1050/100", "text_search"),
    ("100.000", "text_search"))

  test("searchField sniff golden table") {
    forAll(sniffGoldens) { (in, expected) =>
      assert(Identifiers.searchField(in) == expected)
    }
  }

  // /root/reference/tests/test_downloaders.py:90-110 (base url from the
  // reference config: sci-hub)
  val linkGoldens = Table(
    ("link", "expected"),
    ("location.href='/downloads/2022-11-06/46/li2022.pdf?download=true",
      "https://sci-hub.se/downloads/2022-11-06/46/li2022.pdf?download=true"),
    ("location.href='//zero.sci-hub.se/7011/f4d76a25ca2ccd9ff38f46fd75b0b3bf/wang2017.pdf?download=true",
      "https://zero.sci-hub.se/7011/f4d76a25ca2ccd9ff38f46fd75b0b3bf/wang2017.pdf?download=true"),
    ("location.href='/downloads/2020-01-28/9e/10.1016@B978-0-12-849867-5.00001-X.pdf?download=true",
      "https://sci-hub.se/downloads/2020-01-28/9e/10.1016@B978-0-12-849867-5.00001-X.pdf?download=true"))

  test("link cleaning golden table") {
    forAll(linkGoldens) { (in, expected) =>
      assert(LinkCleaner.formatDownloadLink(in, "https://sci-hub.se/") == Some(expected))
    }
    assert(LinkCleaner.formatDownloadLink("no match here", "https://x/") == None)
  }

  test("DOI cascade: metadata keys beat info values beat text") {
    assert(DoiCascade(scala.collection.immutable.SeqMap("doi" -> "10.1/x"), "text with 10.9999/fromtext ") ==
      Some(DoiCascade.DoiResult("10.1/x", "doi")))
    assert(DoiCascade(scala.collection.immutable.SeqMap("Subject" -> "see doi:10.5555/abc123 for details"),
      "fallback 10.9999/fromtext ") ==
      Some(DoiCascade.DoiResult("10.5555/abc123", "text")))
    assert(DoiCascade(scala.collection.immutable.SeqMap.empty, "the doi is 10.9999/fromtext ok") ==
      Some(DoiCascade.DoiResult("10.9999/fromtext", "text")))
    assert(DoiCascade(scala.collection.immutable.SeqMap.empty, "no identifiers at all") == None)
  }

  test("info-value scan keeps the reference's last-wins overwrite quirk") {
    import scala.collection.immutable.ListMap
    // doifrompdf.py:99-111 overwrites `result` every iteration: an
    // id-bearing value followed by an id-less one yields None, and the
    // cascade falls through to the preprint text
    assert(DoiCascade(
      ListMap("Subject" -> "see doi:10.1234/abc ", "Producer" -> "Microsoft Word"),
      "fallback 10.9999/fromtext ok") ==
      Some(DoiCascade.DoiResult("10.9999/fromtext", "text")))
    // reversed order: the id-bearing value is last and wins
    assert(DoiCascade(
      ListMap("Producer" -> "Microsoft Word", "Subject" -> "see doi:10.1234/abc "),
      "fallback 10.9999/fromtext ok") ==
      Some(DoiCascade.DoiResult("10.1234/abc", "text")))
    // the reference's '/wps-journaldoi' exclusion is dead code against
    // slash-stripped keys, so the value IS scanned
    assert(DoiCascade(ListMap("wps-journaldoi" -> "10.9999/wps "), "") ==
      Some(DoiCascade.DoiResult("10.9999/wps", "text")))
  }
}
