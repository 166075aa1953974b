package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.prop.TableDrivenPropertyChecks
import graft.textops.{TextOps, TextOpsOracle, Float16}

/** Golden tables ported verbatim from the reference's pytest suite. */
class TextOpsSpec extends AnyFunSuite with TableDrivenPropertyChecks {

  // /root/reference/tests/test_wordscore.py:6-26
  val wordscoreGoldens = Table(
    ("total", "match", "bycatch", "expected"),
    (100, 20, 5, 0.5625),
    (1000, 500, 10, 0.7425),
    (0, 20, 5, 0.0),
    (100, -20, 5, 0.0),
    (100, 20, -5, 0.0),
    (100, 20, 80, 0.0),
    (100, 100, 0, 1.0),
    (100, 0, 0, 0.5),
    (1, 0, 0, 0.5))

  test("calculateLikelihood matches the reference goldens exactly") {
    forAll(wordscoreGoldens) { (t, m, b, expected) =>
      assert(TextOps.calculateLikelihood(t, m, b) == expected)
    }
  }

  test("likelihood stays in [0,1] for any inputs (seeded property)") {
    val rnd = new scala.util.Random(42)
    (1 to 2000).foreach { _ =>
      val s = TextOps.calculateLikelihood(
        rnd.nextInt(100001), rnd.nextInt(100001), rnd.nextInt(100001))
      assert(s >= 0.0 && s <= 1.0)
    }
  }

  test("tokenizer reproduces Python strip().lower().split(' ') semantics") {
    assert(TextOpsOracle.tokenize("Hello World").toSeq == Seq("hello", "world"))
    // double space yields empty token
    assert(TextOpsOracle.tokenize("a  b").toSeq == Seq("a", "", "b"))
    // newline inside token survives single-space split
    assert(TextOpsOracle.tokenize("foo\nbar baz").toSeq == Seq("foo\nbar", "baz"))
    // empty input -> one empty token (Python "".split(" ") == [""])
    assert(TextOpsOracle.tokenize("").toSeq == Seq(""))
    assert(TextOpsOracle.tokenize("   ").toSeq == Seq(""))
    // Python str.strip() also strips NBSP/NEL/figure/narrow-nbsp, which
    // Java's Character.isWhitespace does not — NBSP-led HTML extractions
    // must tokenize identically to the reference
    assert(TextOpsOracle.tokenize("\u00a0Neural nets\u00a0").toSeq == Seq("neural", "nets"))
    assert(TextOpsOracle.tokenize("\u0085x\u2007y\u202f").toSeq == Seq("x\u2007y"))
  }

  test("matchTerms: docstring example incl. tie-break by first insertion") {
    // /root/reference/src/docscraper.py:66-81
    val words = List("a", "a", "b", "c", "d", "d", "d", "d", "c", "a",
      "f", "f", "f", "g", "d")
    val res = TextOpsOracle.matchTerms(words, Set("a", "b", "f"))
    assert(res.frequencyDist == List(("a", 3), ("f", 3), ("b", 1)))
    assert(res.termCount == 7)
  }

  test("matchTerms tie-break: equal counts keep first-occurrence order") {
    val res = TextOpsOracle.matchTerms(List("z", "y", "x", "x", "y", "z"), Set("x", "y", "z"))
    assert(res.frequencyDist == List(("z", 2), ("y", 2), ("x", 2)))
  }

  test("parentheticals: greedy per-line match like re.findall") {
    val text = "effect size (d = 0.42) was large (n = 12)\nno stats here (just words)"
    // greedy .* merges both parens on the same line — same as Python
    assert(TextOps.parentheticals(text) == List("(d = 0.42) was large (n = 12)"))
    assert(TextOps.parentheticals("nothing") == Nil)
    assert(TextOps.parentheticals("(x=y)") == List("(x=y)"))
    // Python's `.` excludes ONLY \n; Java's default also excludes \r,
    // NEL, LS and PS — UNIX_LINES restores parity (differential fuzz
    // found CR-bearing spans silently dropped without it)
    assert(TextOps.parentheticals("(m=3,\rsd=1)") == List("(m=3,\rsd=1)"))
    val ls = "(a=\u2028b)" // LS: a Java-only line terminator by default
    assert(TextOps.parentheticals(ls) == List(ls))
    assert(TextOps.parentheticals("(a=\nb)") == Nil) // \n still blocks
  }

  test("parentheticals: one linear scan on lines a backtracking search takes cubic time on") {
    val line = "(=" * 20000
    assert(TextOps.parentheticals(line) == Nil)
    assert(TextOps.parentheticals(line + ")") == List(line + ")"))
    assert(TextOps.parentheticals(") (a=b) (c") == List("(a=b)"))
    assert(TextOps.parentheticals("a=b) (c") == Nil)
  }

  test("wordScore equals tokenize + matchTerms x 2 + the regex findall (seeded property)") {
    import java.util.regex.Pattern
    // the pattern parentheticals transcribes, kept here as its oracle
    val paren = Pattern.compile("\\(.*=.*\\)", Pattern.UNIX_LINES)
    def findall(text: String): List[String] = {
      val m = paren.matcher(text)
      val out = List.newBuilder[String]
      while (m.find()) out += m.group(0)
      out.result()
    }
    // "shared" is in both sets, "" (a run of spaces) in the target set,
    // and "i\u0307ki" is what toLowerCase makes of "\u0130KI"
    val target = Set("alpha", "beta", "shared", "", "i\u0307ki", "\u03bf\u03b4\u03bf\u03c2", "gamma")
    val bycatch = Set("delta", "shared", "eps", "alphabet", "x=y")
    val frags = Vector("alpha", "ALPHA", "Beta", "beta", "shared", "SHARED", "delta", "Eps",
      "alphabet", "gamma", "\u0130KI", "\u0130ki", "\u039f\u0394\u039f\u03a3", "x=y", "X=Y", "word",
      " ", "  ", "\u00a0", "\u0085", "\u2007", "\u202f", "\t", "(", ")", "=", "\r", "\n",
      "\u2028", "\u2029", "\ud83d\ude00", "\ud800", "\udc00")
    val rnd = new scala.util.Random(11)
    val pairs = Seq(target -> bycatch, bycatch -> target, Set.empty[String] -> bycatch,
      target -> Set("alpha", "ALPHA", "word"))
    val tables = pairs.map { case (t, b) => (t, b, new TextOps.TermTable(t, b)) }
    (1 to 20000).foreach { _ =>
      val text = Vector.fill(rnd.nextInt(30))(frags(rnd.nextInt(frags.length))).mkString
      val (t, b, table) = tables(rnd.nextInt(tables.length))
      val tokens = TextOpsOracle.tokenize(text)
      val want = TextOps.WordScore(tokens.length, TextOpsOracle.matchTerms(tokens, t),
        TextOpsOracle.matchTerms(tokens, b), findall(text))
      assert(TextOps.wordScore(text, table) == want, text.map(_.toInt).mkString(","))
    }
  }

  test("Extractor.score scores against the word sets it is given, call after call") {
    import graft.model.ExtractedDoc
    import graft.pipeline.Extractor
    val doc = ExtractedDoc("u", "html", "Alpha beta beta gamma (n=1)", "", "", "", Nil, 0L,
      ok = true, error = "")
    val a = Set("alpha", "beta")
    val b = Set("gamma")
    Seq((a, b), (b, a), (a, b), (Set("alpha", "beta"), Set("gamma"))).foreach { case (t, c) =>
      val s = Extractor.score(doc, t, c)
      val tokens = TextOpsOracle.tokenize(doc.extracted_text)
      assert(s.matching_terms == TextOpsOracle.matchTerms(tokens, t).termCount)
      assert(s.bycatch_terms == TextOpsOracle.matchTerms(tokens, c).termCount)
      assert(s.total_word_count == 5 && s.paper_parentheticals == List("(n=1)"))
    }
  }

  test("word-set load strips, lowers, dedups") {
    val set = TextOps.loadWordSet(Iterator(" Design\n", "design", "FMRI ", ""))
    assert(set == Set("design", "fmri", ""))
  }

  // --- float16 quantization (np.float16 parity) -------------------------
  test("float16 quantize known values") {
    // values checked against numpy: np.float32(np.float16(x))
    assert(Float16.quantize(0.5625f) == 0.5625f) // exact in fp16
    assert(Float16.quantize(1.0f) == 1.0f)
    assert(Float16.quantize(0.0f) == 0.0f)
    assert(Float16.quantize(0.7425f) == 0.74267578125f) // np.float16(0.7425)
    assert(Float16.quantize(0.1f) == 0.0999755859375f) // np.float16(0.1)
    assert(Float16.quantize(65504f) == 65504f) // fp16 max
    assert(Float16.quantize(65520f).isPosInfinity) // overflow rounds to inf
    // (float32 input bits, expected binary16 bits), compared bit for bit:
    // ties, signed zero and NaN payloads through the float overload
    val cases: Seq[(Int, Int)] = Seq(
      (0x3f801000, 0x3c00), // 1 + 2^-11: tie, rounds to even (down to 1.0)
      (0x3f803000, 0x3c02), // 1 + 3*2^-11: tie, rounds to even (up)
      (0x33c00000, 0x0002), // 3*2^-25 = 1.5 min subnormals: tie, up to even
      (0x34200000, 0x0002), // 5*2^-25 = 2.5 min subnormals: tie, down to even
      (0x80000000, 0x8000), // -0.0 keeps its sign
      (0x7fc12345, 0x7e09), // quiet NaN keeps its top payload bits
      (0xffc00001, 0xfe00), // negative quiet NaN, payload below half precision
    )
    cases.foreach { case (in, half) =>
      val got = java.lang.Float.floatToRawIntBits(
        Float16.quantize(java.lang.Float.intBitsToFloat(in)))
      val want = java.lang.Float.floatToRawIntBits(Float16.halfBitsToFloat(half.toShort))
      assert(got == want, f"quantize(0x$in%08x): got bits 0x$got%08x, want 0x$want%08x")
    }
  }

  test("double -> float16 single-rounds like numpy (no float32 double-rounding)") {
    // (doubleBits, float32 bits of np.float32(np.float64(d).astype(np.float16)))
    // generated with numpy; includes the double-rounding tie 1+2^-11+2^-25
    // (float32-first would round it DOWN to 1.0), exact ties both
    // directions, the 65520 overflow tie, the 65519.999999 near-tie that
    // must NOT overflow, subnormal boundaries and the 2^-25 underflow tie
    val goldens: Seq[(Long, Int)] = Seq(
      (0L, 0),
      (-9223372036854775808L, -2147483648),
      (4607182418800017408L, 1065353216),
      (-4616189618054758400L, -1082130432),
      (4603241769126068224L, 1058013184),
      (4607184617957490688L, 1065361408), // 1.0004883110523224 -> 1.0009765625
      (4607184617823272960L, 1065353216), // 1.00048828125 (tie) -> 1.0
      (4607189015869784064L, 1065369600), // 1.00146484375 (tie) -> 1.001953125
      (4679235614791434240L, 1199562752), // 65504.0
      (4679237813814689792L, 2139095040), // 65520.0 (tie) -> inf
      (4679237813814552353L, 1199562752), // 65519.999999 -> 65504.0 (NOT inf)
      (-4544134223040086016L, -8388608),  // -65520.0 -> -inf
      (4544132024016830464L, 947912704),  // 2^-14 (normal/subnormal boundary)
      (4544134223044280320L, 947920896),
      (4499096027743125504L, 864026624),  // 2^-24 (min subnormal)
      (4494592428115755008L, 0),          // 2^-25 (underflow tie) -> 0
      (4494592428566114971L, 864026624),  // just above 2^-25 -> 2^-24
      (4490088828488384512L, 0),          // 2^-26 -> 0
      (4544126835870059733L, 947896320),
      (4499125899939309867L, 864026624),
      (9214871658872686752L, 2139095040), // 1e308 -> inf
      (9218868437227405312L, 2139095040), // inf
      (-4503599627370496L, -8388608),     // -inf
      (4603241770414558413L, 1058013184),
      (4591870180066957722L, 1036828672), // 0.1
      (4599676419421066581L, 1051369472), // 1/3
      (4636739490377891840L, 1120403456), // 100.03125 -> 100.0
      (4606880259111704445L, 1064787968),
      (4601611152595570514L, 1054973952),
      (4575287099085346432L, 1005944832),
      (4606380561555335125L, 1063862272),
      (4606635402558332630L, 1064337408),
      (4603419459307422639L, 1058340864),
      (4604224125635246261L, 1059840000),
      (4590712807336855032L, 1034674176),
      (4605079066031891864L, 1061437440),
      (4597699991619199648L, 1047691264),
      (-4544121713555566772L, -8388608),  // -65686.03... -> -inf
      (4675789220389955234L, 1193140224),
      (-4551719878880027122L, -962043904),
      (4670473443491156844L, 1183244288),
      (4670139463569640304L, 1182621696),
      (-4546376903699378390L, -952090624),
    )
    goldens.foreach { case (db, fb) =>
      val d = java.lang.Double.longBitsToDouble(db)
      val got = java.lang.Float.floatToRawIntBits(Float16.quantize(d))
      assert(got == fb,
        s"quantize($d): got bits $got, numpy bits $fb " +
          s"(${java.lang.Float.intBitsToFloat(got)} vs ${java.lang.Float.intBitsToFloat(fb)})")
    }
    assert(Float16.quantize(1e-8f) == 0.0f) // underflow
    assert(Float16.quantize(6.1e-5f) == 6.097555160522461e-5f) // subnormal (checked vs numpy)
  }

  test("float16 round-trip is idempotent (seeded property)") {
    val rnd = new scala.util.Random(42)
    (1 to 5000).foreach { _ =>
      val f = (rnd.nextFloat() - 0.5f) * 140000f
      val q = Float16.quantize(f)
      assert(Float16.quantize(q) == q || (q.isNaN && Float16.quantize(q).isNaN))
    }
  }

  test("float16 quantize agrees with exhaustive half-bit reconstruction") {
    // every finite half value must round-trip bit-exactly
    (0 until 0x10000).foreach { bits =>
      val h = bits.toShort
      val f = Float16.halfBitsToFloat(h)
      if (!f.isNaN && !f.isInfinite) {
        assert(Float16.quantize(f) == f, s"bits=$bits f=$f")
      }
    }
  }
}
