package graft

import org.scalacheck.{Properties, Gen, Prop}
import org.scalacheck.Prop.forAll
import graft.textops.{TextOps, Float16}
import graft.ids.Identifiers

/** Property-based invariants (SURVEY.md §5.2 item 2) — native ScalaCheck
  * (no scalatestplus bridge in the offline cache).
  */
object PropertySpec extends Properties("graft") {

  property("wordscore in [0,1]; 0 on degenerate inputs") =
    forAll(Gen.chooseNum(-10, 10000), Gen.chooseNum(-10, 10000), Gen.chooseNum(-10, 10000)) {
      (t: Int, m: Int, b: Int) =>
        val s = TextOps.calculateLikelihood(t, m, b)
        (s >= 0.0 && s <= 1.0) &&
          (!(t <= 0 || m < 0 || b < 0) || s == 0.0)
    }

  property("wordscore monotone in matches, antitone in bycatch") =
    forAll(Gen.chooseNum(1, 5000), Gen.chooseNum(0, 100), Gen.chooseNum(0, 100)) {
      (t0: Int, m: Int, b: Int) =>
        val t = t0 + m + b
        val s = TextOps.calculateLikelihood(t, m, b)
        TextOps.calculateLikelihood(t, m + 1, b) >= s - 1e-12 &&
          TextOps.calculateLikelihood(t, m, b + 1) <= s + 1e-12
    }

  private val wordGen = Gen.nonEmptyListOf(Gen.alphaLowerStr.suchThat(_.nonEmpty))
    .map(_.mkString(" "))

  property("DOI injected into arbitrary prose is always extracted") =
    forAll(wordGen, Gen.chooseNum(1000, 9999), Gen.alphaNumStr.suchThat(_.nonEmpty)) {
      (prose: String, reg: Int, suf: String) =>
        val doi = s"10.$reg/${suf.toLowerCase}1"
        val text = s"$prose doi: $doi $prose"
        Identifiers.extract(text).contains(doi)
    }

  property("prose without '10.'/'arxiv'/'.pdf' markers extracts nothing") =
    // pins the prescan guards: alpha-only prose (length > 40 so the
    // anchored arXiv whole-string patterns can't apply) has no identifier
    forAll(wordGen.suchThat(_.length > 40)) { prose: String =>
      Identifiers.extract(prose).isEmpty
    }

  property("float16 quantization idempotent and order-preserving") =
    forAll(Gen.chooseNum(0.0, 1.0), Gen.chooseNum(0.0, 1.0)) { (x: Double, y: Double) =>
      val qx = Float16.quantize(x)
      val qy = Float16.quantize(y)
      Float16.quantize(qx.toDouble) == qx && (x > y || qx <= qy)
    }

  private val doiGen = for {
    reg <- Gen.chooseNum(1000, 99999)
    // suffix length 1-29 is drawn, not filtered: a suchThat on length
    // discards most large-size draws, and ScalaCheck gives up past 5x
    n <- Gen.chooseNum(1, 29)
    suf <- Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString)
  } yield s"10.$reg/$suf"

  property("identifier extraction idempotent on its own output") =
    forAll(doiGen) { doi =>
      Identifiers.extract(doi) match {
        case Some(first) => Identifiers.extract(first).contains(first)
        case None        => true
      }
    }

  property("tokenizer: token count = spaces + 1 on stripped input") =
    forAll(Gen.nonEmptyListOf(Gen.oneOf(
      Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString), Gen.const("")))) { words =>
      val text = words.mkString(" ")
      TextOps.tokenize(text).length == text.strip().count(_ == ' ') + 1
    }

  property("top-3: counts desc, ties by first occurrence, sum consistent") =
    forAll(Gen.listOfN(60, Gen.oneOf("a", "b", "c", "d", "e"))) { tokens =>
      val fd = TextOps.matchTerms(tokens, Set("a", "b", "c", "d", "e"))
      val counts = fd.frequencyDist.map(_._2)
      val sortedDesc = counts == counts.sorted.reverse
      val tieBreak = fd.frequencyDist.sliding(2).forall {
        case List((w1, c1), (w2, c2)) if c1 == c2 =>
          tokens.indexOf(w1) < tokens.indexOf(w2)
        case _ => true
      }
      sortedDesc && tieBreak && fd.termCount == counts.sum
    }

  property("simhash invariant under token permutation") =
    forAll(Gen.listOfN(20, Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)), Gen.long) {
      (words, seed) =>
        val a = words.mkString(" ")
        val b = new scala.util.Random(seed).shuffle(words).mkString(" ")
        graft.functions.SimHash64.compute(a) == graft.functions.SimHash64.compute(b)
    }

  property("DotI64.compute matches reference dot product") = {
    val vecGen = Gen.listOfN(64, Gen.chooseNum(-5000L, 5000L))
    forAll(vecGen, vecGen) { (a, b) =>
      val want = a.zip(b).map { case (x, y) => x * y }.sum
      graft.functions.DotI64.compute(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(a.toArray),
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(b.toArray)) == want
    }
  }
}
