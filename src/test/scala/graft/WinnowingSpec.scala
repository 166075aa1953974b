package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.textops.Winnowing

class WinnowingSpec extends AnyFunSuite {

  /** Containment score: |fp(a) ∩ fp(b)| / |fp(a)| — the winnowing overlap
    * measure used for near-dup / clone detection. */
  private def containment(a: String, b: String): Double = {
    val fa = Winnowing.fingerprintSet(a)
    if (fa.isEmpty) return 0.0
    val fb = Winnowing.fingerprintSet(b)
    fa.count(fb.contains).toDouble / fa.size
  }

  test("rolling hash equals direct hash at every position") {
    val s = "the quick brown fox jumps over the lazy dog"
    val k = 5
    def direct(g: String): Long =
      g.foldLeft(0L)((h, c) => h * 0x100000001b3L + c)
    val rolled = Winnowing.rollingHashes(s, k)
    assert(rolled.length == s.length - k + 1)
    rolled.zipWithIndex.foreach { case (h, i) =>
      assert(h == direct(s.substring(i, i + k)), s"pos $i")
    }
  }

  test("guarantee: shared runs >= w+k-1 chars share a fingerprint") {
    val shared = "a long enough common substring here"
    val a = "prefix one " + shared + " suffix alpha"
    val b = "other start padding " + shared + " different tail"
    val fa = Winnowing.fingerprintSet(a)
    val fb = Winnowing.fingerprintSet(b)
    assert(fa.intersect(fb).nonEmpty)
  }

  test("disjoint alphabets share nothing; identical docs share everything") {
    val a = "aaaa bbbb cccc dddd eeee ffff gggg"
    val b = "1111 2222 3333 4444 5555 6666 7777"
    assert(Winnowing.fingerprintSet(a).intersect(Winnowing.fingerprintSet(b)).isEmpty)
    assert(containment(a, a) == 1.0)
  }

  test("fingerprint density is ~2/(w+1), robust to position shift") {
    val text = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do " * 20)
    val fp = Winnowing.fingerprints(text)
    val density = fp.length.toDouble / (text.length - 5 + 1)
    assert(density < 0.6 && density > 0.1, s"density $density")
    // shifting the document does not change the selected hash VALUES much
    val shifted = "xyz " + text
    val overlap = containment(text, shifted)
    assert(overlap > 0.9, s"shift overlap $overlap")
  }

  test("near-dup detection: mutated copy has high containment, random low") {
    val (page, _) = graft.corpus.CorpusGen.genDoc(7L)
    val text = page.text
    val mutated = text.split(" ").drop(1).mkString(" ")
    assert(containment(mutated, text) > 0.8)
    val (other, _) = graft.corpus.CorpusGen.genDoc(8L)
    assert(containment(text, other.text) <
      containment(mutated, text))
  }

  test("edge cases: short strings, empty") {
    assert(Winnowing.fingerprints("").isEmpty)
    assert(Winnowing.fingerprints("abc").isEmpty)
    assert(Winnowing.fingerprints("abcde").length == 1)
  }

  test("robust tie retention: constant/repetitive text stays ~1/w density") {
    // every k-gram hash is equal; without previous-pick retention the
    // rightmost-min moves each slide and emission becomes one per position
    val n = 2000
    val fps = Winnowing.fingerprints("a" * n)
    val windows = n - 5 + 1 - 4 + 1
    assert(fps.length <= windows / 4 + 2, s"${fps.length} fps for $windows windows")
    // spammy repetition: a short phrase repeated also stays sparse
    // (denominator = true window count n-k+1-w+1, same as above)
    val spam = "buy now " * 300
    val spamWindows = spam.length - 5 + 1 - 4 + 1
    val d = Winnowing.fingerprints(spam).length.toDouble / spamWindows
    assert(d < 0.6, s"density $d on repetitive text")
  }
}
