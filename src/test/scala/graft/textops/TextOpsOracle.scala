package graft.textops

import scala.collection.mutable

/** Step-by-step transcriptions of the reference's word scoring, kept as
  * the oracles that `TextOps.wordScore` is pinned to: tokenize the text,
  * then count each word set's matches. */
object TextOpsOracle {

  /** Python-semantics tokenizer: `preprint.strip().lower().split(" ")`.
    *
    * Single-space split keeps empty tokens from runs of spaces and keeps
    * tokens containing newlines/tabs; an empty input yields one empty token
    * (Python `"".split(" ") == [""]`).
    * Reference: sciscraper src/docscraper.py:176-186.
    */
  def tokenize(preprint: String): Array[String] =
    TextOps.pyStrip(preprint).toLowerCase(java.util.Locale.ROOT).split(" ", -1)

  /** Count tokens found in `wordSet`; return top-3 by count with Python
    * `Counter.most_common(3)` tie-breaking (first-insertion order wins on
    * equal counts — stable sort over first-occurrence order).
    *
    * Reference: sciscraper src/docscraper.py:55-94 (docstring example
    * at :66-81 pins the tie-break).
    */
  def matchTerms(target: Iterable[String], wordSet: Set[String]): FreqDistAndCount = {
    val counts = mutable.LinkedHashMap.empty[String, Int]
    val it = target.iterator
    while (it.hasNext) {
      val w = it.next()
      if (wordSet.contains(w)) counts.update(w, counts.getOrElse(w, 0) + 1)
    }
    // Scala's sortBy is a stable (timsort) sort: equal counts keep the
    // LinkedHashMap insertion (= first occurrence) order, matching
    // Counter.most_common.
    val top3 = counts.toList.sortBy(-_._2).take(3)
    FreqDistAndCount(top3.map(_._2).sum, top3)
  }
}
