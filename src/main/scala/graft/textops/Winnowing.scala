package graft.textops

/** Rolling-hash document fingerprinting by winnowing (Schleimer, Wilkerson,
  * Aiken, SIGMOD 2003 — the MOSS algorithm; public):
  *
  *   1. Karp-Rabin ROLLING hash over character k-grams — each hash is
  *      updated from the previous in O(1), so the pass is O(n) regardless
  *      of k (this is the "rolling" that matters at 100 TB: re-hashing
  *      every k-gram from scratch would be O(n*k)).
  *   2. In every window of w consecutive k-gram hashes keep the minimum
  *      (rightmost on ties — the paper's robust-winnowing choice), so two
  *      documents sharing a run of >= w+k-1 characters share a
  *      fingerprint by construction.
  *
  * The fingerprint set is constant-density (~2/(w+1) of positions), so
  * downstream dedup joins shuffle small fixed-rate keys, never text.
  */
object Winnowing {

  private val Base = 0x100000001b3L // FNV prime as the Karp-Rabin base

  /** k-gram length (k) and winnowing window (w) of every fingerprint. */
  private val K = 5
  private val W = 4

  /** Karp-Rabin rolling hashes of all k-grams of `s` (length n-k+1). */
  def rollingHashes(s: String, k: Int): Array[Long] = {
    val n = s.length
    if (n < k) return Array.emptyLongArray
    val out = new Array[Long](n - k + 1)
    // pow = Base^(k-1) for removing the outgoing char
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow *= Base; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = h * Base + s.charAt(i); i += 1 }
    out(0) = h
    i = k
    while (i < n) {
      h = (h - s.charAt(i - k) * pow) * Base + s.charAt(i)
      out(i - k + 1) = h
      i += 1
    }
    out
  }

  /** Winnowed fingerprints: (position, hash) of each window minimum,
    * de-duplicated on consecutive windows selecting the same position.
    * Ties take the RIGHTMOST minimal hash in the window (robust
    * winnowing). */
  def fingerprints(s: String): Array[(Int, Long)] = {
    val hs = rollingHashes(s, K)
    if (hs.isEmpty) return Array.empty
    if (hs.length <= W) {
      // single short window: its minimum is the whole fingerprint
      var best = 0
      var i = 1
      while (i < hs.length) { if (hs(i) <= hs(best)) best = i; i += 1 }
      return Array((best, hs(best)))
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    var lastPicked = -1
    var start = 0
    while (start + W <= hs.length) {
      var best = start
      var i = start + 1
      while (i < start + W) { if (hs(i) <= hs(best)) best = i; i += 1 }
      // robust winnowing (paper §5): if the previous pick is still inside
      // the window and TIES the minimum, keep it — without this retention
      // a constant run emits one fingerprint per slide (rightmost min
      // moves every window) instead of ~1/w density, and exactly the
      // spammy repetitive pages dedup targets blow up their posting lists
      val keepPrevious = lastPicked >= start && hs(lastPicked) == hs(best)
      if (!keepPrevious && best != lastPicked) {
        out += ((best, hs(best)))
        lastPicked = best
      }
      start += 1
    }
    out.toArray
  }

  /** Fingerprint hash set (the dedup join key set). */
  def fingerprintSet(s: String): Set[Long] =
    fingerprints(s).map(_._2).toSet
}
