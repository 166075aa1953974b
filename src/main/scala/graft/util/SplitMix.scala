package graft.util

/** splitmix64 finalizer — the SINGLE definition of the mixing constant
  * set (the public constants of java.util.SplittableRandom). CorpusGen,
  * QueryLedger's scale tables, and SimHash64 all derive their
  * deterministic streams from this exact function; a drifted private
  * copy would silently fork the synthetic corpora and break the "same
  * shape as the driver fixture" premise, so every caller delegates here.
  */
object SplitMix {

  /** Raw finalizer — full 64-bit range, sign bit included. */
  @inline def finalizeMix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Non-negative variant (sign bit cleared) — safe under `% n`. */
  @inline def nonNeg(x: Long): Long = finalizeMix(x) & Long.MaxValue
}
