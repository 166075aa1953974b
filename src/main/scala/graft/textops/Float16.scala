package graft.textops

/** IEEE 754 binary16 (half-precision) round-trip, reproducing numpy's
  * `astype(np.float16)` quantization byte-identically.
  *
  * The reference downcasts `wordscore` to np.float16 on export
  * (/root/reference/src/config.py:124-128, applied at
  * /root/reference/src/fetch.py:224-227). Spark has no HalfType, so we
  * quantize: value -> half (round-to-nearest-even) -> float32. JDK 17
  * lacks Float.floatToFloat16 (added in JDK 20), so the rounding is
  * [[doubleToHalfBits]]. A float input is widened to double, which is
  * exact, and then rounded once by that same routine.
  */
object Float16 {

  /** binary16 bits -> float32 (exact). */
  def halfBitsToFloat(h: Short): Float = {
    val hb = h & 0xffff
    val sign = (hb & 0x8000) << 16
    val exp = (hb >>> 10) & 0x1f
    val mant = hb & 0x03ff
    val bits =
      if (exp == 0) {
        if (mant == 0) sign
        else {
          // subnormal half -> normalized float
          var m = mant
          var e = -1
          while ((m & 0x0400) == 0) { m <<= 1; e += 1 }
          m &= 0x03ff
          sign | ((127 - 15 - e) << 23) | (m << 13)
        }
      } else if (exp == 0x1f) {
        sign | 0x7f800000 | (mant << 13)
      } else {
        sign | ((exp - 15 + 127) << 23) | (mant << 13)
      }
    java.lang.Float.intBitsToFloat(bits)
  }

  /** double -> binary16 bits in ONE rounding, matching numpy's direct
    * float64 -> float16 cast. Routing through float32 first would
    * double-round: a double just above a float16 tie can land exactly ON
    * the tie after the float32 rounding and then break the wrong way
    * (e.g. 1 + 2^-11 + 2^-25 -> float32 1 + 2^-11 -> ties-to-even DOWN
    * to 1.0, where numpy rounds the original double UP to
    * 1.0009765625). */
  def doubleToHalfBits(d: Double): Short = {
    val bits = java.lang.Double.doubleToRawLongBits(d)
    val sign = ((bits >>> 48) & 0x8000L).toInt
    val absBits = bits & 0x7fffffffffffffffL

    if (absBits >= 0x7ff0000000000000L) {
      // Inf / NaN (a NaN keeps the quiet bit and its top payload bits)
      val mant = if (absBits > 0x7ff0000000000000L) 0x0200 else 0
      return (sign | 0x7c00 | mant | ((bits >>> 42) & 0x03ff).toInt).toShort
    }
    val e = ((absBits >>> 52) - 1023).toInt
    if (e >= 16) return (sign | 0x7c00).toShort // overflow -> Inf
    if (e >= -14) {
      // normal half: 52 -> 10 mantissa bits
      val mant = (absBits & 0x000fffffffffffffL) | 0x0010000000000000L
      val shift = 42
      val rem = mant & ((1L << shift) - 1)
      var h = ((e + 15) << 10) | ((mant >>> shift).toInt & 0x03ff)
      val halfway = 1L << (shift - 1)
      if (rem > halfway || (rem == halfway && (h & 1) == 1)) h += 1
      (sign | h).toShort // mantissa overflow carries into exponent correctly
    } else if (e >= -25) {
      // subnormal half
      val mant = (absBits & 0x000fffffffffffffL) | 0x0010000000000000L
      val shift = 42 + (-14 - e) // 43..53, always < 63
      val rem = mant & ((1L << shift) - 1)
      var h = (mant >>> shift).toInt
      val halfway = 1L << (shift - 1)
      if (rem > halfway || (rem == halfway && (h & 1) == 1)) h += 1
      (sign | h).toShort
    } else {
      sign.toShort // underflow -> signed zero
    }
  }

  /** The quantization used on export: value as float16 re-widened. */
  def quantize(f: Float): Float = quantize(f.toDouble)

  /** One rounding from double (numpy parity) — NOT d.toFloat first,
    * which double-rounds at ties. */
  def quantize(d: Double): Float = halfBitsToFloat(doubleToHalfBits(d))
}
