package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** `SimHash64.compute` of a Java String, for specs that fingerprint
  * literal text. */
object SimHashText {
  def apply(text: String): Long = SimHash64.compute(UTF8String.fromString(text))
}
