package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, BinaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, FloatType, DoubleType, LongType, StringType, ArrayType}
import org.apache.spark.sql.graftshim.Shim

/** Native Catalyst expressions for the engine's hot-path scalar functions.
  * Codegen'd (doGenCode emits a static call), so they stay inside
  * whole-stage codegen instead of breaking the pipeline like a Scala UDF
  * would (SURVEY.md §4.3 option, promoted here).
  */

/** The shape all six native functions share. Each is a case class over a
  * unary or binary base, and its companion object holds the kernel
  * `compute`. The base owns the input type check, which names the SQL
  * function and what it needs (an array type matches whatever its
  * containsNull), and the codegen: one null-safe static call
  * `graft.functions.<ClassName>.compute(<children>)`. It is Serializable
  * because the bases take arguments: Java deserialization needs the
  * first non-serializable superclass to have a no-arg constructor. */
sealed trait NativeFunction extends Expression with Serializable {
  protected def sqlName: String
  protected def needs: String
  protected def accepts: Seq[DataType]

  override def checkInputDataTypes(): TypeCheckResult = {
    val got = children.map(_.dataType)
    def anyNulls(t: DataType) = t match {
      case ArrayType(e, _) => ArrayType(e)
      case other => other
    }
    if (got.forall(t => accepts.contains(anyNulls(t)))) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$sqlName needs $needs, got ${got.mkString(", ")}")
  }

  protected def kernel(args: String*): String =
    s"${getClass.getName}.compute(${args.mkString(", ")});"
}

abstract class NativeUnary(protected val sqlName: String, protected val needs: String,
    protected val accepts: DataType*) extends UnaryExpression with NativeFunction {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = ${kernel(c)}")
}

abstract class NativeBinary(protected val sqlName: String, protected val needs: String,
    protected val accepts: DataType*) extends BinaryExpression with NativeFunction {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = ${kernel(a, b)}")
}

/** float -> IEEE binary16 -> float quantization, reproducing the
  * reference's np.float16 export downcast. A float input is widened to
  * double (exact) and rounded once, like a double input. */
case class HalfFloat(child: Expression)
    extends NativeUnary("half_float", "float or double", FloatType, DoubleType) {

  override def dataType: DataType = FloatType

  override def nullSafeEval(v: Any): Any =
    HalfFloat.compute(v.asInstanceOf[Number].doubleValue)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HalfFloat {
  def compute(x: Double): Float = graft.textops.Float16.quantize(x)
}

/** 64-bit SimHash over whitespace tokens: per-token 64-bit mix, signed
  * bit-vote accumulation, sign -> bit. The standard Charikar construction
  * (public; used for web-scale near-dup detection). Implemented natively
  * so dedup sweeps stay codegen'd at 100 TB.
  */
case class SimHash64(child: Expression)
    extends NativeUnary("simhash64", "a string column", StringType) {

  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    SimHash64.compute(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  /** splitmix64 finalizer (single definition: graft.util.SplitMix). */
  @inline private def mix(x0: Long): Long = graft.util.SplitMix.finalizeMix(x0)

  /** Zero-copy hot path: hashes the UTF8String's bytes in place instead
    * of decoding a full java.lang.String per document (the dedup sweep
    * calls this once per row — a UTF-16 copy is ~2x the document size
    * in transient allocation inside whole-stage codegen). FNV-1a runs
    * over UTF-8 BYTES (& 0xff): identical to the former char-based hash
    * for ASCII text, a different (equally valid, engine-internal) value
    * for multi-byte runes — no golden pins concrete values and the q18
    * oracle re-derives banding from the dumped hashes. Token split on
    * ASCII space/\n/\t/\r is byte-safe: UTF-8 continuation bytes never
    * collide with ASCII values. */
  def compute(text: org.apache.spark.unsafe.types.UTF8String): Long = {
    val votes = new Array[Int](64)
    var start = 0
    val n = text.numBytes
    var i = 0
    while (i <= n) {
      val c = if (i == n) ' '.toByte else text.getByte(i)
      if (c == ' ' || c == '\n' || c == '\t' || c == '\r') {
        if (i > start) {
          // token hash: FNV-1a over bytes then splitmix finalize
          var h = 0xcbf29ce484222325L
          var j = start
          while (j < i) { h ^= (text.getByte(j) & 0xff).toLong; h *= 0x100000001b3L; j += 1 }
          h = mix(h)
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}

/** Integer dot product over two ArrayType(LongType) columns — the ANN
  * hot path (quantized-embedding similarity). A native expression with a
  * tight codegen loop instead of `aggregate(zip_with(...))`, which
  * allocates a lambda frame per element; at corpus x top-k scale the
  * per-element overhead IS the query cost. Arrays shorter than the other
  * side contribute only their overlap; null elements count as 0.
  */
case class DotI64(left: Expression, right: Expression)
    extends NativeBinary("dot_i64", "two array<bigint> columns", ArrayType(LongType)) {

  override def dataType: DataType = LongType

  override def nullSafeEval(l: Any, r: Any): Any =
    DotI64.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotI64 {
  def compute(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }
}

/** MinHash band buckets over a shingle array — q15's hash stage as ONE
  * native pass. Semantically identical to the SQL construction
  *
  *   hs      = transform(sh, w -> concat(md5(w), md5(concat(w, '#'))))
  *   bucket b = concat(array_min(transform(hs, h -> substring(h, 16b+1, 8))),
  *              array_min(transform(hs, h -> substring(h, 16b+9, 8))))
  *
  * which the DuckDB oracle re-derives: fixed-width LOWERCASE hex makes
  * the string min equal the uint32 min of the corresponding digest word,
  * so running per-lane integer minima over the raw digest bytes and
  * hex-formatting once at the end is byte-identical — without
  * materializing a 64-char hex string per shingle and re-scanning it
  * with eight transform+array_min passes. Null shingles are skipped
  * (md5(null) = null, array_min ignores nulls); an empty or all-null
  * array yields four NULL buckets (concat of a null min).
  */
case class MinHashBands(child: Expression)
    extends NativeUnary("minhash_bands", "an array<string> column", ArrayType(StringType)) {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def nullSafeEval(v: Any): Any =
    MinHashBands.compute(v.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashBands {
  private val Md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def compute(sh: ArrayData): ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val n = sh.numElements()
    // lane j = uint32 word j of (md5(w) ++ md5(w + '#')); band b's bucket
    // is hex(min lane 2b) ++ hex(min lane 2b+1)
    val minima = Array.fill(8)(Long.MaxValue)
    var any = false
    val md = Md5.get()
    var i = 0
    while (i < n) {
      if (!sh.isNullAt(i)) {
        any = true
        val w = sh.getUTF8String(i).getBytes
        md.reset()
        val d1 = md.digest(w)
        md.reset()
        md.update(w); md.update('#'.toByte)
        val d2 = md.digest()
        var lane = 0
        while (lane < 8) {
          val d = if (lane < 4) d1 else d2
          val off = (lane & 3) << 2
          val v = ((d(off) & 0xffL) << 24) | ((d(off + 1) & 0xffL) << 16) |
            ((d(off + 2) & 0xffL) << 8) | (d(off + 3) & 0xffL)
          if (v < minima(lane)) minima(lane) = v
          lane += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](4)
    if (any) {
      var b = 0
      while (b < 4) {
        out(b) = UTF8String.fromString(
          f"${minima(2 * b)}%08x${minima(2 * b + 1)}%08x")
        b += 1
      }
    } // else: four nulls, like concat(array_min(empty), ...) = NULL
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Count of common elements between two array<string> columns whose
  * elements are DISTINCT within each array (the contract of every call
  * site: q15's shingle sets and q41's bigram sets are array_distinct
  * outputs). For such inputs this equals size(array_intersect(a, b))
  * exactly — including the null-element edge (a null element counts iff
  * both sides contain one) — but runs as ONE hash-set pass with no
  * output-array materialization. The confirm stages previously paid
  * array_intersect + array_union (two set builds + two materialized
  * arrays + two size() passes) per candidate pair, and with |candidates|
  * ≈ 716k at sf0.1 that double pass WAS the query's CPU; union size is
  * now derived as |A| + |B| - overlap, exact for distinct arrays.
  */
case class DistinctOverlap(left: Expression, right: Expression)
    extends NativeBinary("distinct_overlap", "two array<string> columns", ArrayType(StringType)) {

  override def dataType: DataType = LongType

  override def nullSafeEval(l: Any, r: Any): Any =
    DistinctOverlap.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DistinctOverlap {
  def compute(a: ArrayData, b: ArrayData): Long = {
    import org.apache.spark.unsafe.types.UTF8String
    // probe the SMALLER side's hash set with the larger side: set build
    // dominates (allocation + hashing), so build once over min(|A|,|B|)
    val (small, big) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val n = small.numElements()
    val set = new java.util.HashSet[UTF8String](math.max(4, n * 2))
    var smallHasNull = false
    var i = 0
    while (i < n) {
      if (small.isNullAt(i)) smallHasNull = true
      else set.add(small.getUTF8String(i))
      i += 1
    }
    var acc = 0L
    val m = big.numElements()
    var bigHasNull = false
    i = 0
    while (i < m) {
      if (big.isNullAt(i)) bigHasNull = true
      else if (set.contains(big.getUTF8String(i))) acc += 1L
      i += 1
    }
    if (smallHasNull && bigHasNull) acc += 1L
    acc
  }
}

/** Count of common elements between two array<bigint> columns whose
  * elements are DISTINCT and ASCENDING-SORTED within each array (the
  * call-site contract: q41's gram-id arrays are sort_array(collect_list)
  * outputs over a bijective dictionary). A linear merge walk — no hash
  * set, no allocation, long compares instead of string hashing — so the
  * per-candidate-pair cost drops another ~10x below DistinctOverlap on
  * string arrays. Null elements (sort_array places them first) are
  * skipped; they cannot occur at the call sites.
  */
case class SortedOverlapI64(left: Expression, right: Expression)
    extends NativeBinary("sorted_overlap_i64", "two array<bigint> columns", ArrayType(LongType)) {

  override def dataType: DataType = LongType

  override def nullSafeEval(l: Any, r: Any): Any =
    SortedOverlapI64.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedOverlapI64 {
  def compute(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    // skip leading nulls (sort_array ascending puts nulls first)
    while (i < n && a.isNullAt(i)) i += 1
    while (j < m && b.isNullAt(j)) j += 1
    var acc = 0L
    while (i < n && j < m) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { acc += 1L; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    acc
  }
}

object GraftFunctions {
  def half_float(c: Column): Column =
    Shim.column(HalfFloat(Shim.expression(c)))
  def sorted_overlap_i64(a: Column, b: Column): Column =
    Shim.column(SortedOverlapI64(Shim.expression(a), Shim.expression(b)))
  def distinct_overlap(a: Column, b: Column): Column =
    Shim.column(DistinctOverlap(Shim.expression(a), Shim.expression(b)))
  def minhash_bands(c: Column): Column =
    Shim.column(MinHashBands(Shim.expression(c)))
  def simhash64(c: Column): Column =
    Shim.column(SimHash64(Shim.expression(c)))
  def dot_i64(a: Column, b: Column): Column =
    Shim.column(DotI64(Shim.expression(a), Shim.expression(b)))

  /** Wrong-arity SQL calls must fail analysis with a named message, not a
    * raw IndexOutOfBoundsException from the builder. */
  private def requireArity(name: String, exprs: Seq[_], n: Int): Unit =
    if (exprs.length != n)
      throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${exprs.length}")

  /** ONE registry consumed by BOTH registration surfaces — per-session
    * [[registerAll]] and the spark.sql.extensions path
    * ([[GraftExtensions]]) — so a function added here is structurally
    * incapable of existing on only one path (the round-4 review caught
    * minhash_bands registered per-session but missing from the
    * extensions table). Each entry names its SQL function once, with its
    * arity; the arity check wraps every builder. */
  private[functions] val registry: Seq[(String, Class[_], Seq[Expression] => Expression)] =
    Seq[(String, Int, Class[_], Seq[Expression] => Expression)](
      ("half_float", 1, classOf[HalfFloat], e => HalfFloat(e(0))),
      ("simhash64", 1, classOf[SimHash64], e => SimHash64(e(0))),
      ("dot_i64", 2, classOf[DotI64], e => DotI64(e(0), e(1))),
      ("minhash_bands", 1, classOf[MinHashBands], e => MinHashBands(e(0))),
      ("distinct_overlap", 2, classOf[DistinctOverlap], e => DistinctOverlap(e(0), e(1))),
      ("sorted_overlap_i64", 2, classOf[SortedOverlapI64], e => SortedOverlapI64(e(0), e(1))),
    ).map { case (name, arity, clazz, build) =>
      (name, clazz, (exprs: Seq[Expression]) => { requireArity(name, exprs, arity); build(exprs) })
    }

  def registerAll(spark: SparkSession): Unit =
    registry.foreach { case (name, _, builder) =>
      Shim.registerFunction(spark, name, builder)
    }
}
