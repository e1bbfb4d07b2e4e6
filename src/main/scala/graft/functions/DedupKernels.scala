package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Seeded MinHash of a string set as one native expression:
  * `min_md5(arr, prefix)` is the smallest `md5(concat(prefix, s))` over
  * the non-null elements `s` of `arr`, as 32 lowercase hex characters.
  *
  * Semantically IDENTICAL to the composed form
  * `array_min(transform(arr, s -> md5(concat(prefix, s))))` that the
  * dedup oracle SQL still spells out (`Dedup.minhashHofExpr`): null
  * elements hash to null and are skipped, and an empty or all-null
  * array, a null array or a null prefix give null. The composed form
  * runs an interpreted lambda and builds one 32-character hex string
  * per element; this kernel reuses one MD5 digest per thread, hashes
  * the element bytes in place, compares the raw 16-byte digests
  * unsigned — the same order as their lowercase hex, since each byte
  * maps to two fixed-width digits in ascending ASCII — and hex-encodes
  * only the winner.
  */
case class MinMd5(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), StringType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"min_md5 expects (array<string>, string), got " +
        s"(${l.simpleString}, ${r.simpleString})")
  }

  override def dataType: DataType = StringType
  // an empty or all-null array yields null even for non-null inputs
  override def nullable: Boolean = true
  override def prettyName: String = "min_md5"

  override def nullSafeEval(arr: Any, prefix: Any): Any =
    MinMd5.compute(arr.asInstanceOf[ArrayData], prefix.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, p) =>
      s"""${ev.value} = graft.functions.MinMd5.compute($a, $p);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object MinMd5 {

  private val digest = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  private def update(md: java.security.MessageDigest, s: UTF8String): Unit =
    s.getBaseObject match {
      case bytes: Array[Byte] =>
        md.update(bytes, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt,
          s.numBytes)
      case _ => md.update(s.getBytes)
    }

  /** The min_md5 kernel, called from both the interpreted and the
    * generated path; null when `arr` has no non-null element.
    */
  def compute(arr: ArrayData, prefix: UTF8String): UTF8String = {
    val md = digest.get()
    var best: Array[Byte] = null
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        update(md, prefix)
        update(md, arr.getUTF8String(i))
        val d = md.digest()
        if (best == null || java.util.Arrays.compareUnsigned(d, best) < 0) best = d
      }
      i += 1
    }
    if (best == null) null
    else UTF8String.fromString(org.apache.commons.codec.binary.Hex.encodeHexString(best))
  }

  /** Expression builder for SQL registration: min_md5(arr, prefix). */
  def build(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2) {
      throw new IllegalArgumentException(
        s"min_md5 expects exactly 2 arguments, got ${exprs.length}")
    }
    MinMd5(exprs(0), exprs(1))
  }
}

/** Size of the set intersection of two `array<string>` columns as one
  * native expression: `overlap_count(a, b)` equals
  * `size(array_intersect(a, b))` — the distinct elements the two arrays
  * share, a null counting once when both hold one — and is null when
  * either array is null (as is that composed form under ANSI mode).
  *
  * `array_intersect` builds a hash set AND an output array per row only
  * for `size` to read its length; inside a near-dup verification join
  * that is the whole per-candidate cost. This kernel hashes the shorter
  * side, probes with the longer one (removing each hit, so duplicates
  * count once) and allocates no result. It assumes no sort order.
  */
case class OverlapCount(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"overlap_count expects two array<string> arguments, got " +
        s"(${l.simpleString}, ${r.simpleString})")
  }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "overlap_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    OverlapCount.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.OverlapCount.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object OverlapCount {

  /** The overlap_count kernel, called from both eval paths. */
  def compute(a: ArrayData, b: ArrayData): Int = {
    val (small, large) =
      if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val set = new java.util.HashSet[UTF8String](
      math.max(16, small.numElements() * 2))
    var smallNull = false
    var i = 0
    while (i < small.numElements()) {
      if (small.isNullAt(i)) smallNull = true
      else set.add(small.getUTF8String(i))
      i += 1
    }
    var largeNull = false
    var common = 0
    var j = 0
    while (j < large.numElements()) {
      if (large.isNullAt(j)) largeNull = true
      else if (set.remove(large.getUTF8String(j))) common += 1
      j += 1
    }
    if (smallNull && largeNull) common + 1 else common
  }

  /** Expression builder for SQL registration: overlap_count(a, b). */
  def build(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2) {
      throw new IllegalArgumentException(
        s"overlap_count expects exactly 2 arguments, got ${exprs.length}")
    }
    OverlapCount(exprs(0), exprs(1))
  }
}

object DedupKernels {

  /** Register `min_md5` and `overlap_count` for SQL/expr use in this
    * session. Register-if-absent: `GraftExtensions` (or a prior
    * operator call) may already have installed them, and re-registering
    * logs a "replaced a previously registered function" warning per call.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier("min_md5")))
      registry.createOrReplaceTempFunction("min_md5", MinMd5.build, "built-in")
    if (!registry.functionExists(FunctionIdentifier("overlap_count")))
      registry.createOrReplaceTempFunction("overlap_count", OverlapCount.build,
        "built-in")
  }
}
