package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native stride-1 rolling gram hash: one 64-bit polynomial hash per
  * CHARACTER position of `text`, over the L-code-point window starting
  * there — `array_size` = numChars − L + 1 (empty below L). Equal grams
  * hash equal BY CONSTRUCTION (the hash is a pure function of the
  * window's code points), so the array is a sound duplicate PREFILTER:
  * no false negatives ever; collisions are false positives that an
  * exact downstream confirm removes (the d_bloom_prefilter discipline).
  *
  * Why native: the expression-level formulation
  * `transform(sequence(...), p -> xxhash64(substring(text, p, L)))`
  * materializes L× the corpus text volume as short-lived gram strings
  * (the measured dominant cost of d_substring_dedup's prefilter pass);
  * this kernel is one O(n) pass — a code-point array and a
  * multiply-add ring (mod 2^64 via Long wrap-around) — allocating only
  * the output array. Code-point (not UTF-16 or byte) windows keep the
  * positions aligned with SQL `substring`/`length` semantics on
  * multibyte input, so a downstream `substring(text, pos + 1, L)`
  * re-derives exactly the hashed gram.
  */
case class RollingGramHash(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(s"expected (string, int), got ($l, $r)")
    }

  override protected def nullSafeEval(text: Any, len: Any): Any =
    RollingGramHash.compute(text.asInstanceOf[UTF8String], len.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, l) =>
      s"${ev.value} = ${RollingGramHash.getClass.getName.stripSuffix("$")}.compute($t, $l);")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): RollingGramHash =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "rolling_gram_hash"
}

object RollingGramHash {

  /** FNV-64 prime: odd, so multiplication by it is a bijection mod 2^64
    * and window information never collapses structurally.
    */
  private val B = 0x100000001b3L

  def compute(text: UTF8String, gramLen: Int): ArrayData = {
    require(gramLen > 0, s"rolling_gram_hash: gramLen must be positive, got $gramLen")
    val str = text.toString
    // code-point values, aligned with SQL substring/length positions
    val cps = new Array[Int](text.numChars())
    var i = 0
    var k = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      cps(k) = cp
      k += 1
      i += Character.charCount(cp)
    }
    val m = k - gramLen + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Long])
    var bl1 = 1L
    var j = 0
    while (j < gramLen - 1) { bl1 *= B; j += 1 }
    val out = new Array[Long](m)
    var h = 0L
    j = 0
    while (j < gramLen) { h = h * B + cps(j); j += 1 }
    out(0) = h
    var p = 1
    while (p < m) {
      h = (h - cps(p - 1) * bl1) * B + cps(p + gramLen - 1)
      out(p) = h
      p += 1
    }
    new GenericArrayData(out)
  }
}
