package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{UnaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Native 64-bit SimHash over a token array, with whole-stage codegen —
  * the at-scale variant of the oracled 16-bit md5 simhash
  * (operators.Dedup d_simhash): one pass over the tokens, one 64-bit
  * hash per token (two 32-bit Murmur3 halves), sign-sum per bit.
  * Near-duplicate buckets then come from hamming distance
  * (`bit_count(simhash64(a) ^ simhash64(b))`), both codegen'd.
  */
case class Simhash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"expected array<string>, got $t")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val h = Simhash64.hash64(s)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (counts(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val counts = ctx.freshName("counts")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      val cls = classOf[Simhash64].getName
      s"""
         |int[] $counts = new int[64];
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  if (!$a.isNullAt($i)) {
         |    long $h = $cls.hash64($a.getUTF8String($i));
         |    for (int $j = 0; $j < 64; $j++) {
         |      if ((($h >>> $j) & 1L) == 1L) $counts[$j]++; else $counts[$j]--;
         |    }
         |  }
         |}
         |long $out = 0L;
         |for (int $j = 0; $j < 64; $j++) {
         |  if ($counts[$j] > 0) $out |= (1L << $j);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Simhash64 =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

object Simhash64 {
  /** 64-bit token hash from two seeded 32-bit Murmur3 halves (the hash
    * Spark already ships; stable across JVMs and releases).
    */
  def hash64(s: UTF8String): Long = {
    val lo = Murmur3_x86_32.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 0x9747b28c)
    val hi = Murmur3_x86_32.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 0x85ebca6b)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }
}
