package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst kernel of the vector family: one pass over two
  * array<float> columns with whole-stage codegen — similarity search,
  * the SRP signature pass and the k-means assignment loop must not drop
  * out of Tungsten into interpreted `aggregate(zip_with(...))` lambdas.
  *
  * The loop is written once; each SQL function is a [[FloatArrayKernel.Fold]]
  * that fills in its accumulators, per-element step and finish. Arithmetic
  * is pinned to the engine-portable definition the DuckDB oracles use:
  * a sequential left-fold of double-promoted elements, bit-identical to
  * the lambda formulation it replaces. Arrays of different lengths give
  * null.
  */
case class FloatArrayKernel(fold: FloatArrayKernel.Fold, left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = fold.name
  // the fold is the function's name, not an operand: plans read
  // `cosine_similarity(q_vec, embedding)`
  override protected def stringArgs: Iterator[Any] = Iterator(left, right)

  override def checkInputDataTypes(): TypeCheckResult =
    Seq("left" -> left.dataType, "right" -> right.dataType).collectFirst {
      case (side, t) if t != ArrayType(FloatType, true) && t != ArrayType(FloatType, false) =>
        TypeCheckResult.TypeCheckFailure(s"$side side must be array<float>, got $t")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    fold(x.numElements(), y.numElements(), x.getFloat, y.getFloat)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val acc = Seq.fill(fold.width)(ctx.freshName("acc"))
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${acc.map(v => s"double $v = 0.0;").mkString(" ")}
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $x = (double) $a.getFloat($i);
         |    final double $y = (double) $b.getFloat($i);
         |    ${fold.stepCode(acc, x, y)}
         |  }
         |  ${fold.finishCode(acc, ev, ctx)}
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatArrayKernel =
    copy(left = newLeft, right = newRight)
}

object FloatArrayKernel {

  /** One SQL function over the kernel's loop: `width` double
    * accumulators starting at 0.0, a step folding each element pair
    * (x, y) into them and a finish giving the result (by default the
    * first accumulator). Each is written in Scala (the interpreted
    * path, and local callers through [[apply]]) and in Java (codegen),
    * with the same operations in the same order.
    */
  sealed abstract class Fold(val name: String, val width: Int) extends Serializable {
    protected def step(acc: Array[Double], x: Double, y: Double): Unit
    def stepCode(acc: Seq[String], x: String, y: String): String
    /** The result, null for SQL NULL. */
    protected def finish(acc: Array[Double]): Any = acc(0)
    def finishCode(acc: Seq[String], ev: ExprCode, ctx: CodegenContext): String =
      s"${ev.value} = ${acc(0)};"

    /** The fold over two float arrays of lengths `n` and `m` read
      * through `x` and `y`: null when the lengths differ.
      */
    final def apply(n: Int, m: Int, x: Int => Float, y: Int => Float): Any =
      if (n != m) null
      else {
        val acc = new Array[Double](width)
        var i = 0
        while (i < n) {
          step(acc, x(i).toDouble, y(i).toDouble)
          i += 1
        }
        finish(acc)
      }
  }

  /** cos = dot / (sqrt(na) * sqrt(nb)); null when either side has zero norm. */
  case object Cosine extends Fold("cosine_similarity", 3) {
    protected def step(acc: Array[Double], x: Double, y: Double): Unit = {
      acc(0) += x * y; acc(1) += x * x; acc(2) += y * y
    }
    def stepCode(acc: Seq[String], x: String, y: String): String =
      s"${acc(0)} += $x * $y; ${acc(1)} += $x * $x; ${acc(2)} += $y * $y;"
    override protected def finish(acc: Array[Double]): Any = {
      val denom = math.sqrt(acc(1)) * math.sqrt(acc(2))
      if (denom == 0.0) null else acc(0) / denom
    }
    override def finishCode(acc: Seq[String], ev: ExprCode, ctx: CodegenContext): String = {
      val denom = ctx.freshName("denom")
      s"""final double $denom = java.lang.Math.sqrt(${acc(1)}) * java.lang.Math.sqrt(${acc(2)});
         |  if ($denom == 0.0) { ${ev.isNull} = true; }
         |  else { ${ev.value} = ${acc(0)} / $denom; }""".stripMargin
    }
  }

  case object Dot extends Fold("dot_product", 1) {
    protected def step(acc: Array[Double], x: Double, y: Double): Unit = acc(0) += x * y
    def stepCode(acc: Seq[String], x: String, y: String): String = s"${acc(0)} += $x * $y;"
  }

  /** Squared L2 distance. */
  case object SqDistance extends Fold("sq_distance", 1) {
    protected def step(acc: Array[Double], x: Double, y: Double): Unit = {
      val d = x - y
      acc(0) += d * d
    }
    def stepCode(acc: Seq[String], x: String, y: String): String =
      s"${acc(0)} += ($x - $y) * ($x - $y);"
  }

  val folds: Seq[Fold] = Seq(Cosine, Dot, SqDistance)
}
