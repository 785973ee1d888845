package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point registering graft's native
  * expressions. Usable both programmatically
  * (`builder.withExtensions(new GraftExtensions)`) and via
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` on a
  * cluster.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => BandJoinBinning)
    for ((name, cls, arity, build) <- GraftExtensions.functions)
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (children: Seq[Expression]) => {
          require(children.size == arity,
            s"$name expects $arity argument${if (arity == 1) "" else "s"}")
          build(children)
        },
      ))
  }
}

object GraftExtensions {

  /** One row per SQL function: name, expression class, arity, builder. */
  private val functions: Seq[(String, Class[_], Int, Seq[Expression] => Expression)] =
    FloatArrayKernel.folds.map { f =>
      (f.name, classOf[FloatArrayKernel], 2,
        (c: Seq[Expression]) => FloatArrayKernel(f, c.head, c(1)))
    } ++ Seq(
      ("simhash64", classOf[Simhash64], 1, (c: Seq[Expression]) => Simhash64(c.head)),
      ("rolling_gram_hash", classOf[RollingGramHash], 2,
        (c: Seq[Expression]) => RollingGramHash(c.head, c(1))),
    )
}
