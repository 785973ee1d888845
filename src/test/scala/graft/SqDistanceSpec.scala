package graft

import org.apache.spark.sql.functions._

/** Native sq_distance expression: SQL registration and parity with the
  * interpreted lambda fold it replaced; codegen/interpreted agreement of
  * all three float-array kernel functions.
  */
class SqDistanceSpec extends SparkSpec {

  test("registered and exact on known vectors") {
    val r = spark.sql(
      """SELECT sq_distance(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)),
        |                   array(CAST(4 AS FLOAT), CAST(6 AS FLOAT))) AS d,
        |sq_distance(array(CAST(1 AS FLOAT)), array(CAST(1 AS FLOAT), CAST(2 AS FLOAT))) AS mismatch
        |""".stripMargin).collect().head
    assert(r.getDouble(0) == 25.0)
    assert(r.isNullAt(1))
  }

  test("bit-identical to the aggregate(zip_with(...)) fold on real embeddings") {
    val e = Tables(spark, sfDir).embeddings.limit(200)
    val a = e.select(col("vec_id"), col("embedding"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("centroid"))
    val lambda =
      """aggregate(zip_with(embedding, centroid,
        |(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),
        |CAST(0 AS DOUBLE), (s, v) -> s + v)""".stripMargin
    val rows = a.join(b, col("vec_id") < col("b_id") && col("b_id") < 5)
      .withColumn("native", expr("sq_distance(embedding, centroid)"))
      .withColumn("fold", expr(lambda))
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getDouble(r.fieldIndex("native")) ==
                            r.getDouble(r.fieldIndex("fold"))))
  }

  test("interpreted and codegen paths agree") {
    // the three functions share one kernel: per function, real
    // embeddings (bitwise-equal doubles), a length mismatch (null) and
    // a zero-norm side (null for cosine). The operands come from the
    // table, so nothing constant-folds on the driver; whole-stage
    // codegen off plus NO_CODEGEN forces the interpreted eval.
    def run(fn: String, wholeStage: Boolean, mode: String): Seq[Seq[Option[Long]]] = {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try Tables(spark, sfDir).embeddings.orderBy("vec_id").limit(50)
        .selectExpr("vec_id",
          s"$fn(embedding, reverse(embedding))",
          s"$fn(embedding, slice(embedding, 1, 63))",
          s"$fn(array_repeat(CAST(vec_id * 0 AS FLOAT), 64), embedding)")
        .collect().sortBy(_.getLong(0)).toSeq
        .map(r => (1 to 3).map(i =>
          Option(r.get(i)).map(v => java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double]))))
      finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    for (fn <- Seq("sq_distance", "dot_product", "cosine_similarity")) {
      val gen = run(fn, wholeStage = true, "CODEGEN_ONLY")
      val interp = run(fn, wholeStage = false, "NO_CODEGEN")
      assert(gen == interp && gen.size == 50, fn)
      assert(gen.forall(r => r(0).nonEmpty && r(1).isEmpty), fn)
      assert(gen.forall(_(2).isEmpty == (fn == "cosine_similarity")), fn)
    }
  }
}
