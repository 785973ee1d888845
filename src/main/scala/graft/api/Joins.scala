package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators Spark lacks natively, composed from operators it has.
  *
  * Related: a purely DECLARATIVE band join (`abs(x − y) <= w`, BETWEEN,
  * or one-sided-pair spellings, with or without the explicit helpers
  * here) is rewritten to the same binned equi-join shape automatically
  * by the [[graft.plans.BandJoinBinning]] optimizer rule when the
  * session is built with GraftExtensions — `rangeJoin` remains for
  * callers who want the binning explicit in their own plan.
  */
object Joins {

  /** As-of join: for every left row, attach the most recent right row
    * with rightTs <= leftTs (per key). Implemented as union + single
    * window pass — no range-join explosion, no per-key driver loop; the
    * only shuffle is the hash partition on the key, so it scales like a
    * groupBy, not like an inequality join.
    *
    * The matched right row travels as one struct (no column tearing when
    * right payloads contain nulls). Left rows with no prior right row
    * get a null struct (left-outer as-of semantics).
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      asofCol: String = "asof",
  ): DataFrame = {
    val rightPayload = right.columns.filterNot(_ == key).toSeq

    val l = left
      .withColumn("_ts", col(leftTs))
      .withColumn("_side", lit(1))
      .withColumn(asofCol,
        lit(null).cast(org.apache.spark.sql.types.StructType(
          rightPayload.map(c => org.apache.spark.sql.types.StructField(
            c, right.schema(c).dataType, nullable = true)))))
    val r = right
      .withColumn("_ts", col(rightTs))
      .withColumn("_side", lit(0))
      .select(Seq(col(key), col("_ts"), col("_side"),
        struct(rightPayload.map(col): _*).as(asofCol)) ++
        left.columns.filterNot(_ == key).map(c =>
          lit(null).cast(left.schema(c).dataType).as(c)): _*)

    // right rows sort before left rows at equal ts → rightTs <= leftTs
    val w = Window.partitionBy(key).orderBy(col("_ts"), col("_side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    l.unionByName(r.select(l.columns.map(col): _*))
      .withColumn(asofCol, last(col(asofCol), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .drop("_ts", "_side")
  }

  /** Range (interval) join: all (left, right) pairs sharing `key` whose
    * BIGINT timestamps differ by at most `widthUs`. A naive inequality
    * join degenerates to a per-key cartesian that Spark must execute as
    * a nested loop; instead both sides BIN and hash-join on (key, bin),
    * with the exact |Δt| filter running on candidates only.
    *
    * Binning is the SHIFTED two-arm scheme (shared with the
    * BandJoinBinning optimizer rule): the build side keys on
    * (rightTs − width) div 2·width, and every in-band left row lands in
    * that bin or the one above (leftTs − (rightTs − width) ∈ [0, 2w]
    * and truncating division over a closed length-2w interval gains at
    * most one step) — so the probe explodes 2 rows, not the 3 an
    * unshifted ±1 probe needs. The equi-join shuffles/broadcasts like
    * any other and candidate volume is bounded by per-bin occupancy.
    * Column names of the two inputs must not collide (rename before
    * calling for self-joins).
    *
    * Bin arithmetic runs in DECIMAL(38,0) with the same
    * pmod-subtraction floor-division idiom as the BandJoinBinning
    * optimizer rule: a BIGINT timestamp anywhere in ±2^63 can neither
    * throw under ANSI mode nor silently wrap into a wrong bin (a LONG
    * `rightTs − width` shift would do exactly that near Long.MinValue
    * and lose in-band pairs). The |Δt| verification is decimal too —
    * the candidate difference itself can exceed the LONG range.
    */
  def rangeJoin(left: DataFrame, right: DataFrame, key: String,
                leftTs: String, rightTs: String, widthUs: Long): DataFrame = {
    require(widthUs > 0 && widthUs <= Long.MaxValue / 2,
      s"widthUs must be positive and below 2^62 (2*width must fit BIGINT); got $widthUs")
    val w2 = 2L * widthUs
    val w2d = s"CAST($w2 AS DECIMAL(38,0))"
    // exact floor over decimals: reduce the dividend to a multiple of
    // the width (pmod subtraction), then integral-divide — truncation
    // equals floor, and the BIGINT quotient is bounded by 2^63 / w2.
    def floorDiv(e: String): String = s"(($e) - pmod(($e), $w2d)) DIV $w2d"
    val bin = "_graft_band_bin_rj"
    val probeBase = floorDiv(s"CAST($leftTs AS DECIMAL(38,0))")
    val probes = left.withColumn(bin,
      explode(expr(s"array($probeBase - 1, $probeBase)")))
    val build = right.withColumn(bin,
      expr(floorDiv(s"CAST($rightTs AS DECIMAL(38,0)) - $widthUs")))
    probes.join(build, Seq(key, bin))
      .filter(expr(
        s"abs(CAST($leftTs AS DECIMAL(38,0)) - CAST($rightTs AS DECIMAL(38,0))) <= $widthUs"))
      .drop(bin)
  }
}
