package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** plans.BandJoinBinning: a keyless `abs(x - y) <= w` inner join must
  * plan as a binned equi-join (hash/sort-merge on the bin key), never a
  * BroadcastNestedLoopJoin — and return exactly the nested loop's rows,
  * including band-boundary pairs, bin-boundary pairs, and negative
  * timestamps (truncating division's jump points differ from floor's
  * around zero; the ±1-bin probe must still cover every in-band pair).
  */
class BandJoinBinningSpec extends SparkSpec {

  private def frames(): (DataFrame, DataFrame, Seq[Long], Seq[Long]) = {
    // values straddle 0 and the ±w bin edges (w = 100)
    val as = Seq(-250L, -101L, -100L, -1L, 0L, 1L, 99L, 100L, 101L, 250L, 1000L)
    val bs = Seq(-300L, -200L, -150L, -50L, 0L, 50L, 150L, 199L, 200L, 300L, 1100L)
    import spark.implicits._
    val a = as.toDF("a_us").withColumn("a_id", monotonically_increasing_id())
    val b = bs.toDF("b_us").withColumn("b_id", monotonically_increasing_id())
    (a, b, as, bs)
  }

  test("band join matches the nested-loop result exactly (multiset)") {
    val (a, b, as, bs) = frames()
    val got = a.join(b, expr("abs(a_us - b_us) <= 100"))
      .select("a_us", "b_us").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val want = (for (x <- as; y <- bs if math.abs(x - y) <= 100) yield (x, y)).sorted
    assert(got == want)
  }

  test("values near ±2^63 neither throw under ANSI nor lose pairs") {
    import spark.implicits._
    val M = Long.MinValue
    val X = Long.MaxValue
    val as = Seq(M + 50L, M + 500L, -3L, 0L, X - 40L, X)
    val bs = Seq(M + 10L, M + 90L, 2L, X - 90L, X - 1L)
    val a = as.toDF("a_us")
    val b = bs.toDF("b_us")
    val joined = a.join(b, expr("abs(a_us - b_us) <= 100"))
    assert(!joined.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    val got = joined.select("a_us", "b_us").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // reference predicate in overflow-free BigInt space
    val want = (for (x <- as; y <- bs
                     if (BigInt(x) - BigInt(y)).abs <= 100) yield (x, y)).sorted
    assert(got == want)

    // width-1 band (x − y ∈ [0, 1]): the identity-bin path must hold
    // the same ±2^63 safety (probe arm at Long.MinValue, shifted
    // dividend at Long.MaxValue + 1)
    val w1 = a.join(b, expr("a_us - b_us >= 0 AND a_us - b_us <= 1"))
    assert(!w1.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    val gotW1 = w1.select("a_us", "b_us").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val wantW1 = (for (x <- as; y <- bs; d = BigInt(x) - BigInt(y)
                       if d >= 0 && d <= 1) yield (x, y)).sorted
    assert(gotW1 == wantW1)
  }

  test("strict < and reversed w >= abs(...) forms also rewrite and match") {
    val (a, b, as, bs) = frames()
    val strict = a.join(b, expr("abs(a_us - b_us) < 100"))
      .select("a_us", "b_us").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict == (for (x <- as; y <- bs if math.abs(x - y) < 100) yield (x, y)).toSet)
    val rev = a.join(b, expr("100 >= abs(b_us - a_us)"))
    assert(!rev.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    assert(rev.count() == (for (x <- as; y <- bs if math.abs(x - y) <= 100) yield 1).size)
  }

  test("the plan is an equi-join on the bin key, not a nested loop") {
    val (a, b, _, _) = frames()
    val p = a.join(b, expr("abs(a_us - b_us) <= 100"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("_graft_band_bin"), p)
  }

  test("BETWEEN / one-sided / as-of spellings rewrite and match") {
    val (a, b, as, bs) = frames()
    // Multiset check: a Set compare would mask a rewrite bug where one
    // pair matches through BOTH probe bins and duplicates output rows.
    def pairs(df: DataFrame): Seq[(Long, Long)] =
      df.select("a_us", "b_us").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    def brute(p: (Long, Long) => Boolean): Seq[(Long, Long)] =
      (for (x <- as; y <- bs if p(x, y)) yield (x, y)).sorted

    // analyzer-expanded BETWEEN (asymmetric widths)
    val between = a.join(b, expr("a_us BETWEEN b_us - 50 AND b_us + 150"))
    assert(!between.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    assert(pairs(between) == brute((x, y) => x >= y - 50 && x <= y + 150))

    // difference-vs-literal pair (x − y bounded both ways)
    val diff = a.join(b, expr("a_us - b_us <= 100 AND a_us - b_us >= -100"))
    assert(!diff.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    assert(pairs(diff) == brute((x, y) => math.abs(x - y) <= 100))

    // as-of band: strictly-after within an hour-like window
    val asof = a.join(b, expr("a_us > b_us AND a_us <= b_us + 200"))
    assert(!asof.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    assert(pairs(asof) == brute((x, y) => x > y && x <= y + 200))

    // the same as-of band spelled from the build side must ALSO merge
    // (orientation canonicalization) and rewrite
    val mirrored = a.join(b, expr("b_us <= a_us AND a_us <= b_us + 200"))
    assert(!mirrored.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
      "mirrored-orientation bounds did not merge")
    assert(pairs(mirrored) == brute((x, y) => x >= y && x <= y + 200))

    // shifted-expression-on-the-left spelling (`y − w ≤ x`) peels the
    // literal off the left operand and merges with the plain bound
    val shiftLeft = a.join(b, expr("b_us - 50 <= a_us AND a_us <= b_us + 150"))
    assert(!shiftLeft.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
      "shifted-left band did not rewrite")
    assert(pairs(shiftLeft) == brute((x, y) => x >= y - 50 && x <= y + 150))

    // literal-on-left spelling mirrors to the canonical orientation
    val litLeft = a.join(b, expr("-100 <= a_us - b_us AND a_us - b_us <= 100"))
    assert(!litLeft.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    assert(pairs(litLeft) == brute((x, y) => math.abs(x - y) <= 100))

    // a one-sided band alone has no finite width: must NOT rewrite
    val oneSided = a.join(b, expr("a_us >= b_us"))
    assert(!oneSided.queryExecution.executedPlan.toString.contains("_graft_band_bin"))
    assert(oneSided.count() == brute((x, y) => x >= y).size)
  }

  test("a join that already has an equi key is left alone") {
    val (a, b, _, _) = frames()
    val withKey = a.join(b,
      expr("a_id = b_id AND abs(a_us - b_us) <= 100"))
    val p = withKey.queryExecution.executedPlan.toString
    assert(!p.contains("_graft_band_bin"), p)
  }

  test("bins survive spark.sql.decimalOperations.allowPrecisionLoss=false") {
    // a decimal Divide would type as DECIMAL(38,38) under this conf and
    // overflow every |bin| >= 1; the IntegralDivide path must not care
    val (a, b, as, bs) = frames()
    spark.conf.set("spark.sql.decimalOperations.allowPrecisionLoss", "false")
    try {
      val joined = a.join(b, expr("abs(a_us - b_us) <= 100"))
      assert(!joined.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
      val got = joined.select("a_us", "b_us").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(got == (for (x <- as; y <- bs if math.abs(x - y) <= 100) yield (x, y)).sorted)
    } finally spark.conf.unset("spark.sql.decimalOperations.allowPrecisionLoss")
  }

  test("zero-width band rewrites to a decimal equality, not an explode") {
    val (a, b, as, bs) = frames()
    val eq = a.join(b, expr("a_us - b_us >= 5 AND a_us - b_us <= 5"))
    val p = eq.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("_graft_band_bin"), p) // equality path, no bins
    val got = eq.select("a_us", "b_us").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got == (for (x <- as; y <- bs if x - y == 5) yield (x, y)).sorted)
  }

  test("rangeJoin's binned join is not re-binned by the rule") {
    import spark.implicits._
    val a = Seq((1L, 10L), (1L, 250L)).toDF("user_id", "a_us")
    val b = Seq((1L, 20L), (1L, 500L)).toDF("user_id", "b_us")
    val joined = graft.api.Joins.rangeJoin(a, b, "user_id", "a_us", "b_us", 100L)
    val p = joined.queryExecution.optimizedPlan.toString
    // rangeJoin's own bin is _graft_band_bin_rj; a re-bin by the rule
    // would introduce the bare _graft_band_bin attribute
    assert(!p.contains("_graft_band_bin#"), p)
    assert(joined.count() == 1) // only (10, 20) is in band
  }

  test("the smaller input carries the probe-side explode, either way round") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    // stats-visible size gap: 20k rows vs 10 rows
    val big = (0L until 20000L).map(i => i * 7L % 5000L).toDF("big_us")
    val small = Seq(0L, 100L, 2500L, 4900L, 1L, 101L, 2501L, 4901L, 50L, 4000L).toDF("small_us")
    def probeSide(df: DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case g: Generate => g.child.output.map(_.name)
      }.flatten
    // small on the RIGHT: orientation must flip so small is exploded
    val flipped = big.join(small, expr("abs(big_us - small_us) <= 3"))
    assert(probeSide(flipped).contains("small_us"),
      s"big side carried the Generate: ${probeSide(flipped)}")
    // small on the LEFT: default orientation already probes the smaller
    val straight = small.join(big, expr("abs(small_us - big_us) <= 3"))
    assert(probeSide(straight).contains("small_us"))
    // both orientations return the identical multiset
    def pairs(df: DataFrame, c1: String, c2: String): Seq[(Long, Long)] =
      df.select(c1, c2).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(pairs(flipped, "big_us", "small_us") ==
      pairs(straight, "big_us", "small_us"))
  }

  test("per-side join hints swap with the children when orientation flips") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val big = (0L until 20000L).map(i => i * 7L % 5000L).toDF("big_us")
    val small = Seq(0L, 100L, 2500L, 4900L).toDF("small_us")
    // user hints broadcast for the SMALL right side; the flip makes
    // small the probe (left child of the rewritten join), so the hint
    // must travel with it — a stuck hint would broadcast the big side
    val hinted = big.join(small.hint("broadcast"), expr("abs(big_us - small_us) <= 3"))
    val joins = hinted.queryExecution.optimizedPlan.collect { case jn: LJoin => jn }
    assert(joins.nonEmpty)
    joins.foreach { jn =>
      val leftHasSmall = jn.left.output.exists(_.name == "small_us")
      val (smallHint, bigHint) =
        if (leftHasSmall) (jn.hint.leftHint, jn.hint.rightHint)
        else (jn.hint.rightHint, jn.hint.leftHint)
      assert(bigHint.isEmpty, s"hint attached to the big side: ${jn.hint}")
      assert(smallHint.exists(_.strategy.isDefined),
        s"broadcast hint lost in the rewrite: ${jn.hint}")
    }
    assert(hinted.count() > 0)
  }

  test("registry q_band_join_auto agrees with a driver-side recount") {
    val q = SparkEntry.queries("q_band_join_auto")(spark, sfDir)
    val row = q.collect().head
    val e = Tables(spark, sfDir).events
      .select(col("event_type"), unix_micros(col("ts")).as("us")).collect()
    val ps = e.filter(_.getString(0) == "purchase").map(_.getLong(1))
    val ss = e.filter(_.getString(0) == "signup").map(_.getLong(1))
    val gaps = for (x <- ps; y <- ss if math.abs(x - y) <= 900000000L)
      yield math.abs(x - y)
    assert(row.getLong(0) == gaps.length.toLong)
    if (gaps.nonEmpty) {
      assert(row.getLong(1) == gaps.min)
      assert(row.getLong(2) == gaps.max)
    }
  }
}
