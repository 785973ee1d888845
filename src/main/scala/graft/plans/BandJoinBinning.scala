package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Optimizer rule: rewrite an inner join whose condition bounds the
  * difference of two BIGINT expressions from opposite inputs into a
  * binned equi-join — covering every common band spelling:
  *
  *   abs(x − y) <= w                          (symmetric band)
  *   x BETWEEN y − w1 AND y + w2              (analyzer-expanded pair)
  *   x − y <= c  /  x <= y + c  /  x >= y     (one-sided + as-of bands)
  *
  * Without an equi-conjunct Spark can only run such a join as a
  * BroadcastNestedLoopJoin — O(|L|·|R|) comparisons regardless of how
  * narrow the band is, the classic scale cliff of event-correlation
  * queries (at 100 TB a nested loop over two event sets is not
  * runnable). The rewrite is the binning scheme the composed
  * `api.Joins.rangeJoin` applies by hand, lifted into Catalyst so ANY
  * band join — spark.sql text, DataFrame expr, a BI tool's generated
  * SQL — gets the hash plan automatically.
  *
  * Conjuncts are normalized into interval bounds on d = (left-side
  * expr − right-side expr) — bounds written from the other side
  * (`b ≤ a` vs `a ≥ b`) canonicalize to one orientation and merge —
  * and a pair with lo ≤ d ≤ hi rewrites as
  *
  *   explode(L, bin ∈ {⌊x/W⌋ − 1, ⌊x/W⌋})
  *     ⋈ R on bin = ⌊(y + lo)/W⌋  AND  <original conjuncts>
  *
  * with W = max(hi − lo, 1). Any in-band pair has x − (y + lo) in
  * [0, W]; floor division is monotone with jump points spaced exactly
  * W apart, so over that closed length-W interval the quotient grows
  * by at most one — the build bin is always ⌊x/W⌋ or ⌊x/W⌋ − 1, and
  * two probe arms are complete. Bin arithmetic runs in DECIMAL(38,0)
  * (exact floor via the pmod-subtraction idiom), so a BIGINT value
  * near ±2^63 can neither throw under ANSI mode nor wrap into a wrong
  * bin. The original predicates stay in the join condition and drop
  * false candidates; cost becomes 2·|probe| + |build| shuffled rows
  * hash-joined on the bin key — AQE-sizable, skew-splittable — with
  * per-bin occupancy bounding the compare count. The PROBE (exploded)
  * side is chosen by plan statistics: the smaller input carries the 2×
  * inflation (a band flips orientation by negating its bounds), with
  * the left input as the no-stats fallback.
  *
  * The rule fires only when no equi-conjunct spans the inputs (if one
  * exists, Spark already hash-joins on it and the band is a cheap
  * post-filter) — which also makes the rewrite idempotent under the
  * fixed-point optimizer batch, since the output join carries the bin
  * equality. One-sided bands with an unbounded other side (plain
  * `x >= y` alone) are left as-is: there is no finite bin width.
  * Keyed band joins (equi key + band) stay on the key's hash join: on
  * near-unique keys (ordinary FK joins) per-key groups are already
  * tiny and the 2× probe inflation would be pure overhead; callers
  * with few heavy keys bin by hand (`api.Joins.rangeJoin`).
  */
object BandJoinBinning extends Rule[LogicalPlan] with PredicateHelper {

  /** Magnitude cap on band literals (lo/hi and per-conjunct shifts):
    * keeps the width subtraction, strict-bound ±1 adjustments, and the
    * decimal shift arithmetic comfortably inside their domains. One
    * constant for both the per-conjunct and merged-band checks.
    */
  private val CapMag = 1L << 61

  /** Interval bound on d = xExpr − yExpr (both deterministic BIGINT,
    * from opposite join inputs; `xOnLeft` records which).
    */
  private case class Bound(x: Expression, y: Expression, xOnLeft: Boolean,
                           lo: Option[Long], hi: Option[Long])

  private def longSide(e: Expression, in: LogicalPlan): Boolean =
    e.dataType == LongType && e.deterministic &&
      e.references.nonEmpty && e.references.subsetOf(in.outputSet)

  /** Normalize one comparison conjunct into a Bound, if it constrains
    * the difference of two opposite-side BIGINT expressions.
    */
  private def toBound(conjunct: Expression, left: LogicalPlan,
                      right: LogicalPlan): Option[Bound] = {
    // peel a ± literal wrapper off EITHER comparison operand, so
    // `y − w <= x` decomposes the same as `x >= y − w` (shift tracked
    // in BigInt — user literals can be anything; Cap rejects later)
    def peel(e: Expression): (Expression, BigInt) = e match {
      case Add(v, Literal(c: Long, LongType), _)      => (v, BigInt(c))
      // negate AFTER widening: BigInt(-c) wraps for c = Long.MinValue
      case Subtract(v, Literal(c: Long, LongType), _) => (v, -BigInt(c))
      case other                                      => (other, BigInt(0))
    }
    // (A cmpGE B) meaning A >= B + adj (adj = 1 for strict >)
    def bound(a: Expression, b: Expression, isLower: Boolean,
              adj: Long): Option[Bound] = {
      // decompose into (x, base, shift) with a = x + ka, b = base + kb:
      // x cmp base + (kb − ka); the x − y vs literal form is separate
      val (x, base, shift) = (a, b) match {
        case (Subtract(xx, yy, _), Literal(c: Long, LongType))
            if xx.dataType == LongType && yy.dataType == LongType =>
          // x − y cmp c  ⟺  x cmp y + c
          (xx, yy, BigInt(c))
        case _ =>
          val (xa, ka) = peel(a)
          val (yb, kb) = peel(b)
          (xa, yb, kb - ka)
      }
      val sides =
        if (shift.abs >= BigInt(CapMag)) None
        else if (longSide(x, left) && longSide(base, right)) Some(true)
        else if (longSide(x, right) && longSide(base, left)) Some(false)
        else None
      sides.map { xOnLeft =>
        // x >= base + shift + adj → lo on (x − base); x <= ... → hi
        if (isLower) Bound(x, base, xOnLeft, Some(shift.toLong + adj), None)
        else Bound(x, base, xOnLeft, None, Some(shift.toLong - adj))
      }
    }
    // abs form: a complete symmetric interval |x − y| ≤ w in one
    // conjunct (ww = w − 1 for the strict variants)
    def absBand(x: Expression, y: Expression, ww: Long): Option[Bound] =
      if (ww < 0) None
      else if (longSide(x, left) && longSide(y, right))
        Some(Bound(x, y, xOnLeft = true, Some(-ww), Some(ww)))
      else if (longSide(x, right) && longSide(y, left))
        Some(Bound(x, y, xOnLeft = false, Some(-ww), Some(ww)))
      else None
    conjunct match {
      case LessThanOrEqual(Abs(Subtract(x, y, _), _), Literal(w: Long, LongType)) =>
        absBand(x, y, w)
      case LessThan(Abs(Subtract(x, y, _), _), Literal(w: Long, LongType)) =>
        absBand(x, y, w - 1)
      case GreaterThanOrEqual(Literal(w: Long, LongType), Abs(Subtract(x, y, _), _)) =>
        absBand(x, y, w)
      case GreaterThan(Literal(w: Long, LongType), Abs(Subtract(x, y, _), _)) =>
        absBand(x, y, w - 1)
      // one-sided bounds; a pair with the same (x, y) merges in
      // finiteBand. Strict forms tighten by 1 (integer domain); a
      // foldable (literal-ish) left side mirrors to the canonical
      // value-on-left orientation first (`c <= x − y` ⟺ `x − y >= c`).
      case GreaterThanOrEqual(a, b) =>
        if (a.foldable) bound(b, a, isLower = false, 0L)
        else bound(a, b, isLower = true, 0L)
      case GreaterThan(a, b) =>
        if (a.foldable) bound(b, a, isLower = false, 1L)
        else bound(a, b, isLower = true, 1L)
      case LessThanOrEqual(a, b) =>
        if (a.foldable) bound(b, a, isLower = true, 0L)
        else bound(a, b, isLower = false, 0L)
      case LessThan(a, b) =>
        if (a.foldable) bound(b, a, isLower = true, 1L)
        else bound(a, b, isLower = false, 1L)
      case _ => None
    }
  }

  private def isEquiAcross(conjunct: Expression, left: LogicalPlan,
                           right: LogicalPlan): Boolean = {
    def spans(x: Expression, y: Expression): Boolean =
      (x.references.subsetOf(left.outputSet) && y.references.subsetOf(right.outputSet) ||
        x.references.subsetOf(right.outputSet) && y.references.subsetOf(left.outputSet)) &&
        x.references.nonEmpty && y.references.nonEmpty
    conjunct match {
      case EqualTo(x, y)       => spans(x, y)
      case EqualNullSafe(x, y) => spans(x, y)
      case _                   => false
    }
  }

  /** Merge per-conjunct bounds by (x, y) pair; return the first pair
    * with BOTH a lower and an upper bound (a finite band). Bounds are
    * first CANONICALIZED to the probe-on-left orientation — a bound on
    * x − y with x from the right input flips to the equivalent negated
    * bound on y − x (`b ≤ a AND a ≤ b + w` must merge with
    * `a ≥ b AND a ≤ b + w`; they are the same band spelled from the
    * two sides).
    */
  private def finiteBand(bounds: Seq[Bound]): Option[(Expression, Expression, Long, Long)] = {
    val canonical = bounds.map { b =>
      if (b.xOnLeft) b
      else Bound(b.y, b.x, xOnLeft = true,
        lo = b.hi.map(h => -h), hi = b.lo.map(l => -l))
    }
    val grouped = canonical.groupBy(b => (b.x.canonicalized, b.y.canonicalized))
    grouped.iterator.flatMap { case (_, bs) =>
      val los = bs.flatMap(_.lo)
      val his = bs.flatMap(_.hi)
      if (los.isEmpty || his.isEmpty) None
      else {
        val lo = los.max
        val hi = his.min
        // reject contradictory bands and literal magnitudes where the
        // width subtraction would overflow (bin arithmetic itself runs
        // in DECIMAL(38,0) and is overflow-free on any data value)
        if (lo > hi || lo <= -CapMag || hi >= CapMag) None
        else Some((bs.head.x, bs.head.y, lo, hi))
      }
    }.toSeq.headOption
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // batch-only: stream-stream joins carry watermark/state-cleanup
    // planning this rewrite has not been validated against
    case j @ Join(left, right, Inner, Some(cond), hint)
        if !left.isStreaming && !right.isStreaming =>
      val conjuncts = splitConjunctivePredicates(cond)
      val band =
        if (conjuncts.exists(isEquiAcross(_, left, right))) None
        else finiteBand(conjuncts.flatMap(toBound(_, left, right)))
      band match {
        case None => j
        case Some((x, y, lo, hi)) =>
          // The intermediate shift/sum arithmetic runs in DECIMAL(38,0):
          // BIGINT columns can legitimately hold values near ±2^63
          // (sentinels), where a LONG `y + lo` shift would throw under
          // ANSI (Spark 4's default) or silently wrap — and a wrapped
          // bin loses matching pairs. 38 digits ≫ 19, so decimal
          // add/pmod never overflow. The division itself is
          // IntegralDivide (BIGINT result): the dividend is first
          // reduced to an exact multiple of W (pmod-subtraction), so
          // truncation equals floor and the quotient — at most
          // 2^63 / W ≤ 2^63 — always fits BIGINT. (A decimal Divide
          // would type as DECIMAL(38,38) under
          // spark.sql.decimalOperations.allowPrecisionLoss=false and
          // overflow on every |bin| ≥ 1; IntegralDivide is immune.)
          val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
          def decLit(v: Long): Expression = Literal.create(BigDecimal(v), d38)
          if (lo == hi) {
            // zero-width band is an equality: x = y + lo, no explode.
            // Decimal comparison keeps the ±2^63 safety of the bin path.
            val eq = EqualTo(Cast(x, d38), Add(Cast(y, d38), decLit(lo)))
            Join(left, right, Inner, Some((eq +: conjuncts).reduce(And)), hint)
          } else {
            // Probe-side selection: the exploded (probe) side pays a 2×
            // row inflation, so it should be the SMALLER input — a huge
            // event table banded against a small reference set must not
            // be the one duplicated. A band on x − y flips to the
            // equivalent negated band on y − x (|lo|,|hi| < 2^61, so the
            // negation cannot overflow); fall back to probing the left
            // input when stats are unavailable.
            val flip = scala.util.Try(
              right.stats.sizeInBytes < left.stats.sizeInBytes).getOrElse(false)
            val (px, py, plo, probeChild, buildChild) =
              if (flip) (y, x, -hi, right, left) else (x, y, lo, left, right)
            val width = hi - lo // ≥ 1 here
            val wD = decLit(width)
            // W = 1 stays entirely in DECIMAL: floor(v/1) is v itself,
            // and with a BIGINT quotient both the −1 probe arm (at
            // Long.MinValue) and the shifted dividend (y = Long.MaxValue,
            // lo = 1 → 2^63) would overflow — the W ≥ 2 IntegralDivide
            // path is immune (|quotient| ≤ (2^63 + 2^61)/2 < 2^62).
            def floorDiv(e: Expression): Expression = {
              val v = Cast(e, d38)
              if (width == 1L) v
              else new IntegralDivide(Subtract(v, Pmod(v, wD)), wD)
            }
            // probe bins: FLOOR((y+lo)/W) ∈ {FLOOR(x/W) − 1, FLOOR(x/W)}
            // for every in-band pair (z = y+lo ≤ x ≤ z+W and floor-div
            // is monotone with jumps spaced W apart) — two arms
            // suffice; a third +1 arm can never match a valid build key.
            val probeBase = floorDiv(px)
            val arm = if (width == 1L) decLit(1L) else Literal(1L, LongType)
            val probeBins = CreateArray(Seq(Subtract(probeBase, arm), probeBase))
            val gen = Explode(probeBins)
            val binP = AttributeReference("_graft_band_bin",
              gen.elementSchema.head.dataType,
              nullable = gen.elementSchema.head.nullable)()
            val binB = Alias(floorDiv(Add(Cast(py, d38), decLit(plo))), "_graft_band_bin_b")()
            val probed = Generate(gen, unrequiredChildIndex = Nil, outer = false,
              qualifier = None, generatorOutput = Seq(binP), child = probeChild)
            val build = Project(buildChild.output :+ binB, buildChild)
            val newCond = (EqualTo(binP, binB.toAttribute) +: conjuncts).reduce(And)
            // the flip reorders the join children, so per-side hints
            // must swap with them — or a user's broadcast hint on the
            // small side would attach to the big one
            val newHint = if (flip) JoinHint(hint.rightHint, hint.leftHint) else hint
            // project back to the original output: bins are internal
            Project(j.output, Join(probed, build, Inner, Some(newCond), newHint))
          }
      }
  }
}
