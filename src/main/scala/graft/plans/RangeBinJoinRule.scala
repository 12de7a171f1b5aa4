package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, FullOuter, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, JoinHint, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, DayTimeIntervalType, IntegerType, LongType, ShortType, TimestampType}

/** Optimizer rule: rewrite BAND JOINS — inner joins whose only join
  * predicate is a two-sided range `eR + k1 <= eL <= eR + k2` — from the
  * BroadcastNestedLoopJoin / cartesian plan Spark would otherwise pick
  * into the binned equi-join the Scala API
  * ([[graft.operators.RangeJoin.intervalJoin]]) builds by hand. Second
  * `Rule[LogicalPlan]` in the repo (after [[LevenshteinPruneRule]]),
  * registered via [[graft.functions.GraftExtensions]].
  *
  * Rewrite (W = k2 − k1): the right side generates the EXACTLY 2 bin
  * ids its band [eR+k1, eR+k2] covers — floor((eR+k1)/W) and that +1,
  * identically equal to floor((eR+k2)/W) since the band is exactly one
  * bin wide — the join becomes an EQUI-join on `floor(eL/W) = bin`
  * (shuffle-keyed, AQE-skew-handled) and the FULL original condition
  * stays as the residual, so the rewrite is exact by construction: a
  * matching pair has eL inside the band, hence its bin among the
  * generated ones, exactly once (the two bin ids are distinct).
  * All bin arithmetic is EXACT Long floor-division ([[FloorBin]], incl.
  * the overflow-free shifted form for eR+k) — double-based floors round
  * above 2^53 and the two sides round independently, silently dropping
  * true matches on nanosecond-epoch domains (r14 verdict finding).
  * A zero-width band (k1 = k2) is an equality in disguise: the rule
  * adds the explicit equi-conjunct instead, unlocking SMJ/SHJ directly.
  *
  * Join types (r16; the r15 gate was INNER/CROSS-only): ALL of them.
  * The one-sided extension is sound because the rewrite preserves each
  * preserved-side row's EXACT match multiset: a true (l, r) pair
  * matches exactly one of the generated side's two bin copies (the
  * probe row's single bin is one of them, and the two are distinct):
  *  - LEFT OUTER over the generated right emits a left row's true
  *    matches, or ONE null-extended row when it has none — the
  *    keep-unmatched attribution shape (`LEFT JOIN … ON ts BETWEEN …`)
  *    that otherwise plans as BroadcastNestedLoopJoin, the exact plan
  *    this rule exists to kill;
  *  - LEFT SEMI / LEFT ANTI only ask per-left match EXISTENCE, which
  *    the bin rewrite preserves;
  *  - RIGHT OUTER mirrors the band (el ∈ [er+k1, er+k2] ⇔
  *    er ∈ [el−k2, el−k1]), swaps the child roles so the generate
  *    lands on the LEFT (non-preserved) side, and restores column
  *    order with a Project;
  *  - FULL OUTER is the binned LEFT OUTER unioned with the mirrored
  *    binned LEFT ANTI null-extended on the left columns — exactly
  *    once per unmatched right row by the anti's existence contract;
  *  - the IsNotNull(point) filter under the generate stays valid
  *    throughout: a null point satisfies no band condition, and the
  *    generated side is never the preserved side, so dropping its
  *    null-point rows below the generate changes nothing.
  *
  * Safety gates, each spec-pinned:
  *  - join types above only; any other join type is left untouched.
  *  - fires only when NO equi-conjunct is already extractable — if one
  *    exists the planner already avoids the nested loop, and the extra
  *    generate would only add work.
  *  - both band endpoints must be FOLDABLE integral offsets of the same
  *    right-side expression against the same left-side expression
  *    (literal ± k, or a day-time interval literal on a timestamp —
  *    normalized through `unix_micros`; calendar intervals with months
  *    are untouched, their length is not constant).
  *  - deterministic point expressions only; idempotent (the generated
  *    bin attribute marks a rewritten right side). Spark's own
  *    `spark.sql.optimizer.excludedRules=graft.plans.RangeBinJoinRule`
  *    switches the rule off.
  */
object RangeBinJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  private val BinName = "__graft_range_bin"

  /** A right child whose generator output is our bin attribute marks an
    * already-rewritten join (idempotency under the fixed-point batch);
    * a USER's Generate (e.g. a lateral explode) must not block the
    * rewrite, so the name is checked, not the node class. */
  private def alreadyRewritten(p: LogicalPlan): Boolean = p match {
    case g: Generate => g.generatorOutput.exists(_.name == BinName)
    case _ => false
  }

  private def integral(e: Expression): Boolean = e.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def litLong(e: Expression): Option[Long] = e match {
    case Literal(v: Byte, _) => Some(v.toLong)
    case Literal(v: Short, _) => Some(v.toLong)
    case Literal(v: Int, _) => Some(v.toLong)
    case Literal(v: Long, LongType) => Some(v)
    case _ => None
  }

  /** All bin/offset arithmetic below runs in the LONG domain; narrower
    * integral points are widened here (exact), so every Add/EqualTo the
    * rewrite builds is Long-vs-Long — an INT point left unwidened would
    * leave `Add(er, Literal(k: Long))` type-mismatched and the plan
    * UNRESOLVED (plan validation rejects the whole rule batch). */
  private def toLong(e: Expression): Expression =
    if (e.dataType == LongType) e else Cast(e, LongType)

  /** Normalize an expression to (point-in-LONG-domain, constant offset):
    * integral `x ± k`, bare integral `x`, timestamp `ts ± INTERVAL`
    * (day-time literal, micros) via unix_micros, or bare timestamp.
    * Negating `Subtract`'s literal overflows for Long.MinValue — skip. */
  private def pointOffset(e: Expression): Option[(Expression, Long)] = e match {
    case Add(x, k, _) if integral(x) && litLong(k).isDefined =>
      Some((toLong(x), litLong(k).get))
    case Add(k, x, _) if integral(x) && litLong(k).isDefined =>
      Some((toLong(x), litLong(k).get))
    case Subtract(x, k, _) if integral(x) &&
        litLong(k).exists(_ != Long.MinValue) =>
      Some((toLong(x), -litLong(k).get))
    case TimestampAddInterval(ts, Literal(v: Long, _: DayTimeIntervalType), _)
        if ts.dataType == TimestampType =>
      Some((UnixMicros(ts), v))
    case x if x.dataType == TimestampType => Some((UnixMicros(x), 0L))
    case x if integral(x) => Some((toLong(x), 0L))
    case _ => None
  }

  /** One conjunct → a directed bound: (leftPoint, rightPoint, k, isLower)
    * meaning `leftPoint >= rightPoint + k` (lower) or `<= ` (upper),
    * with points normalized to the LONG domain. Strict forms tighten k
    * by one (the domain is integral). Side-ness is NOT resolved here. */
  private def bound(e: Expression): Option[(Expression, Expression, Long, Boolean)] = {
    def mk(l: Expression, r: Expression, slack: Long, lower: Boolean) =
      for {
        (lp, lk) <- pointOffset(l)
        (rp, rk) <- pointOffset(r)
        // exact driver-side offset algebra: pathological literals whose
        // combined offset leaves the Long domain make the conjunct
        // ineligible (rewrite skipped — BNLJ stays correct) rather
        // than silently wrapped into a wrong band
        k <- scala.util.Try(
          Math.addExact(Math.subtractExact(rk, lk), slack)).toOption
      } yield (lp, rp, k, lower)
    e match {
      case GreaterThanOrEqual(l, r) => mk(l, r, 0L, lower = true)
      case GreaterThan(l, r) => mk(l, r, 1L, lower = true)
      case LessThanOrEqual(l, r) => mk(l, r, 0L, lower = false)
      case LessThan(l, r) => mk(l, r, -1L, lower = false)
      case _ => None
    }
  }

  /** The condition's eligible band, side-resolved against (`left`,
    * `right`): Some((el, er, k1, k2, w)) meaning
    * `el ∈ [er + k1, er + k2]`, w = k2 − k1, with el referencing only
    * `left` and er only `right`. None when an equi-conjunct is already
    * extractable (the planner has a hash path) or no foldable band
    * survives the exact-arithmetic gates. */
  private def eligibleBand(left: LogicalPlan, right: LogicalPlan,
      cond: Expression): Option[(Expression, Expression, Long, Long, Long)] = {
    val conjuncts = splitConjunctivePredicates(cond)
    // gate: an extractable equi-conjunct means the planner already
    // has a shuffle/broadcast hash path — leave the plan alone
    val hasEqui = conjuncts.exists {
      case EqualTo(a, b) =>
        (a.references.subsetOf(left.outputSet) &&
          b.references.subsetOf(right.outputSet)) ||
        (b.references.subsetOf(left.outputSet) &&
          a.references.subsetOf(right.outputSet))
      case EqualNullSafe(a, b) =>
        (a.references.subsetOf(left.outputSet) &&
          b.references.subsetOf(right.outputSet)) ||
        (b.references.subsetOf(left.outputSet) &&
          a.references.subsetOf(right.outputSet))
      case _ => false
    }
    if (hasEqui) return None
    // directed bounds with side-ness resolved: (eL, eR, k, lower)
    // meaning eL >= eR + k (lower) / eL <= eR + k (upper), where
    // eL references only `left` and eR only `right`
    val dirBounds = conjuncts.flatMap(bound).flatMap {
      case (p1, p2, k, lower) =>
        if (p1.deterministic && p2.deterministic &&
          p1.references.nonEmpty && p2.references.nonEmpty) {
          if (p1.references.subsetOf(left.outputSet) &&
            p2.references.subsetOf(right.outputSet))
            Some((p1, p2, k, lower))
          else if (p1.references.subsetOf(right.outputSet) &&
            p2.references.subsetOf(left.outputSet) &&
            k != Long.MinValue)
            // p1 >= p2 + k  ⇔  p2 <= p1 - k (flip side and sense;
            // -Long.MinValue overflows, so that k is ineligible)
            Some((p2, p1, -k, !lower))
          else None
        } else None
    }
    for {
      (el1, er1, k1, _) <- dirBounds.find(_._4)         // lower
      (el2, er2, k2, _) <- dirBounds.find(b => !b._4 && // matching upper
        b._1.semanticEquals(el1) && b._2.semanticEquals(er1))
      if k1 <= k2
      // the band width and both shifted-floor decompositions must
      // stay inside exact Long arithmetic; a band wide enough to
      // fail these (|k| near 2^63) is left on the BNLJ path
      w <- scala.util.Try(Math.subtractExact(k2, k1)).toOption
      if k1 == k2 ||
        (FloorBin.shiftSafe(k1, w) && FloorBin.shiftSafe(k2, w))
    } yield (el1, er1, k1, k2, w)
  }

  /** The binned join with child roles made explicit: `other` generates
    * the EXACTLY 2 bin ids its band [otherPoint + kLo, otherPoint +
    * kLo + w] covers; `pres` (the preserved side) equi-joins on
    * `floor(presPoint / w) = bin` with the FULL original condition as
    * the residual. Bin ids in EXACT Long arithmetic (FloorBin — the
    * r14 verdict's 2^53 finding: double floors round, and the two
    * sides round INDEPENDENTLY, silently dropping true matches on
    * nanosecond-epoch domains). The band spans exactly two bins —
    * floor((p+kLo+w)/w) = floor((p+kLo)/w) + 1 identically — so the
    * generator is a 2-element array, not a Sequence (no timezone
    * coupling, no descending-sequence hazard). A null generated-side
    * point can never match (the original condition evaluates null), so
    * it is filtered BELOW the generate, keeping the bin attribute
    * truthfully non-null; under the one-sided join types routed here
    * only `pres` rows are preserved, so the filter changes nothing. */
  private def binnedJoin(pres: LogicalPlan, other: LogicalPlan,
      jt: JoinType, cond: Expression, hint: JoinHint,
      presPoint: Expression, otherPoint: Expression, kLo: Long,
      w: Long): Join = {
    val binAttr = AttributeReference(BinName, LongType, nullable = false)()
    val binLo = FloorBin.floorDivShifted(otherPoint, kLo, w)
    val gen = Generate(
      Explode(CreateArray(Seq(binLo, Add(binLo, Literal(1L))))),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(binAttr),
      child = Filter(IsNotNull(otherPoint), other))
    val newCond = And(EqualTo(FloorBin.floorDiv(presPoint, w), binAttr), cond)
    Join(pres, gen, jt, Some(newCond), hint)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transform {
      case j @ Join(left, right, jt, Some(cond), hint)
          if (jt == Inner || jt == Cross || jt == LeftOuter ||
            jt == LeftSemi || jt == LeftAnti || jt == RightOuter ||
            jt == FullOuter) &&
            !alreadyRewritten(left) && !alreadyRewritten(right) &&
            j.resolved =>
        eligibleBand(left, right, cond) match {
          case None => j
          case Some((el, er, k1, k2, _)) if k1 == k2 =>
            // zero-width band = equality in disguise: add the explicit
            // equi-conjunct so ExtractEquiJoinKeys unlocks SMJ/SHJ —
            // sound under EVERY join type (no generate involved)
            val eq = EqualTo(el, Add(er, Literal(k1)))
            Join(left, right, jt, Some(And(cond, eq)), hint)
          case Some((el, er, k1, k2, w)) =>
            // mirrored offsets for the generate-on-left forms:
            // el ∈ [er+k1, er+k2] ⇔ er ∈ [el−k2, el−k1] — they must
            // stay inside exact Long arithmetic too
            def mirrorSafe = k1 != Long.MinValue && k2 != Long.MinValue &&
              FloorBin.shiftSafe(-k2, w) && FloorBin.shiftSafe(-k1, w)
            jt match {
              case Inner | Cross | LeftOuter | LeftSemi | LeftAnti =>
                Project(j.output,
                  binnedJoin(left, right, jt, cond, hint, el, er, k1, w))
              case RightOuter if mirrorSafe =>
                // the preserved side is the RIGHT: swap child roles,
                // generate on the left, restore output order above
                // (hint sides swap with the children)
                Project(j.output,
                  binnedJoin(right, left, LeftOuter, cond,
                    JoinHint(hint.rightHint, hint.leftHint),
                    er, el, -k2, w))
              case FullOuter if mirrorSafe =>
                // FULL = the binned LEFT OUTER (left rows, matched or
                // null-extended) ∪ the binned LEFT ANTI of the mirror
                // (right rows with NO match, left columns null) —
                // exactly-once by construction: a matched right row is
                // removed by the anti, an unmatched one (incl. null
                // points) appears only there
                val lo = binnedJoin(left, right, LeftOuter, cond, hint,
                  el, er, k1, w)
                val b1 = Project((left.output ++ right.output).map(a =>
                  lo.output.find(_.exprId == a.exprId).get), lo)
                val ra = binnedJoin(right, left, LeftAnti, cond,
                  JoinHint.NONE, er, el, -k2, w)
                val b2 = Project(left.output.map(a =>
                  Alias(Literal(null, a.dataType), a.name)()) ++
                  right.output, ra)
                Project(j.output, Union(Seq(b1, b2)))
              case _ => j // mirror arithmetic ineligible → BNLJ stays
            }
        }
    }
}
