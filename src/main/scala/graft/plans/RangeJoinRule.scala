package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Catalyst optimizer rule: rewrites an inner join whose condition is a
  * pure range predicate — `p >= lo AND p <= hi` with `p` from one side
  * and `lo`/`hi` from the other — into the bin-bucketed equi-join of
  * [[graft.operators.RangeJoin]]. Without this, Spark has no equi-key
  * and plans BroadcastNestedLoopJoin: every range-join query silently
  * degenerates to |L|·|R| comparisons.
  *
  * Shape produced (exact result preserved — the bin is a necessary
  * condition, and the original predicate re-filters above the join):
  *
  *   Project(origOutput,
  *     Filter(p >= lo && p <= hi,
  *       Join(Project(left, _graft_bin = floorDiv(p, W)),
  *            Generate(explode(sequence(floorDiv(lo,W), floorDiv(hi,W))), right),
  *            Inner, _graft_bin = _graft_bin_r)))
  *
  * Installed, the rule rewrites every matching join; the bin width W
  * is estimated at planning time as median(hi−lo)+1 over a bounded
  * sample of the interval side (a caller that knows its interval width
  * passes `binWidth` to [[graft.operators.RangeJoin.pointInInterval]]
  * instead). Estimates are cached per (session, interval-side plan) so
  * repeated (re-)optimizations don't re-run the sample job; within a
  * session the chosen width — and therefore the plan shape — is
  * stable. Across sessions the unordered sample can pick a different
  * width; the rewrite is exact for ANY width, so that only moves
  * performance, never rows. Accepted condition shapes: one lower
  * bound (`>=` or `>`), one upper bound (`<=` or `<`) on the same point
  * expression, plus optionally extra equality conjuncts `le = re`
  * between the two sides (hand-written SQL often carries a key equality
  * next to the range) — those become part of the equi-join key
  * alongside the bin.
  * Guards: integral types only, deterministic expressions, point side
  * = left, and no conjunct may touch a `_graft_bin*` attribute (so the
  * rule can never re-match its own rewritten join when later passes
  * push the re-filter back into the condition). Floor division is
  * exact long arithmetic, correct for negatives and beyond 2^53.
  *
  * Install per-cluster via `graft.GraftExtensions`
  * (spark.sql.extensions) or per-session via
  * `spark.experimental.extraOptimizations ++= Seq(RangeJoinRule)`.
  */
object RangeJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  /** Rows sampled from the interval side to estimate the width. */
  private val SampleRows = 10000

  /** Re-entrancy guard: the width sample query runs through the
    * optimizer too — without this it could recurse into the rule.
    */
  private val estimating: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  /** Width cache, keyed by (session identity, canonicalized
    * interval-side plan, bounds): one sample job per distinct join
    * shape per session, not one per (re-)optimization — and a stable
    * width (= stable plan) for repeated queries within a session.
    * LRU-bounded; only successful estimates are cached so a transient
    * empty sample doesn't pin a miss.
    */
  private type WidthKey = (Int, LogicalPlan, Expression, Expression)
  private val widthCache: java.util.Map[WidthKey, java.lang.Long] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[WidthKey, java.lang.Long](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[WidthKey, java.lang.Long]): Boolean =
          size() > 128
      })

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (estimating.get()) return plan
    plan.transformUp {
      case j @ Join(l, r, Inner, Some(cond), hint) =>
        rewrite(l, r, cond, hint).getOrElse(j)
    }
  }

  /** Bin width: median (hi − lo) + 1 over a bounded sample of the
    * interval side, executed as its own tiny query (the guard above
    * keeps the optimizer from re-entering). Estimation cost is one
    * LIMIT-10000 scan at planning time; the rewrite stays EXACT for
    * any width, so a bad estimate only costs performance, never rows.
    */
  private def estimateBinWidth(r: LogicalPlan, lo: Expression, hi: Expression): Option[Long] = {
    org.apache.spark.sql.SparkSession.getActiveSession.flatMap { spark =>
      val cacheKey: WidthKey = (System.identityHashCode(spark),
        r.canonicalized, lo.canonicalized, hi.canonicalized)
      Option(widthCache.get(cacheKey)).map(_.longValue).orElse {
        estimating.set(true)
        val estimated =
          try {
            def asLong(e: Expression) = if (e.dataType == LongType) e else Cast(e, LongType)
            val w = Alias(Subtract(asLong(hi), asLong(lo)), "_graft_w")()
            val plan = Limit(Literal(SampleRows), Project(Seq(w), r))
            val qe = new org.apache.spark.sql.execution.QueryExecution(
              spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
            val widths = qe.executedPlan.executeCollect()
              .filter(!_.isNullAt(0)).map(_.getLong(0)).sorted
            if (widths.isEmpty) None
            else Some(math.max(1L, widths(widths.length / 2) + 1))
          } catch {
            case scala.util.control.NonFatal(_) => None
          } finally estimating.set(false)
        estimated.foreach(v => widthCache.put(cacheKey, java.lang.Long.valueOf(v)))
        estimated
      }
    }
  }

  private def integral(e: Expression): Boolean =
    e.dataType == LongType || e.dataType == IntegerType

  /** Exact floor(x / w) in long arithmetic, wrap-safe over the full
    * long domain: truncating `div` corrected by the remainder sign
    * (the former mod-subtract form underflowed for x near
    * Long.MinValue with ANSI off, silently mis-binning).
    */
  private def bin(x: Expression, w: Long): Expression = {
    val wl = Literal(w, LongType)
    val xl = if (x.dataType == LongType) x else Cast(x, LongType)
    val q = IntegralDivide(xl, wl)
    If(LessThan(Remainder(xl, wl), Literal(0L, LongType)),
      Subtract(q, Literal(1L, LongType)), q)
  }

  private def rewrite(l: LogicalPlan, r: LogicalPlan, cond: Expression,
      hint: JoinHint): Option[LogicalPlan] = {
    // Never re-match our own output: after the rewrite, later passes can
    // push the exact re-filter back into the bin equi-join's condition —
    // the generated `_graft_bin*` attributes mark that join as ours.
    if (cond.references.exists(_.name.startsWith("_graft_bin"))) return None
    val conjuncts = splitConjunctivePredicates(cond)
    if (conjuncts.size < 2) return None
    // The exact re-filter re-evaluates EVERY conjunct above the bin
    // join, so a non-deterministic predicate would fire on a different
    // candidate set than in the original plan.
    if (!conjuncts.forall(_.deterministic)) return None

    def leftOnly(e: Expression) =
      e.references.nonEmpty && e.references.subsetOf(l.outputSet)
    def rightOnly(e: Expression) =
      e.references.nonEmpty && e.references.subsetOf(r.outputSet)

    // (conjunct, point from left, bound from right); strict bounds
    // qualify too — (lo, hi) ⊃ (lo, hi] etc., so the bin range
    // [bin(lo), bin(hi)] stays a necessary condition and the re-filter
    // restores strictness.
    val lowers = conjuncts.flatMap {
      case c @ GreaterThanOrEqual(a, b) if leftOnly(a) && rightOnly(b) => Some((c, a, b))
      case c @ GreaterThan(a, b) if leftOnly(a) && rightOnly(b) => Some((c, a, b))
      case c @ LessThanOrEqual(a, b) if rightOnly(a) && leftOnly(b) => Some((c, b, a))
      case c @ LessThan(a, b) if rightOnly(a) && leftOnly(b) => Some((c, b, a))
      case _ => None
    }
    val uppers = conjuncts.flatMap {
      case c @ LessThanOrEqual(a, b) if leftOnly(a) && rightOnly(b) => Some((c, a, b))
      case c @ LessThan(a, b) if leftOnly(a) && rightOnly(b) => Some((c, a, b))
      case c @ GreaterThanOrEqual(a, b) if rightOnly(a) && leftOnly(b) => Some((c, b, a))
      case c @ GreaterThan(a, b) if rightOnly(a) && leftOnly(b) => Some((c, b, a))
      case _ => None
    }
    val interval = (for {
      (loC, p1, lo) <- lowers.iterator
      (hiC, p2, hi) <- uppers.iterator
      if p1.semanticEquals(p2)
    } yield (loC, hiC, p1, lo, hi)).nextOption()

    interval.flatMap { case (loC, hiC, point, lo, hi) =>
      // Cross-side equality conjuncts ride along as extra equi-join
      // keys (the hand-written-SQL shape `l.k = r.k AND l.p BETWEEN
      // ...`); every other conjunct stays residual-only — the full
      // original condition re-filters above the join either way.
      val eqs = conjuncts.filterNot(c => (c eq loC) || (c eq hiC)).collect {
        case EqualTo(a, b) if leftOnly(a) && rightOnly(b) => (a, b)
        case EqualTo(a, b) if rightOnly(a) && leftOnly(b) => (b, a)
      }
      build(l, r, cond, hint, point, lo, hi, eqs)
    }
  }

  private def build(l: LogicalPlan, r: LogicalPlan, cond: Expression,
      hint: JoinHint, p1: Expression, lo: Expression, hi: Expression,
      eqs: Seq[(Expression, Expression)]): Option[LogicalPlan] = {
    if (!Seq(p1, lo, hi).forall(e => integral(e) && e.deterministic)) return None
    // width AFTER all structural guards, so the rule never samples for
    // a join it would not rewrite anyway
    val w = estimateBinWidth(r, lo, hi) match {
      case Some(v) => v
      case None => return None
    }

    val binL = Alias(bin(p1, w), "_graft_bin")()
    val leftB = Project(l.output :+ binL, l)
    val genOut = AttributeReference("_graft_bin_r", LongType, nullable = false)()
    // Sequence is TimeZoneAwareExpression: without an explicit zone it
    // reports unresolved and fails post-optimizer plan validation.
    val seq = new Sequence(bin(lo, w), bin(hi, w), None)
      .withTimeZone(conf.sessionLocalTimeZone)
    val rightB = Generate(
      Explode(seq),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(genOut), child = r)
    val joinCond = (EqualTo(binL.toAttribute, genOut) +:
      eqs.map { case (le, re) => EqualTo(le, re) }).reduceLeft[Expression](And(_, _))
    val joined = Join(leftB, rightB, Inner, Some(joinCond), hint)
    Some(Project(l.output ++ r.output, Filter(cond, joined)))
  }
}
