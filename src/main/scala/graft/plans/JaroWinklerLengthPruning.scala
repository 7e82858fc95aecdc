package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

import graft.functions.JaroWinkler

/** Optimizer rule: prune Jaro-Winkler comparisons by string length before
  * the kernel runs.
  *
  * Bound: with la = |a|, lb = |b|, la <= lb, at most la characters can
  * match, so jaro <= (la/la + la/lb + 1)/3 = (2 + la/lb)/3, and the
  * Winkler boost is at most jw <= 0.4 + 0.6*jaro. Hence
  * `jaro_winkler(a,b) > t` implies `min(la,lb) > (5t - 4) * max(la,lb)` —
  * a pure length predicate. For t > 0.8 the bound is non-vacuous, and on a
  * blocked fuzzy self-join it skips the O(la*lb) kernel for pairs that
  * cannot reach the threshold (the same reason engines push length/prefix
  * filters under edit-distance predicates).
  *
  * The rewrite applies inside Filter conditions and Join conditions (by
  * the time user rules run, the main optimizer batches have usually pushed
  * the predicate into the join) — both are null-as-false contexts, so
  * AND-ing an implied conjunct cannot change semantics. Idempotence under
  * the optimizer's fixpoint loop is guarded by a semanticEquals check: a
  * condition that already carries the bound is left alone. Correctness is
  * implication: the added conjunct is true whenever the original predicate
  * is, so the result is unchanged (spec'd against an un-optimized run).
  *
  * Registration: `spark.experimental.extraOptimizations` for a live
  * session, or [[graft.GraftExtensions]] via
  * `spark.sql.extensions=graft.GraftExtensions` at session build.
  */
object JaroWinklerLengthPruning extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, child) =>
      val next = rewrite(cond)
      if (next.fastEquals(cond)) f else Filter(next, child)
    case j: Join if j.condition.isDefined =>
      val next = j.condition.map(rewrite)
      if (next.get.fastEquals(j.condition.get)) j else j.copy(condition = next)
  }

  private def rewrite(cond: Expression): Expression = cond.transformUp {
    case gt @ GreaterThan(JaroWinkler(a, b), Literal(t: Double, DoubleType))
        if t > 0.8 && !cond.exists(_.semanticEquals(bound(a, b, t))) =>
      And(bound(a, b, t), gt)
  }

  private def bound(a: Expression, b: Expression, t: Double): Expression = {
    // OctetLength, NOT Length: the kernel scores UTF-8 BYTES (see
    // JaroWinkler.computeBytes), so the implication jw > t ⟹ min/max > 5t-4
    // only holds for byte lengths. With char Length a multi-byte string can
    // fail the char-ratio predicate while its byte-based score exceeds t
    // (jw("é","éa") = 0.911 under byte scoring but char ratio 1/2 fails at
    // t = 0.9) — the rule would silently drop a true match (ADVICE r9).
    val la = Cast(OctetLength(a), DoubleType)
    val lb = Cast(OctetLength(b), DoubleType)
    // max = 0 (both strings empty) must pass: jw("","") is 1.0 by the
    // identical-string short-circuit, but 0 > (5t-4)*0 is false — without
    // the disjunct the rewrite silently dropped empty-vs-empty rows the
    // original predicate keeps (review r9). For max > 0 the implication is
    // strict: jw > t ⟹ min/max > 5t-4.
    Or(EqualTo(Greatest(Seq(la, lb)), Literal(0.0, DoubleType)),
      GreaterThan(Least(Seq(la, lb)),
        Multiply(Literal(5.0 * t - 4.0, DoubleType), Greatest(Seq(la, lb)))))
  }
}
