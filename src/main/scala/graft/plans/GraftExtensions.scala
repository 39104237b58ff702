package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Library-grade Catalyst registration (the guide's preferred path over
  * `experimental.extraStrategies`): [[graft.SparkSessionFactory]] installs
  * it with `withExtensions(new GraftExtensions)`; elsewhere use the
  * `spark.sql.extensions=graft.plans.GraftExtensions` conf. Injects
  *
  *   - [[GroupTopKStrategy]] — plans [[GroupTopKNode]] as the heap-based
  *     [[GroupTopKExec]];
  *   - [[TopKRewrite]] — an optimizer `Rule[LogicalPlan]` that rewrites the
  *     ubiquitous window-top-k pattern
  *     (`row_number().over(partitionBy(k).orderBy(o))` filtered to `<= k`)
  *     into the operator automatically, so EXISTING window-style user code
  *     gets the no-sort plan without changing a line;
  *   - [[BandJoinRewrite]] — rewrites non-equi band joins (`l.t BETWEEN
  *     r.t + lo AND r.t + hi`, no equi key) from the O(n·m) nested-loop
  *     plan into a binned equi-join with a residual filter.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => GroupTopKStrategy)
    ext.injectOptimizerRule(_ => TopKRewrite)
    ext.injectOptimizerRule(_ => BandJoinRewrite)
  }
}

/** Rewrites `Filter(rn <= k, Window([row_number() AS rn], ps, os))` into
  * [[GroupTopKNode]](ps, os, k): same semantics (Spark's row_number over
  * the same ordering), but executed with a bounded per-key heap — one
  * shuffle, no sort — instead of a full per-group sort. Non-rank
  * conjuncts stay behind as a residual Filter; the rewrite keeps the rn
  * attribute (same exprId), so downstream references are untouched.
  *
  * Guarded: single window expression, non-empty partition AND order specs
  * (the global case belongs to TakeOrdered), positive literal bound, and
  * the `spark.graft.topk.rewrite` escape hatch (default on).
  */
object TopKRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** `rn <= k` in any literal orientation, normalized to an inclusive k. */
  private object RnBound {
    def unapply(e: Expression): Option[(Attribute, Int)] = e match {
      case LessThanOrEqual(a: Attribute, Literal(v: Int, IntegerType)) => Some((a, v))
      case LessThan(a: Attribute, Literal(v: Int, IntegerType)) => Some((a, v - 1))
      case GreaterThanOrEqual(Literal(v: Int, IntegerType), a: Attribute) => Some((a, v))
      case GreaterThan(Literal(v: Int, IntegerType), a: Attribute) => Some((a, v - 1))
      // rn = 1 ⟺ rn <= 1 (the keyed-dedup survivor pattern); rn = k for
      // k > 1 selects a SLICE, not a top-k — deliberately not matched
      case EqualTo(a: Attribute, Literal(v: Int, IntegerType)) if v == 1 => Some((a, 1))
      case EqualTo(Literal(v: Int, IntegerType), a: Attribute) if v == 1 => Some((a, 1))
      case _ => None
    }
  }

  private def rowNumberAlias(ne: NamedExpression): Option[Alias] = ne match {
    case a @ Alias(WindowExpression(RowNumber(),
        WindowSpecDefinition(_, _, SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))), _) =>
      Some(a)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString("spark.graft.topk.rewrite", "true").toBoolean) return plan
    plan.transformUp {
      case f @ Filter(cond, w @ Window(Seq(we), ps, os, wchild, _))
          if ps.nonEmpty && os.nonEmpty && rowNumberAlias(we).isDefined =>
        val alias = rowNumberAlias(we).get
        val rn = alias.toAttribute.asInstanceOf[AttributeReference]
        val conjuncts = splitConjunctivePredicates(cond)
        val (bounds, residual) = conjuncts.partition {
          case RnBound(a, _) => a.exprId == rn.exprId
          case _ => false
        }
        val ks = bounds.collect { case RnBound(_, k) => k }
        if (ks.isEmpty || ks.min < 1) f
        else {
          // Spark's rank-limit pushdown may already have inserted a
          // WindowGroupLimit below the Window — subsumed by the operator
          val child = wchild match {
            case WindowGroupLimit(_, _, _, _, inner) => inner
            case other => other
          }
          val topk = GroupTopKNode(ps, os, ks.min, child, rn)
          if (residual.isEmpty) topk
          else Filter(residual.reduce(And), topk)
        }
    }
  }
}
