package graft.plans

import java.util.concurrent.CopyOnWriteArrayList

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Divide, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.DoubleType

/** MATERIALIZED-VIEW SUBSTITUTION — the read-side half of the
  * materialized-view story (q145/q152/q202 are the write side: keep the
  * rollup fresh incrementally). An optimizer `Rule[LogicalPlan]` that
  * retargets an aggregate over the BASE table onto a pre-computed rollup
  * whenever the query's grouping is a coarsening of the view's dimensions
  * and every aggregate is derivable from the view's partials:
  *
  *   - `sum(measure)`   → `sum(mv.sum_measure)`   (sums re-aggregate)
  *   - `count(*)`/`count(1)` → `sum(mv.cnt)`      (counts add)
  *   - `min(measure)`   → `min(mv.min_measure)`   (mins re-aggregate)
  *   - `max(measure)`   → `max(mv.max_measure)`   (maxes re-aggregate)
  *   - `avg(measure)`   → `sum(mv.sum_measure) / sum(mv.cnt_measure)` —
  *     avg itself is NOT a partial, but it is a ratio of two registered
  *     ones; the denominator is the measure's NON-NULL count column
  *     (never the row count — `avg` ignores NULLs), so avg is derivable
  *     only when the registration supplies that per-measure count.
  *
  * A query that groups by any SUBSET of the view dims (including the
  * view's own grain) and asks only for derivable aggregates never touches
  * the base scan — at 100 TB that is the difference between a
  * dashboard query reading a kilobyte rollup and re-scanning the fact.
  * The rewrite is ALL-OR-NOTHING: one non-derivable aggregate (distinct,
  * filter clause, an unregistered measure), a filter between the
  * aggregate and the scan, or a non-column grouping expression leaves the
  * plan untouched — correctness never depends on the rule firing.
  *
  * Base-table recognition is by SCAN IDENTITY, not plan-tree equality:
  * the aggregate's child must be a pure column-pruning projection chain
  * over a `LogicalRelation` whose file roots equal the registered base's
  * — robust to Catalyst's own pruning having rewritten the subtree.
  * Output attribute ids are preserved on every rewritten alias, so the
  * parent plan resolves unchanged.
  */
object MvRewrite extends Rule[LogicalPlan] {

  /** One registered view over one base table. `dims` are base grouping
    * columns (same names in the view); `sums`/`mins`/`maxs` map base
    * measure column → view partial column; `counts` maps base measure →
    * the view's `count(measure)` (non-null) column — required for `avg`;
    * `countCol` is the view's `count(*)` column.
    */
  final case class Registration(
      baseRoots: Set[String],
      mvPlan: LogicalPlan,
      dims: Set[String],
      sums: Map[String, String],
      countCol: String,
      mins: Map[String, String],
      maxs: Map[String, String],
      counts: Map[String, String])

  private val regs = new CopyOnWriteArrayList[Registration]()

  /** File roots identifying a parquet-backed DataFrame's scan. */
  private def rootsOf(plan: LogicalPlan): Option[Set[String]] = plan match {
    case Project(exprs, child) if exprs.forall(_.isInstanceOf[AttributeReference]) =>
      rootsOf(child)
    case l: LogicalRelation =>
      l.relation match {
        case h: HadoopFsRelation =>
          Some(h.location.rootPaths.map(_.toString).toSet)
        case _ => None
      }
    case _ => None
  }

  def register(base: DataFrame, mv: DataFrame, dims: Set[String],
      sums: Map[String, String], countCol: String,
      mins: Map[String, String] = Map.empty,
      maxs: Map[String, String] = Map.empty,
      counts: Map[String, String] = Map.empty): Unit = {
    val roots = rootsOf(base.queryExecution.analyzed)
      .getOrElse(throw new IllegalArgumentException(
        "MV base must be a plain file-relation read"))
    val reg = Registration(roots, mv.queryExecution.analyzed, dims, sums,
      countCol, mins, maxs, counts)
    if (!regs.asScala.exists(r => r.baseRoots == roots && r.dims == dims &&
        r.sums == sums && r.countCol == countCol && r.mins == mins &&
        r.maxs == maxs && r.counts == counts))
      regs.add(reg)
  }

  def clear(): Unit = regs.clear()

  /** Turn the rule on for one session, through
    * `spark.experimental.extraOptimizations`. It stays per-session, unlike
    * the engine-wide [[graft.functions.GraftExtensions]]: the view registry
    * is JVM-global, so a rule in every session could answer an unrelated
    * aggregate over the same base from a view another query registered,
    * stale or not.
    */
  def enable(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(MvRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MvRewrite

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg: Aggregate =>
      regs.asScala.view.flatMap(tryRewrite(agg, _)).headOption.getOrElse(agg)
  }

  private def tryRewrite(agg: Aggregate, reg: Registration): Option[Aggregate] = {
    if (!rootsOf(agg.child).contains(reg.baseRoots)) return None
    // groupings must be plain view-dimension columns
    val groupNames = agg.groupingExpressions.map {
      case a: AttributeReference if reg.dims(a.name) => a.name
      case _ => return None
    }
    // a global aggregate must not rewrite: sum over an empty view is NULL
    // where count over an empty base is 0
    if (groupNames.isEmpty) return None
    val mvAttr: Map[String, AttributeReference] =
      reg.mvPlan.output.collect { case a: AttributeReference => a.name -> a }.toMap
    val registeredCols = reg.sums.values ++ reg.mins.values ++
      reg.maxs.values ++ reg.counts.values
    if (!groupNames.forall(mvAttr.contains) ||
        !registeredCols.forall(mvAttr.contains) ||
        !mvAttr.contains(reg.countCol)) return None

    // a derivable aggregate rewrites to an expression over the view's
    // partials — one AggregateExpression for sum/count/min/max, a ratio
    // of two for avg (each with a FRESH resultId: two copies of one
    // buffer id would collide at planning)
    def rewriteAgg(ae: AggregateExpression): Option[Expression] = {
      if (ae.isDistinct || ae.filter.nonEmpty) return None
      ae.aggregateFunction match {
        case Sum(child: AttributeReference, _) if reg.sums.contains(child.name) =>
          val repl = mvAttr(reg.sums(child.name))
          // partial type must already be the sum-widened type, or the
          // re-aggregated result would change type under the alias
          if (Sum(repl).dataType != ae.dataType) None
          else Some(ae.copy(aggregateFunction = Sum(repl)))
        case Count(Seq(Literal(_, _))) =>
          Some(ae.copy(aggregateFunction = Sum(mvAttr(reg.countCol))))
        case Count(Seq()) =>
          Some(ae.copy(aggregateFunction = Sum(mvAttr(reg.countCol))))
        case Min(child: AttributeReference) if reg.mins.contains(child.name) =>
          val repl = mvAttr(reg.mins(child.name))
          if (Min(repl).dataType != ae.dataType) None
          else Some(ae.copy(aggregateFunction = Min(repl)))
        case Max(child: AttributeReference) if reg.maxs.contains(child.name) =>
          val repl = mvAttr(reg.maxs(child.name))
          if (Max(repl).dataType != ae.dataType) None
          else Some(ae.copy(aggregateFunction = Max(repl)))
        case Average(child: AttributeReference, _)
            if reg.sums.contains(child.name) && reg.counts.contains(child.name) &&
              ae.dataType == DoubleType =>
          // avg = Σ sum_partials / Σ nonnull_count_partials, the same
          // sum/count division Average.evaluateExpression performs
          // (double result type only — decimal avg has its own scale
          // arithmetic this rule does not reproduce)
          val s = AggregateExpression(
            Sum(mvAttr(reg.sums(child.name))), ae.mode, isDistinct = false)
          val c = AggregateExpression(
            Sum(mvAttr(reg.counts(child.name))), ae.mode, isDistinct = false)
          Some(Divide(Cast(s, DoubleType), Cast(c, DoubleType)))
        case _ => None
      }
    }

    val rewritten: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: AttributeReference if reg.dims(a.name) =>
        Alias(mvAttr(a.name), a.name)(exprId = a.exprId)
      case al @ Alias(ae: AggregateExpression, name) =>
        rewriteAgg(ae) match {
          case Some(n) => Alias(n, name)(exprId = al.exprId)
          case None => return None
        }
      case _ => return None
    }
    val newGroup: Seq[Expression] = groupNames.map(mvAttr)
    Some(Aggregate(newGroup, rewritten, reg.mvPlan))
  }
}
