package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, And}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
import org.apache.spark.sql.classic.ExpressionUtils

/** Folds a filtered global aggregate into an aggregate over the
  * filter's input, so it can share one pass with other aggregates over
  * that input (turning a Catalyst expression back into a Column needs
  * `private[sql]` API, hence the package). */
object FilteredAggregates {

  /** When `summary` analyzes to a global aggregate directly over a
    * filter — `df.filter(p).selectExpr("MAX(x) AS m", ...)` — its output
    * columns, in order, rewritten as `<agg> FILTER (WHERE p)` over `df`;
    * None for any other shape (a projection of non-aggregates, a
    * window, a grouping) and for a DISTINCT aggregate, which in the
    * shared aggregate would expand every input row, not just the
    * filter's. The rewrite runs bottom-up, so the inserted
    * predicate is never itself rewritten; an aggregate that already has
    * a FILTER keeps it, AND-ed with `p`. */
  def fold(summary: DataFrame): Option[Seq[Column]] =
    summary.queryExecution.analyzed match {
      case Aggregate(Nil, outputs, Filter(p, _), _) if !outputs.exists(
          _.exists { case ae: AggregateExpression => ae.isDistinct; case _ => false }) =>
        Some(outputs.map { o =>
          val e = o match { case a: Alias => a.child; case other => other }
          ExpressionUtils.column(e.transformUp {
            case ae: AggregateExpression =>
              ae.copy(filter = Some(ae.filter.fold(p)(And(_, p))))
          })
        })
      case _ => None
    }
}
