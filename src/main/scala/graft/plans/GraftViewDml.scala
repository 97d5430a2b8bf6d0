package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LogicalPlan, MergeIntoTable, SubqueryAlias, UpdateTable, View}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.catalog.GraftV2Table

/** SQL DELETE / UPDATE / MERGE on a graft temp view (`CREATE TEMPORARY
  * VIEW … USING graft`, or any temp view of a graft table) plan exactly
  * as on the catalog table. The view's `View` node hides the table from
  * Spark's row-level rewrites (`RewriteDeleteFromTable`,
  * `RewriteUpdateTable`, `RewriteMergeIntoTable`), so this resolution
  * rule strips it, but only where the graft relation is the
  * statement's TARGET: reads of views elsewhere, the MERGE source
  * included, keep their `View`. A view of a pinned version or of a
  * snapshot frame is refused by the table itself.
  */
object GraftViewDml extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case d: DeleteFromTable =>
      target(d.table, "DELETE FROM").fold(d)(t => d.copy(table = t))
    case u: UpdateTable =>
      target(u.table, "UPDATE").fold(u)(t => u.copy(table = t))
    case m: MergeIntoTable =>
      target(m.targetTable, "MERGE INTO").fold(m)(t => m.copy(targetTable = t))
  }

  /** `p` with the `View` over a graft relation removed; None when `p`
    * hides no graft table behind a view.
    */
  private def target(p: LogicalPlan, op: String): Option[LogicalPlan] =
    p match {
      case a: SubqueryAlias => target(a.child, op).map(c => a.copy(child = c))
      case v: View => graftRelation(v.child).map { case (r, g) =>
        g.requireWritable(op)
        r
      }
      case _ => None
    }

  private def graftRelation(
      p: LogicalPlan): Option[(DataSourceV2Relation, GraftV2Table)] = p match {
    case SubqueryAlias(_, child) => graftRelation(child)
    case v: View => graftRelation(v.child)
    case r: DataSourceV2Relation => r.table match {
      case g: GraftV2Table => Some((r, g))
      case _ => None
    }
    case _ => None
  }
}
