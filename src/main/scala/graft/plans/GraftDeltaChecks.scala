package graft.plans

import org.apache.spark.sql.catalyst.expressions.{CheckInvariant, EqualTo, Literal, Or}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, WriteDelta}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.RowDeltaUtils

/** Spark's CHECK constraints on a delta write exempt the rows it
  * deletes. Spark filters every row a `WriteDelta` emits through the
  * table's enforced checks, and the rows a MERGE's DELETE clause emits
  * carry NULL data columns (only their row id is written), so a table
  * with a NOT NULL column ([[graft.catalog.GraftV2Table.constraints]])
  * would refuse every merge-on-read MERGE that deletes. The check is
  * rewritten to `__row_operation = DELETE OR <check>`; inserted and
  * updated rows are checked as before.
  */
object GraftDeltaChecks extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case wd: WriteDelta => wd.copy(query = wd.query.transformDown {
      case f @ Filter(cond, child)
          if cond.exists(_.isInstanceOf[CheckInvariant]) =>
        child.output.find(_.name == RowDeltaUtils.OPERATION_COLUMN)
          .map(op => EqualTo(op, Literal(RowDeltaUtils.DELETE_OPERATION)))
          .filterNot(deleted => cond match {
            case Or(`deleted`, _) => true // already exempt
            case _ => false
          })
          .fold(f: LogicalPlan)(deleted => Filter(Or(deleted, cond), child))
    })
  }
}
