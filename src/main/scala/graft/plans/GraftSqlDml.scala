package graft.plans

import scala.annotation.tailrec

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, AttributeSet, EqualTo, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, InsertStarAction, LogicalPlan, MergeIntoTable, OverwritePartitionsDynamic, SubqueryAlias, UpdateAction, UpdateStarAction, UpdateTable, View}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.{ColumnBridge, DatasetBridge}

import graft.catalog.{InsertClause, MergeAction => GMergeAction, MergeClause, SnapshotTable}

/** SQL row-level DML for `graft` TEMP VIEWS (`CREATE TEMPORARY VIEW
  * … USING graft`, or any temp view over a graft table). Catalog
  * tables (`graft.db.t`) are rewritten NATIVELY by Spark's own
  * analyzer Resolution batch (delta-based merge-on-read —
  * [[graft.catalog.GraftRowLevelOperation]], via
  * [[graft.catalog.GraftV2Table]]'s `SupportsRowLevelOperations`)
  * before this post-hoc rule ever runs. A temp view wraps the same
  * [[graft.catalog.GraftV2Table]] relation in a `View` node, which
  * those rewrites do not look through, so its statements land here
  * and lower onto the Scala API — honouring `graft.update.mode` /
  * `graft.merge.mode`. On catalog tables the rule serves only
  * `OverwritePartitionsDynamic` (not a row-level operation).
  *
  * Spark's parser produces `MergeIntoTable` / `DeleteFromTable` /
  * `UpdateTable` and its analyzer resolves them against the view, but
  * nothing rewrites them — they would fail in CheckAnalysis. This
  * post-hoc resolution rule intercepts the resolved statements BEFORE
  * that check and lowers them to runnable commands over
  * [[graft.catalog.SnapshotTable]]:
  *
  *  - `DELETE FROM v WHERE p` → `delete(p)` (COW, manifest-pruned)
  *  - `UPDATE v SET c = e WHERE p` → `update(Seq(c -> e), p)`
  *  - `MERGE INTO v USING src ON t.k = s.k
  *       WHEN MATCHED [AND c] THEN UPDATE SET * | SET c = e, … | DELETE
  *       [WHEN NOT MATCHED [AND c] THEN INSERT * | (cols) VALUES (…)]
  *       [WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET … | DELETE]`
  *    → `mergeConditional(src, keys, matched, inserts, nmbs)`
  *
  * Supported surface mirrors the Scala API exactly (first-match-wins
  * clauses in each group, cardinality rule, NULL-condition = no-match);
  * the remaining unsupported shape (subqueries in predicates or
  * assignment values) fails with a message naming the limitation rather
  * than a v2-table analysis error.
  */
final case class GraftSqlDmlRule(session: SparkSession)
    extends Rule[LogicalPlan] {

  import GraftSqlDml._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case d: DeleteFromTable if targetOf(d.table).isDefined &&
        !nativeDeleteHandles(d) =>
      val gr = writable(targetOf(d.table).get, "DELETE FROM")
      noSubquery(Seq(d.condition), "DELETE")
      GraftDeleteCommand(gr, selfColumn(d.condition))

    // dynamic partition overwrite (INSERT OVERWRITE under
    // partitionOverwriteMode=dynamic, or writeTo(...).overwritePartitions)
    // — the V1 write bridge has no dynamic-overwrite exec, so lower the
    // node onto the table's atomic overwritePartitions commit
    case o: OverwritePartitionsDynamic if o.query.resolved &&
        targetOf(o.table).isDefined =>
      val tbl = writable(targetOf(o.table).get, "INSERT OVERWRITE (dynamic)")
      GraftDynamicOverwriteCommand(tbl, o.query)

    case u: UpdateTable if targetOf(u.table).isDefined =>
      val gr = writable(targetOf(u.table).get, "UPDATE")
      noSubquery(u.assignments.map(_.value) ++ u.condition, "UPDATE")
      val assigns = u.assignments.map { a =>
        val name = a.key match {
          case ar: AttributeReference => ar.name
          case other => fail(s"UPDATE SET target must be a plain column, got $other")
        }
        name -> selfColumn(a.value)
      }
      GraftUpdateCommand(gr, assigns,
        u.condition.map(selfColumn).getOrElse(lit(true)))

    case m: MergeIntoTable if targetOf(m.targetTable).isDefined =>
      val gr = writable(targetOf(m.targetTable).get, "MERGE INTO")
      val tOut = m.targetTable.outputSet
      val sOut = m.sourceTable.outputSet
      val on = equiKeys(m.mergeCondition, tOut, sOut).getOrElse(fail(
        "graft MERGE requires ON to be a conjunction of " +
          "target.k = source.k equalities on same-named columns; got: " +
          m.mergeCondition.sql))
      noSubquery(m.matchedActions.flatMap(_.condition) ++
        m.notMatchedActions.flatMap(_.condition) ++
        m.notMatchedBySourceActions.flatMap(_.condition), "MERGE")
      val targetNames = m.targetTable.output.map(_.name)
      def updateSet(assigns: Seq[Assignment]): GMergeAction.UpdateSet =
        GMergeAction.UpdateSet(assigns.map { a =>
          val name = a.key match {
            case ar: AttributeReference => ar.name
            case other =>
              fail(s"MERGE UPDATE SET target must be a plain column, got $other")
          }
          name -> tsColumn(a.value, tOut, sOut)
        })
      val clauses = m.matchedActions.map {
        case UpdateStarAction(c) =>
          MergeClause(c.map(tsColumn(_, tOut, sOut)), GMergeAction.UpdateAll)
        case UpdateAction(c, assigns, _) if isStar(assigns, targetNames, sOut) =>
          MergeClause(c.map(tsColumn(_, tOut, sOut)), GMergeAction.UpdateAll)
        case UpdateAction(c, assigns, _) =>
          noSubquery(assigns.map(_.value), "MERGE")
          MergeClause(c.map(tsColumn(_, tOut, sOut)), updateSet(assigns))
        case DeleteAction(c) =>
          MergeClause(c.map(tsColumn(_, tOut, sOut)), GMergeAction.Delete)
        case other => fail("graft MERGE supports WHEN MATCHED THEN " +
          s"UPDATE SET * / UPDATE SET c = e, … / DELETE; got: $other")
      }
      // WHEN NOT MATCHED: conditional star or column-list INSERTs,
      // first-match-wins (values and conditions see the source row)
      val inserts = m.notMatchedActions.map {
        case InsertStarAction(c) =>
          InsertClause(c.map(tsColumn(_, tOut, sOut)), None)
        case InsertAction(c, assigns) if isStar(assigns, targetNames, sOut) =>
          InsertClause(c.map(tsColumn(_, tOut, sOut)), None)
        case InsertAction(c, assigns) =>
          noSubquery(assigns.map(_.value), "MERGE")
          for (a <- assigns; ref <- a.value.references)
            if (!sOut.contains(ref)) fail(
              s"MERGE INSERT values may only reference the source; got ${ref.name}")
          InsertClause(c.map(tsColumn(_, tOut, sOut)),
            Some(updateSet(assigns).assigns))
        case other => fail(
          s"graft MERGE supports WHEN NOT MATCHED [AND c] THEN INSERT; got: $other")
      }
      // WHEN NOT MATCHED BY SOURCE: target-only UPDATE SET / DELETE
      val nmbs = m.notMatchedBySourceActions.map {
        case DeleteAction(c) =>
          MergeClause(c.map(tsColumn(_, tOut, sOut)), GMergeAction.Delete)
        case UpdateAction(c, assigns, _) =>
          noSubquery(assigns.map(_.value), "MERGE")
          for (a <- assigns; ref <- a.value.references)
            if (!tOut.contains(ref)) fail(
              "MERGE NOT MATCHED BY SOURCE expressions may only reference " +
                s"the target; got ${ref.name}")
          MergeClause(c.map(tsColumn(_, tOut, sOut)), updateSet(assigns))
        case other => fail("graft MERGE supports WHEN NOT MATCHED BY SOURCE " +
          s"THEN UPDATE SET c = e, … / DELETE; got: $other")
      }
      GraftMergeCommand(gr, m.sourceTable, on, clauses, inserts, nmbs)
  }
}

object GraftSqlDml
    extends org.apache.spark.sql.catalyst.expressions.PredicateHelper {

  private[plans] def fail(msg: String): Nothing =
    throw new UnsupportedOperationException(msg)

  /** One graft DML target: the snapshot table (or branch handle) a
    * [[graft.catalog.GraftV2Table]] relation reads, and its pin.
    */
  final case class GraftTarget(table: SnapshotTable, pinned: Option[Long])

  /** The graft table behind a (possibly aliased / view-wrapped) target
    * plan; None = not a graft target, leave the statement alone.
    */
  @tailrec private[plans] def targetOf(p: LogicalPlan): Option[GraftTarget] =
    p match {
      case SubqueryAlias(_, child) => targetOf(child)
      case v: View => targetOf(v.child)
      case dsv2: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        dsv2.table match {
          // a snapshot read's view is a frame, not the table
          case g: graft.catalog.GraftV2Table if g.view.isEmpty =>
            Some(GraftTarget(g.table, g.pinned))
          case _ => None
        }
      case _ => None
    }

  private[plans] def writable(t: GraftTarget, op: String): SnapshotTable = {
    if (t.pinned.nonEmpty) fail(
      s"cannot $op a time-travel (versionAsOf / tag / timestampAsOf) relation")
    t.table
  }

  /** A `DELETE FROM` over a DSv2 graft table whose every conjunct has a
    * `sources.Filter` form runs NATIVELY (Spark's row-level rewrite,
    * shortcut to `SupportsDelete.deleteWhere` where
    * `GraftV2Table.canDeleteWhere` admits it); this rule only lowers
    * the shapes the native path cannot express. A temp view's `View`
    * node hides the table from the row-level rewrite — only
    * `deleteWhere` would remain, and it refuses a merge-on-read delete
    * that is not metadata-only — so view DELETEs always lower here.
    */
  private[plans] def nativeDeleteHandles(d: DeleteFromTable): Boolean = {
    def isV2(p: LogicalPlan): Boolean = p match {
      case SubqueryAlias(_, child) => isV2(child)
      case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => true
      case _ => false
    }
    isV2(d.table) &&
      !d.condition.exists(_.isInstanceOf[SubqueryExpression]) &&
      // nested struct-field predicates translate to DOTTED v1 filter
      // names the native deleteWhere cannot resolve — keep those here,
      // where the lowered Column preserves the real nested reference
      !d.condition.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.GetStructField]) &&
      splitConjunctivePredicates(d.condition)
        .forall(c => org.apache.spark.sql.graftbridge.FilterBridge
          .translate(c).isDefined)
  }

  private[plans] def noSubquery(es: Seq[Expression], op: String): Unit =
    if (es.exists(_.exists(_.isInstanceOf[SubqueryExpression])))
      fail(s"subqueries in graft $op predicates are not supported")

  /** Re-key a resolved predicate to plain by-name references so the
    * table's own read resolves it (DELETE / UPDATE: one relation in
    * scope, names are unambiguous).
    */
  private[plans] def selfColumn(e: Expression): Column =
    ColumnBridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
    })

  /** Re-key a merge-clause condition to the `t.` / `s.` aliases
    * [[graft.catalog.SnapshotTable.mergeConditional]] evaluates
    * against.
    */
  private[plans] def tsColumn(e: Expression, tOut: AttributeSet,
      sOut: AttributeSet): Column =
    ColumnBridge.column(e.transform {
      case a: AttributeReference if tOut.contains(a) =>
        UnresolvedAttribute(Seq("t", a.name))
      case a: AttributeReference if sOut.contains(a) =>
        UnresolvedAttribute(Seq("s", a.name))
    })

  /** ON must be equi-joins target.k = source.k (either side order) on
    * same-named columns — the key-list contract of the Scala merge API.
    */
  private[plans] def equiKeys(cond: Expression, tOut: AttributeSet,
      sOut: AttributeSet): Option[Seq[String]] = {
    val keys = splitConjunctivePredicates(cond).map {
      case EqualTo(l: AttributeReference, r: AttributeReference)
          if tOut.contains(l) && sOut.contains(r) && l.name == r.name =>
        Some(l.name)
      case EqualTo(l: AttributeReference, r: AttributeReference)
          if sOut.contains(l) && tOut.contains(r) && l.name == r.name =>
        Some(l.name)
      case _ => None
    }
    if (keys.forall(_.isDefined)) Some(keys.flatten.distinct) else None
  }

  /** An assignment list is `SET *` / `INSERT *` iff it covers every
    * target column from the same-named source column.
    */
  private[plans] def isStar(assigns: Seq[Assignment],
      targetNames: Seq[String], sOut: AttributeSet): Boolean = {
    val pairs = assigns.map { a =>
      (a.key, a.value) match {
        case (k: AttributeReference, v: AttributeReference)
            if sOut.contains(v) && k.name == v.name => Some(k.name)
        case _ => None
      }
    }
    pairs.forall(_.isDefined) &&
      pairs.flatten.toSet == targetNames.toSet
  }
}

/** Dynamic partition overwrite lowered to the atomic
  * partition-granularity swap ([[graft.catalog.SnapshotTable
  * .overwritePartitions]]): only hidden partitions present in the
  * incoming rows are replaced, in ONE commit.
  */
final case class GraftDynamicOverwriteCommand(table: SnapshotTable,
    query: LogicalPlan) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    table.overwritePartitions(DatasetBridge.ofRows(session, query))
    Nil
  }
}

/** `DELETE FROM <graft target> WHERE p` lowered to the row-level
  * delete — COW by default, positional delete vectors when the table
  * sets `graft.delete.mode=merge-on-read` (same routing as the native
  * v2 `deleteWhere` path, so the property holds for every predicate
  * shape).
  */
final case class GraftDeleteCommand(table: SnapshotTable, cond: Column)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    table.deleteRouted(cond)
    Nil
  }
}

/** `UPDATE <graft target> SET ... WHERE p` lowered to the row-level
  * update — COW by default, positional delete vectors when the table
  * sets `graft.update.mode=merge-on-read` (old row images hidden under
  * vectors, new images appended; zero data files rewritten).
  */
final case class GraftUpdateCommand(table: SnapshotTable,
    assigns: Seq[(String, Column)], cond: Column)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    table.updateRouted(assigns, cond)
    Nil
  }
}

/** `MERGE INTO <graft target> USING src ...` lowered to the conditional
  * file-granularity COW merge. The analyzed source plan rides as a
  * constructor value (this is a leaf command, so the analyzer is done
  * with it) and becomes a DataFrame at execution.
  */
final case class GraftMergeCommand(table: SnapshotTable, source: LogicalPlan,
    on: Seq[String], clauses: Seq[MergeClause], inserts: Seq[InsertClause],
    notMatchedBySource: Seq[MergeClause])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    table.mergeConditional(
      DatasetBridge.ofRows(session, source), on, clauses, inserts,
      notMatchedBySource)
    Nil
  }
}
