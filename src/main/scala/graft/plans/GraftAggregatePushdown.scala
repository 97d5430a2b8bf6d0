package graft.plans

import scala.annotation.tailrec

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter => LFilter, LocalRelation, LogicalPlan, Project, SubqueryAlias, View}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftbridge.FilterBridge

import graft.catalog.SnapshotTable.MetaAgg

/** Aggregate pushdown into manifest metrics for SQL: a filterless,
  * ungrouped `COUNT(*)` / `COUNT(c)` / `MIN` / `MAX` / `SUM` over a
  * graft relation collapses to a [[LocalRelation]] holding the answer
  * computed from the manifest ([[graft.catalog.SnapshotTable
  * .metadataAggregate]]) — `SELECT count(*), min(ts), sum(qty) FROM t`
  * runs ZERO Spark jobs over data files: COUNT/MIN/MAX is the
  * capability Iceberg gives Spark via its aggregate pushdown, and SUM
  * goes beyond it through the exact per-file sums r15 manifests record
  * for integral/decimal columns ([[graft.catalog.ColStats]] `sum`).
  *
  * Strictly conservative: fires only when every output expression is a
  * plain non-distinct, non-filtered COUNT/MIN/MAX/SUM over a literal or
  * a bare column, the child is the bare relation (or an
  * attribute-only projection of it), and the manifest can answer
  * EXACTLY — a time-travel-pinned relation answers from its pinned
  * snapshot
  * (`metadataAggregate` returns None on pending MoR deletes, missing
  * stats, truncated/non-finite bounds — the plan is left untouched and
  * the ordinary scan runs). The substituted values are computed from
  * the same snapshot the scan would read (the published one), so the
  * rewrite is never observable except in plan shape and speed.
  */
final case class GraftAggregatePushdown(session: SparkSession)
    extends Rule[LogicalPlan] {

  /** Session kill-switch (default on), the scan-parity seam tests use:
    * `spark.sql.graft.metadataAggregate`.
    */
  private def enabled: Boolean =
    session.conf.get("spark.sql.graft.metadataAggregate", "true") == "true"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan else plan.transformDown {
    // GROUPED twin: GROUP BY the table's identity-partition source
    // column collapses to one manifest fold per hidden partition —
    // `SELECT month, count(*) … GROUP BY month` runs zero data jobs.
    // metadataAggregateGrouped vetoes every inexact case (non-partition
    // grouping key, mixed specs, MoR deletes, lossy key rendering).
    case agg @ Aggregate(Seq(g: AttributeReference), aggExprs, child, _) =>
      val rewritten = try {
        for {
          (gr, fs) <- relationAndFilter(child)
          specs <- toGroupedSpecs(g, aggExprs)
          df <- gr.table.metadataAggregateGrouped(g.name, specs, gr.pinned,
            fs)
        } yield {
          val rows = df.collect().toIndexedSeq.map { row =>
            InternalRow.fromSeq(agg.output.zipWithIndex.map { case (a, i) =>
              CatalystTypeConverters.createToCatalystConverter(a.dataType)(
                row.get(i))
            })
          }
          LocalRelation(agg.output, rows)
        }
      } catch { case scala.util.control.NonFatal(_) => None }
      rewritten.getOrElse(agg)

    case agg @ Aggregate(Nil, aggExprs, child, _) =>
      // the WHOLE rewrite (metadataAggregate + collect + Catalyst
      // conversion) falls back to the untouched plan on any failure:
      // a stale temp view analyzed before an int→long widening would
      // otherwise surface a raw ClassCastException from the conversion
      // here, where the scan path gives guardSchemaDrift's
      // "re-create the view" remedy — let that path produce the error
      val rewritten = try {
        for {
          // a WHERE clause rides along when it translates COMPLETELY to
          // source filters — the manifest answers iff every file
          // classifies decisively (all rows match or none possibly do)
          (gr, fs) <- relationAndFilter(child)
          specs <- toSpecs(aggExprs)
          // a pinned (VERSION/TIMESTAMP AS OF) relation answers from
          // ITS snapshot — time-travel profile queries are metadata-only
          // too
          df <- gr.table.metadataAggregate(specs, gr.pinned, fs)
        } yield {
          val row = df.collect().head
          val values = agg.output.zipWithIndex.map { case (a, i) =>
            CatalystTypeConverters.createToCatalystConverter(a.dataType)(
              row.get(i))
          }
          LocalRelation(agg.output, Seq(InternalRow.fromSeq(values)))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
      rewritten.getOrElse(agg)
  }

  /** [[relationOf]] plus at most one Filter hop whose condition
    * translates COMPLETELY to source filters (a lost conjunct would
    * prove a weaker predicate — all-or-nothing, same discipline as
    * [[graft.catalog.StatsPruner.translateExact]]).
    */
  private def relationAndFilter(p: LogicalPlan)
      : Option[(GraftAggregatePushdown.GraftTarget,
        Seq[org.apache.spark.sql.sources.Filter])] = p match {
    case Project(projList, child)
        if projList.forall(_.isInstanceOf[AttributeReference]) =>
      relationAndFilter(child)
    case f: LFilter =>
      relationOf(f.child).flatMap { gr =>
        def conjuncts(e: org.apache.spark.sql.catalyst.expressions
            .Expression): Seq[org.apache.spark.sql.catalyst.expressions
            .Expression] = e match {
          case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
            conjuncts(l) ++ conjuncts(r)
          case other => Seq(other)
        }
        val tr = conjuncts(f.condition).map(FilterBridge.translate)
        if (tr.exists(_.isEmpty)) None else Some((gr, tr.flatten))
      }
    case other => relationOf(other).map((_, Nil))
  }

  /** The graft relation under `p`, provided nothing between the
    * aggregate and the scan can change row multiplicity or values (only
    * an attribute-reference projection is allowed). Catalog relations
    * are still visible here because this rule runs in the
    * operator-optimization batch, before the v2 scan pushdown replaces
    * the relation node.
    */
  private def relationOf(p: LogicalPlan)
      : Option[GraftAggregatePushdown.GraftTarget] =
    p match {
      case Project(projList, child)
          if projList.forall(_.isInstanceOf[AttributeReference]) =>
        relationOf(child)
      case leaf => GraftAggregatePushdown.targetOf(leaf)
    }

  /** Grouped output list: each expression is either the grouping
    * attribute itself (op "group") or a supported aggregate alias —
    * anything else vetoes. Output order is preserved in the specs.
    */
  private def toGroupedSpecs(g: AttributeReference,
      es: Seq[NamedExpression]): Option[Seq[MetaAgg]] = {
    val specs = es.map {
      case a: AttributeReference if a.exprId == g.exprId =>
        Some(MetaAgg("group", g.name, a.name))
      case Alias(a: AttributeReference, name) if a.exprId == g.exprId =>
        Some(MetaAgg("group", g.name, name))
      case Alias(AggregateExpression(fn, Complete, false, None, _), name) =>
        fn match {
          case Count(Seq(Literal(v, _))) if v != null =>
            Some(MetaAgg("count_star", "", name))
          case Count(Seq(a: AttributeReference)) =>
            Some(MetaAgg("count", a.name, name))
          case Min(a: AttributeReference) => Some(MetaAgg("min", a.name, name))
          case Max(a: AttributeReference) => Some(MetaAgg("max", a.name, name))
          case Sum(a: AttributeReference, _) =>
            Some(MetaAgg("sum", a.name, name))
          case _ => None
        }
      case _ => None
    }
    if (specs.exists(_.isEmpty)) None else Some(specs.flatten)
  }

  /** All-or-nothing translation of the aggregate list; any expression
    * outside the supported shapes vetoes the rewrite.
    */
  private def toSpecs(es: Seq[NamedExpression]): Option[Seq[MetaAgg]] = {
    val specs = es.map {
      case Alias(AggregateExpression(fn, Complete, false, None, _), name) =>
        fn match {
          case Count(Seq(Literal(v, _))) if v != null =>
            Some(MetaAgg("count_star", "", name))
          case Count(Seq(a: AttributeReference)) =>
            Some(MetaAgg("count", a.name, name))
          case Min(a: AttributeReference) => Some(MetaAgg("min", a.name, name))
          case Max(a: AttributeReference) => Some(MetaAgg("max", a.name, name))
          case Sum(a: AttributeReference, _) =>
            Some(MetaAgg("sum", a.name, name))
          case _ => None
        }
      case _ => None
    }
    if (specs.exists(_.isEmpty)) None else Some(specs.flatten)
  }
}

object GraftAggregatePushdown {

  /** One aggregate target: the snapshot table (or branch handle) a
    * [[graft.catalog.GraftV2Table]] relation reads, and its pin.
    */
  final case class GraftTarget(table: graft.catalog.SnapshotTable,
      pinned: Option[Long])

  /** The graft table behind a (possibly aliased / view-wrapped) plan;
    * None = not a graft table, leave the aggregate alone.
    */
  @tailrec private def targetOf(p: LogicalPlan): Option[GraftTarget] =
    p match {
      case SubqueryAlias(_, child) => targetOf(child)
      case v: View => targetOf(v.child)
      case r: DataSourceV2Relation => r.table match {
        // a snapshot read's view is a frame, not the table
        case g: graft.catalog.GraftV2Table if g.view.isEmpty =>
          Some(GraftTarget(g.table, g.pinned))
        case _ => None
      }
      case _ => None
    }
}
