package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, EqualTo, Expression, GenericInternalRow, GreaterThanOrEqual, In, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, JoinType, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{CTERelationRef, Filter, Join, LocalRelation, LogicalPlan, MergeRows, OneRowRelation, Project, Range, ReplaceData, WriteDelta}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{approx_count_distinct, count, lit, max, min}
import org.apache.spark.sql.graftbridge.{DatasetBridge, RowLevelBridge}
import graft.catalog.{GraftCopyOnWriteOperation, GraftRowLevelOperation, Snapshot}

/** Source-key file pruning for every MERGE into a graft table, delta
  * (`WriteDelta`) or copy-on-write (`ReplaceData`), from SQL and from
  * the Scala API alike. Without it a merge-on-read MERGE reads EVERY
  * target file — the join filters rows, not files — and a copy-on-write
  * MERGE's runtime group filter joins the source against every target
  * file to find the files to rewrite. The rule derives a key predicate
  * from the SOURCE side of the merge join during optimization:
  *
  *  - a DRIVER-RESIDENT source — its key projection optimizes to one
  *    `LocalRelation` (`createDataFrame`/`toDF` of local rows,
  *    `VALUES`) — is read off its rows on the driver: row count, exact
  *    distinct key tuples and each key's [min, max], with no Spark job;
  *  - any other source runs a bounded two-pass probe (the same
  *    driver-side-collect discipline as [[GraftAggregatePushdown]]):
  *    one aggregate pass computing per-key (min, max,
  *    approx_count_distinct) + row count, then — when the distinct
  *    count is small — one exact `distinct().limit(K+1)` pass.
  *
  * Either way, at most `max-keys` distinct tuples become per-key `IN`
  * predicates (point pruning: bounds + Blooms + bucket partition
  * values), and a wider key set degrades to the [min, max] range
  * predicate (file skipping on range-clustered targets). The predicate
  * lands in the manifest pruner ([[graft.catalog.SnapshotTable
  * .prunedFiles]] via [[graft.catalog.GraftBatchScan]]) by a different
  * road per plan:
  *
  *  - `WriteDelta`: a static filter above the target's row-level scan
  *    relation, which the v2 filter pushdown lands in the scan;
  *  - `ReplaceData`: a conjunct of the plan's `condition`, which Spark's
  *    group-scan planning pushes into the rewrite's scan (file skipping
  *    only — that scan returns every row of each file it keeps), and of
  *    its `groupFilterCondition`, which drives the runtime query that
  *    picks the files to rewrite. Never a row filter above the target:
  *    the unmatched rows of a rewritten file would be lost. The rule
  *    runs among the operator optimizations, before the early scan
  *    push-down batch plans the group scan from `condition`.
  *
  * The probe runs the source plan one extra time, so the rule is gated
  * on the source's estimated size (driver-resident sources too); a
  * CDC-shaped merge (small source, huge target) is exactly where both
  * the probe is cheap and the pruning pays at 100 TB.
  *
  * ## When the pushdown is sound
  *
  * A target row can produce a change only if some source row matches
  * it through the merge join. Skipping target rows (or files) that
  * cannot match is semantics-preserving iff unmatched target rows
  * change nothing, i.e. the MERGE has no NOT MATCHED BY SOURCE clauses.
  * For a delta that shows in the join type: Inner (matched-only) or
  * RightOuter with the target on the left (inserts present) are safe;
  * LeftOuter/FullOuter are NOT. For a rewrite Spark itself sets a group
  * filter only without NOT MATCHED BY SOURCE clauses, and the join is
  * LeftOuter or FullOuter with the target on the left. From the ON
  * condition the rule uses only top-level `t.col = <source expr>`
  * EQUALITY conjuncts (each conjunct is independently sound: every
  * matched row satisfies all of them). Null-safe equality (`<=>`) is
  * skipped — NULL keys match under it, and `IN`/range predicates drop
  * NULLs. Non-deterministic or streaming sources are skipped (the
  * probe would observe different rows than the join). The predicate
  * also drops target rows with NULL keys — sound, because `=` never
  * matches NULL and unmatched rows emit nothing.
  *
  * Knobs (table properties): `graft.merge.source-prune` = `auto`
  * (default) | `off`; `graft.merge.source-prune.max-keys` (IN-list
  * cap, default 1000); `graft.merge.source-prune.max-source-bytes`
  * (probe gate on the source's estimated size, default 1 GiB);
  * `graft.merge.source-prune.assume-stable-source` = `true` opts an
  * external source (parquet dir, JDBC, …) into the probe when the
  * caller guarantees it is quiescent for the statement.
  */
final case class GraftMergeSourcePrune(session: SparkSession)
    extends Rule[LogicalPlan] {

  import GraftMergeSourcePrune._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case w @ (_: WriteDelta | _: ReplaceData)
        if w.getTagValue(Attempted).isEmpty =>
      // one attempt per statement, even on bail-out — the rule sits in
      // a fixed-point batch and the probe must not run twice
      w.setTagValue(Attempted, true)
      try tryPrune(w).getOrElse(w)
      catch { case NonFatal(_) => w }
  }

  private def tryPrune(write: LogicalPlan): Option[LogicalPlan] = {
    // sound only when unmatched target rows change nothing (no NOT
    // MATCHED BY SOURCE); UPDATE/DELETE carry no MergeRows, and their
    // static predicates already push
    val (query, safeJoins) = write match {
      case wd: WriteDelta => (wd.query, Set[JoinType](Inner, RightOuter))
      case rd: ReplaceData if rd.groupFilterCondition.isDefined =>
        (rd.query, Set[JoinType](LeftOuter, FullOuter))
      case _ => return None
    }
    val join = query.collectFirst { case m: MergeRows => m.child }
      .collect {
        case j: Join => j
        case Project(_, j: Join) => j
      }.getOrElse(return None)
    // the row-level scan relation lives on the TARGET side of the
    // rewritten merge join (Spark puts the target left)
    val targetRel = join.left.collectFirst {
      case r: DataSourceV2Relation if baseOf(r).isDefined => r
    }.getOrElse(return None)
    val base = baseOf(targetRel).get
    if (!safeJoins(join.joinType)) return None

    if (base.files.size <= 1) return None // nothing to skip
    val props = base.properties
    if (props.getOrElse("graft.merge.source-prune", "auto") == "off")
      return None

    val source = join.right
    // the probe re-executes the source: bail if re-execution could
    // observe different rows, or the subtree is not self-contained
    val safeSource = source.find { p =>
      p.isStreaming || p.isInstanceOf[CTERelationRef] ||
        p.expressions.exists(e => !e.deterministic)
    }.isEmpty
    if (!safeSource) return None
    // data-level repeatability (ADVICE r14, low): determinism guards
    // the EXPRESSIONS, not the DATA — an external source (a parquet
    // directory being appended to concurrently) can serve the join
    // execution rows the probe never saw, and their matches would be
    // pruned into spurious INSERTs (duplicate keys). Only leaves whose
    // statement-scope contents are stable may feed the probe: literal
    // relations, range(), cached or checkpointed relations (the Scala
    // API's merge checkpoints its source), and graft snapshot reads
    // (manifest-committed, at-most-snapshot-read caveat per ADVICE).
    // `graft.merge.source-prune.assume-stable-source=true` opts an
    // external-but-known-quiescent source back in.
    val assumeStable = props.getOrElse(
      "graft.merge.source-prune.assume-stable-source", "false") == "true"
    val stableData = assumeStable || source.collectLeaves().forall {
      case _: LocalRelation | _: Range | _: OneRowRelation => true
      case _: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        true
      case r: LogicalRDD => r.rdd.isCheckpointed
      case r: DataSourceV2Relation =>
        r.table.isInstanceOf[graft.catalog.GraftV2Table]
      case _ => false
    }
    if (!stableData) return None

    // equality conjuncts t.col = <source expr>, bare atomic target
    // column (a cast-wrapped target column has no faithful literal
    // translation — skip it)
    val conjuncts = join.condition.toSeq.flatMap(splitAnd)
    val pairs: Seq[(AttributeReference, Expression)] = conjuncts.collect {
      case EqualTo(a: AttributeReference, e)
          if targetRel.outputSet.contains(a) &&
            e.references.subsetOf(source.outputSet) &&
            simpleType(a.dataType) => (a, e)
      case EqualTo(e, a: AttributeReference)
          if targetRel.outputSet.contains(a) &&
            e.references.subsetOf(source.outputSet) &&
            simpleType(a.dataType) => (a, e)
    }
    if (pairs.isEmpty) return None

    val maxKeys = props.get("graft.merge.source-prune.max-keys")
      .map(_.toInt).getOrElse(1000)
    val maxSourceBytes = props.get("graft.merge.source-prune.max-source-bytes")
      .map(_.toLong).getOrElse(1L << 30)
    if (source.stats.sizeInBytes > maxSourceBytes) return None

    val keyed = DatasetBridge.ofRows(session, Project(
      pairs.zipWithIndex.map { case ((_, e), i) => Alias(e, s"k$i")() },
      source))
    // a driver-resident source (local rows, VALUES) optimizes to one
    // LocalRelation: its keys are read off the rows, with no job
    val ks = keyed.queryExecution.optimizedPlan match {
      case l: LocalRelation => localKeyStats(l, maxKeys)
      case _ => probeKeyStats(keyed, pairs.size, maxKeys)
    }

    val perKey: Seq[Expression] =
      if (ks.rows == 0L) Seq(Literal.FalseLiteral)
      else pairs.indices.map { i =>
        val attr = pairs(i)._1
        def literal(v: Any) = Literal.create(v, attr.dataType)
        ks.exact match {
          case Some(values) =>
            if (values(i).isEmpty) Literal.FalseLiteral // all keys NULL
            else In(attr, values(i).map(literal))
          case None => ks.bounds(i) match {
            case Some((lo, hi)) => And(GreaterThanOrEqual(attr, literal(lo)),
              LessThanOrEqual(attr, literal(hi)))
            case None => Literal.FalseLiteral // all source keys NULL
          }
        }
      }

    val pred = perKey.reduce(And)
    logInfo(s"graft MERGE source-prune on ${targetRel.table.name()}: " +
      s"${ks.rows} source rows -> ${pred.sql.take(200)}")
    write match {
      case rd: ReplaceData =>
        Some(rd.copy(condition = And(rd.condition, pred),
          groupFilterCondition = rd.groupFilterCondition.map(And(pred, _))))
      case wd: WriteDelta =>
        val newLeft = join.left.transformUp {
          case r: DataSourceV2Relation if r eq targetRel => Filter(pred, r)
        }
        Some(wd.copy(query = wd.query.transformUp {
          case j: Join if j eq join => j.copy(left = newLeft)
        }))
    }
  }

  /** The base snapshot of a graft row-level operation's scan relation. */
  private def baseOf(r: DataSourceV2Relation): Option[Snapshot] =
    RowLevelBridge.operationOf(r.table).collect {
      case op: GraftRowLevelOperation => op.base
      case op: GraftCopyOnWriteOperation => op.base
    }

  /** Keys of a driver-resident source, exact: row count, each key's
    * [min, max] under Spark's ordering, and the distinct key tuples
    * when they number at most `maxKeys`. Values stay in Catalyst's
    * internal form, which `Literal.create` takes as is.
    */
  private def localKeyStats(l: LocalRelation, maxKeys: Int): KeyStats = {
    val types = l.output.map(_.dataType)
    // GenericInternalRow compares binary values by content
    val tuples = l.data.map(r => new GenericInternalRow(
      types.indices.map(i => r.get(i, types(i))).toArray[Any])).distinct
    def nonNull(i: Int): Seq[Any] =
      tuples.map(_.get(i, types(i))).filter(_ != null)
    val bounds = types.indices.map { i =>
      val ord = TypeUtils.getInterpretedOrdering(types(i))
      val vs = nonNull(i)
      Option.when(vs.nonEmpty)((vs.min(ord), vs.max(ord)))
    }
    KeyStats(l.data.size.toLong, bounds,
      Option.when(tuples.size <= maxKeys)(
        types.indices.map(i => nonNull(i).distinct)))
  }

  /** Keys of any other source, from two Spark passes: per-key bounds
    * with a distinct estimate and the row count, then — when every
    * estimate fits `maxKeys` — the exact tuples, capped (over the cap,
    * the estimate undershot: ranges).
    */
  private def probeKeyStats(keyed: org.apache.spark.sql.DataFrame,
      n: Int, maxKeys: Int): KeyStats = {
    val aggCols = (0 until n).flatMap(i => Seq(min(s"k$i"), max(s"k$i"),
      approx_count_distinct(s"k$i"))) :+ count(lit(1))
    val stats = keyed.agg(aggCols.head, aggCols.tail: _*).collect().head
    val bounds = (0 until n).map(i =>
      Option(stats.get(i * 3)).map(lo => (lo, stats.get(i * 3 + 1))))
    val exact =
      if ((0 until n).map(i => stats.getLong(i * 3 + 2)).max > maxKeys) None
      else {
        val tuples = keyed.distinct().limit(maxKeys + 1).collect()
        Option.when(tuples.length <= maxKeys)((0 until n).map(i =>
          tuples.toSeq.map(_.get(i)).filter(_ != null).distinct))
      }
    KeyStats(stats.getLong(aggCols.size - 1), bounds, exact)
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** Scalar key types the probe's min/max/IN literals round-trip
    * faithfully (and the manifest keeps stats for) — no nested types,
    * no user-defined types.
    */
  private def simpleType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.NumericType => true
      case org.apache.spark.sql.types.StringType => true
      case org.apache.spark.sql.types.BooleanType => true
      case org.apache.spark.sql.types.DateType => true
      case org.apache.spark.sql.types.TimestampType => true
      case org.apache.spark.sql.types.TimestampNTZType => true
      case org.apache.spark.sql.types.BinaryType => true
      case _ => false
    }
}

object GraftMergeSourcePrune {
  /** Set once per MERGE write — the probe must not re-run on
    * later fixed-point iterations (transformDown copies tags onto the
    * rewritten node).
    */
  private val Attempted = TreeNodeTag[Boolean]("graft.merge.source.prune")

  /** The source keys the prune predicate is built from: row count,
    * per-key [lo, hi] (None when every value is NULL) and, when the
    * distinct key tuples fit `max-keys`, each key's distinct non-null
    * values.
    */
  private final case class KeyStats(rows: Long,
      bounds: Seq[Option[(Any, Any)]], exact: Option[Seq[Seq[Any]]])
}
