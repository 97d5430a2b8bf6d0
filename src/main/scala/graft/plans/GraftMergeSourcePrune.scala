package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, EqualTo, Expression, GenericInternalRow, GreaterThanOrEqual, In, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.{Inner, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{CTERelationRef, Filter, Join, LocalRelation, LogicalPlan, MergeRows, OneRowRelation, Project, Range, WriteDelta}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{approx_count_distinct, count, lit, max, min}
import org.apache.spark.sql.graftbridge.{DatasetBridge, RowLevelBridge}
import graft.catalog.GraftRowLevelOperation

/** Runtime file pruning for the NATIVE delta MERGE (VERDICT r12 #2 /
  * r13 #2): without it, `MERGE INTO graft.t USING src ON t.k = s.k`
  * reads EVERY target file — the join filters rows, not files — while
  * the Scala-API merge keeps manifest key-range pruning. This rule
  * closes that gap at the logical level: it derives a key predicate
  * from the SOURCE side of the merge join and injects it as an
  * ordinary static filter above the target's row-level scan relation,
  * where the v2 filter pushdown lands it in the manifest pruner
  * ([[graft.catalog.SnapshotTable.prunedFiles]] via
  * [[graft.catalog.GraftBatchScan]] — min/max bounds, Bloom sidecars,
  * bucket-transform partition values all apply, the same machinery
  * `readKeysIn` probes).
  *
  * Spark's own runtime group filtering
  * (`RowLevelOperationRuntimeGroupFiltering`) covers only GROUP-based
  * operations (`ReplaceData`); delta-based writes (`WriteDelta`) get
  * nothing. So the rule reads the source's join keys during
  * optimization:
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
  * predicate (file skipping on range-clustered targets). The probe
  * runs the source plan one extra time, so the rule is gated on the
  * source's estimated size (driver-resident sources too); a CDC-shaped
  * merge (small source, huge target) is exactly where both the probe
  * is cheap and the pruning pays at 100 TB.
  *
  * ## When the pushdown is sound
  *
  * A target row can produce a delta only if some source row matches it
  * through the merge join. Restricting the target scan to rows that
  * COULD match is semantics-preserving iff unmatched target rows
  * produce no delta, i.e. the MERGE has no NOT MATCHED BY SOURCE
  * clauses — visible in the rewritten plan's join type: Inner
  * (matched-only) or RightOuter with the target on the left (inserts
  * present) are safe; LeftOuter/FullOuter (NOT MATCHED BY SOURCE
  * present) are NOT, and the rule leaves them untouched. From the ON
  * condition it uses only top-level `t.col = <source expr>` EQUALITY
  * conjuncts (each conjunct is independently sound: every matched row
  * satisfies all of them). Null-safe equality (`<=>`) is skipped —
  * NULL keys match under it, and `IN`/range predicates drop NULLs.
  * Non-deterministic or streaming sources are skipped (the probe
  * would observe different rows than the join). The injected filter
  * also drops target rows with NULL keys — sound, because `=` never
  * matches NULL and unmatched rows emit nothing under the allowed
  * join types.
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
    case wd: WriteDelta if wd.getTagValue(Attempted).isEmpty =>
      // one attempt per statement, even on bail-out — the rule sits in
      // a fixed-point batch and the probe must not run twice
      wd.setTagValue(Attempted, true)
      try tryPrune(wd).getOrElse(wd)
      catch { case NonFatal(_) => wd }
  }

  private def tryPrune(wd: WriteDelta): Option[LogicalPlan] = {
    val join = wd.query match {
      case m: MergeRows => m.child match {
        case j: Join => j
        case Project(_, j: Join) => j
        case _ => return None
      }
      case _ => return None // UPDATE/DELETE: static predicates already push
    }
    // the row-level scan relation lives on the TARGET side of the
    // rewritten merge join (Spark puts the target left)
    val targetRel = join.left.collectFirst {
      case r: DataSourceV2Relation if RowLevelBridge.operationOf(r.table)
        .exists(_.isInstanceOf[GraftRowLevelOperation]) => r
    }.getOrElse(return None)
    val op = RowLevelBridge.operationOf(targetRel.table).get
      .asInstanceOf[GraftRowLevelOperation]

    // sound only when unmatched target rows emit no delta (no NOT
    // MATCHED BY SOURCE): Inner or RightOuter-with-target-left
    if (!(join.joinType == Inner || join.joinType == RightOuter))
      return None

    if (op.baseFileCount <= 1) return None // nothing to skip
    val props = op.baseProperties
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
    // relations, range(), cached relations, and graft snapshot reads
    // (manifest-committed, at-most-snapshot-read caveat per ADVICE).
    // `graft.merge.source-prune.assume-stable-source=true` opts an
    // external-but-known-quiescent source back in.
    val assumeStable = props.getOrElse(
      "graft.merge.source-prune.assume-stable-source", "false") == "true"
    val stableData = assumeStable || source.collectLeaves().forall {
      case _: LocalRelation | _: Range | _: OneRowRelation => true
      case _: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        true
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
    val newLeft = join.left.transformUp {
      case r: DataSourceV2Relation if r eq targetRel => Filter(pred, r)
    }
    val newQuery = wd.query match {
      case m: MergeRows => m.withNewChildren(Seq(m.child match {
        case j: Join => j.copy(left = newLeft)
        case p @ Project(_, j: Join) =>
          p.copy(child = j.copy(left = newLeft))
        case other => other
      }))
      case other => other
    }
    logInfo(s"graft MERGE source-prune on ${op.v2Table.name()}: " +
      s"${ks.rows} source rows -> ${pred.sql.take(200)}")
    Some(WriteDelta(wd.table, wd.condition, newQuery, wd.originalTable,
      wd.projections, wd.write))
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
  /** Set once per WriteDelta statement — the probe must not re-run on
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
