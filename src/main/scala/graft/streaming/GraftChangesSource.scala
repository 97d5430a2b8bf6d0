package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow, Offset => V2Offset}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.StreamingBridge
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.catalog.SnapshotTable

/** CDC changelog as a STREAMING source — the Delta CDF read shape for
  * [[graft.catalog.SnapshotTable]]:
  *
  * {{{
  *   spark.readStream.format("graft")
  *     .option("changesFrom", 3)        // omitted = current version
  *     .load("/warehouse/events")
  * }}}
  *
  * The stream's offset IS the table version: `getOffset` polls the
  * snapshot log (a driver-side metadata read, no data I/O) and each
  * micro-batch materializes `SnapshotTable.changes(lastSeen, latest)`
  * — `_change_type ∈ {insert, delete}` plus the table columns. A live
  * training pipeline consumes upserts/deletes incrementally without
  * polling versions itself, and restart-safety falls out of the
  * checkpoint log replaying version ranges (`changes` is deterministic
  * for a committed range, and expired intermediates degrade to the
  * catch-up diff path, never wrong results).
  *
  * Batches-per-commit and admission control: by default one trigger
  * drains to the latest version, so commits that land between triggers
  * coalesce into one netted batch — the multiset netting (delete +
  * identical re-append cancels) keeps that coalescing semantically
  * transparent to an upsert consumer. Two bounds keep a CATCH-UP batch
  * (consumer restarting after downtime on a busy table) from being
  * planned unboundedly large — the Delta CDF `maxFilesPerTrigger`
  * analog:
  *
  *  - `maxVersionsPerTrigger` (option, off by default): at most N
  *    commits per micro-batch; a backlog drains in ceil(backlog/N)
  *    batches, each a deterministic committed range.
  *  - **rewriting commits split the range** (always on): a batch never
  *    mixes rewriting commits (upsert/overwrite/compact — the
  *    full-table multiset-diff path) with the blind commits around
  *    them. A blind run drains on the cheap metadata path; a
  *    CONSECUTIVE run of rewrites coalesces into one endpoint-diff
  *    batch (the diff reads only the run's endpoints, so one diff over
  *    k rewrites beats k diffs); then planning resumes. Without the
  *    split, one mid-backlog compaction would drag the whole catch-up
  *    range onto the diff path. Versions expired mid-backlog are gaps
  *    that isolate their sub-range onto the endpoint diff — never an
  *    error while the batch endpoints live.
  *
  * Splitting is net-equivalent to the coalesced batch: concatenating
  * `changes(a,b)` and `changes(b,c)` yields the same applied state as
  * `changes(a,c)` for the keyed-upsert consumer shape this source
  * feeds (a row deleted then re-added appears as a delete batch then an
  * insert batch instead of cancelling, which an idempotent upsert
  * applies identically).
  *
  * The column set is PINNED at stream start (the declared source
  * schema): if the table evolves mid-stream, later batches conform to
  * the pinned columns — added columns are ignored until restart,
  * renamed-away columns null-fill — matching Structured Streaming's
  * fixed-schema-per-run contract rather than failing the query.
  *
  * Restart safety: the resolved base version is persisted under the
  * query's `metadataPath` on FIRST start (atomic create-if-absent,
  * same contract as the snapshot log). Without this, a restarted query
  * whose first batch never committed would re-resolve "current
  * version" against the LIVE table — which may have advanced past the
  * already-planned end offset — and silently skip commits.
  */
final class GraftChangesSource(
    sqlContext: SQLContext,
    root: String,
    startFrom: Option[Long],
    metadataPath: String,
    maxVersionsPerTrigger: Option[Long] = None) extends Source
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  require(maxVersionsPerTrigger.forall(_ >= 1L),
    s"maxVersionsPerTrigger must be >= 1, got $maxVersionsPerTrigger")

  private val spark = sqlContext.sparkSession

  /** Reloaded per call: the snapshot LOG is the stream's upstream, and
    * loads are metadata-sized.
    */
  private def table: SnapshotTable = SnapshotTable.load(spark, root)

  /** Versions ≤ base are history the stream does not replay; the first
    * batch covers (base, firstSeenLatest]. Resolved ONCE per query
    * lifetime via the metadataPath pin (see class scaladoc).
    */
  private val base: Long = {
    val conf = spark.sessionState.newHadoopConf()
    val pin = new org.apache.hadoop.fs.Path(metadataPath, "graft-base")
    val fs = pin.getFileSystem(conf)
    if (fs.exists(pin)) {
      val in = fs.open(pin)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    } else {
      val t = table
      val v = startFrom.getOrElse(t.currentVersion())
      require(t.log.versions().contains(v),
        s"changesFrom version $v does not exist at $root " +
          s"(versions: ${t.log.versions().mkString(", ")})")
      fs.mkdirs(pin.getParent)
      val out = fs.create(pin, false)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
      v
    }
  }

  override val schema: StructType =
    GraftChangesSource.changeSchema(table.schemaAt(None))

  /** High-water mark of batch ends this source has planned or served —
    * the anchor admission control caps against. getBatch raises it on
    * restart recovery (the engine replays checkpointed ranges before
    * ever calling getOffset), so a capped getOffset can never plan an
    * end below what the checkpoint already committed.
    */
  @volatile private var lastPlanned: Long = base

  /** `Trigger.AvailableNow` fence (the FileStreamSource pattern — a V1
    * `Source` mixing in the v2 admission interfaces): the engine calls
    * [[prepareForTriggerAvailableNow]] once at query start; planning
    * then never admits a version beyond the fence, and once the fence
    * is reached [[latestOffset]] returns null — the engine drains the
    * whole backlog in admission-capped batches and terminates. Without
    * this, Spark's "single batch" fallback + `maxVersionsPerTrigger`
    * silently delivered only the FIRST capped batch.
    */
  @volatile private var availableNowFence: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowFence = Some(table.currentVersion())
  }

  /** Admission is version-count based and lives in the planner itself
    * ([[getOffset]]); the engine-level limit stays "all available".
    */
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def reportLatestOffset(): V2Offset =
    LongOffset(table.currentVersion())

  /** The admission-control twin of [[getOffset]] — the engine calls
    * THIS when the source implements [[SupportsAdmissionControl]].
    * `startOffset` is ignored in favor of the internal `lastPlanned`
    * anchor (which restart recovery in [[getBatch]] already advances —
    * the same bookkeeping the legacy path relies on).
    */
  override def latestOffset(startOffset: V2Offset,
      limit: ReadLimit): V2Offset =
    getOffset.orNull

  override def getOffset: Option[Offset] = {
    val t = table
    // an AvailableNow run never plans past its start-time fence
    val latest = availableNowFence
      .fold(t.currentVersion())(math.min(t.currentVersion(), _))
    GraftChangesSource.nextBatchEnd(t, lastPlanned, latest,
        maxVersionsPerTrigger).map { end =>
      lastPlanned = end
      LongOffset(end)
    }
  }

  private def version(o: Offset): Long = o match {
    case LongOffset(v) => v
    case s: SerializedOffset => LongOffset(s).offset
    case other => other.json.trim.toLong
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val fromV = start.map(version).getOrElse(base)
    val toV = version(end)
    // restart recovery replays checkpointed ranges through here before
    // any getOffset call — advance the admission anchor past them
    if (toV > lastPlanned) lastPlanned = toV
    StreamingBridge.asStreaming(sqlContext,
      GraftChangesSource.conform(table.changes(fromV, toV), schema))
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftChangesSource[$root, from=$base]"
}

/** The change-feed planning both change streams share — this V1
  * source and the catalog's [[GraftChangesTableStream]].
  */
object GraftChangesSource {
  /** `_change_type` + the table columns — identical to the batch
    * changelog relation's shape.
    */
  def changeSchema(tableSchema: StructType): StructType =
    StructType(StructField("_change_type", StringType,
      nullable = false) +: tableSchema.fields)

  /** End version of the next change batch after `after`, admitting
    * live versions up to `bound` and at most `maxVersions` of them;
    * None when no live version lies in (after, bound].
    *
    * The batch always admits its first candidate; it EXTENDS only over
    * a contiguous run of SAME-CLASS commits starting right after
    * `after`. Blind runs coalesce (metadata path, O(new files));
    * rewriting runs also coalesce — the diff path reads only the run's
    * ENDPOINTS, so one diff over k rewrites is cheaper than k diffs,
    * and the netting stays maximal. What never happens is a MIXED
    * batch: a rewriting commit must not drag blind neighbors onto the
    * diff path, and vice versa. Expired versions are gone from the log,
    * so they show up as gaps that break contiguity, isolating their
    * sub-range onto the endpoint diff.
    */
  def nextBatchEnd(table: SnapshotTable, after: Long, bound: Long,
      maxVersions: Option[Long]): Option[Long] = {
    if (bound <= after) return None
    val live = table.log.versions().filter(v => v > after && v <= bound)
    if (live.isEmpty) return None
    val capped = maxVersions match {
      case Some(m) => live.take(math.min(m, Int.MaxValue.toLong).toInt)
      case None => live
    }
    def isBlind(v: Long): Boolean =
      table.log.operationOf(v).exists(SnapshotTable.isBlindOp)
    var end = capped.head
    var prev = capped.head
    val headClass = isBlind(capped.head)
    var extending = capped.head == after + 1
    val it = capped.iterator.drop(1)
    while (extending && it.hasNext) {
      val v = it.next()
      if (v == prev + 1 && isBlind(v) == headClass) { end = v; prev = v }
      else extending = false
    }
    Some(end)
  }

  /** `changes` conformed to a stream's pinned `schema`: project the
    * declared columns, null-filling any the evolved table lost. Cast
    * only on a REAL type change — Spark refuses a Cast between types
    * that differ solely in nested nullability (array<float> where
    * containsNull flipped: "cannot cast ARRAY<FLOAT> to ARRAY<FLOAT>"),
    * and a nullability-only difference needs no value conversion.
    */
  def conform(changes: DataFrame, schema: StructType): DataFrame =
    changes.select(schema.fields.toIndexedSeq.map { f =>
      if (changes.columns.contains(f.name)) {
        val c = col(SnapshotTable.quoted(f.name))
        if (changes.schema(f.name).dataType.sql == f.dataType.sql) c.as(f.name)
        else c.cast(f.dataType).as(f.name)
      } else lit(null).cast(f.dataType).as(f.name)
    }: _*)
}
