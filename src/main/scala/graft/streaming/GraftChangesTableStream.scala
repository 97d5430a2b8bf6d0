package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.graftbridge.ParquetReadBridge
import org.apache.spark.sql.types.StructType

import graft.catalog.SnapshotTable

/** CDC change feed of a snapshot catalog table as a DSv2 micro-batch
  * stream — `spark.readStream.table("graft.db.\`t#changes\`")`: where
  * the appends-only tail ([[GraftTableStream]]) FAILS on row-changing
  * commits, this stream delivers them as `_change_type ∈ {insert,
  * delete}` rows (updates = delete+insert pairs), the Delta-CDF read
  * shape already served by the V1 `format("graft")
  * .option("changesFrom", …)` source — unified here onto the catalog
  * table surface so a consumer switches between tail and change feed
  * by table name alone.
  *
  * Offsets are table versions (batch = `changes(s, e]`), with the CDC
  * source's admission discipline: a batch coalesces only a CONTIGUOUS
  * run of same-class commits (blind appends drain on the metadata
  * path; a run of rewriting commits diffs its endpoints once), and
  * `maxVersionsPerTrigger` bounds catch-up batches.
  *
  * Replay determinism: each planned batch is STAGED once under the
  * query's checkpoint (`graft-changes-stage/b_<s>_<e>/`, guarded by
  * the parquet `_SUCCESS` marker) and batches replay from those exact
  * bytes — a restart replays identical rows even if the versions the
  * batch diffed have since been expired or compacted away. Committed
  * batches' staging is GC'd on [[commit]]. Staging is BATCH-sized
  * (the change volume, never the table), the same bound the V1
  * source's in-flight batch carries in memory.
  *
  * The column set is pinned at query start (the analyzed `#changes`
  * schema); later batches conform — added columns are ignored until
  * restart, renamed-away columns null-fill (the V1 source's
  * fixed-schema-per-run contract).
  */
final class GraftChangesTableStream(
    table: SnapshotTable,
    pinned: StructType,
    required: StructType,
    checkpointLocation: String,
    startFrom: Option[Long],
    maxVersionsPerTrigger: Option[Long],
    updateImages: Boolean = false)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  require(maxVersionsPerTrigger.forall(_ >= 1L),
    s"maxVersionsPerTrigger must be >= 1, got $maxVersionsPerTrigger")

  private def head: Long = table.currentVersion()

  private var fence: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = { fence = Some(head) }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def reportLatestOffset(): Offset = GraftStreamOffset(head)

  /** Versions ≤ the initial offset are history the stream does not
    * replay (default: changes only AFTER query start — the CDC
    * source's contract; `changesFrom` = v streams changes after v,
    * `earliest` the full history from the create snapshot). The
    * engine checkpoints this before the first batch plans, so restart
    * never re-resolves it against the live table.
    */
  override def initialOffset(): Offset = {
    val base = startFrom.getOrElse(head)
    require(base == 0L || table.log.versions().contains(base),
      s"changesFrom version $base does not exist at ${table.root} " +
        s"(versions: ${table.log.versions().mkString(", ")})")
    GraftStreamOffset(base)
  }

  override def latestOffset(): Offset = GraftStreamOffset(head)

  /** Same-class contiguous-run coalescing under the version cap — the
    * admission rule both change streams share
    * ([[GraftChangesSource.nextBatchEnd]]).
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftStreamOffset].v
    val bound = fence.map(math.min(_, head)).getOrElse(head)
    GraftStreamOffset(GraftChangesSource.nextBatchEnd(table, s, bound,
      maxVersionsPerTrigger).getOrElse(s))
  }

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset(json.trim.toLong)

  private def stageRoot: Path =
    new Path(checkpointLocation, "graft-changes-stage")

  private def stageDir(s: Long, e: Long): Path =
    new Path(stageRoot, s"b_${s}_$e")

  private def shp(st: StructType) =
    st.fields.toSeq.map(f => (f.name, f.dataType))

  /** The table columns of the pinned change schema (everything after
    * the leading `_change_type`).
    */
  private val dataSchema = StructType(pinned.fields.drop(1))

  /** The requested table columns (pruned projection minus
    * `_change_type`) — what direct partitions must surface.
    */
  private val directRequired = StructType(
    required.fields.filterNot(_.name == "_change_type"))

  /** Pinned FIELD-ID state for evolved direct serving — the tail's
    * discipline ([[GraftTableStream]]): captured at stream
    * construction; None when the table evolved between analysis and
    * construction (such runs stage evolved ranges — correct, just not
    * direct).
    */
  private val pinnedIds: Option[(Seq[(String, Int)], Seq[(String, Int)])] = {
    val pub = table.publishedSnapshot()
    if (shp(pub.schema) == shp(dataSchema))
      Some((pub.ids, pub.nestedIds))
    else None
  }

  // ---- evolved-shape DIRECT reads (r17, VERDICT r16 #8): a blind-
  // append range on the far side of a schema evolution previously fell
  // to the staged diff — one parquet write-amplification of the batch
  // just because the shape differed. The tail's field-id resolution
  // serves it directly: each distinct historical shape registers a
  // physical read schema positionally aligned with [[directRequired]]
  // (renames follow ids, absent columns null-fill under reserved names
  // or surface their recorded initial default). Unresolvable shapes
  // memoize None and stage — the fallback is never an error here.

  private val shapeIdx = scala.collection.mutable.LinkedHashMap
    .empty[(Seq[(String, Int)], Seq[(String, Int)]), Option[Int]]
  private val shapeSchemas = scala.collection.mutable.ArrayBuffer
    .empty[(StructType, Seq[(Int, org.apache.spark.sql.types.DataType, Any)])]

  /** Direct shape index for a version's snapshot: 0 = the pinned
    * shape, k ≥ 1 = the k-th registered evolved shape, None = not
    * directly servable (stage instead).
    */
  private def directShapeFor(vSnap: graft.catalog.Snapshot): Option[Int] = {
    // the pinned fast path needs ID equality, not just shape equality
    // (ADVICE r17): two same-typed columns swapped via renames leave
    // the shape identical while name-based reads would surface the
    // wrong column's data — such versions route through field-id
    // resolution like any other evolved shape
    if (shp(vSnap.schema) == shp(dataSchema) &&
        pinnedIds.exists { case (ids, nested) =>
          vSnap.ids == ids && vSnap.nestedIds == nested
        }) return Some(0)
    shapeIdx.getOrElseUpdate((vSnap.ids, vSnap.nestedIds), {
      pinnedIds.flatMap { case (pinnedSeq, pinnedNested) =>
        EvolvedShapes.resolve(table.session, directRequired, dataSchema,
            pinnedSeq.toMap, pinnedNested, vSnap) match {
          case Left(_) => None // unresolvable: the staged path conforms
          case Right((phys, defaults)) =>
            shapeSchemas += ((phys, defaults))
            Some(shapeSchemas.size)
        }
      }
    })
  }

  /** Direct-serve plan for a pure blind-append range: the appended
    * files themselves, read under the table columns with
    * `_change_type = 'insert'` synthesized per row — the COMMON case
    * (steady-state ingest) never write-amplifies the feed through the
    * checkpoint. Versions on either side of a schema EVOLUTION serve
    * directly too (r17): their shapes register evolved physical read
    * schemas resolved by field id, the tail's discipline. None when
    * any version in range is row-changing (staging conforms the diff),
    * has a shape field ids cannot resolve against the pinned columns
    * (staging conforms), or is expired (staging serves the catch-up
    * diff between living endpoints). Structural checks, never
    * operation strings. Replays re-read the table files; a file
    * compacted AND expired inside a restart gap degrades, not crashes:
    * expiry can only delete a data file once NO live snapshot
    * references it, so a vanished direct file implies the range
    * snapshots are expired too — `snapshotAt` then throws, this
    * returns None, and staging serves the catch-up diff between the
    * living endpoints (or surfaces [[SnapshotTable.changes]]'s guided
    * re-seed error when an endpoint is gone as well). Eagerly staging
    * every direct batch "just in case" would reintroduce the write
    * amplification this path exists to avoid, for a corner the
    * retention invariant already routes to the graceful fallback —
    * deliberately declined (SURVEY §19.8 #4).
    */
  private def directAppendFiles(s: Long, e: Long,
      fs: org.apache.hadoop.fs.FileSystem): Option[Seq[(String, Long, Int)]] = {
    val out = Seq.newBuilder[(String, Long, Int)]
    var prev: Option[(Long, Set[String])] = None
    var v = s + 1
    while (v <= e) {
      val snap =
        try table.snapshotAt(v)
        catch { case scala.util.control.NonFatal(_) => return None }
      // 0 = pinned shape; k ≥ 1 = registered evolved shape (field-id
      // resolution); None = unresolvable → the staged path conforms
      val k = directShapeFor(snap) match {
        case Some(x) => x
        case None => return None
      }
      val parentPaths = snap.parent match {
        case Some(p) if prev.exists(_._1 == p) => prev.get._2
        case Some(p) =>
          (try table.snapshotAt(p)
           catch { case scala.util.control.NonFatal(_) => return None })
            .files.map(_.path).toSet
        case None => Set.empty[String]
      }
      val paths = snap.files.map(_.path).toSet
      if (snap.dvFiles.exists(_.seq == v) ||
          snap.deleteFiles.exists(_.seq == v) ||
          parentPaths.exists(!paths.contains(_))) return None
      prev = Some((v, paths))
      val added = snap.files.filter(_.seq == v)
      // legacy entries (no recorded size) need a stat; a missing file
      // here must fall back to staging, never throw out of planning
      if (added.exists(f => f.bytes <= 0L && !fs.exists(
          new Path(table.root, f.path)))) return None
      added.foreach { f =>
        val p = new Path(table.root, f.path)
        out += ((fs.makeQualified(p).toString,
          if (f.bytes > 0L) f.bytes else fs.getFileStatus(p).getLen, k))
      }
      v += 1
    }
    Some(out.result())
  }

  // _change_type can only be synthesized positionally when it leads the
  // pruned projection (it leads the pinned schema, and v2 pruning
  // preserves order — belt and braces)
  private def directEligible: Boolean =
    !required.fieldNames.contains("_change_type") ||
      required.fields.head.name == "_change_type"

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset].v
    val e = end.asInstanceOf[GraftStreamOffset].v
    val fs = stageRoot.getFileSystem(
      table.session.sessionState.newHadoopConf())
    if (directEligible) {
      directAppendFiles(s, e, fs) match {
        case Some(tagged) =>
          // partition shape: 0 = staged, 1 = direct pinned, k+1 =
          // direct under evolved shape k. Shape groups plan separately
          // (their reader schemas differ).
          return tagged.groupBy(_._3).toSeq.sortBy(_._1)
            .iterator.flatMap { case (k, grp) =>
              StreamSplits.plan(table.session,
                  grp.map(t => (t._1, t._2)))
                .iterator.map(p => p.asInstanceOf[GraftStreamInputPartition]
                  .copy(shape = k + 1): InputPartition)
            }.toArray
        case None => () // row-changing / unresolvable / expired: stage
      }
    }
    val dir = stageDir(s, e)
    if (!fs.exists(new Path(dir, "_SUCCESS"))) {
      if (fs.exists(dir)) fs.delete(dir, true) // partial prior attempt
      // per-commit labeled feed when opted in — staging makes the
      // labels replay-stable exactly like the two-label diff's rows
      val changes =
        if (updateImages) table.changesCdf(s, e) else table.changes(s, e)
      GraftChangesSource.conform(changes, pinned)
        .write.mode("overwrite").parquet(dir.toString)
    }
    val sized = fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => (fs.makeQualified(st.getPath).toString, st.getLen))
    StreamSplits.plan(table.session, sized)
  }

  /** GC staged batches the checkpoint has committed past — their
    * offsets can never replay.
    */
  override def commit(endOffset: Offset): Unit = {
    val committed = endOffset.asInstanceOf[GraftStreamOffset].v
    val fs = stageRoot.getFileSystem(
      table.session.sessionState.newHadoopConf())
    if (fs.exists(stageRoot)) {
      fs.listStatus(stageRoot).foreach { st =>
        st.getPath.getName.split("_") match {
          case Array("b", _, e) if scala.util.Try(e.toLong).toOption
              .exists(_ <= committed) =>
            fs.delete(st.getPath, true)
            ()
          case _ => ()
        }
      }
    }
  }

  override def stop(): Unit = ()

  override def createReaderFactory(): PartitionReaderFactory = {
    val staged = ParquetReadBridge.readFunction(
      table.session, pinned, required, Nil)
    // direct reads: index 0 = pinned shape (pruned projection); the
    // evolved shapes read their positional-rename physical schemas in
    // full (write-time names differ — no pushed pruning, the
    // projection above conforms)
    val directs = ParquetReadBridge.readFunction(
        table.session, dataSchema, directRequired, Nil) +:
      shapeSchemas.toIndexedSeq.map { case (ss, _) =>
        ParquetReadBridge.readFunction(table.session, ss, ss, Nil)
      }
    GraftChangesReaderFactory(staged, directs,
      Seq.empty +: shapeSchemas.toIndexedSeq.map(_._2), directRequired,
      required.fieldNames.contains("_change_type"))
  }

  override def toString: String =
    s"GraftChangesTableStream[${table.root}]"
}

/** Reader for the change-feed stream: shape 0 partitions read STAGED
  * batches (full pinned change schema on disk); shape k ≥ 1 partitions
  * read appended table files DIRECTLY — k = 1 under the pinned shape,
  * k ≥ 2 under the (k−1)-th registered EVOLVED physical schema — and
  * synthesize `_change_type = 'insert'` per row via an executor-built
  * unsafe projection, substituting recorded initial defaults into
  * absent columns' slots (the reader null-filled them).
  */
final case class GraftChangesReaderFactory(
    staged: org.apache.spark.sql.execution.datasources.PartitionedFile =>
      Iterator[org.apache.spark.sql.catalyst.InternalRow],
    directs: IndexedSeq[
      org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow]],
    defaults: IndexedSeq[
      Seq[(Int, org.apache.spark.sql.types.DataType, Any)]],
    directRequired: StructType,
    prependType: Boolean) extends PartitionReaderFactory {

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.read.PartitionReader

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val sp = p.asInstanceOf[GraftStreamInputPartition]
    val read = if (sp.shape == 0) staged else directs(sp.shape - 1)
    val base = sp.splits.iterator.flatMap { case (path, off, len) =>
      read(ParquetReadBridge.split(path, off, len))
    }
    val defs =
      if (sp.shape >= 1 && sp.shape - 1 < defaults.length)
        defaults(sp.shape - 1)
      else Nil
    val it =
      if (sp.shape == 0 || (!prependType && defs.isEmpty)) base
      else {
        // codegen'd projections build executor-side (not serializable)
        import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, UnsafeProjection}
        val byOrd = defs.map(d => d._1 -> d).toMap
        val body = directRequired.fields.toIndexedSeq.zipWithIndex.map {
          case (f, i) => byOrd.get(i) match {
            case Some((_, dt, v)) => Literal(v, dt)
            case None => BoundReference(i, f.dataType, nullable = true)
          }
        }
        val proj = UnsafeProjection.create(
          if (prependType)
            Literal(org.apache.spark.unsafe.types.UTF8String
              .fromString("insert"),
              org.apache.spark.sql.types.StringType) +: body
          else body)
        base.map(proj)
      }
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { row = it.next(); true } else false
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}
