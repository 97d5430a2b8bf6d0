package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.graftbridge.ParquetReadBridge
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.{DataFileEntry, GraftBatchScan, GraftPartitionReaderFactory, Snapshot, SnapshotTable}

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
  * fixed-schema-per-run contract). A blind-append range is read
  * directly: its appended files plan as one [[GraftBatchScan]] over a
  * read view of the snapshot published at stream construction, the
  * table tail's field-id read ([[GraftTableStream]]), with
  * `_change_type = 'insert'` prepended.
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

  /** The table columns of the pinned change schema (everything after
    * the leading `_change_type`).
    */
  private val dataSchema = StructType(pinned.fields.drop(1))

  /** The requested table columns (pruned projection minus
    * `_change_type`) — what direct partitions must surface.
    */
  private val directRequired = StructType(
    required.fields.filterNot(_.name == "_change_type"))

  /** The snapshot published at stream construction, whose field ids
    * direct reads resolve through; None when the table evolved between
    * analysis and construction (such runs stage every range — correct,
    * just not direct).
    */
  private val pinnedSnap: Option[Snapshot] = {
    val pub = table.publishedSnapshot()
    Option.when(SnapshotTable.sameColumns(pub.schema, dataSchema))(pub)
  }

  /** Direct-serve plan for a pure blind-append range: the appended
    * files themselves, read under the table columns with
    * `_change_type = 'insert'` synthesized per row — the COMMON case
    * (steady-state ingest) never write-amplifies the feed through the
    * checkpoint. Versions on either side of a schema EVOLUTION serve
    * directly too: the scan resolves every file by field id. None when
    * any version in range is row-changing (staging conforms the diff)
    * or is expired (staging serves the catch-up diff between living
    * endpoints). Structural checks, never operation strings. Replays
    * re-read the table files; a file
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
      fs: org.apache.hadoop.fs.FileSystem): Option[Seq[DataFileEntry]] = {
    val out = Seq.newBuilder[DataFileEntry]
    var prev: Option[(Long, Set[String])] = None
    var v = s + 1
    while (v <= e) {
      val snap =
        try table.snapshotAt(v)
        catch { case scala.util.control.NonFatal(_) => return None }
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
      val added = GraftTableStream.appendedBy(snap)
      // legacy entries (no recorded size) need a stat; a missing file
      // here must fall back to staging, never throw out of planning
      if (added.exists(f => f.bytes <= 0L && !fs.exists(
          new Path(table.root, f.path)))) return None
      out ++= added
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

  /** The last planned batch, keyed by its offsets: the direct scan of
    * a blind-append range, or None for a staged batch. Spark asks for
    * the reader factory after the partitions, and plans the same batch
    * again on copies of its scan node.
    */
  private var planned: Option[((Long, Long), Option[GraftBatchScan])] = None

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset].v
    val e = end.asInstanceOf[GraftStreamOffset].v
    val fs = stageRoot.getFileSystem(
      table.session.sessionState.newHadoopConf())
    if (!planned.exists(_._1 == (s, e))) {
      // row-changing / expired ranges, and runs whose pinned ids are
      // unavailable, stage
      val direct = pinnedSnap.filter(_ => directEligible).flatMap(p =>
        directAppendFiles(s, e, fs).map(files => GraftBatchScan.ofView(
          table, SnapshotTable.readView(p, files, p, raw = true),
          directRequired)))
      planned = Some((s, e) -> direct)
    }
    planned.get._2 match {
      case Some(scan) => scan.planInputPartitions()
      case None => stagedPartitions(s, e, fs)
    }
  }

  /** Stage `changes(s, e]` once under the checkpoint and plan its files. */
  private def stagedPartitions(s: Long, e: Long,
      fs: org.apache.hadoop.fs.FileSystem): Array[InputPartition] = {
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

  /** The direct scan's own factory, `_change_type` prepended when
    * projected; a staged batch reads its parquet files plainly.
    */
  override def createReaderFactory(): PartitionReaderFactory =
    planned.flatMap(_._2) match {
      case Some(scan) =>
        val direct = scan.createReaderFactory()
        if (required.fieldNames.contains("_change_type"))
          InsertChangeReaderFactory(direct)
        else direct
      case None => StagedChangeReaderFactory(ParquetReadBridge.readFunction(
        table.session, pinned, required, Nil))
    }

  override def toString: String =
    s"GraftChangesTableStream[${table.root}]"
}

final case class GraftStreamInputPartition(
    splits: Array[(String, Long, Long)]) extends InputPartition

/** Micro-batch split planner for staged change batches: byte-range
  * splits to the session's `maxSplitBytes` target, largest-first
  * bin-packing with the configured open cost — the same planning as
  * every batch read.
  */
private[streaming] object StreamSplits {
  def plan(spark: org.apache.spark.sql.SparkSession,
      sized: Seq[(String, Long)]): Array[InputPartition] = {
    val target = ParquetReadBridge.maxSplitBytes(spark,
      sized.iterator.map(_._2).sum, sized.size)
    val openCost = ParquetReadBridge.openCostInBytes(spark)
    val splits = sized.flatMap { case (path, len) =>
      (0L until len by target).map(off =>
        (path, off, math.min(target, len - off)))
    }.sortBy(-_._3)
    val bins = Array.newBuilder[InputPartition]
    val cur = Seq.newBuilder[(String, Long, Long)]
    var curBytes = 0L
    var curN = 0
    def flush(): Unit = if (curN > 0) {
      bins += GraftStreamInputPartition(cur.result().toArray)
      cur.clear(); curBytes = 0L; curN = 0
    }
    splits.foreach { sp =>
      if (curN > 0 && curBytes + sp._3 + openCost > target) flush()
      cur += sp; curBytes += sp._3 + openCost; curN += 1
    }
    flush()
    bins.result()
  }
}

/** Reader for a STAGED change batch: the full pinned change schema on
  * disk, read under the pruned projection.
  */
final case class StagedChangeReaderFactory(
    read: PartitionedFile => Iterator[InternalRow])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val it = p.asInstanceOf[GraftStreamInputPartition].splits.iterator
      .flatMap { case (path, off, len) =>
        read(ParquetReadBridge.split(path, off, len))
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

/** A direct blind-append batch: the scan's reader, row or columnar as
  * the scan chose, with `_change_type = 'insert'` prepended to every
  * row or batch.
  */
final case class InsertChangeReaderFactory(scan: PartitionReaderFactory)
    extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean =
    scan.supportColumnarReads(p)

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val r = scan.createReader(p)
    new PartitionReader[InternalRow] {
      private val tag = new GenericInternalRow(
        Array[Any](UTF8String.fromString("insert")))
      private val row = new JoinedRow
      override def next(): Boolean = r.next()
      override def get(): InternalRow = row(tag, r.get())
      override def close(): Unit = r.close()
    }
  }

  override def createColumnarReader(
      p: InputPartition): PartitionReader[ColumnarBatch] = {
    val r = scan.createColumnarReader(p)
    new PartitionReader[ColumnarBatch] {
      override def next(): Boolean = r.next()
      override def get(): ColumnarBatch = {
        val b = r.get()
        new ColumnarBatch(
          GraftPartitionReaderFactory.constVector(b.numRows(), StringType,
            UTF8String.fromString("insert")) +:
            Array.tabulate(b.numCols())(b.column),
          b.numRows())
      }
      override def close(): Unit = r.close()
    }
  }
}
