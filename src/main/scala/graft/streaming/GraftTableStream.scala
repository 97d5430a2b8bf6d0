package graft.streaming

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType

import graft.catalog.{DataFileEntry, GraftBatchScan, Snapshot, SnapshotTable}

/** One consumed table version: offset `v` means "every commit through
  * version v is fully delivered" — the same one-offset-per-version
  * discipline as the CDC source, so checkpoint recovery replays
  * exactly the undelivered versions.
  */
final case class GraftStreamOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

/** DSv2 micro-batch streaming read of a snapshot catalog table —
  * `spark.readStream.table("graft.db.t")` tails APPEND commits
  * (Iceberg's incremental streaming read). Each trigger reads exactly
  * the data files the versions in `(start, end]` appended: metadata-
  * planned from the manifests, zero scan of pre-existing data at any
  * table size, split to `maxSplitBytes` like every other read.
  *
  * Appends-only is a CONTRACT, not an assumption: every version in
  * range is checked STRUCTURALLY (files removed, delete vectors or
  * equality deletes committed — operation strings are messages, never
  * the test), and a row-changing commit fails the stream by default.
  * A consumer fed appends-only must not silently miss retractions —
  * the CDC source (`format("graft").option("changesFrom", …)`) is the
  * retraction-aware surface. `.option("skipNonAppends", "true")` opts
  * into skipping such versions wholesale (their staged files are
  * REWRITES of surviving rows — emitting them would duplicate), the
  * Iceberg `streaming-skip-*` posture.
  *
  * Options: `streamFrom` = first version whose files stream
  * (`earliest` = from the first commit; default = only commits after
  * the query starts). Spark plans micro-batches without pushdown, so
  * a filter over the stream applies above the scan to every appended
  * row.
  *
  * Schema evolution — the column set is PINNED to the snapshot
  * published when the stream is built, and each batch plans its
  * appended files as one [[GraftBatchScan]] over a read view of that
  * snapshot ([[SnapshotTable.readView]]). Files on EITHER side of an
  * evolution therefore resolve by FIELD ID exactly as a batch read
  * does: renames follow the id (top-level and nested), widened values
  * upcast in the reader, a column the file predates null-fills or
  * surfaces its recorded INITIAL DEFAULT, and a dropped-and-re-added
  * column never surfaces the dropped column's values. Columns added
  * after query start are ignored until restart — the CDC source's
  * fixed-schema-per-run contract.
  */
final class GraftTableStream(
    table: SnapshotTable,
    tableSchema: StructType,
    required: StructType,
    streamFrom: Option[Long],
    skipNonAppends: Boolean,
    maxVersionsPerTrigger: Option[Long] = None,
    maxFilesPerTrigger: Option[Int] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def head: Long = table.publishedSnapshot().version

  /** The snapshot published at stream construction (query start or
    * restart), whose field ids every batch reads through — None when
    * an evolution raced between analysis and construction (the
    * analyzed columns no longer match its ids; reads then refuse).
    */
  private val pinned: Option[Snapshot] = {
    val pub = table.publishedSnapshot()
    Option.when(SnapshotTable.sameColumns(pub.schema, tableSchema))(pub)
  }

  /** Per-version appended-file counts, memoized so capped admission
    * ([[latestOffset]]) doesn't re-parse the same pending versions'
    * manifests every trigger — O(new versions) amortized instead of
    * O(backlog × manifest) per trigger. Entries at or below the
    * consumed offset are pruned each call. Trigger-thread-only state
    * (Spark serializes offset/plan calls per stream).
    */
  private val addedFileCounts =
    scala.collection.mutable.HashMap.empty[Long, Long]

  /** The last version whose file-path set [[planInputPartitions]]
    * materialized — consecutive versions use it as the parent set, so
    * a batch over versions (s, e] loads each manifest ONCE instead of
    * once as itself and once as its successor's parent.
    */
  @volatile private var lastPathSet: Option[(Long, Set[String])] = None

  override def initialOffset(): Offset =
    GraftStreamOffset(streamFrom.map(v => math.max(0L, v - 1)).getOrElse(head))

  override def latestOffset(): Offset = GraftStreamOffset(head)

  // ---- admission control: a 100 TB backfill drains in BOUNDED
  // batches (maxVersionsPerTrigger / maxFilesPerTrigger), and
  // Trigger.AvailableNow fences at query start, drains the whole
  // backlog in capped batches and terminates on its own — the cron'd
  // catch-up shape, same contract the CDC source pins.

  private var fence: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = { fence = Some(head) }

  override def getDefaultReadLimit: ReadLimit = {
    val ls = Seq(
      maxFilesPerTrigger.map(ReadLimit.maxFiles),
      maxVersionsPerTrigger.map(ReadLimit.maxRows)).flatten
    ls match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def reportLatestOffset(): Offset = GraftStreamOffset(head)

  /** Advance from `start` by at most the configured caps (an explicit
    * `ReadAllAvailable` — Trigger.Once — ignores them), never past the
    * AvailableNow fence. Always admits at least one version when any
    * is pending, so a single commit larger than maxFilesPerTrigger
    * still progresses; a version counts toward the file cap with the
    * files it appends (a skipped row-changing version appends none).
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftStreamOffset].v
    val bound = fence.map(math.min(_, head)).getOrElse(head)
    val uncapped = limit
      .isInstanceOf[org.apache.spark.sql.connector.read.streaming.ReadAllAvailable]
    if (uncapped || (maxVersionsPerTrigger.isEmpty && maxFilesPerTrigger.isEmpty))
      return GraftStreamOffset(bound)
    var v = s
    var files = 0L
    var versions = 0L
    var done = false
    addedFileCounts.filterInPlace((ver, _) => ver > s)
    while (!done && v < bound) {
      val added = addedFileCounts.getOrElseUpdate(v + 1,
        table.snapshotAt(v + 1).files.count(_.seq == v + 1).toLong)
      val over =
        maxVersionsPerTrigger.exists(versions + 1 > _) ||
        maxFilesPerTrigger.exists(files + added > _)
      if (over && versions > 0) done = true
      else { v += 1; versions += 1; files += added }
    }
    GraftStreamOffset(v)
  }

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset(json.trim.toLong)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** The scan of the last planned batch, keyed by its offsets: Spark
    * asks for the reader factory after the partitions, and plans the
    * same batch again on copies of its scan node.
    */
  private var planned: Option[((Long, Long), GraftBatchScan)] = None

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val range = (start.asInstanceOf[GraftStreamOffset].v,
      end.asInstanceOf[GraftStreamOffset].v)
    if (!planned.exists(_._1 == range))
      planned = Some(range -> scanOf(range._1, range._2))
    planned.get._2.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    planned.map(_._2).getOrElse(scanOver(Nil)).createReaderFactory()

  /** One scan over the files the versions in `(s, e]` appended. */
  private def scanOf(s: Long, e: Long): GraftBatchScan = {
    val appended = Seq.newBuilder[DataFileEntry]
    // consecutive versions reuse the previous iteration's path set as
    // the parent set (and the cache carries it across triggers), so
    // each manifest in the range loads once — not once as itself plus
    // once as its successor's parent
    var prevPaths = lastPathSet
    ((s + 1) to e).foreach { v =>
      val snap = table.snapshotAt(v)
      val parentPaths = snap.parent match {
        case Some(p) if prevPaths.exists(_._1 == p) => prevPaths.get._2
        case Some(p) => table.snapshotAt(p).files.map(_.path).toSet
        case None => Set.empty[String]
      }
      val snapPaths = snap.files.map(_.path).toSet
      prevPaths = Some((v, snapPaths))
      val rowChanging = parentPaths.exists(!snapPaths.contains(_)) ||
        snap.dvFiles.exists(_.seq == v) ||
        snap.deleteFiles.exists(_.seq == v)
      if (rowChanging) {
        if (!skipNonAppends) throw new IllegalStateException(
          s"streaming read of ${table.root}: version $v is a row-" +
            s"changing commit (${snap.operation}) — an appends-only " +
            "stream cannot represent it. Use the change-feed table " +
            "(readStream.table(\"graft.db.`t#changes`\")) or the CDC " +
            "source (format(\"graft\").option(\"changesFrom\", …)) for " +
            "retractions, or .option(\"skipNonAppends\", \"true\") to " +
            "skip such commits wholesale")
        // skipped: its staged files are rewrites of surviving rows
      } else {
        val added = GraftTableStream.appendedBy(snap)
        if (added.nonEmpty && pinned.isEmpty)
          throw new IllegalStateException(
            s"streaming read of ${table.root}: version $v lies across a " +
              "schema-evolution boundary the pinned query schema cannot " +
              "represent (the table evolved between query analysis and " +
              "stream start, so the analyzed columns have no field ids). " +
              "Restart the query, or read through the change-feed table " +
              "(readStream.table(\"graft.db.`t#changes`\"))")
        appended ++= added
      }
    }
    lastPathSet = prevPaths
    scanOver(appended.result())
  }

  private def scanOver(files: Seq[DataFileEntry]): GraftBatchScan = {
    val snap = pinned.getOrElse(table.publishedSnapshot())
    GraftBatchScan.ofView(table,
      SnapshotTable.readView(snap, files, snap, raw = true), required)
  }
}

object GraftTableStream {

  /** The entries version `snap` appended. Legacy ones (no recorded ids)
    * carry the ids of that version, the columns they were written under.
    */
  private[streaming] def appendedBy(snap: Snapshot): Seq[DataFileEntry] =
    snap.files.filter(_.seq == snap.version).map(f =>
      if (f.cols.isEmpty) f.copy(cols = snap.ids, nested = snap.nestedIds)
      else f)
}
