package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

/** DSv2 streaming write into a snapshot catalog table —
  * `df.writeStream.toTable("graft.db.t")` (TableCapability
  * .STREAMING_WRITE): executors stream rows straight into staged
  * parquet via the SAME partition-routing writer the delta operations
  * use ([[GraftDeltaWriter]] — one open file per partition run,
  * bounded memory, hidden-partition directories identical to a batch
  * write's), and each epoch commits ONE atomic snapshot adopting
  * exactly the files its commit messages name
  * ([[SnapshotTable.adoptStreamBatch]]). Exactly-once: the epoch id
  * records under a per-query table property, replays no-op, and a
  * commit that loses every retry THROWS so the streaming checkpoint
  * can never advance past lost data. Unlike the V1 sink
  * ([[graft.sources.GraftDataSource]] `createSink`), no micro-batch
  * DataFrame ever materializes driver-side — the write is
  * executor-parallel end to end, the 100 TB ingest shape.
  */
final class GraftStreamingWrite(
    table: SnapshotTable,
    writeSchema: StructType,
    queryId: String,
    maintainEvery: Option[Long] = None) extends StreamingWrite {

  // one staging dir per query instance; adopted file lists are
  // explicit, so a crashed epoch's leftovers are inert until
  // removeOrphanFiles reclaims them
  private val dataRel = GraftDeltaWriterFactory.freshRel()

  private val epochKey = s"${SnapshotTable.StreamBatchProp}.$queryId"

  // the snapshot this query PLANNED against, captured ONCE: the
  // partition expression binds to it, and every epoch commit validates
  // the live table against the same plan — an evolution landing
  // between query start and any commit conflicts instead of
  // mislabeling executor-staged files
  private val planned = table.publishedSnapshot()

  // the writeSchema (Spark's analyzed query output) must match the
  // planned snapshot's shape: a schema evolution committing between
  // analysis-time table load and THIS construction would otherwise
  // stage files under the stale writeSchema while adoptStreamBatch
  // labels them with planned.schema's ids — and the commit-time check
  // (latest vs planned, both post-evolution) would pass, silently
  // adopting mislabeled files
  if (!SnapshotTable.sameColumns(writeSchema, planned.schema))
    throw new SnapshotConflictException(
      s"table at ${table.root} evolved its schema between query " +
        "analysis and write construction — restart the query to replan")

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    // the delta writers' own factory (partition transform bound as the
    // delta write binds it), used insert-only: DataWriter.write =
    // insert; file names get a fresh uuid per open, so epochs and
    // retried attempts never collide in the shared dir
    val writers = GraftDeltaWriterFactory(table, planned, dataRel, dataRel,
      writeSchema)
    new StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long,
          epochId: Long): DataWriter[InternalRow] =
        writers.createWriter(partitionId, taskId)
    }
  }

  // ---- background auto-maintenance (single-flight): a large
  // compaction must never stall the stream for its full duration, so
  // the maintenance cycle runs on a daemon thread and epoch commits
  // only CHECK its outcome. Injectable for the stall-free spec pin.
  private val maintenanceRunning =
    new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile private var maintenanceFailure: Option[Throwable] = None
  private[graft] var maintenanceRunner: () => Unit = () => table.maintain()
  private[graft] def pendingMaintenanceFailure: Option[Throwable] =
    maintenanceFailure

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    // a PREVIOUS cycle's non-conflict failure surfaces here, failing
    // the query one epoch later: hiding a misconfigured layout would
    // silently stop compaction forever. (The failed epoch's data is
    // already durable; the replayed epoch no-ops and re-raises until
    // the configuration is fixed or the restart's fresh cycle passes.)
    maintenanceFailure.foreach { e =>
      maintenanceFailure = None
      throw new IllegalStateException(
        s"streaming maintenance of ${table.root} failed — fix the " +
          "table's maintenance configuration (the stream's epochs are " +
          "committed; data is not at risk)", e)
    }
    val entries = messages.toSeq
      .collect { case m: GraftDeltaCommit => m.entries }.flatten
    val adopted = table.adoptStreamBatch(epochKey, epochId, planned, entries)
    // streaming ingest accretes small files — `.option("maintainEvery",
    // n)` runs the table's own threshold-driven maintenance (compaction
    // / vector rewrite / vacuum per its TBLPROPERTIES) every n epochs,
    // AFTER the epoch committed (exactly-once is already durable; a
    // replayed epoch skips both), on a BACKGROUND daemon thread so a
    // long compaction never delays the next epoch. Single-flight: a
    // cycle still running when the next trigger fires is skipped, not
    // queued. A maintenance race with another writer is expendable —
    // the next cycle retries.
    if (adopted.isDefined)
      maintainEvery.filter(n => epochId > 0 && epochId % n == 0)
        .foreach { _ =>
          if (maintenanceRunning.compareAndSet(false, true)) {
            val th = new Thread(() => {
              try maintenanceRunner()
              catch {
                case _: SnapshotConflictException => ()
                case scala.util.control.NonFatal(e) =>
                  maintenanceFailure = Some(e)
              } finally maintenanceRunning.set(false)
            }, s"graft-stream-maintain-$queryId")
            th.setDaemon(true)
            th.start()
          }
        }
    ()
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    // best-effort: drop the named files; the explicit adopt list makes
    // anything that survives inert, removeOrphanFiles reclaims it
    val fs = table.root.getFileSystem(
      table.session.sessionState.newHadoopConf())
    messages.toSeq.collect { case m: GraftDeltaCommit => m.dataFiles }
      .flatten.foreach { rel =>
        try {
          fs.delete(new Path(table.root, rel), false)
          ()
        } catch { case _: java.io.IOException => }
      }
  }
}
