package graft.catalog

import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.graftbridge.ParquetWriteBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** ONE-PASS staged batch write: executors stream rows into parquet
  * files AND compute each file's manifest statistics inline
  * ([[InlineFileStats]]), returning complete [[DataFileEntry]]s to the
  * driver — so a commit never launches the
  * [[SnapshotTable.statsForStaged]] read-back job that re-reads every
  * byte it just wrote (guide §1.2 step 1: remove a whole pass; at
  * 100 TB the read-back is a second full scan of the committed data).
  *
  * Layout parity with the `DataFrame.write.partitionBy` path it
  * replaces:
  *  - partition directories render through Spark's own
  *    `ExternalCatalogUtils.getPartitionPathString` (Hive %XX escaping,
  *    null/empty → `__HIVE_DEFAULT_PARTITION__`) — identical segments,
  *    and runs are keyed by the RENDERED segment so null and empty
  *    string share one file exactly like Spark's dynamic writer;
  *  - the plan sorts within tasks by the partition column first (the
  *    sort `FileFormatWriter` would have inserted), so each task holds
  *    one open writer and produces one file per (task, partition) with
  *    the same row order as before;
  *  - files are written by the SAME `ParquetFileFormat` factory as
  *    every Spark parquet write (same codec, same encodings — the
  *    bytes are ordinary Spark parquet files);
  *  - a retried task's half-written files are never adopted: the
  *    manifest lists exactly the files the SUCCESSFUL attempt returned
  *    (the [[GraftRowLevel]] explicit-file-list discipline; orphans
  *    are inert and reclaimed by `removeOrphanFiles`).
  */
object StagedWrite {

  /** Executes `prepared` (data columns, plus the partition-value
    * string as the LAST column when `partitioned`) and stages its rows
    * under `root/rel`, returning one manifest entry per written file
    * (`seq` = -1 staging sentinel, same as the read-back produced).
    */
  def run(root: Path, rel: String, prepared: DataFrame,
      dataSchema: StructType, partitioned: Boolean, bloom: BloomSpec,
      ndv: NdvSpec): Seq[DataFileEntry] = {
    val spark = prepared.sparkSession
    val (factory, conf) = ParquetWriteBridge.writerFactory(spark, dataSchema)
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    val rootStr = root.toString
    val task = new StagedWriteTask(rootStr, rel, dataSchema, partitioned,
      bloom, ndv, zone, factory, conf)
    prepared.queryExecution.toRdd
      .mapPartitionsWithIndex((pid, it) => task.write(pid, it))
      .collect().toSeq
  }
}

/** The serializable per-task writer (shipped to executors once per
  * staged batch).
  */
private[catalog] final class StagedWriteTask(
    rootStr: String,
    rel: String,
    dataSchema: StructType,
    partitioned: Boolean,
    bloom: BloomSpec,
    ndv: NdvSpec,
    zoneId: String,
    factory: OutputWriterFactory,
    conf: SerializableConfiguration) extends Serializable {

  def write(pid: Int, it: Iterator[InternalRow]): Iterator[DataFileEntry] = {
    if (!it.hasNext) return Iterator.empty
    val fs = new Path(rootStr).getFileSystem(conf.value)
    val nData = dataSchema.length
    // project the data columns out (drops the trailing partition value)
    val dataProj = UnsafeProjection.create(
      dataSchema.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
        BoundReference(i, f.dataType, f.nullable)
      })
    val attempt = Option(TaskContext.get()).map(_.taskAttemptId()).getOrElse(0L)
    val ext = ParquetWriteBridge.fileExtension(factory, conf.value)

    var writer: OutputWriter = null
    var stats: InlineFileStats = null
    var currentSeg: String = null // rendered partition segment ("" = unpartitioned)
    var currentPart: Option[String] = None
    var subPath: String = null
    val out = Seq.newBuilder[DataFileEntry]
    val written = Seq.newBuilder[String] // for best-effort cleanup on failure

    def close(): Unit = if (writer != null) {
      writer.close()
      val len = fs.getFileStatus(
        new Path(new Path(rootStr), s"$rel/$subPath")).getLen
      out += DataFileEntry(s"$rel/$subPath", currentPart, stats.rows,
        stats.finish(), seq = -1L, bytes = len)
      writer = null
      stats = null
    }

    def open(seg: String, part: Option[String]): Unit = {
      val name = f"part-$pid%05d-$attempt-" +
        s"${UUID.randomUUID().toString.replace("-", "").take(8)}$ext"
      subPath = if (seg.isEmpty) name else s"$seg/$name"
      currentSeg = seg
      currentPart = part
      written += s"$rel/$subPath"
      writer = ParquetWriteBridge.newWriter(factory, conf.value,
        new Path(new Path(rootStr), s"$rel/$subPath").toString, dataSchema)
      stats = new InlineFileStats(dataSchema, bloom, ndv, zoneId)
    }

    try {
      while (it.hasNext) {
        val row = it.next()
        val seg =
          if (!partitioned) ""
          else {
            val v = if (row.isNullAt(nData)) null
              else row.getUTF8String(nData).toString
            ExternalCatalogUtils.getPartitionPathString(
              SnapshotTable.PartCol, v)
          }
        if (writer == null || seg != currentSeg) {
          close()
          // the manifest's partition value is the path segment decoded
          // back — null AND empty string both land in (and read back
          // from) the default partition as None
          val part =
            if (!partitioned) None
            else SnapshotTable.decodePartitionValue(
              seg.substring(SnapshotTable.PartCol.length + 1))
          open(seg, part)
        }
        writer.write(dataProj(row))
        stats.update(row)
      }
      close()
    } catch {
      case e: Throwable =>
        // this attempt's files are orphans either way (only returned
        // entries are adopted); reclaim them eagerly, best-effort — a
        // cleanup failure must never replace the task's own error
        try { if (writer != null) writer.close() }
        catch { case NonFatal(_) => }
        written.result().foreach { p =>
          try { fs.delete(new Path(new Path(rootStr), p), false); () }
          catch { case NonFatal(_) => }
        }
        throw e
    }
    out.result().iterator
  }
}
