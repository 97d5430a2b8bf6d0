package org.apache.spark.sql.graftbridge

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** EXECUTOR-side parquet READING for the native DSv2 batch scan
  * ([[graft.catalog.GraftBatchScan]]) — the inverse of
  * [[ParquetWriteBridge]]: reuse Spark's own
  * `ParquetFileFormat.buildReaderWithPartitionValues`, whose returned
  * function is designed to ship into tasks (it closes over a broadcast
  * Hadoop conf and registers its record-reader cleanup on the task
  * completion listener), decodes with the SAME vectorized reader,
  * timestamp rebase rules, and schema conversion every graft
  * DataFrame read uses, and applies the pushed filters as parquet
  * row-group/page skips.
  *
  * `OPTION_RETURNING_BATCH=false` keeps the vectorized decode but
  * yields `InternalRow`s (the rows of the reused columnar batch) — the
  * DSv2 `PartitionReader[InternalRow]` contract.
  *
  * Cost: every function this bridge returns closes over its OWN
  * broadcast of the full session Hadoop conf (about 1 100 entries,
  * Java-serialized per build) — 10–16 ms of planning time per reader,
  * measured on a 4-vCPU Xeon VM, whether or not any task runs it.
  * Callers must build only the readers some split will actually run;
  * [[supportsColumnar]] answers the row-vs-columnar question without
  * building one. [[graft.catalog.GraftBatchScan]] builds per scan only
  * the readers its reachable files need; the micro-batch streams plan
  * their appended files through it too, and only a staged change-feed
  * batch ([[graft.streaming.GraftChangesTableStream]]) builds a reader
  * of its own.
  *
  * Private-API note: `ParquetFileFormat` / `PartitionedFile` are
  * `org.apache.spark.sql.execution` internals, hence this bridge in
  * the `org.apache.spark.sql` namespace — same discipline as the
  * sibling bridges (smallest possible surface, no behavior).
  */
object ParquetReadBridge {

  /** Driver-side: a serializable per-file read function. */
  def readFunction(spark: SparkSession, dataSchema: StructType,
      requiredSchema: StructType, filters: Seq[Filter])
      : PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(
      sparkSession = spark,
      dataSchema = dataSchema,
      partitionSchema = StructType(Nil),
      requiredSchema = requiredSchema,
      filters = filters,
      options = Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      hadoopConf = spark.sessionState.newHadoopConf())

  /** COLUMNAR variant: `None` when the projection cannot be read
    * vectorized-batch-wise (nested types, vectorization disabled) —
    * the caller then uses [[readFunction]]'s row contract. When
    * `Some`, the per-file function yields whole `ColumnarBatch`es
    * (`OPTION_RETURNING_BATCH=true`; the iterator's static
    * `InternalRow` element type is a known fiction of the
    * `FileFormat` API — Spark's own `FileScanRDD` performs the same
    * cast).
    */
  def columnarReadFunction(spark: SparkSession, dataSchema: StructType,
      requiredSchema: StructType, filters: Seq[Filter])
      : Option[PartitionedFile => Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]] = {
    if (!supportsColumnar(spark, requiredSchema, withRowIndex = false)) None
    else {
      val f = new ParquetFileFormat().buildReaderWithPartitionValues(
        sparkSession = spark,
        dataSchema = dataSchema,
        partitionSchema = StructType(Nil),
        requiredSchema = requiredSchema,
        filters = filters,
        options = Map(FileFormat.OPTION_RETURNING_BATCH -> "true"),
        hadoopConf = spark.sessionState.newHadoopConf())
      Some(pf => f(pf)
        .asInstanceOf[Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]])
    }
  }

  /** Whether [[columnarReadFunction]] (or, with `withRowIndex`,
    * [[columnarRowIndexReadFunction]]) would return `Some` for this
    * projection — Spark's own `supportBatch` answer, probed WITHOUT
    * building (and broadcasting) a reader.
    */
  def supportsColumnar(spark: SparkSession, requiredSchema: StructType,
      withRowIndex: Boolean): Boolean =
    new ParquetFileFormat().supportBatch(spark,
      if (withRowIndex) StructType(requiredSchema.fields :+ rowIndexField)
      else requiredSchema)

  /** [[readFunction]] with Spark's parquet ROW-INDEX column appended
    * as the LAST field of every row: the reader recognizes the
    * temporary column name and fills it with the row's ordinal within
    * the WHOLE file, computed from row-group metadata — correct under
    * byte-range splits and row-group skipping alike (the same
    * machinery behind `_metadata.row_index`). This is the seam that
    * lets a merge-on-read scan apply positional delete vectors
    * NATIVELY: mask rows whose (file, ordinal) is deleted, project
    * the ordinal back off.
    */
  /** The temporary row-index field the parquet reader recognizes and
    * generates (nullable so the missing-in-file check passes; the
    * generator overwrites the column with real ordinals).
    */
  private def rowIndexField: org.apache.spark.sql.types.StructField =
    org.apache.spark.sql.types.StructField(
      ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
      org.apache.spark.sql.types.LongType, nullable = true)

  def rowIndexReadFunction(spark: SparkSession, dataSchema: StructType,
      requiredSchema: StructType, filters: Seq[Filter])
      : PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(
      sparkSession = spark,
      dataSchema = dataSchema,
      partitionSchema = StructType(Nil),
      requiredSchema = StructType(requiredSchema.fields :+ rowIndexField),
      filters = filters,
      options = Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      hadoopConf = spark.sessionState.newHadoopConf())

  /** [[columnarReadFunction]] with the row-index column appended LAST
    * in every batch — the columnar flavor of [[rowIndexReadFunction]],
    * feeding the selection-masked merge-on-read batch reads.
    */
  def columnarRowIndexReadFunction(spark: SparkSession,
      dataSchema: StructType, requiredSchema: StructType,
      filters: Seq[Filter])
      : Option[PartitionedFile => Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]] =
    columnarReadFunction(spark, dataSchema,
      StructType(requiredSchema.fields :+ rowIndexField), filters)

  /** Report the split a task reads to `input_file_name()` — what
    * Spark's own `FilePartitionReader` sets per file (the URL-encoded
    * path); [[unsetInputFile]] clears it when the reader closes.
    */
  def setInputFile(path: String, start: Long, length: Long): Unit =
    org.apache.spark.rdd.InputFileBlockHolder.set(
      SparkPath.fromPathString(path).urlEncoded, start, length)

  def unsetInputFile(): Unit =
    org.apache.spark.rdd.InputFileBlockHolder.unset()

  /** One whole-file split (graft data files are written single-split
    * sized by the table's target file size).
    */
  def wholeFile(path: String, length: Long): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path),
      0L, length)

  /** One byte-range split of a parquet file. The vectorized reader
    * keeps exactly the row groups whose MIDPOINT falls inside
    * `[start, start+length)` (Spark's own split discipline), so any
    * byte partition of a file reads every row exactly once.
    */
  def split(path: String, start: Long, length: Long): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path),
      start, length)

  /** Spark's file-scan target split size, the same formula
    * `FilePartition.maxSplitBytes` applies to every DataFrame file
    * scan: `maxPartitionBytes` capped below by `openCostInBytes` and
    * adapted down to `bytes-per-core` when the scan is smaller than
    * (default parallelism × maxPartitionBytes) — so small scans still
    * fan out across the cluster and large scans get bounded,
    * straggler-free tasks.
    */
  def maxSplitBytes(spark: SparkSession, totalBytes: Long,
      fileCount: Int): Long = {
    val conf = spark.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val minPartNum = conf.filesMinPartitionNum
      .getOrElse(spark.sparkContext.defaultParallelism)
    val bytesPerCore =
      (totalBytes + fileCount * openCost) / math.max(1, minPartNum)
    math.min(conf.filesMaxPartitionBytes, math.max(openCost, bytesPerCore))
  }

  /** `spark.sql.files.openCostInBytes` — the per-file packing padding
    * that stops thousands of tiny files from landing in one task.
    */
  def openCostInBytes(spark: SparkSession): Long =
    spark.sessionState.conf.filesOpenCostInBytes
}
