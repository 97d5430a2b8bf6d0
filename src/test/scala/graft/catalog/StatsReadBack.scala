package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The REFERENCE manifest stats: one SQL aggregate pass over files
  * already on disk, grouped by `input_file_name()`. Main computes
  * every file's stats with [[InlineFileStats]] as its writers stream
  * rows; this read-back is the independent path that proves those
  * stats exact, byte for byte (`InlineStatsSpec`), and builds entries
  * for files a test stages outside the writers (`DeltaConflictSpec`).
  */
object StatsReadBack {

  /** The aggregate columns for one stats pass: for eligible field i,
    * aliases `__min_i`, `__max_i`, `__nulls_i` (positional aliases —
    * immune to hostile field names). Timestamps render as epoch micros
    * so bounds are time-zone-free; everything else renders via cast to
    * string and is re-typed at prune time from the schema.
    */
  def aggColumns(schema: StructType, bloom: BloomSpec = BloomSpec.Off,
      ndv: NdvSpec = NdvSpec.Default): Seq[Column] = {
    val stats = FileStats.eligibleFields(schema).zipWithIndex.flatMap { case (f, i) =>
      val c = col(quoted(f.name))
      val (mn, mx) = f.dataType match {
        case TimestampType =>
          (unix_micros(min(c)).cast("string"),
            unix_micros(max(c)).cast("string"))
        case TimestampNTZType =>
          (date_format(min(c), FileStats.NtzPattern),
            date_format(max(c), FileStats.NtzPattern))
        case StringType =>
          // bound the manifest: never ship multi-KB document bodies
          // into the file list
          (substring(min(c), 1, FileStats.MaxStringBound),
            when(length(max(c)) <= FileStats.MaxStringBound, max(c)))
        case _ =>
          (min(c).cast("string"), max(c).cast("string"))
      }
      Seq(mn.as(s"__min_$i"), mx.as(s"__max_$i"),
        sum(c.isNull.cast("long")).as(s"__nulls_$i"))
    }
    // per-file EXACT sums ride the SAME pass, integral/decimal columns
    // only (float addition is order-dependent — no exact metadata
    // answer exists): folded through decimal(38) so a 10⁸-row file of
    // longs can never wrap, rendered as the decimal string. SQL SUM
    // null semantics are free (sum of an all-NULL file is NULL).
    val sums = summableFields(schema).map { case (f, i) =>
      val c = col(quoted(f.name))
      sum(c.cast(DecimalType(38, sumScale(f.dataType))))
        .cast("string").as(s"__sum_$i")
    }
    // per-file HLL NDV sketches ride the SAME pass (see [[NdvSpec]]):
    // the sketch hashes xxhash64 of the TYPED value — uniform across
    // column types (hll_sketch_agg itself takes only int/long/string/
    // binary), collision-negligible at estimation precision — with
    // NULLs excluded (xxhash64(NULL) would fold them into the seed's
    // hash and count a phantom value)
    val ndvs =
      if (!ndv.enabled) Nil
      else FileStats.eligibleFields(schema).zipWithIndex.map { case (f, i) =>
        val c = col(quoted(f.name))
        hll_sketch_agg(when(c.isNotNull, xxhash64(c)), ndv.lgk)
          .as(s"__ndv_$i")
      }
    // opt-in per-file Bloom filters ride the SAME pass: xxhash64 is
    // codegen'd, the filter state is a fixed word array per file
    val blooms = bloomFields(schema, bloom).map { case (f, i) =>
      graft.functions.BloomAgg.bloomAgg(
        xxhash64(col(quoted(f.name))), bloom.bits, bloom.hashes)
        .as(s"__bloom_$i")
    }
    stats ++ sums ++ ndvs ++ blooms
  }

  def summableFields(schema: StructType): Seq[(StructField, Int)] =
    FileStats.eligibleFields(schema).zipWithIndex
      .filter { case (f, _) => FileStats.summable(f.dataType) }

  private def sumScale(dt: DataType): Int = dt match {
    case d: DecimalType => d.scale
    case _ => 0
  }

  /** Bloom-indexed fields with their eligible-field ordinal. */
  private def bloomFields(schema: StructType,
      bloom: BloomSpec): Seq[(StructField, Int)] =
    FileStats.eligibleFields(schema).zipWithIndex
      .filter { case (f, _) => bloom.columns.contains(f.name) }

  /** Decode one aggregate row (positionally aligned with
    * [[aggColumns]], starting at `offset`) into the manifest map.
    */
  def fromRow(schema: StructType, row: org.apache.spark.sql.Row,
      offset: Int, bloom: BloomSpec = BloomSpec.Off,
      ndv: NdvSpec = NdvSpec.Default): Map[String, ColStats] = {
    def s(j: Int): Option[String] =
      if (row.isNullAt(j)) None else Some(row.getString(j))
    // the bloom/ndv aggs yield raw BINARY; encode here with the BASIC
    // (un-chunked) codec — Spark's base64() SQL function MIME-chunks
    // with line breaks, which is hostile inside a JSON manifest
    def bin(j: Int): Option[String] =
      if (row.isNullAt(j)) None
      else Some(java.util.Base64.getEncoder
        .encodeToString(row.getAs[Array[Byte]](j)))
    val eligible = FileStats.eligibleFields(schema)
    val nStats = eligible.length
    val nSums = summableFields(schema).length
    val nNdv = if (ndv.enabled) nStats else 0
    val sumAt = summableFields(schema).zipWithIndex.map {
      case ((f, _), pos) => f.name -> (offset + nStats * 3 + pos)
    }.toMap
    val bloomAt = bloomFields(schema, bloom).zipWithIndex.map {
      case ((f, _), pos) =>
        f.name -> (offset + nStats * 3 + nSums + nNdv + pos)
    }.toMap
    eligible.zipWithIndex.map { case (f, i) =>
      val b = offset + i * 3
      f.name -> ColStats(s(b), s(b + 1),
        if (row.isNullAt(b + 2)) 0L else row.getLong(b + 2),
        bloomAt.get(f.name).flatMap(bin),
        if (ndv.enabled) bin(offset + nStats * 3 + nSums + i) else None,
        sumAt.get(f.name).flatMap(s))
    }.toMap
  }

  private def quoted(name: String): String =
    "`" + name.replace("`", "``") + "`"

  /** One aggregate pass over `frame`: per input file, its URI, row
    * count, byte size and [[fromRow]]-decoded stats of `schema`.
    */
  private def perFile(frame: DataFrame, schema: StructType,
      bloom: BloomSpec, ndv: NdvSpec)
      : Seq[(String, Long, Long, Map[String, ColStats])] = {
    val aggs = Seq(count(lit(1)).as("__rows"),
      // byte size from the hidden file metadata
      first(col("_metadata.file_size")).as("__bytes")) ++
      aggColumns(schema, bloom, ndv)
    frame
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().toSeq.map { r =>
        (r.getString(0), r.getLong(1), r.getLong(2),
          fromRow(schema, r, 3, bloom, ndv))
      }
  }

  /** Manifest entries (partition value, row count, column stats,
    * optional Bloom payloads) for the parquet files staged under
    * `rel` of table `t`. `schema` is the files' DATA schema (PartCol
    * lives in the directory layout, not the rows). `onlyFiles`
    * restricts the read to an explicit list of manifest-relative
    * files, as a delta write's commit messages name them.
    */
  def statsForStaged(t: SnapshotTable, rel: String, schema: StructType,
      spec: Option[PartitionSpec],
      props: Map[String, String],
      onlyFiles: Option[Seq[String]] = None): Seq[DataFileEntry] = {
    val spark = t.session
    val dir = new Path(t.root, rel)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    // a writer that produced no rows stages no directory at all
    if (!fs.exists(dir) || onlyFiles.exists(_.isEmpty)) return Nil
    val batch = rel.substring(rel.lastIndexOf('/') + 1)
    val marker = s"/$batch/"
    // explicit read-back schema: an EMPTY batch writes no parquet files
    // under partitionBy, and schema inference would throw instead of
    // yielding the legal zero-file manifest entry list
    val readBackSchema = spec match {
      case Some(_) => schema.add(SnapshotTable.PartCol, StringType)
      case None => schema
    }
    val bloom = BloomSpec.fromProperties(props)
    val ndv = NdvSpec.fromProperties(props)
    // basePath keeps the partition directories parsing as on a
    // whole-dir read
    val frame = onlyFiles match {
      case None => spark.read.schema(readBackSchema).parquet(dir.toString)
      case Some(files) => spark.read.option("basePath", dir.toString)
        .schema(readBackSchema)
        .parquet(files.map(f => new Path(t.root, f).toString): _*)
    }
    // PartCol excluded from the stats: it lives in the manifest
    perFile(frame, schema, bloom, ndv).map { case (uri, rows, bytes, stats) =>
      // the Hive %XX layer is undone separately for the partition
      // VALUE only; the manifest stores the on-disk file name
      val sub = t.stagedSubPath(uri, rel, marker)
      val partition = sub.split('/').collectFirst {
        case seg if seg.startsWith(s"${SnapshotTable.PartCol}=") =>
          SnapshotTable.decodePartitionValue(
            seg.substring(SnapshotTable.PartCol.length + 1))
      }.flatten
      DataFileEntry(s"$rel/$sub", partition, rows, stats, seq = -1L,
        bytes = bytes)
    }
  }

  /** Entries for parquet files adopted in place, as
    * [[SnapshotTable.importParquet]] records them: absolute decoded
    * path, no partition, stats of `schema` under the table's Bloom and
    * NDV properties.
    */
  def statsForImport(t: SnapshotTable, files: Seq[String],
      schema: StructType, props: Map[String, String]): Seq[DataFileEntry] = {
    val bloom = BloomSpec.fromProperties(props)
    val ndv = NdvSpec.fromProperties(props)
    perFile(t.session.read.parquet(files: _*), schema, bloom, ndv).map {
      case (uri, rows, bytes, stats) =>
        DataFileEntry(new Path(new java.net.URI(uri)).toUri.getPath, None,
          rows, stats, seq = -1L, bytes = bytes)
    }
  }
}
