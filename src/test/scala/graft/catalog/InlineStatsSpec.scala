package graft.catalog

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the [[InlineFileStats]] ↔ [[StatsReadBack]] equivalence: the
  * manifest entries (bounds, null counts, exact sums, NDV sketch bytes,
  * Bloom filter bytes, row counts, file bytes, partition values) that
  * the writers ([[StagedWrite]], the delta writer) and
  * [[SnapshotTable.importParquet]] compute INLINE must be
  * BYTE-IDENTICAL to what the reference read-back aggregation over the
  * same files reports.
  */
class InlineStatsSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSparkSession.spark

  private def freshRoot(): String =
    Files.createTempDirectory("inline-stats").resolve("t").toString

  private val schema = StructType(Seq(
    StructField("pt", StringType),
    StructField("i", IntegerType),
    StructField("l", LongType),
    StructField("f", FloatType),
    StructField("d", DoubleType),
    StructField("s", StringType),
    StructField("bl", BooleanType),
    StructField("dt", DateType),
    StructField("ts", TimestampType),
    StructField("ntz", TimestampNTZType),
    StructField("dec", DecimalType(12, 4)),
    StructField("alln", DoubleType), // every value NULL
    StructField("arr", ArrayType(IntegerType)))) // stats-ineligible

  private def dec(v: String): java.math.BigDecimal =
    new java.math.BigDecimal(v)

  private def ntz(s: String): java.time.LocalDateTime =
    java.time.LocalDateTime.parse(s)

  /** Adversarial rows: NaN, ±Infinity, signed zero, empty / 64-char /
    * 65-char / unicode strings, nulls in every column, negative and
    * tiny decimals, null partition values.
    */
  private def gnarlyDf(): DataFrame = {
    val s64 = "x" * 64
    val s65 = "y" * 65
    val rows = Seq(
      Row("a", 1, 10L, 1.5f, -0.0d, "hello", true,
        Date.valueOf("2024-01-05"), Timestamp.valueOf("2024-01-05 10:30:00"),
        ntz("2024-01-05T10:30:00.123456"), dec("12.3456"), null,
        Seq(1, 2)),
      Row("a", -7, -20L, Float.NaN, 0.0d, "", false,
        Date.valueOf("1999-12-31"), Timestamp.valueOf("1999-12-31 23:59:59"),
        ntz("1999-12-31T23:59:59"), dec("-0.0001"), null, Seq(3)),
      Row("a", null, null, null, null, null, null, null, null, null,
        null, null, null),
      Row("b", 42, 1L, -3.25f, Double.NaN, s64, true,
        Date.valueOf("2024-06-01"), Timestamp.valueOf("2024-06-01 00:00:00"),
        ntz("2024-06-01T00:00:00"), dec("99999999.9999"), null, null),
      Row("b", 0, 0L, Float.PositiveInfinity, Double.NegativeInfinity,
        s65, false, Date.valueOf("2024-06-02"),
        Timestamp.valueOf("2024-06-02 12:00:00"),
        ntz("2024-06-02T12:00:00.000001"), dec("-99999999.9999"), null,
        Seq()),
      Row(null, 5, 7L, 2.0f, 3.5d, "héllo wörld ünïcode", true,
        Date.valueOf("2024-03-15"), Timestamp.valueOf("2024-03-15 08:00:00"),
        ntz("2024-03-15T08:00:00"), dec("0.0001"), null, Seq(9)),
      Row("", 6, 8L, 2.5f, 4.5d, "zz", false,
        Date.valueOf("2024-03-16"), Timestamp.valueOf("2024-03-16 08:00:00"),
        ntz("2024-03-16T08:00:00"), dec("1.0000"), null, Seq(10)))
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
  }

  /** Compare the inline-computed manifest entries against a fresh
    * reference read-back over the exact same staged files.
    */
  private def assertParity(t: SnapshotTable, snap: Snapshot): Unit = {
    val fresh = snap.files.filter(_.path.nonEmpty)
    assert(fresh.nonEmpty, "append staged no files")
    val rel = fresh.head.path.split('/').init.takeWhile(!_.contains("=")).mkString("/")
    val readBack = StatsReadBack.statsForStaged(t, rel, snap.schema,
      snap.spec, snap.properties).map(e => e.path -> e).toMap
    assert(readBack.keySet == fresh.map(_.path).toSet,
      s"file sets differ: ${readBack.keySet} vs ${fresh.map(_.path)}")
    fresh.foreach { e =>
      val r = readBack(e.path)
      assert(e.partition == r.partition, s"partition of ${e.path}")
      assert(e.rows == r.rows, s"rows of ${e.path}")
      assert(e.bytes == r.bytes, s"bytes of ${e.path}")
      assert(e.stats.keySet == r.stats.keySet, s"stat columns of ${e.path}")
      e.stats.keySet.foreach { c =>
        assert(e.stats(c) == r.stats(c),
          s"ColStats mismatch for $c in ${e.path}:\n" +
            s"  inline:    ${e.stats(c)}\n  read-back: ${r.stats(c)}")
      }
    }
  }

  test("partitioned append: inline stats are byte-identical to the read-back") {
    val t = SnapshotTable.create(spark, freshRoot(), schema,
      Some(PartitionSpec("pt", "identity")),
      properties = Map(
        "graft.bloom.columns" -> "l,s",
        "graft.write.sort-by" -> "i",
        "graft.write.distribution-mode" -> "hash"))
    val snap = t.append(gnarlyDf())
    assertParity(t, snap)
    // null and empty-string partition values share the default
    // partition (None) exactly like the partitionBy writer
    assert(snap.files.exists(_.partition.isEmpty))
    assert(snap.files.flatMap(_.partition).toSet == Set("a", "b"))
  }

  test("unpartitioned multi-task append: inline stats match the read-back") {
    val t = SnapshotTable.create(spark, freshRoot(), schema, None,
      properties = Map("graft.stats.ndv.lgk" -> "10"))
    val snap = t.append(gnarlyDf().repartition(3))
    assertParity(t, snap)
    assert(snap.files.forall(_.partition.isEmpty))
  }

  test("mid-cardinality file (HLL SET mode): sketch bytes still match") {
    // ~100 distinct values per file lands the HLL sketch in its SET
    // promotion band (between the LIST mode the tiny fixtures cover
    // and the dense HLL mode the 500-row delta test covers)
    import org.apache.spark.sql.functions._
    val t = SnapshotTable.create(spark, freshRoot(),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("v", DoubleType, nullable = false))), None)
    val df = spark.range(0, 100).select(col("id"),
      (col("id") * 1.5).as("v")).coalesce(1)
    val snap = t.append(df)
    assertParity(t, snap)
  }

  test("ndv off: no sketches, everything else still matches") {
    val t = SnapshotTable.create(spark, freshRoot(), schema, None,
      properties = Map("graft.stats.ndv" -> "off"))
    val snap = t.append(gnarlyDf())
    assertParity(t, snap)
    assert(snap.files.forall(_.stats.values.forall(_.ndv.isEmpty)))
  }

  test("empty append stages no files") {
    val t = SnapshotTable.create(spark, freshRoot(), schema,
      Some(PartitionSpec("pt", "identity")))
    val snap = t.append(gnarlyDf().filter("i > 1000000"))
    assert(snap.files.isEmpty)
  }

  /** The committed manifest may have offloaded big inline blooms to
    * ref: sidecars (a SnapshotLog post-commit transform) — resolve
    * tokens back to payloads before comparing.
    */
  private def resolved(t: SnapshotTable, st: ColStats, path: String): ColStats =
    st.copy(bloom = st.bloom.map(b =>
      if (b.startsWith(SnapshotLog.RefPrefix))
        t.log.resolveBloom(b, path).getOrElse(b)
      else b))

  /** Compare the delta writer's inline entries for the files `dml`
    * adds against a reference read-back over exactly those files.
    */
  private def assertDeltaParity(t: SnapshotTable, dml: String)
      : Seq[DataFileEntry] = {
    val before = t.currentSnapshot().files.map(_.path).toSet
    // UPDATE routes through the native delta write (GraftDeltaWriter):
    // update images are freshly staged files with inline stats
    spark.sql(dml)
    val snap = t.currentSnapshot()
    val fresh = snap.files.filterNot(f => before.contains(f.path))
    assert(fresh.nonEmpty, "UPDATE staged no new files")
    val rel = fresh.head.path.split('/').init
      .takeWhile(!_.contains("=")).mkString("/")
    val readBack = StatsReadBack.statsForStaged(t, rel, snap.schema,
      snap.spec, snap.properties, onlyFiles = Some(fresh.map(_.path)))
      .map(e => e.path -> e).toMap
    fresh.foreach { e =>
      val r = readBack(e.path)
      assert(e.partition == r.partition && e.rows == r.rows &&
        e.bytes == r.bytes, s"entry mismatch for ${e.path}")
      e.stats.keySet.foreach { c =>
        assert(resolved(t, e.stats(c), e.path) == r.stats(c),
          s"ColStats mismatch for $c in ${e.path}:\n" +
            s"  inline:    ${e.stats(c)}\n  read-back: ${r.stats(c)}")
      }
    }
    fresh
  }

  test("native UPDATE delta: writer-inline stats match the read-back") {
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ist")
    spark.sql("DROP TABLE IF EXISTS graft.ist.u")
    spark.sql("CREATE TABLE graft.ist.u (id BIGINT, kind STRING, v DOUBLE) " +
      "PARTITIONED BY (kind) " +
      "TBLPROPERTIES ('graft.bloom.columns'='id')")
    spark.sql("INSERT INTO graft.ist.u SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END, cast(id as double) " +
      "FROM range(0, 1000)")
    val t = SnapshotTable.load(spark, s"$wh/ist/u")
    assertDeltaParity(t, "UPDATE graft.ist.u SET v = v * 2 WHERE id % 10 = 3")
  }

  test("native UPDATE delta: a literal default-partition value reads back as None") {
    // the sentinel renders to the same segment as NULL, so the manifest
    // value must be the decoded segment (None), not the raw string
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ist")
    spark.sql("DROP TABLE IF EXISTS graft.ist.hdp")
    spark.sql("CREATE TABLE graft.ist.hdp (id BIGINT, kind STRING, v DOUBLE) " +
      "PARTITIONED BY (kind)")
    spark.sql("INSERT INTO graft.ist.hdp SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN '__HIVE_DEFAULT_PARTITION__' ELSE 'b' END, " +
      "cast(id as double) FROM range(0, 200)")
    val t = SnapshotTable.load(spark, s"$wh/ist/hdp")
    val fresh = assertDeltaParity(t,
      "UPDATE graft.ist.hdp SET v = -v WHERE id % 10 IN (2, 3)")
    assert(fresh.map(_.partition).toSet == Set(None, Some("b")))
  }

  test("importParquet: per-file stats are byte-identical to the read-back") {
    val src = Files.createTempDirectory("inline-stats-src").resolve("src")
      .toString
    gnarlyDf().repartition(3).write.parquet(src)
    val leaves = new java.io.File(src).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).toSeq
    assert(leaves.size == 3, s"multi-file source expected: $leaves")
    val t = SnapshotTable.create(spark, freshRoot(), schema, None,
      properties = Map("graft.bloom.columns" -> "l,s",
        "graft.stats.ndv" -> "on"))
    val snap = t.importParquet(src)
    val fresh = snap.files
    val readBack = StatsReadBack.statsForImport(t, leaves,
      spark.read.parquet(leaves: _*).schema, snap.properties)
      .map(e => e.path -> e).toMap
    assert(readBack.keySet == fresh.map(_.path).toSet,
      s"file sets differ: ${readBack.keySet} vs ${fresh.map(_.path)}")
    fresh.foreach { e =>
      val r = readBack(e.path)
      assert(e.partition.isEmpty && r.partition.isEmpty)
      assert(e.rows == r.rows, s"rows of ${e.path}")
      assert(e.bytes == r.bytes, s"bytes of ${e.path}")
      assert(e.stats.keySet == r.stats.keySet, s"stat columns of ${e.path}")
      e.stats.keySet.foreach { c =>
        assert(resolved(t, e.stats(c), e.path) == r.stats(c),
          s"ColStats mismatch for $c in ${e.path}:\n" +
            s"  inline:    ${e.stats(c)}\n  read-back: ${r.stats(c)}")
      }
    }
    assert(fresh.map(_.rows).sum == 7L)
    assert(fresh.forall(_.stats("l").bloom.nonEmpty) &&
      fresh.forall(_.stats("i").ndv.nonEmpty), "Bloom and NDV recorded")
  }

  test("sort-by clustering survives the one-pass writer") {
    val t = SnapshotTable.create(spark, freshRoot(), schema,
      Some(PartitionSpec("pt", "identity")),
      properties = Map("graft.write.sort-by" -> "i",
        "graft.write.distribution-mode" -> "hash"))
    t.append(gnarlyDf())
    import org.apache.spark.sql.functions.input_file_name
    val perFile = t.read().select(input_file_name().as("f"), org.apache.spark.sql.functions.col("i"))
      .collect().groupBy(_.getString(0))
    perFile.foreach { case (f, rws) =>
      val is = rws.toSeq.flatMap(r => Option(r.get(1)).map(_.asInstanceOf[Int]))
      assert(is == is.sorted, s"rows in $f not sorted by i: $is")
    }
  }
}
