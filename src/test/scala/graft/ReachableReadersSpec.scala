package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, TableCatalog}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
import org.apache.spark.sql.connector.read.{ScanBuilder, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsRuntimeFiltering}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{Filter, In}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{GraftBatchScan, GraftInputPartition, GraftPartitionReaderFactory, GraftSplit, SnapshotTable}

/** The native batch scan builds a parquet reader function only for what
  * some split of the scan can reach: each one broadcasts its own copy
  * of the session Hadoop conf, so building one per file shape in the
  * snapshot made planning, not execution, the cost of a point read.
  * Reachable is the PUSHED-filter prune — a runtime filter arriving
  * after the reader factory turns a LIMIT or TopN prefix off, so the
  * splits finally read may outgrow the prefix but never that prune.
  * Every case checks rows against a model and the V1 read path.
  */
class ReachableReadersSpec extends AnyFunSuite {

  private lazy val spark = TestSparkSession.spark
  import spark.implicits._

  private def sql(q: String): DataFrame = spark.sql(q)

  private def warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")

  private def withConf[T](k: String, v: String)(f: => T): T = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try f finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** Broadcasts created while `f` runs, counted by the gap between two
    * probe broadcast ids (task binaries included).
    */
  private def broadcastsDuring[T](f: => T): (T, Long) = {
    val sc = spark.sparkContext
    val before = sc.broadcast(0)
    val out = f
    val after = sc.broadcast(0)
    val n = after.id - before.id - 1
    before.destroy(); after.destroy()
    (out, n)
  }

  private def sorted(rows: Array[Row]): Seq[Row] =
    rows.toSeq.sortBy(_.getLong(0))

  /** `q`'s rows, asserting it ran on the native scan. */
  private def nativeRows(q: String): Seq[Row] = {
    val df = sql(q)
    val rows = sorted(df.collect())
    assert(df.queryExecution.executedPlan.toString.contains("GraftBatchScan"),
      s"$q must plan the native scan")
    rows
  }

  private def v1Rows(q: String): Seq[Row] =
    withConf("spark.sql.graft.nativeBatchScan", "false")(sorted(sql(q).collect()))

  // ---- merge-on-read table: four file shapes (add, rename, add), two
  // single-file appends of 100 ids per shape, delete vectors over every
  // one of them, one equality delete newer than all of them, and a last
  // current-shape file that nothing masks
  private val Mor = "graft.reach.mor"
  private val eqKeys = Set(3L, 250L, 450L, 650L)
  private var updated = Set.empty[Long]

  private def model: Seq[Row] = (0L until 900L)
    .filterNot(id => id < 800 && (id % 7 == 0 || eqKeys(id)))
    .map(id => Row(id, id.toDouble,
      if (updated(id)) -1L else if (id >= 200) id * 2 else null,
      if (id >= 600) "d" else null))

  private lazy val morTable: SnapshotTable = {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.reach")
    sql(s"DROP TABLE IF EXISTS $Mor")
    sql(s"CREATE TABLE $Mor (id BIGINT, v DOUBLE)")
    def append(lo: Int, cols: String): Unit = Seq(lo, lo + 100).foreach { s =>
      sql(s"INSERT INTO $Mor SELECT /*+ REPARTITION(1) */ $cols " +
        s"FROM range($s, ${s + 100})")
    }
    append(0, "id, cast(id as double)")
    sql(s"ALTER TABLE $Mor ADD COLUMN w BIGINT")
    append(200, "id, cast(id as double), id * 2")
    sql(s"ALTER TABLE $Mor RENAME COLUMN v TO score")
    append(400, "id, cast(id as double), id * 2")
    sql(s"ALTER TABLE $Mor ADD COLUMN tag STRING")
    append(600, "id, cast(id as double), id * 2, 'd'")
    val t = SnapshotTable.load(spark, s"$warehouse/reach/mor")
    t.deleteWithVectors(col("id") % 7 === 0)
    t.deleteByKeys(eqKeys.toSeq.toDF("id"), Seq("id"))
    sql(s"INSERT INTO $Mor SELECT /*+ REPARTITION(1) */ " +
      "id, cast(id as double), id * 2, 'd' FROM range(800, 900)")
    val snap = t.currentSnapshot()
    assert(snap.files.map(f => (if (f.cols.isEmpty) snap.ids else f.cols,
      f.nested)).distinct.size == 4, "fixture must hold four file shapes")
    assert(snap.dvFiles.nonEmpty && snap.deleteFiles.size == 1)
    t
  }

  test("a point read pruned to one shape builds fewer readers, same rows") {
    val snap = morTable.currentSnapshot()
    // building every reader cost 3 + 2·shapes + delete files broadcasts
    // before any task binary
    val everyReader = 3 + 2 * 4 + snap.deleteFiles.size
    Seq(451L, 850L).foreach { id =>
      val q = s"SELECT * FROM $Mor WHERE id = $id"
      val (rows, n) = broadcastsDuring(nativeRows(q))
      assert(n < everyReader,
        s"id=$id: $n broadcasts, not fewer than every reader's $everyReader")
      assert(rows == model.filter(_.getLong(0) == id))
      assert(rows == v1Rows(q))
    }
  }

  test("the row path and a metadata-column UPDATE give the same rows") {
    morTable
    val all = s"SELECT * FROM $Mor"
    assert(nativeRows(all) == model)
    def rowPath[T](f: => T): T =
      withConf("spark.sql.parquet.enableVectorizedReader", "false")(f)
    rowPath {
      val df = sql(all)
      assert(sorted(df.collect()) == model)
      assert(!df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
        "vectorization off must take the row path")
      assert(nativeRows(s"SELECT * FROM $Mor WHERE id = 451") ==
        model.filter(_.getLong(0) == 451L))
    }
    // row-level UPDATEs scan `_graft_file`/`_graft_pos` through the
    // synthesizing reader of one shape, masked by vectors and the
    // equality delete — once columnar, once on the row path
    sql(s"UPDATE $Mor SET w = -1 WHERE id BETWEEN 440 AND 460")
    updated ++= (440L to 460L)
    rowPath(sql(s"UPDATE $Mor SET w = -1 WHERE id BETWEEN 240 AND 260"))
    updated ++= (240L to 260L)
    assert(nativeRows(all) == model)
    assert(rowPath(nativeRows(all)) == model)
    assert(v1Rows(all) == model)
  }

  // ---- LIMIT / TopN prefixes under a later runtime filter: 20 single-
  // file appends of 100 ids, a column added after the tenth, delete
  // vectors on the last file only (a vector's row count is charged to
  // every file it covers, so a wide one would stretch the TopN prefix;
  // no equality delete — it would turn both prefixes off)
  private lazy val limTable: SnapshotTable = {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.reach")
    sql("DROP TABLE IF EXISTS graft.reach.lim")
    sql("CREATE TABLE graft.reach.lim (id BIGINT)")
    (0 until 20).foreach { i =>
      if (i == 10) sql("ALTER TABLE graft.reach.lim ADD COLUMN w BIGINT")
      sql("INSERT INTO graft.reach.lim SELECT /*+ REPARTITION(1) */ " +
        (if (i < 10) "id" else "id, id") +
        s" FROM range(${i * 100}, ${i * 100 + 100})")
    }
    val t = SnapshotTable.load(spark, s"$warehouse/reach/lim")
    t.deleteWithVectors(col("id") >= 1900 && col("id") % 7 === 0)
    t
  }

  /** The DSv2 calls in the order `BatchScanExec` makes them under a
    * join's dynamic pruning: partitions and the reader factory are
    * planned first; the runtime filter arrives later and the partitions
    * are re-planned; tasks then read every split with that factory.
    * Returns (ids read, files outside the first planning).
    */
  private def readUnderRuntimeFilter(push: ScanBuilder => Unit,
      keys: Seq[Long]): (Seq[Long], Set[String]) = {
    limTable
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[TableCatalog]
    val sb = cat.loadTable(Identifier.of(Array("reach"), "lim"))
      .asInstanceOf[SupportsRead].newScanBuilder(CaseInsensitiveStringMap.empty())
    sb.asInstanceOf[SupportsPushDownRequiredColumns]
      .pruneColumns(StructType(Seq(StructField("id", LongType))))
    push(sb)
    val scan = sb.build()
    assert(scan.isInstanceOf[GraftBatchScan])
    def files(ps: Array[org.apache.spark.sql.connector.read.InputPartition]) =
      ps.flatMap(_.asInstanceOf[GraftInputPartition].splits.map(_.path)).toSet
    val batch = scan.toBatch
    val prefix = files(batch.planInputPartitions())
    val factory = batch.createReaderFactory()
    scan.asInstanceOf[SupportsRuntimeFiltering]
      .filter(Array[Filter](In("id", keys.map(k => k: Any).toArray)))
    val parts = batch.planInputPartitions()
    val columnar = factory.supportColumnarReads(parts.head)
    val ids = spark.sparkContext.parallelize(parts.toSeq, parts.length)
      .flatMap { p =>
        val out = Seq.newBuilder[Long]
        if (columnar) {
          val r = factory.createColumnarReader(p)
          while (r.next()) {
            val b = r.get()
            (0 until b.numRows()).foreach(i => out += b.column(0).getLong(i))
          }
        } else {
          val r = factory.createReader(p)
          while (r.next()) out += r.get().getLong(0)
        }
        out.result()
      }.collect().toSeq.sorted
    (ids, files(parts) -- prefix)
  }

  // the runtime filter keeps the first and the last file; the scan is
  // skip-only, so it returns every live row of both
  private val runtimeKeys = Seq(50L, 1950L)
  private val keptRows: Seq[Long] =
    (0L until 100L) ++ (1900L until 2000L).filterNot(_ % 7 == 0)

  test("a LIMIT prefix under a later runtime filter reads every kept row") {
    val (ids, outside) = readUnderRuntimeFilter(
      _.asInstanceOf[SupportsPushDownLimit].pushLimit(50), runtimeKeys)
    assert(outside.nonEmpty, "the runtime filter must reach past the prefix")
    assert(ids == keptRows)
  }

  test("a TopN prefix under a later runtime filter reads every kept row") {
    val (ids, outside) = readUnderRuntimeFilter(
      _.asInstanceOf[SupportsPushDownTopN].pushTopN(
        Array(Expressions.sort(Expressions.column("id"),
          SortDirection.DESCENDING)), 50), runtimeKeys)
    assert(outside.nonEmpty, "the runtime filter must reach past the prefix")
    assert(ids == keptRows)
  }

  test("a split on an unbuilt reader slot fails loudly, naming the shape") {
    val id = StructType(Seq(StructField("id", LongType)))
    val none = Array[Option[GraftPartitionReaderFactory.RowRead]](None, None)
    val factory = GraftPartitionReaderFactory(columnar = false, None, none,
      None, Array(None, None), None, Map.empty, id, 1, needIdx = false,
      Array(0), Array(Array.empty, Array.empty))
    val split = GraftInputPartition(None,
      Array(GraftSplit("file:/nowhere.parquet", 0L, 10L, shape = 1)))
    val e = intercept[SparkException](factory.createReader(split).next())
    assert(e.getMessage.contains("file shape 1"), e.getMessage)
  }
}
