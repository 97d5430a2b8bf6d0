package graft.catalog

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** One snapshot reader: `SnapshotTable`'s own reads plan the catalog
  * scan ([[GraftBatchScan]]), every data file is named by its manifest
  * path (so row-level SQL over path-hostile partition values deletes
  * what it matched), vectors over paths that are not live data files
  * are refused, and `input_file_name()` reports the file a graft scan
  * row came from.
  */
class SnapshotReaderSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSparkSession.spark
  import spark.implicits._

  private def sql(q: String): DataFrame = spark.sql(q)
  private def warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")

  private def freshRoot(): String =
    Files.createTempDirectory("snapshot-reader").resolve("t").toString

  /** A catalog table partitioned by a string key whose values need
    * both Hive %XX escaping and URI percent-encoding: one two-row file
    * per partition, rows v = i and v = i + 100.
    */
  private def hostile(name: String): SnapshotTable = {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.sr")
    sql(s"DROP TABLE IF EXISTS graft.sr.$name")
    sql(s"CREATE TABLE graft.sr.$name (k STRING, v BIGINT) " +
      "PARTITIONED BY (k) " +
      "TBLPROPERTIES ('graft.delete.mode' = 'merge-on-read', " +
      "'graft.update.mode' = 'merge-on-read')")
    sql(s"INSERT INTO graft.sr.$name VALUES ('a:b c', 0), ('a:b c', 100), " +
      "('x%20y', 1), ('x%20y', 101), ('p=q''s', 2), ('p=q''s', 102)")
    SnapshotTable.load(spark, s"$warehouse/sr/$name")
  }

  private def values(name: String): Seq[Long] =
    sql(s"SELECT v FROM graft.sr.$name").as[Long].collect().sorted.toSeq

  private def assertLiveCoverage(t: SnapshotTable): Unit = {
    val s = t.currentSnapshot()
    val live = s.files.map(_.path).toSet
    assert(s.dvFiles.nonEmpty, "the statement committed vectors")
    assert(s.dvFiles.flatMap(_.dataPaths).forall(live.contains),
      s"phantom vector path in ${s.dvFiles.flatMap(_.dataPaths)}")
  }

  test("SQL DELETE over path-hostile partition values deletes its rows") {
    val t = hostile("del")
    val preFiles = t.currentSnapshot().files.map(_.path).toSet
    sql("DELETE FROM graft.sr.del WHERE v < 100")
    assert(t.currentSnapshot().files.map(_.path).toSet == preFiles,
      "a partial delete writes vectors, not files")
    assertLiveCoverage(t)
    assert(values("del") == Seq(100L, 101L, 102L))
  }

  test("SQL UPDATE over path-hostile partition values replaces its rows") {
    val t = hostile("upd")
    sql("UPDATE graft.sr.upd SET v = v + 1000 WHERE v < 100")
    assertLiveCoverage(t)
    assert(values("upd") == Seq(100L, 101L, 102L, 1000L, 1001L, 1002L))
  }

  test("a delete vector over a path that is not a live data file is refused") {
    val t = SnapshotTable.create(spark, freshRoot(), StructType(Seq(
      StructField("id", LongType))), None)
    t.append(Seq(1L, 2L).toDF("id"))
    val v = t.currentVersion()
    val live = t.currentSnapshot().files.head.path
    val e = intercept[IllegalStateException](t.commitDelta(v, "delete-pos",
      Nil, Seq(("data/none/dv.parquet", 1L,
        Seq(live, "data/none/part-0.parquet"), "delete"))))
    assert(e.getMessage.contains("data/none/part-0.parquet"), e.getMessage)
    assert(t.currentVersion() == v, "nothing committed")
    assert(t.read().as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("input_file_name() names the data file of every graft scan row") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.sr")
    sql("DROP TABLE IF EXISTS graft.sr.ifn")
    sql("CREATE TABLE graft.sr.ifn (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('graft.delete.mode' = 'merge-on-read')")
    sql("INSERT INTO graft.sr.ifn VALUES (1, 'a'), (2, 'b')")
    sql("INSERT INTO graft.sr.ifn VALUES (3, 'c'), (4, 'd')")
    val t = SnapshotTable.load(spark, s"$warehouse/sr/ifn")
    val names = t.currentSnapshot().files.map(_.path.split('/').last).toSet
    def fileOf(q: String): Map[Long, String] =
      sql(q).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // every row names a manifest file, and every file is named
    def check(m: Map[Long, String], ids: Set[Long]): Unit = {
      assert(m.keySet == ids)
      val named = m.values.map(f => names.find(n => f.endsWith("/" + n)))
      assert(named.forall(_.isDefined), s"$m vs $names")
      assert(named.flatten.toSet == names, s"$m vs $names")
    }
    check(fileOf("SELECT id, input_file_name() FROM graft.sr.ifn"),
      Set(1L, 2L, 3L, 4L))
    // a vector-masked split reports its file too
    sql("DELETE FROM graft.sr.ifn WHERE v = 'c'")
    val masked = fileOf("SELECT id, input_file_name() FROM graft.sr.ifn")
    assert(masked.keySet == Set(1L, 2L, 4L))
    assert(masked.values.forall(f => names.exists(n => f.endsWith("/" + n))))
  }

  test("deleteByKeys keeps NaN keys: Spark's equality matches NaN to NaN") {
    val t = SnapshotTable.create(spark, freshRoot(), StructType(Seq(
      StructField("id", IntegerType), StructField("k", DoubleType))), None)
    t.append(Seq((1, Double.NaN), (2, 1.0), (3, Double.NaN)).toDF("id", "k"))
    assert(t.read().filter(col("k") === Double.NaN).count() == 2L)
    t.deleteByKeys(Seq(Some(Double.NaN), None).toDF("k"), Seq("k"))
    assert(t.currentSnapshot().deleteFiles.map(_.rows).sum == 1L,
      "the NaN key is staged, the NULL key is not")
    assert(t.read().select("id").as[Int].collect().toSeq == Seq(2))
  }

  test("a read over vectors and equality deletes plans one scan, no join") {
    val t = SnapshotTable.create(spark, freshRoot(), StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))), None)
    t.append((1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"))
    t.deleteWithVectors(col("id") === 2L)
    t.deleteByKeys(Seq(4L).toDF("id"), Seq("id"))
    val s = t.currentSnapshot()
    assert(s.dvFiles.nonEmpty && s.deleteFiles.nonEmpty)
    val df = t.read()
    assert(df.as[(Long, String)].collect().map(_._1).sorted.toSeq ==
      Seq(1L, 3L, 5L, 6L))
    val nodes = graft.tools.PlanAudit.flattenPlan(df.queryExecution.executedPlan)
    val scans = nodes.collect { case b: BatchScanExec => b.scan }
    assert(scans.size == 1 && scans.forall(_.isInstanceOf[GraftBatchScan]),
      df.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[BaseJoinExec]),
      df.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[FileSourceScanExec]),
      df.queryExecution.executedPlan)
    assert(df.collect().toSeq.sortBy(_.getLong(0)) ==
      Seq(Row(1L, "v1"), Row(3L, "v3"), Row(5L, "v5"), Row(6L, "v6")))
  }
}
