package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.SnapshotTable

/** Every catalog and `format("graft")` read of a snapshot table plans
  * one scan, [[graft.catalog.GraftBatchScan]]: an empty snapshot, a
  * snapshot evolved under an analyzed plan, and struct-, array- or
  * float-keyed equality deletes included. Results are checked against
  * `SnapshotTable.read()`, the DataFrame read path.
  */
class CatalogScanSpec extends AnyFunSuite {

  private lazy val spark = TestSparkSession.spark
  import spark.implicits._

  private def sql(q: String): DataFrame = spark.sql(q)
  private def warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")

  private def withConf[T](k: String, v: String)(f: => T): T = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try f finally old match {
      case Some(o) => spark.conf.set(k, o)
      case None => spark.conf.unset(k)
    }
  }

  /** `df`'s rows sorted by the first (id) column, asserting the plan
    * read through the native scan.
    */
  private def nativeRows(df: DataFrame): Seq[Row] = {
    val rows = df.collect().toSeq.sortBy(_.get(0).toString)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftBatchScan"),
      s"must plan the native scan:\n${plan.take(2000)}")
    rows
  }

  private def readRows(t: SnapshotTable): Seq[Row] =
    t.read().collect().toSeq.sortBy(_.get(0).toString)

  private def fresh(name: String, ddl: String): SnapshotTable = {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.cs")
    sql(s"DROP TABLE IF EXISTS graft.cs.$name")
    sql(s"CREATE TABLE graft.cs.$name $ddl")
    SnapshotTable.load(spark, s"$warehouse/cs/$name")
  }

  test("an empty table plans the native scan: SQL, format(graft), count(*)") {
    fresh("empty", "(id BIGINT, v STRING) PARTITIONED BY (bucket(4, id))")
    assert(nativeRows(sql("SELECT * FROM graft.cs.empty")).isEmpty)
    assert(nativeRows(spark.read.format("graft")
      .load(s"$warehouse/cs/empty")).isEmpty)
    // the manifest answers count(*) unless told to scan
    assert(sql("SELECT count(*) FROM graft.cs.empty").as[Long].head == 0L)
    withConf("spark.sql.graft.metadataAggregate", "false") {
      val n = sql("SELECT count(*) FROM graft.cs.empty")
      assert(nativeRows(n) == Seq(Row(0L)))
    }
  }

  test("a DataFrame analyzed before widenColumn refuses with the drift message") {
    val t = fresh("drift", "(id BIGINT, v INT)")
    sql("INSERT INTO graft.cs.drift VALUES (1, 10), (2, 20)")
    val df = spark.table("graft.cs.drift").where("id > 0")
    assert(df.queryExecution.analyzed.schema.map(_.dataType).last ==
      org.apache.spark.sql.types.IntegerType)
    t.widenColumn("v", LongType)
    val e = intercept[Exception](df.collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).toSeq
    assert(msgs.exists(_.contains(
      "evolved its schema since this statement was analyzed")), msgs)
    // a fresh analysis reads the widened column
    assert(nativeRows(spark.table("graft.cs.drift")) ==
      Seq(Row(1L, 10L), Row(2L, 20L)))
  }

  test("a row-level DELETE reads the audit window's head after ADD COLUMN") {
    val t = fresh("audit", "(id BIGINT, v INT) " +
      "TBLPROPERTIES ('graft.delete.mode' = 'merge-on-read')")
    Seq((1L, 10), (2L, 20), (3L, 30)).toDF("id", "v").coalesce(1)
      .writeTo("graft.cs.audit").append()
    t.beginAudit()
    sql("ALTER TABLE graft.cs.audit ADD COLUMN w STRING")
    // v = 20 matches part of the one data file: not metadata-only, so
    // Spark plans the row-level operation, which scans the staged head
    sql("DELETE FROM graft.cs.audit WHERE v = 20")
    assert(t.currentSnapshot().dvFiles.nonEmpty)
    assert(t.readAudit().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L))
    // readers keep the published base until publish()
    assert(nativeRows(spark.table("graft.cs.audit")) ==
      Seq(Row(1L, 10), Row(2L, 20), Row(3L, 30)))
    t.publish()
    assert(nativeRows(spark.table("graft.cs.audit")) ==
      Seq(Row(1L, 10, null), Row(3L, 30, null)))
    // a staged change of a projected column's type is refused by name
    t.beginAudit()
    t.widenColumn("v", LongType)
    val e = intercept[Exception](sql("DELETE FROM graft.cs.audit WHERE v = 30"))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).toSeq
    assert(msgs.exists(_.contains("column v is not INT at version")), msgs)
  }

  test("struct-key deleteByKeys masks natively, equal to SnapshotTable.read()") {
    val t = fresh("skey",
      "(id BIGINT, k STRUCT<a: INT, b: STRING, d: DOUBLE>)")
    sql("""INSERT INTO graft.cs.skey VALUES
          |(1, named_struct('a', 1, 'b', 'x', 'd', 0.0D)),
          |(2, named_struct('a', 1, 'b', 'y', 'd', 0.0D)),
          |(3, named_struct('a', 2, 'b', NULL, 'd', 1.5D)),
          |(4, named_struct('a', 2, 'b', 'z', 'd', 1.5D)),
          |(5, named_struct('a', 3, 'b', 'w', 'd', CAST('NaN' AS DOUBLE))),
          |(6, NULL)""".stripMargin)
    t.deleteByKeys(sql("""SELECT named_struct('a', 1, 'b', 'x', 'd', -0.0D) AS k
                         |UNION ALL SELECT named_struct('a', 2, 'b',
                         |  CAST(NULL AS STRING), 'd', 1.5D)
                         |UNION ALL SELECT named_struct('a', 3, 'b', 'w',
                         |  'd', CAST('NaN' AS DOUBLE))""".stripMargin),
      Seq("k"))
    val ids = (r: Seq[Row]) => r.map(_.getLong(0))
    val got = nativeRows(spark.table("graft.cs.skey"))
    assert(ids(got) == Seq(2L, 4L, 6L))
    assert(got == readRows(t))
    // the row path masks the same keys
    withConf("spark.sql.parquet.enableVectorizedReader", "false") {
      assert(nativeRows(spark.table("graft.cs.skey")) == got)
    }
  }

  test("array-key deleteByKeys masks natively, equal to SnapshotTable.read()") {
    val t = fresh("akey", "(id BIGINT, tags ARRAY<STRING>, v INT)")
    sql("""INSERT INTO graft.cs.akey VALUES
          |(1, array('a', 'b'), 1), (2, array('b', 'a'), 2),
          |(3, array('a', NULL), 3), (4, array(), 4), (5, NULL, 5),
          |(6, array('a'), 6)""".stripMargin)
    t.deleteByKeys(sql("""SELECT array('a', 'b') AS tags
                         |UNION ALL SELECT array('a', CAST(NULL AS STRING))
                         |UNION ALL SELECT CAST(array() AS ARRAY<STRING>)"""
      .stripMargin), Seq("tags"))
    val got = nativeRows(spark.table("graft.cs.akey"))
    assert(got.map(_.getLong(0)) == Seq(2L, 5L, 6L))
    assert(got == readRows(t))
    // composite key: (array, int)
    t.deleteByKeys(Seq((Seq("b", "a"), 2), (Seq("a"), 7)).toDF("tags", "v"),
      Seq("tags", "v"))
    val got2 = nativeRows(spark.table("graft.cs.akey"))
    assert(got2.map(_.getLong(0)) == Seq(5L, 6L))
    assert(got2 == readRows(t))
  }

  test("a -0.0 delete key matches a 0.0 row, as Spark's join does") {
    val t = fresh("zero", "(id INT, k DOUBLE)")
    Seq((1, 0.0), (2, -0.0), (3, 1.5), (4, 2.5)).toDF("id", "k")
      .writeTo("graft.cs.zero").append()
    t.deleteByKeys(Seq(-0.0).toDF("k"), Seq("k"))
    val got = nativeRows(spark.table("graft.cs.zero"))
    assert(got.map(_.getInt(0)) == Seq(3, 4))
    assert(got == readRows(t))
    // composite keys normalize each component
    Seq((5, 0.0), (6, -0.0)).toDF("id", "k").writeTo("graft.cs.zero").append()
    t.deleteByKeys(Seq((5, -0.0), (6, 0.0)).toDF("id", "k"), Seq("id", "k"))
    val got2 = nativeRows(spark.table("graft.cs.zero"))
    assert(got2.map(_.getInt(0)) == Seq(3, 4))
    assert(got2 == readRows(t))
  }
}
