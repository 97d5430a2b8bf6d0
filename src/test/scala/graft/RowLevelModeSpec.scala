package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{InsertClause, MergeAction, MergeClause, SnapshotConflictException, SnapshotTable}

/** One row-level engine: a table's `graft.{delete,update,merge}.mode`
  * decides how a statement commits, whichever surface it arrives
  * through — catalog SQL, SQL on a `USING graft` temp view, or the
  * Scala API's routed calls. Copy-on-write (the default) runs SQL as
  * Spark's group-based `ReplaceData`, narrowed at runtime to the files
  * holding a match; merge-on-read runs it as the delta write.
  */
class RowLevelModeSpec extends AnyFunSuite {

  private lazy val spark = TestSparkSession.spark
  import spark.implicits._

  private def sql(q: String): DataFrame = spark.sql(q)

  private def warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")

  /** A fresh catalog table `graft.rlm.<name> (id BIGINT, v DOUBLE)`
    * with every `graft.*.mode` set to `mode` (None: no property), one
    * single-file append per id range.
    */
  private def fresh(name: String, mode: Option[String],
      ranges: Seq[(Long, Long)] = Seq((1L, 7L), (7L, 13L))): SnapshotTable = {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.rlm")
    sql(s"DROP TABLE IF EXISTS graft.rlm.$name")
    val props = mode.fold("")(m => Seq("delete", "update", "merge")
      .map(k => s"'graft.$k.mode' = '$m'")
      .mkString(" TBLPROPERTIES (", ", ", ")"))
    sql(s"CREATE TABLE graft.rlm.$name (id BIGINT, v DOUBLE)$props")
    ranges.foreach { case (lo, hi) =>
      sql(s"INSERT INTO graft.rlm.$name SELECT /*+ REPARTITION(1) */ " +
        s"id, cast(id as double) FROM range($lo, $hi)")
    }
    SnapshotTable.load(spark, s"$warehouse/rlm/$name")
  }

  private def rows(t: SnapshotTable): Seq[(Long, Double)] =
    t.read().select("id", "v").as[(Long, Double)].collect().toSeq.sorted

  private val mergeSource = Seq((2L, -2.0), (20L, 20.0)).toDF("id", "v")

  /** The four statements, each as (SQL against `target`, Scala call). */
  private val statements: Seq[(String, String => String,
      SnapshotTable => Unit)] = Seq(
    ("DELETE with a v1-filter form",
      t => s"DELETE FROM $t WHERE id = 3",
      _.deleteRouted(col("id") === 3L)),
    ("DELETE without one",
      t => s"DELETE FROM $t WHERE id % 3 = 0",
      _.deleteRouted(col("id") % 3 === 0)),
    ("UPDATE",
      t => s"UPDATE $t SET v = v + 100 WHERE id <= 2",
      _.updateRouted(Seq("v" -> (col("v") + 100)), col("id") <= 2L)),
    ("MERGE",
      t => s"""MERGE INTO $t t USING rlm_src s ON t.id = s.id
              |WHEN MATCHED THEN UPDATE SET v = s.v
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
      _.mergeConditional(mergeSource, Seq("id"),
        Seq(MergeClause(None, MergeAction.UpdateSet(Seq("v" -> col("s.v"))))),
        Seq(InsertClause(None)), Nil)))

  test("every mode commits the same operation and rows from catalog SQL, temp-view SQL and the Scala API") {
    mergeSource.createOrReplaceTempView("rlm_src")
    val expected = Map(
      false -> Seq("delete", "delete", "update", "merge"),
      true -> Seq("delete-pos", "delete-pos", "update-pos", "merge-pos"))
    Seq(None, Some("copy-on-write"), Some("merge-on-read")).foreach { mode =>
      val tag = mode.getOrElse("none").replace("-", "_")
      val catalog = fresh(s"cat_$tag", mode)
      val view = fresh(s"view_$tag", mode)
      val scala = fresh(s"api_$tag", mode)
      sql(s"CREATE OR REPLACE TEMPORARY VIEW rlm_view_$tag " +
        s"USING graft OPTIONS (path '${view.root}')")
      statements.zip(expected(mode.contains("merge-on-read"))).foreach {
        case ((what, stmt, api), op) =>
          sql(stmt(s"graft.rlm.cat_$tag"))
          sql(stmt(s"rlm_view_$tag"))
          api(scala)
          val ops = Seq(catalog, view, scala).map(_.currentSnapshot().operation)
          assert(ops == Seq(op, op, op), s"$what under mode $mode: " +
            "catalog, view, Scala API")
          assert(rows(catalog) == rows(scala) && rows(view) == rows(scala),
            s"$what under mode $mode")
      }
      assert(rows(scala) == Seq((1L, 101.0), (2L, -2.0), (4L, 4.0),
        (5L, 5.0), (7L, 7.0), (8L, 8.0), (10L, 10.0), (11L, 11.0),
        (20L, 20.0)), s"mode $mode")
    }
  }

  test("temp-view SQL plans a non-equi MERGE, a subquery DELETE and a nested-field UPDATE") {
    val t = fresh("view_surface", None)
    sql("CREATE OR REPLACE TEMPORARY VIEW rlm_vs " +
      s"USING graft OPTIONS (path '${t.root}')")
    Seq((4L, 0.0)).toDF("id", "v").createOrReplaceTempView("rlm_vs_src")
    sql("""MERGE INTO rlm_vs t USING rlm_vs_src s ON t.id < s.id
          |WHEN MATCHED THEN UPDATE SET v = -1""".stripMargin)
    assert(t.currentSnapshot().operation == "merge")
    assert(rows(t).take(4) == Seq((1L, -1.0), (2L, -1.0), (3L, -1.0),
      (4L, 4.0)))
    sql("DELETE FROM rlm_vs WHERE id IN (SELECT id + 6 FROM rlm_vs_src)")
    assert(t.currentSnapshot().operation == "delete")
    assert(!rows(t).map(_._1).contains(10L) && rows(t).size == 11)

    sql("DROP TABLE IF EXISTS graft.rlm.nested")
    sql("CREATE TABLE graft.rlm.nested (id BIGINT, s STRUCT<a: INT, b: STRING>)")
    sql("INSERT INTO graft.rlm.nested VALUES (1, named_struct('a', 1, 'b', 'x')), " +
      "(2, named_struct('a', 2, 'b', 'y')), (3, NULL)")
    val n = SnapshotTable.load(spark, s"$warehouse/rlm/nested")
    sql("CREATE OR REPLACE TEMPORARY VIEW rlm_nested " +
      s"USING graft OPTIONS (path '${n.root}')")
    sql("UPDATE rlm_nested SET id = id + 10 WHERE s.a = 2")
    assert(n.currentSnapshot().operation == "update")
    assert(n.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 12L))
  }

  test("a copy-on-write UPDATE rewrites only the file holding a match") {
    val t = fresh("narrow", None,
      Seq((0L, 100L), (100L, 200L), (200L, 300L), (300L, 400L)))
    val before = t.currentSnapshot().files.map(_.path).toSet
    assert(before.size == 4)
    // modulo has no v1 filter form: the scan prunes nothing up front,
    // only the runtime _graft_file filter narrows the rewrite
    sql("UPDATE graft.rlm.narrow SET v = -1 WHERE id % 1000 = 157")
    val after = t.currentSnapshot()
    assert(after.operation == "update")
    val kept = after.files.map(_.path).toSet
    assert((before -- kept).size == 1 && (kept -- before).size == 1,
      s"removed ${before -- kept}, added ${kept -- before}")
    assert(rows(t).filter(_._2 < 0) == Seq((157L, -1.0)))
    assert(rows(t).size == 400)
  }

  test("a commit landing between the scan and the rewrite's commit conflicts and publishes nothing") {
    val t = fresh("race", None)
    val before = rows(t)
    RowLevelModeSpec.racer = t
    RowLevelModeSpec.raced.set(false)
    // the SET expression runs in the write stage, after the statement
    // planned its scan of the base version
    spark.udf.register("rlm_race", udf { (v: Double) =>
      if (RowLevelModeSpec.raced.compareAndSet(false, true))
        RowLevelModeSpec.racer.setProperties(Map("rlm.race" -> "1"))
      v + 1
    })
    val e = intercept[Exception](
      sql("UPDATE graft.rlm.race SET v = rlm_race(v) WHERE id % 5 = 0"))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(_.isInstanceOf[SnapshotConflictException]), e)
    val head = t.currentSnapshot()
    assert(head.operation == "set-properties", head.operation)
    assert(rows(t) == before)
  }

  test("#changes over copy-on-write SQL UPDATE and MERGE equals the Scala API's") {
    val viaSql = fresh("cdc_sql", None)
    val viaApi = fresh("cdc_api", None)
    mergeSource.createOrReplaceTempView("rlm_src")
    sql("UPDATE graft.rlm.cdc_sql SET v = v * 10 WHERE id IN (3, 9)")
    viaApi.update(Seq("v" -> (col("v") * 10)), col("id").isin(3L, 9L))
    sql(statements(3)._2("graft.rlm.cdc_sql"))
    statements(3)._3(viaApi)
    assert(Seq(viaSql, viaApi).map(_.currentSnapshot().operation) ==
      Seq("merge", "merge"))
    def changes(name: String): Seq[Row] =
      sql(s"SELECT _change_type, id, v FROM graft.rlm.`$name#changes`")
        .collect().toSeq.sortBy(_.toString)
    assert(changes("cdc_sql") == changes("cdc_api"))
    assert(changes("cdc_sql").nonEmpty)
  }

  test("temp-view DML on month- and bucket-partitioned tables plans in both modes") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, ts TIMESTAMP, v DOUBLE")
    val data = spark.range(0, 40).selectExpr("id",
      "timestamp_seconds(1700000000 + id * 200000) AS ts",
      "cast(id AS double) AS v")
    for {
      mode <- Seq("copy-on-write", "merge-on-read")
      spec <- Seq(graft.catalog.PartitionSpec("ts", "month"),
        graft.catalog.PartitionSpec("id", "bucket[4]"))
    } {
      val t = SnapshotTable.create(spark,
        java.nio.file.Files.createTempDirectory("rlm-part").resolve("t")
          .toString, schema, Some(spec),
        Seq("delete", "update", "merge").map(k => s"graft.$k.mode" -> mode)
          .toMap)
      t.append(data)
      sql("CREATE OR REPLACE TEMPORARY VIEW rlm_part " +
        s"USING graft OPTIONS (path '${t.root}')")
      sql("UPDATE rlm_part SET v = -v WHERE id % 5 = 0")
      Seq((3L, 0.5), (99L, 9.5)).toDF("id", "v")
        .createOrReplaceTempView("rlm_part_src")
      sql("""MERGE INTO rlm_part t USING rlm_part_src s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET v = s.v
            |WHEN NOT MATCHED THEN INSERT (id, ts, v)
            |  VALUES (s.id, TIMESTAMP '2024-01-01 00:00:00', s.v)""".stripMargin)
      val want = (0L until 40L).map(i => i -> (if (i % 5 == 0) -i.toDouble
        else if (i == 3) 0.5 else i.toDouble)) :+ (99L -> 9.5)
      assert(rows(t) == want.sorted, s"$mode, $spec")
      assert(t.currentSnapshot().operation ==
        (if (mode == "merge-on-read") "merge-pos" else "merge"))
    }
  }

  test("dynamic partition overwrite through writeTo(...).overwritePartitions()") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.rlm")
    sql("DROP TABLE IF EXISTS graft.rlm.dyn")
    sql("CREATE TABLE graft.rlm.dyn (id BIGINT, kind STRING) PARTITIONED BY (kind)")
    sql("INSERT INTO graft.rlm.dyn VALUES (1, 'a'), (2, 'a'), (3, 'b'), (4, 'c')")
    Seq((10L, "a"), (30L, "b"), (31L, "b")).toDF("id", "kind")
      .writeTo("graft.rlm.dyn").overwritePartitions()
    val t = SnapshotTable.load(spark, s"$warehouse/rlm/dyn")
    assert(t.currentSnapshot().operation == "overwrite")
    assert(sql("SELECT id, kind FROM graft.rlm.dyn").as[(Long, String)]
      .collect().sorted.toSeq ==
      Seq((4L, "c"), (10L, "a"), (30L, "b"), (31L, "b")))
  }
}

object RowLevelModeSpec {
  @volatile private var racer: SnapshotTable = _
  private val raced = new AtomicBoolean(false)
}
