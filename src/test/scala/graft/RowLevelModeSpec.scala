package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{call_udf, col, lit, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{InsertClause, MergeAction, MergeClause, ScanEvents, Snapshot, SnapshotConflictException, SnapshotTable}

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

  test("explicit-mode Scala methods commit the kind they name, whatever the table's mode") {
    val mor = fresh("force_mor", Some("merge-on-read"))
    val cow = fresh("force_cow", Some("copy-on-write"))
    val s1 = mor.delete(col("id") === 3L)
    val s2 = mor.update(Seq("v" -> lit(-4.0)), col("id") === 4L)
    val s3 = cow.deleteWithVectors(col("id") === 3L)
    val s4 = cow.updateWithVectors(Seq("v" -> lit(-4.0)), col("id") === 4L)
    assert(Seq(s1, s2, s3, s4).map(_.operation) ==
      Seq("delete", "update", "delete-pos", "update-pos"))
    // copy-on-write rewrote the hit file; merge-on-read wrote vectors
    assert(mor.currentSnapshot().dvFiles.isEmpty)
    assert(cow.currentSnapshot().dvFiles.size == 2)
    assert(rows(mor) == rows(cow))
    assert(rows(cow).take(4) == Seq((1L, 1.0), (2L, 2.0), (4L, -4.0),
      (5L, 5.0)))
  }

  test("a Scala DML call returns its own statement's snapshot, even when a commit lands right after it") {
    val t = fresh("own", None)
    t.afterStatementHook = () => t.setProperties(Map("rlm.after" -> "1"))
    try {
      Seq[SnapshotTable => Snapshot](
        _.delete(col("id") === 2L),
        _.deleteWithVectors(col("id") === 3L),
        _.update(Seq("v" -> lit(0.0)), col("id") === 4L),
        _.updateWithVectors(Seq("v" -> lit(0.0)), col("id") === 5L),
        _.merge(Seq((8L, -8.0)).toDF("id", "v"), Seq("id"))
      ).zip(Seq("delete", "delete-pos", "update", "update-pos", "merge"))
        .foreach { case (call, op) =>
          val before = t.currentVersion()
          val own = call(t)
          assert(own.version == before + 1 && own.operation == op,
            s"$op returned v${own.version} ${own.operation}")
          assert(t.currentSnapshot().operation == "set-properties")
        }
    } finally t.afterStatementHook = () => ()
  }

  test("a Scala DML call that matches nothing publishes no version") {
    val t = fresh("noop", None)
    val m = fresh("noop_mor", Some("merge-on-read"))
    val none = col("id") === 999L
    Seq(t, m).foreach { tbl =>
      val base = tbl.currentSnapshot()
      val got = Seq(tbl.delete(none), tbl.deleteWithVectors(none),
        tbl.deleteRouted(col("v") > 1000.0), tbl.update(Seq("v" -> lit(0.0)),
          none), tbl.updateWithVectors(Seq("v" -> lit(0.0)), none),
        tbl.updateRouted(Seq("v" -> lit(0.0)), col("v") > 1000.0),
        tbl.merge(Seq((99L, 9.0)).toDF("id", "v"), Seq("id"),
          insertNotMatched = false))
      assert(got.forall(_ == base), got.map(_.operation))
      assert(tbl.currentSnapshot() == base)
    }
  }

  test("a Scala merge-on-read DELETE rebases over a disjoint append made during it; serializable conflicts") {
    Seq("snapshot", "serializable").foreach { level =>
      val t = fresh(s"iso_$level", None)
      t.setProperties(Map("graft.write.isolation-level" -> level))
      val before = rows(t)
      // the append stages first and commits while the DELETE's scan
      // evaluates its first row
      val appender = SnapshotTable.load(spark, t.root.toString)
      val staged = new java.util.concurrent.CountDownLatch(1)
      val go = new java.util.concurrent.CountDownLatch(1)
      val appended = new java.util.concurrent.CountDownLatch(1)
      appender.onStagedHook = () => { staged.countDown(); go.await() }
      val writer = new Thread(() => {
        appender.append(Seq((100L, 100.0)).toDF("id", "v"))
        appended.countDown()
      })
      writer.start()
      staged.await()
      RowLevelModeSpec.scanned.set(false)
      RowLevelModeSpec.duringScan = () => { go.countDown(); appended.await() }
      spark.udf.register("rlm_during", udf { (id: Long) =>
        if (RowLevelModeSpec.scanned.compareAndSet(false, true))
          RowLevelModeSpec.duringScan()
        id
      })
      val out = scala.util.Try(
        t.deleteWithVectors(call_udf("rlm_during", col("id")) === 3L))
      writer.join()
      val ops = t.history().map(_.operation).takeRight(2)
      if (level == "snapshot") {
        assert(out.get.operation == "delete-pos" &&
          out.get == t.currentSnapshot(), out)
        assert(ops == Seq("append", "delete-pos"))
        assert(rows(t) == (before.filterNot(_._1 == 3L) :+ (100L, 100.0)))
      } else {
        val e = out.failed.get
        val chain = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null)
        assert(chain.exists(_.isInstanceOf[SnapshotConflictException]), e)
        assert(ops.last == "append")
        assert(rows(t) == (before :+ (100L, 100.0)))
      }
    }
  }

  test("a Scala merge whose source adds a column publishes one version on a path table") {
    Seq("copy-on-write", "merge-on-read").foreach { mode =>
      val t = SnapshotTable.create(spark,
        java.nio.file.Files.createTempDirectory("rlm-evolve").resolve("t")
          .toString, org.apache.spark.sql.types.StructType.fromDDL(
          "id BIGINT, v DOUBLE"), None, Map("graft.merge.mode" -> mode))
      t.append(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"))
      val before = t.currentVersion()
      val out = t.merge(Seq((2L, 20.0, "b"), (3L, 3.0, "c"))
        .toDF("id", "v", "tag"), Seq("id"))
      assert(t.currentVersion() == before + 1 && out == t.currentSnapshot(),
        mode)
      assert(out.schema.fieldNames.toSeq == Seq("id", "v", "tag"), mode)
      assert(t.read().select("id", "tag").as[(Long, Option[String])]
        .collect().sortBy(_._1).toSeq ==
        Seq((1L, None), (2L, Some("b")), (3L, Some("c"))), mode)
    }
  }

  test("a partially covered DELETE opens only the boundary file, on every surface") {
    def fourFiles(t: SnapshotTable): SnapshotTable = {
      (0 until 4).foreach(k => t.append(spark.range(k * 100, k * 100 + 100)
        .selectExpr("id", "cast(id as double) as v").repartition(1)))
      t
    }
    def path(): SnapshotTable = fourFiles(SnapshotTable.create(spark,
      java.nio.file.Files.createTempDirectory("rlm-cover").resolve("t")
        .toString, org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, v DOUBLE"), None))
    val catalog = fresh("cover", None, Nil)
    fourFiles(catalog)
    Seq[(String, SnapshotTable, SnapshotTable => Any)](
      ("SQL copy-on-write", catalog,
        _ => sql("DELETE FROM graft.rlm.cover WHERE id < 250")),
      ("Scala delete", path(), _.delete(col("id") < 250L)),
      ("Scala deleteWithVectors", path(),
        _.deleteWithVectors(col("id") < 250L))
    ).foreach { case (what, t, delete) =>
      val (_, events) = ScanEvents.capture(delete(t))
      val mine = events.filter(_.root.endsWith(t.root.toUri.getPath))
      assert(mine.nonEmpty && mine.forall(_.kept == 1), s"$what: $events")
      assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
        (250L until 400L), what)
      assert(t.currentSnapshot().files.size == 2, what)
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
  /** Run once by the first row a predicate UDF sees. */
  @volatile private var duringScan: () => Unit = () => ()
  private val scanned = new AtomicBoolean(false)
}
