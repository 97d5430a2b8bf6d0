package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.CommandResult
import org.apache.spark.sql.functions.sum
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.SnapshotTable

/** Row-level (DML target) scans take the NATIVE columnar path: the
  * row-identity metadata columns `_graft_file` / `_graft_pos` are
  * SYNTHESIZED by [[graft.catalog.GraftBatchScan]] — the split's
  * qualified path as a per-split constant vector, the parquet
  * row-index column (file-absolute, the `_metadata.row_index`
  * machinery) as the position — instead of forcing the V1 row bridge
  * that pays an InternalRow→Row→InternalRow conversion per target row.
  * At 100 TB an UPDATE/MERGE reads the whole target through this scan,
  * so the bridge was the largest remaining native-path fallback.
  *
  * Position correctness is load-bearing: the delta write commits
  * roaring vectors keyed on (file, ordinal) — if the synthesized
  * ordinals drifted from file-absolute row indices, deletes would land
  * on the wrong rows. Every test therefore verifies exact table
  * contents after the DML, not just plan shape.
  */
class NativeDmlScanSpec extends AnyFunSuite {

  private lazy val spark = TestSparkSession.spark
  import spark.implicits._

  private def sql(q: String): DataFrame = spark.sql(q)

  /** Every row-level mode merge-on-read: these cases are about the
    * delta write.
    */
  private val Mor = Seq("delete", "update", "merge")
    .map(k => s"'graft.$k.mode'='merge-on-read'").mkString(", ")

  private def warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")

  private def commandPlan(df: DataFrame): String =
    df.queryExecution.commandExecuted match {
      case cr: CommandResult => cr.commandPhysicalPlan.toString
      case other => other.toString
    }

  test("row-level DELETE: native columnar target scan, exact deletion") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.ndml")
    sql("DROP TABLE IF EXISTS graft.ndml.d")
    sql(s"CREATE TABLE graft.ndml.d (id BIGINT, v DOUBLE) TBLPROPERTIES ($Mor)")
    sql("INSERT INTO graft.ndml.d SELECT id, cast(id as double) " +
      "FROM range(0, 10000)")
    // `%` has no sources.Filter form, so the metadata-delete shortcut
    // refuses and Spark plans the row-level (delta) DELETE
    val plan = commandPlan(sql("DELETE FROM graft.ndml.d WHERE id % 10 < 3"))
    assert(plan.contains("WriteDelta"), plan.take(2000))
    assert(plan.contains("GraftBatchScan"),
      s"DML target scan must be native:\n${plan.take(3000)}")
    assert(plan.contains("ColumnarToRow"),
      s"native DML scan must stay columnar:\n${plan.take(3000)}")
    val t = SnapshotTable.load(spark, s"$warehouse/ndml/d")
    assert(t.currentSnapshot().operation == "delete-pos")
    val expect = (0L until 10000L).filterNot(_ % 10 < 3)
    val df = spark.table("graft.ndml.d")
    assert(df.count() == expect.size.toLong)
    assert(df.agg(sum("id")).as[Long].head == expect.sum,
      "synthesized positions must be file-absolute — a drifted ordinal " +
        "deletes the wrong rows")
  }

  test("UPDATE on a dv-covered table: masked native scan, survivors only") {
    sql("DROP TABLE IF EXISTS graft.ndml.u")
    sql(s"CREATE TABLE graft.ndml.u (id BIGINT, v DOUBLE) TBLPROPERTIES ($Mor)")
    sql("INSERT INTO graft.ndml.u SELECT id, cast(id as double) " +
      "FROM range(0, 10000)")
    val t = SnapshotTable.load(spark, s"$warehouse/ndml/u")
    // existing vectors: the DML scan must mask already-deleted ordinals
    // (never re-mark or resurrect) while synthesizing positions
    t.deleteWithVectors(org.apache.spark.sql.functions.col("id") % 7 === 0)
    val plan = commandPlan(
      sql("UPDATE graft.ndml.u SET v = v + 1 WHERE id % 5 = 0"))
    assert(plan.contains("GraftBatchScan"),
      s"dv-covered DML scan must stay native:\n${plan.take(3000)}")
    val survivors = (0L until 10000L).filterNot(_ % 7 == 0)
    val expectSum = survivors.map(id =>
      id.toDouble + (if (id % 5 == 0) 1.0 else 0.0)).sum
    val df = spark.table("graft.ndml.u")
    assert(df.count() == survivors.size.toLong)
    assert(df.agg(sum("v")).as[Double].head == expectSum,
      "update must hit exactly the surviving id%5 rows")
  }

  test("MERGE into a partitioned table: native target scan, exact result") {
    sql("DROP TABLE IF EXISTS graft.ndml.m")
    sql("CREATE TABLE graft.ndml.m (id BIGINT, kind STRING, v DOUBLE) " +
      s"PARTITIONED BY (kind) TBLPROPERTIES ($Mor)")
    sql("INSERT INTO graft.ndml.m SELECT id, " +
      "concat('k', cast(id % 4 as string)), cast(id as double) " +
      "FROM range(0, 8000)")
    spark.range(0, 1000).selectExpr("id * 10 as id",
      "concat('k', cast((id * 10) % 4 as string)) as kind",
      "cast(-1 as double) as v").createOrReplaceTempView("ndml_src")
    val plan = commandPlan(sql(
      """MERGE INTO graft.ndml.m t USING ndml_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(plan.contains("WriteDelta"), plan.take(2000))
    assert(plan.contains("GraftBatchScan"),
      s"MERGE target scan must be native:\n${plan.take(3000)}")
    // matched: id in [0,8000) divisible by 10 -> v = -1; unmatched
    // source rows (id >= 8000) insert with v = -1
    val matched = (0L until 8000L).count(_ % 10 == 0)
    val inserted = (0L until 1000L).map(_ * 10).count(_ >= 8000L)
    val df = spark.table("graft.ndml.m")
    assert(df.count() == 8000L + inserted)
    assert(df.filter("v = -1").count() == matched.toLong + inserted)
    val keepSum = (0L until 8000L).filterNot(_ % 10 == 0).sum
    assert(df.filter("v <> -1").agg(sum("id")).as[Long].head == keepSum)
  }
}
