package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, WriteDeltaExec}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.ListenerBusBridge
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{GraftBatchScan, GraftPartitionReaderFactory, ScanEvents, SnapshotTable}

/** The fixed Spark work of a short statement on a merge-on-read table:
  * each scan builds its parquet readers once (each reader broadcasts
  * one Hadoop conf), a SQL point DELETE runs as the row-level delta
  * write instead of a read-collect-write-read chain, and a MERGE from
  * rows already on the driver derives its target prune without a
  * probe job; a copy-on-write UPDATE and MERGE stay within pinned job
  * and stage counts. Every case also checks the rows it leaves.
  */
class StatementWorkSpec extends AnyFunSuite {

  private lazy val spark = TestSparkSession.spark

  private def sql(q: String): DataFrame = spark.sql(q)

  private def warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")

  /** Spark work done while `f` ran: jobs, stages submitted (one task
    * binary broadcast each) and broadcasts, counted by the gap between
    * two probe broadcast ids.
    */
  private final case class Work(jobs: Int, stages: Int, broadcasts: Long)

  private def workOf[T](f: => T): (T, Work) = {
    val sc = spark.sparkContext
    ListenerBusBridge.drain(sc)
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val before = sc.broadcast(0)
      val out = f
      val after = sc.broadcast(0)
      before.destroy(); after.destroy()
      ListenerBusBridge.drain(sc)
      (out, Work(jobs.get, stages.get, after.id - before.id - 1))
    } finally sc.removeSparkListener(listener)
  }

  /** Every native graft scan in an executed plan, commands and adaptive
    * stages included.
    */
  private def graftScans(p: SparkPlan): Seq[GraftBatchScan] = p match {
    case c: CommandResultExec => graftScans(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => graftScans(a.executedPlan)
    case s: QueryStageExec => graftScans(s.plan)
    case b: BatchScanExec => b.scan match {
      case g: GraftBatchScan => Seq(g)
      case _ => Nil
    }
    case other => other.children.flatMap(graftScans)
  }

  /** The parquet readers a scan's factory holds, one broadcast each. */
  private def readers(scan: GraftBatchScan): Int = {
    val f = scan.toBatch.createReaderFactory()
      .asInstanceOf[GraftPartitionReaderFactory]
    assert(scan.toBatch.createReaderFactory() eq f,
      "a scan must hand out one reader factory")
    f.readFile.size + f.readExts.count(_.isDefined) + f.readColumnar.size +
      f.readColumnarExts.count(_.isDefined) + f.readDv.size +
      f.deleteReaders.size
  }

  private def ids(q: String): Seq[Long] =
    sql(q).collect().map(_.getLong(0)).toSeq.sorted

  // ---- merge-on-read table: ten single-file appends of 100 ids (file
  // k holds [100k, 100k + 100)), a column added after the eighth, and
  // delete vectors over every multiple of 7
  private val Mor = "graft.stmt.mor"
  private var morDeleted = Set.empty[Long]

  private def morModel: Seq[Long] =
    (0L until 1000L).filterNot(id => id % 7 == 0 || morDeleted(id))

  private lazy val morTable: SnapshotTable = {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.stmt")
    sql(s"DROP TABLE IF EXISTS $Mor")
    sql(s"CREATE TABLE $Mor (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.delete.mode'='merge-on-read', " +
      "'graft.update.mode'='merge-on-read')")
    (0 until 10).foreach { k =>
      if (k == 8) sql(s"ALTER TABLE $Mor ADD COLUMN w BIGINT")
      sql(s"INSERT INTO $Mor SELECT /*+ REPARTITION(1) */ id, " +
        (if (k < 8) "cast(id as double)" else "cast(id as double), id") +
        s" FROM range(${k * 100}, ${k * 100 + 100})")
    }
    val t = SnapshotTable.load(spark, s"$warehouse/stmt/mor")
    t.deleteWithVectors(col("id") % 7 === 0)
    assert(t.currentSnapshot().files.size == 10)
    t
  }

  test("a point read and a point UPDATE build each scan's readers once") {
    morTable
    // an old-shape file with vectors: its ext reader plus the vector
    // reader. Building the factory twice paid 2 × readers + task
    // binaries in broadcasts.
    val q = s"SELECT id FROM $Mor WHERE id = 151"
    val (df, read) = workOf { val d = sql(q); d.collect(); d }
    val Seq(scan) = graftScans(df.queryExecution.executedPlan)
    val r = readers(scan)
    assert(r == 2, s"expected the ext and vector readers, got $r")
    assert(read.broadcasts == r + read.stages,
      s"point read: $read with $r readers")
    assert(ids(q) == Seq(151L))

    val (upd, update) = workOf(
      sql(s"UPDATE $Mor SET v = -1 WHERE id = 152"))
    val Seq(updScan) = graftScans(upd.queryExecution.executedPlan)
    val ru = readers(updScan)
    assert(update.broadcasts == ru + update.stages,
      s"point UPDATE: $update with $ru readers")
    assert(sql(s"SELECT v FROM $Mor WHERE id = 152").collect().toSeq ==
      Seq(Row(-1.0)))
    assert(ids(s"SELECT id FROM $Mor") == morModel)
  }

  test("a merge-on-read point DELETE is one delta write") {
    val t = morTable
    val before = t.currentSnapshot()
    val (df, work) = workOf(sql(s"DELETE FROM $Mor WHERE id = 250"))
    morDeleted += 250L
    val plan = df.queryExecution.executedPlan.asInstanceOf[CommandResultExec]
    assert(plan.commandPhysicalPlan.isInstanceOf[WriteDeltaExec],
      plan.commandPhysicalPlan.treeString)
    assert(work.jobs <= 2, s"point DELETE: $work")
    val after = t.currentSnapshot()
    assert(after.operation == "delete-pos", after.operation)
    assert(after.files == before.files, "no data file dropped or rewritten")
    assert(after.dvFiles.count(_.seq == after.version) == 1,
      "one new vector")
    assert(ids(s"SELECT id FROM $Mor") == morModel)
  }

  test("an aligned merge-on-read DELETE stays metadata-only") {
    val t = morTable
    val before = t.currentSnapshot()
    // exactly the bounds of the file holding [700, 800)
    val (_, work) = workOf(
      sql(s"DELETE FROM $Mor WHERE id >= 700 AND id <= 799"))
    morDeleted ++= (700L until 800L)
    val after = t.currentSnapshot()
    assert(work.jobs == 0, s"a metadata-only delete opens no file: $work")
    assert(after.files.size == before.files.size - 1, "the file dropped")
    assert(after.dvFiles.count(_.seq == after.version) == 0, "no vector")
    assert(ids(s"SELECT id FROM $Mor") == morModel)
  }

  test("a key-shaped DELETE under equality mode still commits delete-eq") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.stmt")
    sql("DROP TABLE IF EXISTS graft.stmt.eq")
    sql("CREATE TABLE graft.stmt.eq (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.delete.mode'='equality')")
    sql("INSERT INTO graft.stmt.eq SELECT id, cast(id as double) " +
      "FROM range(0, 100)")
    val t = SnapshotTable.load(spark, s"$warehouse/stmt/eq")
    val files = t.currentSnapshot().files
    sql("DELETE FROM graft.stmt.eq WHERE id = 5")
    val key = t.currentSnapshot()
    assert(key.operation == "delete-eq", key.operation)
    assert(key.files == files && key.deleteFiles.size == 1)
    // not key-shaped and not metadata-only: a positional delta write
    sql("DELETE FROM graft.stmt.eq WHERE v > 40.5 AND v < 42.5")
    val pos = t.currentSnapshot()
    assert(pos.operation == "delete-pos", pos.operation)
    assert(pos.files == files)
    assert(ids("SELECT id FROM graft.stmt.eq") ==
      (0L until 100L).filterNot(Set(5L, 41L, 42L)))
  }

  // ---- MERGE targets: eight single-file appends of 1000 ids
  private val srcSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", DoubleType)))

  private def localRows(keys: Seq[Long]): DataFrame =
    spark.createDataFrame(keys.map(k => Row(k, -1.0)).asJava, srcSchema)

  /** MERGE `src` into a fresh target `name` with table properties
    * `props`: the Spark work, the target scan's (kept, total) files and
    * the rows left.
    */
  private def merge(name: String, props: String, src: DataFrame)
      : (Work, Int, Int, Seq[(Long, Double)]) = {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.stmt")
    sql(s"DROP TABLE IF EXISTS graft.stmt.$name")
    sql(s"CREATE TABLE graft.stmt.$name (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.delete.mode'='merge-on-read', " +
      s"'graft.merge.mode'='merge-on-read'$props)")
    (0 until 8).foreach { k =>
      sql(s"INSERT INTO graft.stmt.$name SELECT /*+ REPARTITION(1) */ " +
        s"id, cast(id as double) FROM range(${k * 1000}, ${k * 1000 + 1000})")
    }
    src.createOrReplaceTempView("stmt_src")
    val ((_, work), events) = ScanEvents.capture(workOf(
      sql(s"""MERGE INTO graft.stmt.$name t USING stmt_src s ON t.id = s.id
             |WHEN MATCHED THEN UPDATE SET v = s.v
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)))
    val ev = events.filter(_.root.endsWith(s"stmt/$name"))
    assert(ev.nonEmpty, s"no target scan captured: $events")
    val rows = sql(s"SELECT id, v FROM graft.stmt.$name").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq.sorted
    (work, ev.head.kept, ev.head.total, rows)
  }

  private val Off = ", 'graft.merge.source-prune'='off'"

  private def mergeModel(keys: Seq[Long]): Seq[(Long, Double)] =
    ((0L until 8000L).map(id => id -> id.toDouble).toMap ++
      keys.map(_ -> -1.0)).toSeq.sorted

  /** Pruned MERGE vs the same MERGE with the prune off: the off run
    * has no probe, so equal job counts mean the pruned run had none.
    */
  private def assertPrunedWithoutProbe(name: String, props: String,
      keys: Seq[Long]): Unit = {
    val (work, kept, total, rows) = merge(name, props, localRows(keys))
    val (offWork, offKept, offTotal, offRows) =
      merge(s"${name}_off", props + Off, localRows(keys))
    assert(kept < total, s"the target scan must prune: $kept of $total")
    assert(offKept == offTotal)
    assert(work.jobs == offWork.jobs,
      s"a literal source ran probe jobs: $work vs unpruned $offWork")
    assert(rows == mergeModel(keys) && offRows == rows)
  }

  test("a MERGE from local rows prunes the target without a probe job") {
    // five keys in one file plus one fresh insert: IN lists
    assertPrunedWithoutProbe("mp", "", (2000L until 2005L) :+ 9000L)
    // wider than max-keys: the [min, max] range, still on the driver
    assertPrunedWithoutProbe("mw",
      ", 'graft.merge.source-prune.max-keys'='8'", 3100L until 3150L)
  }

  test("a MERGE from a range() source still probes it") {
    val keys = 2000L until 2005L
    def src = spark.range(2000, 2005).selectExpr("id", "cast(-1 as double) as v")
    val (work, kept, total, rows) = merge("mt", "", src)
    val (offWork, _, _, offRows) = merge("mt_off", Off, src)
    assert(work.jobs > offWork.jobs, s"probe jobs: $work vs $offWork")
    assert(kept < total, s"the target scan must prune: $kept of $total")
    assert(rows == mergeModel(keys) && offRows == rows)
  }

  test("a copy-on-write MERGE from local rows prunes its rewrite to the files its keys overlap") {
    // keys 150 and 160 fall in file 1, 350 in file 3, 999 in none
    val keys = Seq(150L, 160L, 350L, 999L)
    val want = ((0L until 400L).map(id => id -> id.toDouble).toMap ++
      keys.map(_ -> -1.0)).toSeq.sorted
    def check(what: String, t: SnapshotTable, merge: => Any): Unit = {
      val before = t.currentSnapshot().files.map(_.path).toSet
      val (_, events) = ScanEvents.capture(merge)
      val ev = events.filter(_.root.endsWith(t.root.toUri.getPath))
      assert(ev.nonEmpty && ev.forall(_.kept == 2), s"$what: $events")
      val after = t.currentSnapshot()
      assert(after.operation == "merge", what)
      // the two overlapped files were rewritten, their unmatched rows
      // carried over
      assert((before -- after.files.map(_.path)).size == 2, what)
      assert(idsAndValues(t) == want, what)
    }
    sql("CREATE NAMESPACE IF NOT EXISTS graft.stmt")
    sql("DROP TABLE IF EXISTS graft.stmt.cowp")
    sql("CREATE TABLE graft.stmt.cowp (id BIGINT, v DOUBLE)")
    (0 until 4).foreach { k =>
      sql("INSERT INTO graft.stmt.cowp SELECT /*+ REPARTITION(1) */ id, " +
        s"cast(id as double) FROM range(${k * 100}, ${k * 100 + 100})")
    }
    localRows(keys).createOrReplaceTempView("stmt_cowp_src")
    check("SQL", SnapshotTable.load(spark, s"$warehouse/stmt/cowp"), sql(
      """MERGE INTO graft.stmt.cowp t USING stmt_cowp_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    val t = fourFiles()
    check("Scala", t, t.merge(localRows(keys), Seq("id")))
  }

  /** A fresh path table of four single-file appends of 100 ids (file k
    * holds [100k, 100k + 100)).
    */
  private def fourFiles(props: Map[String, String] = Map.empty)
      : SnapshotTable = {
    val t = SnapshotTable.create(spark, java.nio.file.Files
      .createTempDirectory("stmt-api").resolve("t").toString, srcSchema,
      None, properties = props)
    (0 until 4).foreach(k => t.append(spark.range(k * 100, k * 100 + 100)
      .selectExpr("id", "cast(id as double) as v").repartition(1)))
    t
  }

  private def idsAndValues(t: SnapshotTable): Seq[(Long, Double)] =
    t.read().select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq.sorted

  test("the Scala API's DELETE, UPDATE and MERGE stay within their work budget") {
    val mor = fourFiles(Map("graft.merge.mode" -> "merge-on-read"))
    val cow = fourFiles()
    // (call, jobs, stages) upper bounds, measured on a 4-core local
    // session. Each call is one Spark row-level plan; a MERGE adds its
    // source checkpoint, duplicate-key check and key probe. When the
    // Scala API ran its own discovery, staging and vector read-back
    // jobs the counts were 4, 6 and 18 on merge-on-read and 3, 3 and
    // 16 on copy-on-write (jobs = stages).
    val calls: Seq[(String, Int, Int, () => Any)] = Seq(
      ("deleteWithVectors", 2, 2,
        () => mor.deleteWithVectors(col("id") === 152L)),
      ("updateWithVectors", 1, 1, () => mor.updateWithVectors(
        Seq("v" -> lit(-1.0)), col("id") === 153L)),
      ("merge-on-read merge", 11, 11,
        () => mor.merge(localRows(Seq(250L, 900L)), Seq("id"))),
      ("delete", 3, 3, () => cow.delete(col("id") === 152L)),
      ("update", 3, 3, () => cow.update(
        Seq("v" -> lit(-1.0)), col("id") === 153L)),
      ("merge", 14, 14,
        () => cow.merge(localRows(Seq(250L, 900L)), Seq("id"))))
    val work = calls.map { case (what, _, _, call) => workOf(call())._2 }
    info(calls.map(_._1).zip(work).mkString("; "))
    calls.zip(work).foreach { case ((what, jobs, stages, _), w) =>
      assert(w.jobs <= jobs && w.stages <= stages, s"$what: $w")
    }
    val want = ((0L until 400L).map(id => id -> id.toDouble).toMap - 152L ++
      Seq(153L -> -1.0, 250L -> -1.0, 900L -> -1.0)).toSeq.sorted
    assert(idsAndValues(mor) == want && idsAndValues(cow) == want)
    assert(mor.history().map(_.operation).takeRight(3) ==
      Seq("delete-pos", "update-pos", "merge-pos"))
    assert(cow.history().map(_.operation).takeRight(3) ==
      Seq("delete", "update", "merge"))
  }

  test("a copy-on-write SQL UPDATE and MERGE from local rows stay within their work budget") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.stmt")
    sql("DROP TABLE IF EXISTS graft.stmt.cow")
    sql("CREATE TABLE graft.stmt.cow (id BIGINT, v DOUBLE)")
    (0 until 4).foreach { k =>
      sql("INSERT INTO graft.stmt.cow SELECT /*+ REPARTITION(1) */ id, " +
        s"cast(id as double) FROM range(${k * 100}, ${k * 100 + 100})")
    }
    val t = SnapshotTable.load(spark, s"$warehouse/stmt/cow")
    val (_, update) = workOf(
      sql("UPDATE graft.stmt.cow SET v = -1 WHERE id % 1000 = 152"))
    assert(t.currentSnapshot().operation == "update")
    localRows(Seq(250L, 900L)).createOrReplaceTempView("stmt_cow_src")
    val (_, merge) = workOf(sql(
      """MERGE INTO graft.stmt.cow t USING stmt_cow_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(t.currentSnapshot().operation == "merge")
    info(s"copy-on-write UPDATE: $update; MERGE: $merge")
    // measured on a 4-core local session: 3 jobs / 3 stages (the
    // matching-files query, then the rewrite) and 6 / 6 (the MERGE
    // adds its join's stages)
    assert(update.jobs <= 3 && update.stages <= 3, s"UPDATE: $update")
    assert(merge.jobs <= 6 && merge.stages <= 6, s"MERGE: $merge")
    // each statement replaced one file; the MERGE's insert rode along
    assert(t.currentSnapshot().files.size == 4)
    assert(sql("SELECT id, v FROM graft.stmt.cow").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq.sorted ==
      ((0L until 400L).map(id => id -> id.toDouble).toMap ++
        Seq(152L -> -1.0, 250L -> -1.0, 900L -> -1.0)).toSeq.sorted)
  }
}
