package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.CommandResult
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.SnapshotTable

/** Pins the delta write's `RequiresDistributionAndOrdering` contract
  * (VERDICT r12/r13 lead item): the EXECUTED plan of a native
  * DELETE/UPDATE/MERGE must carry the pre-write rebalance + sort the
  * write declares, and the COMMITTED snapshot must show the file/vector
  * bounds that distribution exists to guarantee — one vector builder
  * per data file (disjoint coverage across vector files) and a small
  * bounded number of data files per touched partition, independent of
  * how many tasks scanned the target. If a Spark upgrade or refactor
  * silently stops applying the distribution, these asserts go red.
  */
class DeltaWriteSpec extends AnyFunSuite {

  private lazy val spark = TestSparkSession.spark
  import spark.implicits._

  private def sql(q: String): DataFrame = spark.sql(q)

  /** Every row-level mode merge-on-read: these cases are about the
    * delta write.
    */
  private val Mor = Seq("delete", "update", "merge")
    .map(k => s"'graft.$k.mode'='merge-on-read'").mkString(", ")

  private def warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")

  /** Physical plan of an eagerly-executed command (MERGE/UPDATE/...):
    * `spark.sql` wraps it in a `CommandResult`, so the plan is captured
    * synchronously — no listener, no sleeps.
    */
  private def commandPlan(df: DataFrame): String =
    df.queryExecution.commandExecuted match {
      case cr: CommandResult => cr.commandPhysicalPlan.toString
      case other => other.toString
    }

  test("partitioned MERGE: rebalance+sort plan, bounded files, disjoint vectors") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.dw")
    sql("DROP TABLE IF EXISTS graft.dw.t")
    sql("CREATE TABLE graft.dw.t (id BIGINT, kind STRING, v DOUBLE) " +
      s"PARTITIONED BY (kind) TBLPROPERTIES ($Mor)")
    // two appends -> >=2 files per partition, 6 partitions
    sql("INSERT INTO graft.dw.t SELECT id, " +
      "concat('k', cast(id % 6 as string)), cast(id as double) " +
      "FROM range(0, 10000)")
    sql("INSERT INTO graft.dw.t SELECT id, " +
      "concat('k', cast(id % 6 as string)), cast(id as double) " +
      "FROM range(10000, 20000)")
    val t = SnapshotTable.load(spark, s"$warehouse/dw/t")
    val pre = t.currentSnapshot()
    val preFiles = pre.files.map(_.path).toSet
    assert(pre.files.groupBy(_.partition).forall(_._2.size >= 2),
      "setup: each partition needs >=2 files for the clustering to matter")

    // source touches all 6 partitions: 1000 updates, 1000 deletes,
    // 500 inserts
    spark.range(0, 2500).selectExpr("id * 10 as id",
      "concat('k', cast((id * 10) % 6 as string)) as kind",
      "cast(id as double) as v").createOrReplaceTempView("dw_src")
    val plan = commandPlan(sql(
      """MERGE INTO graft.dw.t t USING dw_src s ON t.id = s.id
        |WHEN MATCHED AND t.id % 20 = 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = t.v + s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))

    // (b) the declared distribution/ordering reached the physical plan:
    // a rebalance exchange (advisory clustering -> AQE may split skew)
    // and a sort whose keys include the row-id columns
    assert(plan.contains("WriteDelta"), plan.take(2000))
    assert(plan.contains("REBALANCE_PARTITIONS_BY_COL"),
      s"expected a rebalance exchange before the delta write:\n${plan.take(4000)}")
    assert(plan.contains("Sort ") && plan.contains("_graft_pos"),
      s"expected a pre-write sort on (partition, file, pos):\n${plan.take(4000)}")

    val cur = t.currentSnapshot()
    assert(cur.operation == "merge-pos", cur.operation)
    assert(preFiles.subsetOf(cur.files.map(_.path).toSet), "no rewrite")

    // (a) bounded data files per partition: one writer task per
    // clustered partition -> ~1 file; AQE rebalance may split a
    // partition across a couple of tasks, never back to T x P
    val newByPart = cur.files.filterNot(f => preFiles.contains(f.path))
      .groupBy(_.partition).map { case (p, fs) => (p, fs.size) }
    assert(newByPart.nonEmpty && newByPart.values.max <= 2,
      s"files per partition after clustered merge: $newByPart")

    // one vector builder per data file PER OP CLASS (r18: delete marks
    // and update marks ride separate vectors for CDC provenance, and a
    // file holding both deleted and updated rows is legitimately
    // covered by one of each): within an op class, covered data files
    // are DISJOINT (no bitmap split across tasks) and every covered
    // path is a pre-merge file
    val newDvs = cur.dvFiles.filter(_.seq == cur.version)
    assert(newDvs.nonEmpty)
    assert(newDvs.map(_.op).toSet == Set("delete", "update"),
      s"MERGE with delete+update actions must split vectors by op: " +
        newDvs.map(_.op).toSet)
    newDvs.groupBy(_.op).foreach { case (op, ds) =>
      val covered = ds.flatMap(_.dataPaths)
      assert(covered.distinct.size == covered.size,
        s"a data file's $op bitmap was split across vector files: " +
          ds.map(d => d.path -> d.dataPaths).mkString("; "))
      assert(covered.toSet.subsetOf(preFiles))
    }
    // 1000 deletes + 1000 update-deletes marked
    assert(newDvs.map(_.rows).sum == 2000L, newDvs.map(_.rows).sum)

    // values: deletes gone, updates applied, inserts present
    assert(sql("SELECT count(*) FROM graft.dw.t").as[Long].head ==
      20000L - 1000L + 500L)
    assert(sql("SELECT v FROM graft.dw.t WHERE id = 10").as[Double]
      .head == 10.0 + 1.0) // updated: t.v + s.v = 10 + 1
    assert(sql("SELECT count(*) FROM graft.dw.t WHERE id = 200")
      .as[Long].head == 0L) // deleted (id % 20 = 0)
    assert(sql("SELECT v FROM graft.dw.t WHERE id = 20010").as[Double]
      .head == 2001.0) // inserted
  }

  test("DELETE clusters by file: sort on (file, pos), disjoint vectors") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.dw")
    sql("DROP TABLE IF EXISTS graft.dw.d")
    sql(s"CREATE TABLE graft.dw.d (id BIGINT, v DOUBLE) TBLPROPERTIES ($Mor)")
    sql("INSERT INTO graft.dw.d SELECT id, cast(id as double) " +
      "FROM range(0, 8000)")
    sql("INSERT INTO graft.dw.d SELECT id, cast(id as double) " +
      "FROM range(8000, 16000)")
    val t = SnapshotTable.load(spark, s"$warehouse/dw/d")
    val preFiles = t.currentSnapshot().files.map(_.path).toSet
    assert(preFiles.size >= 2)

    // modulo predicate has no v1 filter form -> native delta path
    val plan = commandPlan(sql("DELETE FROM graft.dw.d WHERE id % 7 = 0"))
    assert(plan.contains("WriteDelta"), plan.take(2000))
    assert(plan.contains("REBALANCE_PARTITIONS_BY_COL") &&
      plan.contains("_graft_file"),
      s"DELETE must cluster deltas by data file:\n${plan.take(4000)}")
    assert(plan.contains("Sort ") && plan.contains("_graft_pos"),
      plan.take(4000))

    val cur = t.currentSnapshot()
    assert(cur.operation == "delete-pos", cur.operation)
    assert(cur.files.map(_.path).toSet == preFiles, "no data file touched")
    val dvs = cur.dvFiles.filter(_.seq == cur.version)
    val covered = dvs.flatMap(_.dataPaths)
    assert(covered.distinct.size == covered.size,
      "each file's bitmap must be built by exactly one task")
    assert(dvs.map(_.rows).sum == (0L until 16000L).count(_ % 7 == 0))
    assert(sql("SELECT count(*) FROM graft.dw.d WHERE id % 7 = 0")
      .as[Long].head == 0L)
  }

  test("distribution-mode=none opts out of the pre-write exchange") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.dw")
    sql("DROP TABLE IF EXISTS graft.dw.n")
    sql("CREATE TABLE graft.dw.n (id BIGINT, kind STRING, v DOUBLE) " +
      "PARTITIONED BY (kind) " +
      s"TBLPROPERTIES ('graft.write.distribution-mode'='none', $Mor)")
    sql("INSERT INTO graft.dw.n SELECT id, " +
      "concat('k', cast(id % 4 as string)), cast(id as double) " +
      "FROM range(0, 4000)")
    val plan = commandPlan(sql(
      "UPDATE graft.dw.n SET v = v + 1.0 WHERE id % 3 = 0"))
    assert(plan.contains("WriteDelta"), plan.take(2000))
    assert(!plan.contains("REBALANCE_PARTITIONS_BY_COL"),
      s"mode=none must not shuffle before the write:\n${plan.take(4000)}")
    // the local sort (one open writer, sequential bitmaps) remains
    assert(plan.contains("Sort ") && plan.contains("_graft_pos"),
      plan.take(4000))
    assert(sql("SELECT v FROM graft.dw.n WHERE id = 3").as[Double]
      .head == 4.0)

    // a BAD mode value is a structured analysis-time error
    sql("ALTER TABLE graft.dw.n SET TBLPROPERTIES " +
      "('graft.write.distribution-mode'='bogus')")
    val e = intercept[Exception](
      sql("UPDATE graft.dw.n SET v = 0.0 WHERE id = 1"))
    assert(e.getMessage.contains("graft.write.distribution-mode"),
      e.getMessage)
  }

  test("unpartitioned UPDATE keeps ordering without a clustered shuffle") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.dw")
    sql("DROP TABLE IF EXISTS graft.dw.u")
    sql(s"CREATE TABLE graft.dw.u (id BIGINT, v DOUBLE) TBLPROPERTIES ($Mor)")
    sql("INSERT INTO graft.dw.u SELECT id, cast(id as double) " +
      "FROM range(0, 4000)")
    val plan = commandPlan(sql(
      "UPDATE graft.dw.u SET v = v * 2.0 WHERE id % 5 = 0"))
    assert(plan.contains("WriteDelta"), plan.take(2000))
    // unpartitioned row images: clustering would funnel all inserts
    // (NULL file) into one task -> ordering only
    assert(!plan.contains("REBALANCE_PARTITIONS_BY_COL"),
      plan.take(4000))
    assert(plan.contains("Sort ") && plan.contains("_graft_pos"),
      plan.take(4000))
    assert(sql("SELECT v FROM graft.dw.u WHERE id = 10").as[Double]
      .head == 20.0)
  }

  test("native MERGE prunes target files from the source keys") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.dw")
    sql("DROP TABLE IF EXISTS graft.dw.p")
    sql(s"CREATE TABLE graft.dw.p (id BIGINT, v DOUBLE) TBLPROPERTIES ($Mor)")
    // 8 id-clustered appends -> every file covers a narrow id range
    (0 until 8).foreach { i =>
      sql(s"INSERT INTO graft.dw.p SELECT id, cast(id as double) " +
        s"FROM range(${i * 1000}, ${i * 1000 + 1000})")
    }
    val t = SnapshotTable.load(spark, s"$warehouse/dw/p")
    val total = t.currentSnapshot().files.size
    assert(total >= 8)

    // selective source: 30 keys inside one id range + 5 fresh inserts
    spark.range(0, 35).selectExpr("id + 2000 as id", "cast(id as double) as v")
      .createOrReplaceTempView("dwp_src")
    val (_, events) = graft.catalog.ScanEvents.capture {
      sql("""MERGE INTO graft.dw.p t USING dwp_src s ON t.id = s.id
            |WHEN MATCHED AND s.id < 2030 THEN UPDATE SET v = t.v + s.v
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    // the MERGE's target scan demonstrably skipped files: the 35
    // contiguous keys live in a couple of id-range files, not all 8+
    val ev = events.filter(_.root.endsWith("dw/p"))
    assert(ev.nonEmpty, s"no target scan captured: $events")
    assert(ev.head.total == total && ev.head.kept < total,
      s"expected manifest pruning on the MERGE target scan: $ev")
    // and values stay exact (prune is skip-only + matched-row-only)
    assert(sql("SELECT count(*) FROM graft.dw.p").as[Long].head == 8000L)
    assert(sql("SELECT v FROM graft.dw.p WHERE id = 2003").as[Double]
      .head == 2003.0 + 3.0)
    assert(sql("SELECT v FROM graft.dw.p WHERE id = 2031").as[Double]
      .head == 2031.0, "id >= 2030 matched rows keep their value")
    assert(sql("SELECT v FROM graft.dw.p WHERE id = 1999").as[Double]
      .head == 1999.0, "rows outside the source keys untouched")

    // wide key set (over max-keys) -> [min, max] range fallback still
    // prunes a range-clustered target
    sql("ALTER TABLE graft.dw.p SET TBLPROPERTIES " +
      "('graft.merge.source-prune.max-keys'='8')")
    spark.range(0, 600).selectExpr("id + 3100 as id",
      "cast(-1 as double) as v").createOrReplaceTempView("dwp_wide")
    val (_, ev2) = graft.catalog.ScanEvents.capture {
      sql("""MERGE INTO graft.dw.p t USING dwp_wide s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    }
    val e2 = ev2.filter(_.root.endsWith("dw/p")).head
    assert(e2.kept < e2.total, s"range fallback must still prune: $e2")
    assert(sql("SELECT count(*) FROM graft.dw.p WHERE v = -1.0")
      .as[Long].head == 600L)

    // NOT MATCHED BY SOURCE -> unmatched target rows DO produce deltas
    // -> pruning is unsound there and must not fire
    spark.range(0, 5).selectExpr("id as id", "cast(0 as double) as v")
      .createOrReplaceTempView("dwp_nms")
    val (_, ev3) = graft.catalog.ScanEvents.capture {
      sql("""MERGE INTO graft.dw.p t USING dwp_nms s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET v = 0.0
            |WHEN NOT MATCHED BY SOURCE AND t.id >= 7995 THEN DELETE""".stripMargin)
    }
    val e3 = ev3.filter(_.root.endsWith("dw/p")).head
    assert(e3.kept == e3.total,
      s"NOT MATCHED BY SOURCE must scan the full target: $e3")
    assert(sql("SELECT count(*) FROM graft.dw.p").as[Long].head == 7995L)

    // kill switch
    sql("ALTER TABLE graft.dw.p SET TBLPROPERTIES " +
      "('graft.merge.source-prune'='off')")
    val (_, ev4) = graft.catalog.ScanEvents.capture {
      sql("""MERGE INTO graft.dw.p t USING dwp_src s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET v = t.v""".stripMargin)
    }
    val e4 = ev4.filter(_.root.endsWith("dw/p")).head
    assert(e4.kept == e4.total, s"prune=off must scan everything: $e4")
  }

  test("month-transform clustering resolves through the FunctionCatalog") {
    val root = s"$warehouse/dw/m"
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(root),
      spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root), true)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType)))
    val t = SnapshotTable.create(spark, root, schema,
      Some(graft.catalog.PartitionSpec("ts", "month")),
      graft.catalog.EvolvingWriter.DefaultTableProps ++
        Seq("delete", "update", "merge").map(k =>
          s"graft.$k.mode" -> "merge-on-read"))
    // ~6 distinct months
    t.append(spark.range(0, 5000).selectExpr("id",
      "timestamp_seconds(1700000000 + id * 3000) as ts",
      "cast(id as double) as v"))
    t.append(spark.range(5000, 10000).selectExpr("id",
      "timestamp_seconds(1700000000 + id * 3000) as ts",
      "cast(id as double) as v"))
    val preFiles = t.currentSnapshot().files.map(_.path).toSet

    val plan = commandPlan(sql(
      "UPDATE graft.dw.m SET v = v + 1.0 WHERE id % 2 = 0"))
    assert(plan.contains("WriteDelta"), plan.take(2000))
    // the months() transform must RESOLVE (unresolvable transforms fail
    // analysis) and cluster the update images by month + file
    assert(plan.contains("REBALANCE_PARTITIONS_BY_COL"),
      s"month-partitioned update must cluster by transform:\n${plan.take(4000)}")

    val cur = SnapshotTable.load(spark, root).currentSnapshot()
    assert(cur.operation == "update-pos", cur.operation)
    val newByPart = cur.files.filterNot(f => preFiles.contains(f.path))
      .groupBy(_.partition).map { case (p, fs) => (p, fs.size) }
    assert(newByPart.nonEmpty && newByPart.values.max <= 2,
      s"files per month after clustered update: $newByPart")
    // update images landed in REAL month partitions (writer renders
    // the same __graft_p dirs as a partitioned append)
    val months = t.currentSnapshot().files.flatMap(_.partition).toSet
    assert(newByPart.keys.flatten.toSet.subsetOf(months))
    assert(sql("SELECT v FROM graft.dw.m WHERE id = 4").as[Double]
      .head == 5.0)
  }

  test("MERGE WITH SCHEMA EVOLUTION grows the schema on the native SQL path") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.dw")
    sql("DROP TABLE IF EXISTS graft.dw.me")
    sql(s"CREATE TABLE graft.dw.me (id BIGINT, v DOUBLE) TBLPROPERTIES ($Mor)")
    sql("INSERT INTO graft.dw.me SELECT id, cast(id as double) " +
      "FROM range(0, 10)")
    // source carries `tag`, unknown to the target: ids 0/2/4 update,
    // id 20 inserts
    spark.range(0, 4).selectExpr("id * 2 as id",
      "cast(100 + id * 2 as double) as v",
      "concat('t', cast(id * 2 as string)) as tag")
      .union(spark.sql("SELECT 20L, 999.0D, 't20'"))
      .where("id <> 6").createOrReplaceTempView("me_src")
    // without the clause the same statement must NOT evolve: star
    // assignments silently drop the extra source column (Spark's star
    // expansion aligns on target columns) — evolution is opt-in per
    // statement
    sql("""MERGE INTO graft.dw.me t USING me_src s ON t.id = s.id
          |WHEN MATCHED AND s.id < 0 THEN UPDATE SET *
          |WHEN NOT MATCHED AND s.id < 0 THEN INSERT *""".stripMargin)
    assert(spark.table("graft.dw.me").schema.fieldNames.toSeq ==
      Seq("id", "v"), "plain MERGE must not grow the schema")
    sql("""MERGE WITH SCHEMA EVOLUTION INTO graft.dw.me t
          |USING me_src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table("graft.dw.me").schema.fieldNames.toSeq ==
      Seq("id", "v", "tag"))
    val got = sql("SELECT id, v, tag FROM graft.dw.me ORDER BY id")
      .as[(Long, Double, Option[String])].collect().toSeq
    assert(got == Seq(
      (0L, 100.0, Some("t0")), (1L, 1.0, None), (2L, 102.0, Some("t2")),
      (3L, 3.0, None), (4L, 104.0, Some("t4")), (5L, 5.0, None),
      (6L, 6.0, None), (7L, 7.0, None), (8L, 8.0, None), (9L, 9.0, None),
      (20L, 999.0, Some("t20"))), got.toString)
    // the evolution ALTER and the merge are separate commits, but the
    // merge itself stays delta-based: vectors over updated images
    val t = SnapshotTable.load(spark, s"$warehouse/dw/me")
    assert(t.currentSnapshot().operation == "merge-pos")
    assert(t.currentSnapshot().dvFiles.nonEmpty)
    sql("DROP TABLE graft.dw.me")
    // type WIDENING evolves too: an int target column fed a bigint
    // source widens via UpdateColumnType; old narrow files still read
    sql("DROP TABLE IF EXISTS graft.dw.mw")
    sql(s"CREATE TABLE graft.dw.mw (id BIGINT, cnt INT) TBLPROPERTIES ($Mor)")
    sql("INSERT INTO graft.dw.mw SELECT id, cast(id as int) FROM range(0, 10)")
    spark.range(0, 2).selectExpr("id * 2 as id",
      "id * 10000000000 as cnt").createOrReplaceTempView("mw_src")
    sql("""MERGE WITH SCHEMA EVOLUTION INTO graft.dw.mw t
          |USING mw_src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table("graft.dw.mw").schema("cnt").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(sql("SELECT cnt FROM graft.dw.mw WHERE id = 2").as[Long]
      .head == 10000000000L)
    assert(sql("SELECT cnt FROM graft.dw.mw WHERE id = 3").as[Long]
      .head == 3L, "old narrow files must read through the widened type")
    sql("DROP TABLE graft.dw.mw")
  }

  test("removeOrphanFiles reclaims a crashed delta write's staging dirs, sparing committed deltas") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.dw")
    sql("DROP TABLE IF EXISTS graft.dw.orph")
    sql("CREATE TABLE graft.dw.orph (id BIGINT, kind STRING, v DOUBLE) " +
      s"PARTITIONED BY (kind) TBLPROPERTIES ($Mor)")
    sql("INSERT INTO graft.dw.orph SELECT id, " +
      "concat('k', cast(id % 3 as string)), cast(id as double) " +
      "FROM range(0, 3000)")
    // a COMMITTED native UPDATE: its delta output (row images under
    // one data/<rel> batch dir, vectors under another) is referenced
    // by the head snapshot and must survive every reclaim below
    sql("UPDATE graft.dw.orph SET v = v + 1.0 WHERE id % 7 = 0")
    val t = SnapshotTable.load(spark, s"$warehouse/dw/orph")
    val cur = t.currentSnapshot()
    assert(cur.operation == "update-pos" && cur.dvFiles.nonEmpty)
    val liveSum = sql("SELECT sum(v) FROM graft.dw.orph").as[Double].head

    // plant the exact debris a delta writer strands when the driver
    // dies between task commit and table commit (no abort() runs):
    // row images under data/<rel16>/__graft_p=<part>/part-*.parquet
    // and a vector file under data/<rel16>/dv-*.parquet
    // (GraftRowLevel.scala freshRel/write-path naming)
    import java.nio.file.{Files, Path => JPath, Paths}
    val root = Paths.get(s"$warehouse/dw/orph")
    val dataDir = root.resolve("data")
    val donor = Files.walk(dataDir).filter(p =>
      p.toString.endsWith(".parquet")).findFirst().get()
    def plant(rel: String): JPath = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.copy(donor, p)
    }
    val crashedData = plant(
      "data/deadbeef00000001/__graft_p=k1/part-00003-9-abcdef01.parquet")
    val crashedDv = plant("data/deadbeef00000002/dv-00003-9.parquet")

    // age guard first: debris younger than the cutoff is an in-flight
    // write's staging and must NOT be touched
    assert(t.removeOrphanFiles(olderThanMs = 24L * 3600 * 1000) == 0)
    assert(Files.exists(crashedData) && Files.exists(crashedDv))

    // past the cutoff both batch dirs reclaim; committed delta files
    // and base data files are referenced and stay
    val preLive = t.currentSnapshot()
    val removed = t.removeOrphanFiles(olderThanMs = -3600L * 1000)
    assert(removed == 2, s"expected exactly the two planted orphans: $removed")
    assert(!Files.exists(crashedData) && !Files.exists(crashedDv))
    val fs = new org.apache.hadoop.fs.Path(t.root.toString)
      .getFileSystem(spark.sessionState.newHadoopConf())
    (preLive.files.map(_.path) ++ preLive.dvFiles.map(_.path)).foreach { rel =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(t.root, rel)),
        s"reclaim must never touch referenced file $rel")
    }
    assert(sql("SELECT sum(v) FROM graft.dw.orph").as[Double].head == liveSum)
    sql("DROP TABLE graft.dw.orph")
  }

  test("CDC provenance: UPDATE/MERGE flag update images; changesCdf labels pairs") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.dw")
    sql("DROP TABLE IF EXISTS graft.dw.cdf")
    sql(s"CREATE TABLE graft.dw.cdf (id BIGINT, v DOUBLE) TBLPROPERTIES ($Mor)")
    sql("INSERT INTO graft.dw.cdf SELECT id, cast(id as double) " +
      "FROM range(0, 100)")
    val t = SnapshotTable.load(spark, s"$warehouse/dw/cdf")
    val v1 = t.currentVersion()

    // native SQL UPDATE: every staged image upd-flagged, every vector
    // an "update" mark — the structural provenance changesCdf serves
    sql("UPDATE graft.dw.cdf SET v = v + 1000 WHERE id % 10 = 0")
    val v2 = t.currentVersion()
    val s2 = t.snapshotAt(v2)
    assert(s2.operation == "update-pos")
    val newFiles2 = s2.files.filter(_.seq == v2)
    assert(newFiles2.nonEmpty && newFiles2.forall(_.upd),
      "UPDATE images must carry the upd flag")
    val newDvs2 = s2.dvFiles.filter(_.seq == v2)
    assert(newDvs2.nonEmpty && newDvs2.forall(_.op == "update"),
      "UPDATE vectors must carry op=update")
    val cdf1 = t.changesCdf(v1, v2)
      .selectExpr("_change_type", "id", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val hit = (0L until 100L).filter(_ % 10 == 0)
    assert(cdf1.sorted.toSeq ==
      (hit.map(i => ("update_postimage", i, i + 1000.0)) ++
        hit.map(i => ("update_preimage", i, i.toDouble))).sorted,
      s"labeled pairs: ${cdf1.take(5).mkString(", ")}")

    // native SQL MERGE mixing all three actions: matched updates flag,
    // delete-action positions ride delete vectors, inserts stay plain
    spark.range(0, 130).selectExpr("id * 1 as id",
      "cast(id as double) + 0.5 as v")
      .where("id % 5 = 0").createOrReplaceTempView("cdf_src")
    sql("""MERGE INTO graft.dw.cdf t USING cdf_src s ON t.id = s.id
          |WHEN MATCHED AND s.id % 20 = 5 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val v3 = t.currentVersion()
    val s3 = t.snapshotAt(v3)
    assert(s3.operation == "merge-pos")
    val newFiles3 = s3.files.filter(_.seq == v3)
    assert(newFiles3.exists(_.upd) && newFiles3.exists(!_.upd),
      "MERGE must stage update images and inserts separately")
    val dvOps3 = s3.dvFiles.filter(_.seq == v3).map(_.op).toSet
    assert(dvOps3 == Set("update", "delete"),
      s"MERGE vectors must split by action: $dvOps3")
    val cdf2 = t.changesCdf(v2, v3)
      .selectExpr("_change_type", "id", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // recompute the expected pairs from the same predicates: source =
    // multiples of 5 below 130; matched rows delete at id%20=5
    // (5,25,…,85), update otherwise; ids ≥ 100 insert
    val srcIds = (0L until 130L).filter(_ % 5 == 0)
    val matched = srcIds.filter(_ < 100)
    val deleted = matched.filter(_ % 20 == 5)
    val updated = matched.filterNot(_ % 20 == 5)
    val inserted = srcIds.filterNot(_ < 100)
    val expect =
      deleted.map(i => ("delete", i, priorV(i, hit))) ++
        updated.flatMap(i => Seq(
          ("update_preimage", i, priorV(i, hit)),
          ("update_postimage", i, i + 0.5))) ++
        inserted.map(i => ("insert", i, i + 0.5))
    assert(cdf2.sorted.toSeq == expect.sorted,
      s"merge labels: ${cdf2.take(8).mkString(", ")}")
    sql("DROP TABLE graft.dw.cdf")
  }

  /** Value of id after the first UPDATE (+1000 on multiples of 10). */
  private def priorV(i: Long, hit: Seq[Long]): Double =
    if (hit.contains(i)) i + 1000.0 else i.toDouble
}
