package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 metadata-read extensions, SQL-level pins:
  *
  *  - the manifest aggregate rewrite ([[graft.plans
  *    .GraftAggregatePushdown]]) now answers over EVOLVED tables —
  *    files predating a column contribute their initial-default
  *    semantics exactly — and over time-travel-pinned relations from
  *    the pinned snapshot;
  *  - LIMIT pushes into the native batch scan as a file-prefix plan
  *    ([[graft.catalog.GraftBatchScan]]): only files guaranteed to
  *    hold the limit survive planning, with delete-vector
  *    over-subtraction and an equality-delete disable keeping the
  *    prefix always sufficient.
  *
  * (Base aggregate-pushdown behavior — MoR refusal, truncated string
  * bounds, all-null files — is pinned in SnapshotTableSpec and the
  * oracle rows `snap_profile_stats` / grouped twin.)
  */
class AggPushdownSpec extends AnyFunSuite {

  private lazy val spark = TestSparkSession.spark

  private def sql(q: String): DataFrame = spark.sql(q)

  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** Asserts `q` collapses to the manifest answer (LocalTableScan, no
    * table scan) AND that the answer matches the real scan's (same
    * query with the rewrite kill-switched off).
    */
  private def pinPushed(q: String, expected: Row): Unit = {
    val on = sql(q)
    val plan = finalPlan(on)
    assert(plan.contains("LocalTableScan") &&
      !plan.contains("GraftBatchScan") && !plan.contains("Parquet"),
      s"expected metadata-only answer for [$q]:\n${plan.take(2000)}")
    assert(on.collect().head == expected, s"pushed answer for [$q]")
    spark.conf.set("spark.sql.graft.metadataAggregate", "false")
    try {
      val off = sql(q)
      assert(!finalPlan(off).contains("LocalTableScan"),
        s"kill-switch ignored for: $q")
      assert(off.collect().head == expected, s"scan answer for [$q]")
    } finally {
      spark.conf.set("spark.sql.graft.metadataAggregate", "true")
    }
  }

  private def pinFallback(q: String): Unit = {
    val df = sql(q)
    val plan = finalPlan(df)
    assert(!plan.contains("LocalTableScan"),
      s"expected a real scan for [$q]:\n${plan.take(2000)}")
  }

  test("evolved table: counts exact across shapes, defaults included") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.agg")
    sql("DROP TABLE IF EXISTS graft.agg.v")
    sql("CREATE TABLE graft.agg.v (id BIGINT)")
    sql("INSERT INTO graft.agg.v SELECT id FROM range(0, 500)")
    sql("ALTER TABLE graft.agg.v ADD COLUMN w BIGINT")
    sql("INSERT INTO graft.agg.v SELECT id, id FROM range(500, 800)")
    // old files: w is all NULL there — count skips them, min/max folds
    // the new files only; previously any predating file refused
    pinPushed("SELECT count(w) AS c, min(w) AS mn, max(w) AS mx " +
      "FROM graft.agg.v", Row(300L, 500L, 799L))
    sql("ALTER TABLE graft.agg.v ADD COLUMN tag STRING DEFAULT 'legacy'")
    sql("INSERT INTO graft.agg.v SELECT id, id, 'fresh' FROM range(800, 900)")
    // predating files surface the NON-null default for every row
    pinPushed("SELECT count(tag) AS c, count(*) AS n FROM graft.agg.v",
      Row(900L, 900L))
    // ...but their bounds live in a different encoding: min/max refuse
    pinFallback("SELECT min(tag), max(tag) FROM graft.agg.v")
    assert(sql("SELECT min(tag) AS mn, max(tag) AS mx FROM graft.agg.v")
      .collect().head == Row("fresh", "legacy"))
  }

  test("SUM answers from exact per-file sums; floats and defaulted shapes refuse") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.agg")
    sql("DROP TABLE IF EXISTS graft.agg.sm")
    sql("CREATE TABLE graft.agg.sm (id BIGINT, q DECIMAL(10,2), " +
      "x DOUBLE, n BIGINT)")
    sql("INSERT INTO graft.agg.sm SELECT id, CAST(id AS DECIMAL(10,2)) / 4, " +
      "cast(id as double), NULL FROM range(0, 1000)")
    sql("INSERT INTO graft.agg.sm SELECT id, NULL, NULL, NULL " +
      "FROM range(1000, 1100)")
    val expQ = (0L until 1000L).map(BigDecimal(_) / 4).sum
      .underlying().setScale(2)
    pinPushed("SELECT sum(id) AS s_id, sum(q) AS s_q, sum(n) AS s_n " +
      "FROM graft.agg.sm",
      Row((0L until 1100L).sum, expQ, null))
    // float sums are order-dependent: never answered from metadata
    pinFallback("SELECT sum(x) FROM graft.agg.sm")
    // evolved: a column added WITHOUT default sums over the new shapes
    // only (old files are all-NULL for it)...
    sql("ALTER TABLE graft.agg.sm ADD COLUMN w BIGINT")
    sql("INSERT INTO graft.agg.sm SELECT id, NULL, NULL, NULL, id " +
      "FROM range(2000, 2100)")
    pinPushed("SELECT sum(w) AS s_w FROM graft.agg.sm",
      Row((2000L until 2100L).sum))
    // ...but a NON-null default refuses (counts still push)
    sql("ALTER TABLE graft.agg.sm ADD COLUMN bonus BIGINT DEFAULT 5")
    pinFallback("SELECT sum(bonus) FROM graft.agg.sm")
    assert(sql("SELECT sum(bonus) AS s FROM graft.agg.sm")
      .collect().head == Row(1200L * 5))
    pinPushed("SELECT count(bonus) AS c FROM graft.agg.sm", Row(1200L))
  }

  test("GROUP BY partition source over evolved shapes: per-group default counts") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.agg")
    sql("DROP TABLE IF EXISTS graft.agg.gp")
    sql("CREATE TABLE graft.agg.gp (id BIGINT, k STRING) PARTITIONED BY (k)")
    sql("INSERT INTO graft.agg.gp SELECT id, concat('g', id % 3) " +
      "FROM range(0, 300)")
    sql("ALTER TABLE graft.agg.gp ADD COLUMN w BIGINT")
    sql("ALTER TABLE graft.agg.gp ADD COLUMN tag STRING DEFAULT 'old'")
    sql("INSERT INTO graft.agg.gp SELECT id, concat('g', id % 3), id, 'new' " +
      "FROM range(300, 360)")
    val q = "SELECT k, count(*) AS n, count(w) AS nw, count(tag) AS nt, " +
      "sum(w) AS sw FROM graft.agg.gp GROUP BY k"
    val on = sql(q)
    val plan = finalPlan(on)
    assert(plan.contains("LocalTableScan") && !plan.contains("GraftBatchScan"),
      s"grouped evolved profile must be metadata-only:\n${plan.take(2000)}")
    val rows = on.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // per group: 100 old rows (w null, tag default) + 20 new rows
    (0 until 3).foreach { g =>
      val exp = (120L, 20L, 120L,
        (300L until 360L).filter(_ % 3 == g).sum)
      assert(rows(s"g$g") == exp, s"group g$g: ${rows(s"g$g")} != $exp")
    }
    spark.conf.set("spark.sql.graft.metadataAggregate", "false")
    try {
      assert(sql(q).collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
        == rows, "scan parity on the grouped evolved profile")
    } finally {
      spark.conf.set("spark.sql.graft.metadataAggregate", "true")
    }
  }

  test("time travel answers from the pinned snapshot, still metadata-only") {
    sql("DROP TABLE IF EXISTS graft.agg.tt")
    sql("CREATE TABLE graft.agg.tt (id BIGINT, v DOUBLE)") // v1
    sql("INSERT INTO graft.agg.tt SELECT id, cast(id as double) " +
      "FROM range(0, 500)") // v2
    sql("INSERT INTO graft.agg.tt SELECT id, cast(id as double) " +
      "FROM range(500, 800)") // v3
    pinPushed("SELECT count(*) AS n, max(id) AS mx " +
      "FROM graft.agg.tt VERSION AS OF 2", Row(500L, 499L))
    pinPushed("SELECT count(*) AS n, max(id) AS mx FROM graft.agg.tt",
      Row(800L, 799L))
  }

  test("LIMIT plans a guaranteed file prefix; result complete") {
    sql("DROP TABLE IF EXISTS graft.agg.l")
    sql("CREATE TABLE graft.agg.l (id BIGINT, v DOUBLE)")
    (0 until 20).foreach { i =>
      sql("INSERT INTO graft.agg.l " +
        s"SELECT /*+ REPARTITION(1) */ id, cast(id as double) " +
        s"FROM range(${i * 100}, ${i * 100 + 100})")
    }
    val (got, events) = graft.catalog.ScanEvents.capture {
      sql("SELECT * FROM graft.agg.l LIMIT 150").collect()
    }
    assert(got.length == 150)
    val ev = events.filter(_.root.endsWith("agg/l")).head
    assert(ev.total == 20, s"fixture should hold 20 files, saw $ev")
    assert(ev.kept == 2, s"LIMIT 150 must plan exactly 2 of 20 " +
      s"100-row files, planned $ev")
    // larger than the table: every file planned, every row returned
    val (all, ev2) = graft.catalog.ScanEvents.capture {
      sql("SELECT * FROM graft.agg.l LIMIT 99999").collect()
    }
    assert(all.length == 2000)
    assert(ev2.filter(_.root.endsWith("agg/l")).head.kept == 20)
  }

  test("LIMIT over delete vectors still returns enough rows") {
    sql("DROP TABLE IF EXISTS graft.agg.ld")
    sql("CREATE TABLE graft.agg.ld (id BIGINT) " +
      "TBLPROPERTIES ('graft.delete.mode' = 'merge-on-read')")
    (0 until 10).foreach { i =>
      sql("INSERT INTO graft.agg.ld SELECT /*+ REPARTITION(1) */ id " +
        s"FROM range(${i * 100}, ${i * 100 + 100})")
    }
    // non-pushable predicates route to the delta op → position vectors
    // halving each file; one DELETE per id range so each vector covers
    // ONE data file and the prefix budget (rows - dv rows) is per-file
    // exact — a single statement may write one vector spanning many
    // files, where over-subtraction just keeps more files (still
    // correct, separately exercised by the final statement)
    (0 until 10).foreach { i =>
      sql(s"DELETE FROM graft.agg.ld WHERE id % 2 = 0 AND " +
        s"id >= ${i * 100} AND id < ${i * 100 + 100}")
    }
    val t = graft.catalog.SnapshotTable.load(spark,
      spark.conf.get("spark.sql.catalog.graft.warehouse") + "/agg/ld")
    assert(t.currentSnapshot().dvFiles.nonEmpty, "fixture must be MoR")
    val (got, events) = graft.catalog.ScanEvents.capture {
      sql("SELECT * FROM graft.agg.ld LIMIT 400").collect()
    }
    assert(got.length == 400, s"limit under DVs returned ${got.length}")
    assert(got.forall(_.getLong(0) % 2 == 1), "deleted rows leaked")
    val ev = events.filter(_.root.endsWith("agg/ld")).head
    assert(ev.kept == 8, s"400 live rows at 50 live/file = 8 files: $ev")
  }

  test("LIMIT over equality deletes keeps every file (live rows unknowable)") {
    sql("DROP TABLE IF EXISTS graft.agg.le")
    sql("CREATE TABLE graft.agg.le (id BIGINT)")
    (0 until 5).foreach { i =>
      sql("INSERT INTO graft.agg.le SELECT /*+ REPARTITION(1) */ id " +
        s"FROM range(${i * 100}, ${i * 100 + 100})")
    }
    val t = graft.catalog.SnapshotTable.load(spark,
      spark.conf.get("spark.sql.catalog.graft.warehouse") + "/agg/le")
    import spark.implicits._
    t.deleteByKeys((0L until 490L).toDF("id"), Seq("id"))
    val (got, events) = graft.catalog.ScanEvents.capture {
      sql("SELECT * FROM graft.agg.le LIMIT 10").collect()
    }
    assert(got.length == 10)
    assert(got.forall(_.getLong(0) >= 490L))
    val ev = events.filter(_.root.endsWith("agg/le")).head
    assert(ev.kept == 5, s"eq-deletes must disable the prefix: $ev")
  }

  test("FILTERED aggregates answer from the manifest when files classify decisively") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.agg")
    sql("DROP TABLE IF EXISTS graft.agg.fday")
    // one file per day (identity hidden partition): any whole-day
    // range classifies every file as all-matching or none-matching
    sql("CREATE TABLE graft.agg.fday (id BIGINT, day DATE) " +
      "PARTITIONED BY (day)")
    (1 to 5).foreach { d =>
      sql(s"INSERT INTO graft.agg.fday SELECT /*+ REPARTITION(1) */ id, " +
        s"DATE'2024-01-0$d' FROM range(${d * 100}, ${d * 100 + 100})")
    }
    pinPushed(
      "SELECT count(*) AS n, min(id) AS lo, max(id) AS hi, " +
        "count(day) AS nd FROM graft.agg.fday " +
        "WHERE day >= DATE'2024-01-02' AND day < DATE'2024-01-04'",
      Row(200L, 200L, 399L, 200L))
    // range-clustered id bounds classify decisively too when the
    // cut lands on a file boundary...
    pinPushed(
      "SELECT count(*) AS n FROM graft.agg.fday WHERE id < 300",
      Row(200L))
    // ...but a straddling cut must fall back to the scan (still exact)
    pinFallback(
      "SELECT count(*) AS n FROM graft.agg.fday WHERE id < 250")
    assert(sql("SELECT count(*) AS n FROM graft.agg.fday WHERE id < 250")
      .collect().head == Row(150L))
    // an untranslatable conjunct vetoes the rewrite, never the answer
    pinFallback(
      "SELECT count(*) AS n FROM graft.agg.fday WHERE id % 2 = 0 AND id < 300")
    // a predicate ruling out EVERY file answers SQL's empty-input
    // aggregate row from metadata: count 0, null bounds
    pinPushed(
      "SELECT count(*) AS n, min(id) AS lo FROM graft.agg.fday " +
        "WHERE day > DATE'2030-01-01'",
      Row(0L, null))
  }

  test("SELECT DISTINCT partition-key answers from the manifest") {
    // Aggregate(Seq(day), Seq(day), rel) is what DISTINCT plans as —
    // the grouped rewrite with a group-only spec list serves it, so
    // enumerating a 100 TB table's days costs zero data I/O
    val on = sql("SELECT DISTINCT day FROM graft.agg.fday")
    val plan = finalPlan(on)
    assert(plan.contains("LocalTableScan") &&
      !plan.contains("GraftBatchScan"),
      s"DISTINCT partition key must be metadata-only:\n${plan.take(2000)}")
    assert(on.collect().map(_.getDate(0).toString).sorted.toSeq ==
      (1 to 5).map(d => s"2024-01-0$d"))
    // ...and with a decisive filter, excluded days vanish
    val f = sql("SELECT DISTINCT day FROM graft.agg.fday " +
      "WHERE day < DATE'2024-01-03'")
    assert(finalPlan(f).contains("LocalTableScan"))
    assert(f.collect().map(_.getDate(0).toString).sorted.toSeq ==
      Seq("2024-01-01", "2024-01-02"))
  }

  test("TopN prune stays sound on a bucket-partitioned (SPJ-claiming) table") {
    sql("DROP TABLE IF EXISTS graft.agg.tb")
    sql("CREATE TABLE graft.agg.tb (id BIGINT, v DOUBLE) " +
      "PARTITIONED BY (bucket(8, id))")
    sql("INSERT INTO graft.agg.tb SELECT id, cast(id as double) " +
      "FROM range(0, 4000)")
    // the prune keeps a subset of buckets; the KeyGroupedPartitioning
    // report must stay consistent with the planned groups under v2
    // bucketing (a mismatch would crash planning or drop rows)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val rows = sql("SELECT id FROM graft.agg.tb ORDER BY id DESC LIMIT 50")
        .collect().map(_.getLong(0))
      assert(rows.sorted.toSeq == (3950L until 4000L))
    } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
  }

  test("FILTERED + GROUPED: excluded partitions vanish, included fold per group") {
    val on = sql("SELECT day, count(*) AS n, max(id) AS hi " +
      "FROM graft.agg.fday " +
      "WHERE day >= DATE'2024-01-02' AND day < DATE'2024-01-04' " +
      "GROUP BY day ORDER BY day")
    val plan = finalPlan(on)
    assert(plan.contains("LocalTableScan") &&
      !plan.contains("GraftBatchScan"),
      s"grouped filtered profile must be metadata-only:\n${plan.take(2000)}")
    assert(on.collect().map(r => (r.getDate(0).toString, r.getLong(1),
      r.getLong(2))).toSeq ==
      Seq(("2024-01-02", 100L, 299L), ("2024-01-03", 100L, 399L)))
    spark.conf.set("spark.sql.graft.metadataAggregate", "false")
    try {
      val off = sql("SELECT day, count(*) AS n, max(id) AS hi " +
        "FROM graft.agg.fday " +
        "WHERE day >= DATE'2024-01-02' AND day < DATE'2024-01-04' " +
        "GROUP BY day ORDER BY day")
      assert(off.collect().map(r => (r.getDate(0).toString, r.getLong(1),
        r.getLong(2))).toSeq ==
        Seq(("2024-01-02", 100L, 299L), ("2024-01-03", 100L, 399L)))
    } finally spark.conf.set("spark.sql.graft.metadataAggregate", "true")
  }

  test("grouped rewrite vetoes above the maxGroups cap; scan answers identically") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.agg")
    sql("DROP TABLE IF EXISTS graft.agg.cap")
    sql("CREATE TABLE graft.agg.cap (id BIGINT, k STRING) PARTITIONED BY (k)")
    sql("INSERT INTO graft.agg.cap SELECT id, concat('g', id % 5) " +
      "FROM range(0, 100)")
    val q = "SELECT k, count(*) AS n FROM graft.agg.cap GROUP BY k"
    val pushed = sql(q)
    assert(finalPlan(pushed).contains("LocalTableScan"),
      "5 groups under the default cap must stay metadata-only")
    val rows = pushed.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // a 10\u2076-partition table must not fold 10\u2076 one-row frames on the
    // driver: above the cap the rewrite declines and the scan runs
    spark.conf.set("spark.sql.graft.metadataAggregate.maxGroups", "3")
    try {
      val off = sql(q)
      assert(!finalPlan(off).contains("LocalTableScan"),
        "5 groups over a cap of 3 must fall back to the scan")
      assert(off.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        == rows, "scan parity under the veto")
    } finally {
      spark.conf.unset("spark.sql.graft.metadataAggregate.maxGroups")
    }
  }
}
