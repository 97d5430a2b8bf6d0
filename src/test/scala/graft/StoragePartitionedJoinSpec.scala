package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, sum}
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.SnapshotTable

/** The native DSv2 batch scan and the storage-partitioned join (SPJ):
  * a bucket-partitioned snapshot table reports
  * `KeyGroupedPartitioning(bucket(n, col))`, so two co-bucketed tables
  * join with NO exchange on either side — the 100 TB co-location story
  * the round-13 FunctionCatalog seam was built for. Also pins that
  * read-time resolution work (delete vectors, equality deletes,
  * schema evolution, row-identity metadata columns) stays on the
  * native scan with results identical to `SnapshotTable.read()`.
  */
class StoragePartitionedJoinSpec extends AnyFunSuite {

  private lazy val spark = TestSparkSession.spark
  import spark.implicits._

  private def sql(q: String): DataFrame = spark.sql(q)
  private def warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")

  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def makeBucketTable(name: String, rows: Long, shift: Long = 0): Unit = {
    sql(s"DROP TABLE IF EXISTS graft.spj.$name")
    sql(s"CREATE TABLE graft.spj.$name (id BIGINT, v DOUBLE) " +
      "PARTITIONED BY (bucket(8, id))")
    sql(s"INSERT INTO graft.spj.$name SELECT id, cast(id + $shift as double) " +
      s"FROM range(0, $rows)")
  }

  test("native batch scan reads bucket tables exactly, reports pruned stats") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.spj")
    makeBucketTable("a", 10000)
    val df = spark.table("graft.spj.a")
    val plan = finalPlan(df.filter("id >= 0"))
    assert(plan.contains("BatchScan") && plan.contains("GraftBatchScan"),
      s"bucket table must plan the native batch scan:\n${plan.take(2000)}")
    assert(!plan.contains("RowDataSourceScan"), plan.take(2000))
    // exactness vs the DataFrame read, same snapshot
    val native = df.as[(Long, Double)].collect().sortBy(_._1).toSeq
    val ref = SnapshotTable.load(spark, s"$warehouse/spj/a").read()
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(native == ref)
    assert(native.size == 10000 && native.head == ((0L, 0.0)))
    // bucket pruning: an equality filter opens only the key's bucket
    val one = spark.table("graft.spj.a").filter($"id" === 42L)
    assert(one.as[(Long, Double)].collect().toSeq == Seq((42L, 42.0)))
  }

  test("storage-partitioned join: co-bucketed tables join with zero exchange") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.spj")
    makeBucketTable("l", 20000)
    makeBucketTable("r", 20000, shift = 1000000)
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      // forbid both fallbacks a small test table would otherwise take:
      // broadcast (manifest stats make these tiny) and shuffled hash
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.join.preferSortMergeJoin" -> "true") {
      val j = sql("""SELECT l.id, l.v, r.v AS rv FROM graft.spj.l l
                    |JOIN graft.spj.r r ON l.id = r.id""".stripMargin)
      val plan = finalPlan(j)
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle either side:\n${plan.take(4000)}")
      assert(j.count() == 20000)
      val row = j.filter($"id" === 7L).as[(Long, Double, Double)]
        .collect().toSeq
      assert(row == Seq((7L, 7.0, 1000007.0)))
    }
    // aggregation clusters on the bucket source too: GROUP BY id over
    // a bucket(8, id) table aggregates with ZERO exchange (the
    // KeyGroupedPartitioning satisfies the aggregate's distribution)
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val a = sql("SELECT id, sum(v) AS s FROM graft.spj.l GROUP BY id")
      val plan = finalPlan(a)
      assert(!plan.contains("Exchange"),
        s"bucket-clustered aggregate must not shuffle:\n${plan.take(3000)}")
      assert(a.count() == 20000)
    }
    // same join WITHOUT v2 bucketing: exchanges return (the feature is
    // the conf-gated SPJ, not an accident of tiny data)
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = sql("""SELECT l.id FROM graft.spj.l l
                    |JOIN graft.spj.r r ON l.id = r.id""".stripMargin)
      assert(finalPlan(j).contains("Exchange"))
    }
  }

  test("unpartitioned and identity tables scan natively too (vectorized, no row bridge)") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.spj")
    sql("DROP TABLE IF EXISTS graft.spj.u")
    sql("CREATE TABLE graft.spj.u (id BIGINT, kind STRING, v DOUBLE) " +
      "PARTITIONED BY (kind)")
    sql("INSERT INTO graft.spj.u SELECT id, " +
      "concat('k', cast(id % 3 as string)), cast(id as double) " +
      "FROM range(0, 9000)")
    val df = sql("SELECT sum(v) AS s, count(*) AS n FROM graft.spj.u " +
      "WHERE id % 2 = 0")
    val plan = finalPlan(df)
    assert(plan.contains("GraftBatchScan"),
      s"identity-partitioned scan must be native:\n${plan.take(2000)}")
    val got = df.as[(Double, Long)].collect().head
    val ref = SnapshotTable.load(spark, s"$warehouse/spj/u").read()
      .where("id % 2 = 0").agg(sum("v").as("s"), count("*").as("n"))
      .as[(Double, Long)].collect().head
    assert(got == ref, s"native $got vs DataFrame read $ref")
    assert(got._2 == 4500)
    // flat projections read COLUMNAR: whole ColumnarBatches flow into
    // codegen (ColumnarToRow above the scan), rows never materialize
    // one at a time in the reader
    assert(plan.contains("ColumnarToRow"),
      s"vectorizable projection must scan columnar:\n${plan.take(2000)}")
    sql("DROP TABLE graft.spj.u")
  }

  test("identity-partitioned tables storage-partition-join on the partition column") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.spj")
    for (n <- Seq("il", "ir")) {
      sql(s"DROP TABLE IF EXISTS graft.spj.$n")
      sql(s"CREATE TABLE graft.spj.$n (id BIGINT, kind STRING, v DOUBLE) " +
        "PARTITIONED BY (kind)")
      sql(s"INSERT INTO graft.spj.$n SELECT id, " +
        "concat('k', cast(id % 5 as string)), cast(id as double) " +
        "FROM range(0, 10000)")
    }
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // join keys (kind, id) are a SUPERSET of the partition keys
      // (kind): co-partition then requires relaxing the
      // all-cluster-keys rule, exactly as with Iceberg SPJ
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false") {
      // partition-wise aggregate: GROUP BY the identity source
      val a = sql("SELECT kind, sum(v) AS s FROM graft.spj.il GROUP BY kind")
      val ap = finalPlan(a)
      assert(!ap.contains("Exchange"),
        s"identity-clustered aggregate must not shuffle:\n${ap.take(3000)}")
      assert(a.count() == 5)
      // partition-wise join on the identity column
      val j = sql("""SELECT l.kind, count(*) AS n
                    |FROM graft.spj.il l JOIN graft.spj.ir r
                    |ON l.kind = r.kind AND l.id = r.id
                    |GROUP BY l.kind""".stripMargin)
      val jp = finalPlan(j)
      assert(!jp.contains("Exchange"),
        s"identity co-partitioned join must not shuffle:\n${jp.take(4000)}")
      import spark.implicits._
      assert(j.as[(String, Long)].collect().toMap
        == (0 until 5).map(k => s"k$k" -> 2000L).toMap)
    }
    Seq("il", "ir").foreach(n => sql(s"DROP TABLE graft.spj.$n"))
  }

  test("month-partitioned tables storage-partition-join on the timestamp") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.spj")
    for (n <- Seq("ml", "mr")) {
      sql(s"DROP TABLE IF EXISTS graft.spj.$n")
      sql(s"CREATE TABLE graft.spj.$n (id BIGINT, ts TIMESTAMP, v DOUBLE) " +
        "PARTITIONED BY (month(ts))")
      sql(s"INSERT INTO graft.spj.$n SELECT id, " +
        "timestampadd(DAY, cast(id % 180 as int), TIMESTAMP'2024-01-15 00:00:00'), " +
        "cast(id as double) FROM range(0, 6000)")
    }
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false") {
      val j = sql("""SELECT l.id, l.v, r.v AS rv FROM graft.spj.ml l
                    |JOIN graft.spj.mr r
                    |ON l.ts = r.ts AND l.id = r.id""".stripMargin)
      val plan = finalPlan(j)
      assert(!plan.contains("Exchange"),
        s"month co-partitioned join must not shuffle:\n${plan.take(4000)}")
      assert(j.count() == 6000L)
    }
    Seq("ml", "mr").foreach(n => sql(s"DROP TABLE graft.spj.$n"))
  }

  test("split planning: a large file fans out over row-group splits, small files bin-pack") {
    // VERDICT r14 #1: the native scan must not plan one-task-per-file.
    sql("CREATE NAMESPACE IF NOT EXISTS graft.spj")
    sql("DROP TABLE IF EXISTS graft.spj.big")
    sql("CREATE TABLE graft.spj.big (id BIGINT, payload STRING)")
    // one physical file with MANY row groups (tiny parquet block size)
    withConf("spark.hadoop.parquet.block.size" -> "16384") {
      sql("INSERT INTO graft.spj.big SELECT id, " +
        "repeat(uuid(), 4) FROM range(0, 20000, 1, 1)")
    }
    val snap = SnapshotTable.load(spark, s"$warehouse/spj/big")
      .currentSnapshot()
    assert(snap.files.size == 1, s"fixture wants ONE file: ${snap.files}")
    withConf(
      "spark.sql.files.maxPartitionBytes" -> "65536",
      "spark.sql.files.openCostInBytes" -> "0") {
      val df = spark.table("graft.spj.big")
      assert(finalPlan(df).contains("GraftBatchScan"))
      assert(df.rdd.getNumPartitions > 1,
        s"a large file must split into multiple tasks, got " +
          s"${df.rdd.getNumPartitions}")
      assert(df.count() == 20000L, "byte-range splits must not lose or " +
        "double-read row groups")
      assert(spark.table("graft.spj.big").agg(sum("id")).as[Long].head ==
        (0L until 20000L).sum)
    }
    // bin-packing: 24 one-row files must NOT become 24 tasks
    sql("DROP TABLE IF EXISTS graft.spj.tiny")
    sql("CREATE TABLE graft.spj.tiny (id BIGINT)")
    (0 until 24).foreach(i =>
      sql(s"INSERT INTO graft.spj.tiny VALUES ($i)"))
    assert(SnapshotTable.load(spark, s"$warehouse/spj/tiny")
      .currentSnapshot().files.size == 24)
    val tiny = spark.table("graft.spj.tiny")
    assert(finalPlan(tiny).contains("GraftBatchScan"))
    assert(tiny.rdd.getNumPartitions <= 6,
      s"24 tiny files must pack into few tasks, got " +
        s"${tiny.rdd.getNumPartitions}")
    assert(tiny.as[Long].collect().sorted.toSeq == (0L until 24L))
    Seq("big", "tiny").foreach(n => sql(s"DROP TABLE graft.spj.$n"))
  }

  test("month partition rendering and SPJ are pinned to the spec-creation zone") {
    // ADVICE r14 (medium): month values of a TIMESTAMP source must
    // render in ONE recorded zone no matter which session writes, and
    // the months() SPJ claim must only be made when the scan session's
    // zone matches the pin — otherwise month-boundary matches silently
    // drop instead of shuffling.
    sql("CREATE NAMESPACE IF NOT EXISTS graft.spj")
    for (n <- Seq("mza", "mzb")) {
      sql(s"DROP TABLE IF EXISTS graft.spj.$n")
      // spec created under a UTC session -> pin = UTC
      sql(s"CREATE TABLE graft.spj.$n (id BIGINT, ts TIMESTAMP) " +
        "PARTITIONED BY (month(ts))")
    }
    val t = SnapshotTable.load(spark, s"$warehouse/spj/mza")
    assert(t.currentSnapshot().properties
      .get(SnapshotTable.MonthZoneProp).contains("UTC"))
    // 1711915200 = 2024-03-31T20:00:00Z — March in UTC, but already
    // April 1 in Sydney (+11). A Sydney-session writer must STILL file
    // it under the pinned zone's month.
    withConf("spark.sql.session.timeZone" -> "Australia/Sydney") {
      sql("INSERT INTO graft.spj.mza SELECT 1L, timestamp_seconds(1711915200)")
    }
    sql("INSERT INTO graft.spj.mzb SELECT 1L, timestamp_seconds(1711915200)")
    val parts = SnapshotTable.load(spark, s"$warehouse/spj/mza")
      .currentSnapshot().files.flatMap(_.partition).toSet
    assert(parts == Set("2024-03"),
      s"Sydney-session write must render in the pinned UTC zone: $parts")
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false") {
      def join() = sql("""SELECT l.id FROM graft.spj.mza l
                         |JOIN graft.spj.mzb r
                         |ON l.ts = r.ts AND l.id = r.id""".stripMargin)
      // matching zones: zero-exchange SPJ
      val aligned = finalPlan(join())
      assert(!aligned.contains("Exchange"),
        s"pin == session zone must storage-partition-join:\n${
          aligned.take(3000)}")
      // a scanning session in ANOTHER zone must not claim months():
      // clean shuffle fallback, same answer
      withConf("spark.sql.session.timeZone" -> "Australia/Sydney") {
        val crossed = finalPlan(join())
        assert(crossed.contains("Exchange"),
          s"pin != session zone must fall back to a shuffle:\n${
            crossed.take(3000)}")
        assert(join().count() == 1L)
      }
    }
    Seq("mza", "mzb").foreach(n => sql(s"DROP TABLE graft.spj.$n"))
  }

  test("SPJ with buckets present on one side only: pushPartValues vs clean shuffle fallback") {
    // VERDICT r14 #3a: a bucket with files on only one side must not
    // break alignment — with partition-value pushdown Spark fills the
    // missing side with empty partitions and keeps the zero-exchange
    // join; with it disabled the planner must fall back to a clean
    // shuffle. Same answer either way.
    sql("CREATE NAMESPACE IF NOT EXISTS graft.spj")
    makeBucketTable("pl", 8000)
    sql("DROP TABLE IF EXISTS graft.spj.pr")
    sql("CREATE TABLE graft.spj.pr (id BIGINT, v DOUBLE) " +
      "PARTITIONED BY (bucket(8, id))")
    // three ids -> at most three live buckets on the right
    sql("INSERT INTO graft.spj.pr VALUES (11, 11.0), (500, 500.0), (7777, 7777.0)")
    val rightBuckets = SnapshotTable.load(spark, s"$warehouse/spj/pr")
      .currentSnapshot().files.flatMap(_.partition).toSet
    assert(rightBuckets.size < 8, s"fixture wants missing buckets: $rightBuckets")
    def join() = sql("""SELECT l.id, r.v AS rv FROM graft.spj.pl l
                       |JOIN graft.spj.pr r ON l.id = r.id""".stripMargin)
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.join.preferSortMergeJoin" -> "true") {
      withConf("spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true") {
        val plan = finalPlan(join())
        assert(!plan.contains("Exchange"),
          s"pushPartValues must keep the zero-exchange join:\n${plan.take(3000)}")
        assert(join().as[(Long, Double)].collect().sortBy(_._1).toSeq ==
          Seq((11L, 11.0), (500L, 500.0), (7777L, 7777.0)))
      }
      withConf("spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "false") {
        // mismatched partition counts without pushdown: a clean shuffle,
        // never wrong rows
        assert(join().as[(Long, Double)].collect().sortBy(_._1).toSeq ==
          Seq((11L, 11.0), (500L, 500.0), (7777L, 7777.0)))
      }
    }
    Seq("pl", "pr").foreach(n => sql(s"DROP TABLE graft.spj.$n"))
  }

  test("SPJ skewed bucket: split tasks re-group by default, fan out partially-clustered") {
    // VERDICT r14 #3b: a skewed bucket is no longer an unsplittable
    // task — the planner emits several same-key splits; default v2
    // bucketing re-groups them (alignment preserved, one task per
    // bucket), and partially-clustered distribution interleaves them
    // so the skewed side's work fans out.
    sql("CREATE NAMESPACE IF NOT EXISTS graft.spj")
    for (n <- Seq("sl", "sr")) {
      sql(s"DROP TABLE IF EXISTS graft.spj.$n")
      sql(s"CREATE TABLE graft.spj.$n (id BIGINT, payload STRING) " +
        "PARTITIONED BY (bucket(4, id))")
    }
    // left: heavily skewed — 20k rows all with id=7 (one bucket, one
    // fat file with many row groups), plus a sprinkle elsewhere
    withConf("spark.hadoop.parquet.block.size" -> "16384") {
      sql("INSERT INTO graft.spj.sl SELECT 7, repeat(uuid(), 4) " +
        "FROM range(0, 20000, 1, 1)")
    }
    sql("INSERT INTO graft.spj.sl SELECT id, 'x' FROM range(0, 4)")
    sql("INSERT INTO graft.spj.sr SELECT id, 'y' FROM range(0, 16)")
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.join.preferSortMergeJoin" -> "true",
      "spark.sql.files.maxPartitionBytes" -> "65536",
      "spark.sql.files.openCostInBytes" -> "0") {
      // the skewed scan itself fans out over the fat bucket's splits
      // (measured without v2 bucketing — with it on, a plain scan
      // re-groups same-key splits back to one task per bucket)
      withConf("spark.sql.sources.v2.bucketing.enabled" -> "false") {
        val scanParts = spark.table("graft.spj.sl").rdd.getNumPartitions
        assert(scanParts > 4,
          s"skewed bucket must split into multiple tasks, got $scanParts")
      }
      def join() = sql("""SELECT l.id FROM graft.spj.sl l
                         |JOIN graft.spj.sr r ON l.id = r.id""".stripMargin)
      // default: same-key splits re-group — zero exchange, exact rows
      val grouped = finalPlan(join())
      assert(!grouped.contains("Exchange"),
        s"re-grouped SPJ must not shuffle:\n${grouped.take(3000)}")
      assert(join().count() == 20004L)
      // partially-clustered: still zero-exchange, still exact
      withConf("spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled" -> "true") {
        val pc = finalPlan(join())
        assert(!pc.contains("Exchange"),
          s"partially-clustered SPJ must not shuffle:\n${pc.take(3000)}")
        assert(join().count() == 20004L)
      }
    }
    Seq("sl", "sr").foreach(n => sql(s"DROP TABLE graft.spj.$n"))
  }

  test("native DV masking composes with byte-range splits and keeps SPJ") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.spj")
    // 1. a fat multi-row-group file, vector-deleted, read under small
    // splits: row ordinals are file-global (row-index column), so each
    // split masks exactly its own deleted rows
    sql("DROP TABLE IF EXISTS graft.spj.mdv")
    sql("CREATE TABLE graft.spj.mdv (id BIGINT, payload STRING)")
    withConf("spark.hadoop.parquet.block.size" -> "16384") {
      sql("INSERT INTO graft.spj.mdv SELECT id, repeat(uuid(), 4) " +
        "FROM range(0, 20000, 1, 1)")
    }
    val t = SnapshotTable.load(spark, s"$warehouse/spj/mdv")
    t.deleteWithVectors(org.apache.spark.sql.functions.col("id") % 7 === 0)
    withConf(
      "spark.sql.files.maxPartitionBytes" -> "65536",
      "spark.sql.files.openCostInBytes" -> "0") {
      val df = spark.table("graft.spj.mdv")
      val mdvPlan = finalPlan(df)
      assert(mdvPlan.contains("GraftBatchScan"))
      // the masked read stays VECTORIZED: batches re-expose the
      // reader's vectors through the selection map, so the plan keeps
      // the columnar scan + ColumnarToRow shape
      assert(mdvPlan.contains("ColumnarToRow"),
        s"dv-masked scan must stay columnar:\n${mdvPlan.take(2000)}")
      assert(df.rdd.getNumPartitions > 1, "split fan-out with DVs")
      val expect = (0L until 20000L).filterNot(_ % 7 == 0)
      assert(df.count() == expect.size)
      assert(df.agg(sum("id")).as[Long].head == expect.sum,
        "each split must mask exactly its own ordinals — no loss, no " +
          "double-mask")
    }
    // 2. a DV-covered bucket table still storage-partition-joins
    makeBucketTable("morj", 8000)
    SnapshotTable.load(spark, s"$warehouse/spj/morj")
      .deleteWithVectors(org.apache.spark.sql.functions.col("id") < 1000)
    makeBucketTable("morr", 8000, shift = 50)
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.join.preferSortMergeJoin" -> "true") {
      val j = sql("""SELECT l.id FROM graft.spj.morj l
                    |JOIN graft.spj.morr r ON l.id = r.id""".stripMargin)
      val plan = finalPlan(j)
      assert(plan.contains("GraftBatchScan"), plan.take(2000))
      assert(!plan.contains("Exchange"),
        s"a MoR bucket table must keep the zero-exchange join:\n${
          plan.take(3000)}")
      assert(j.count() == 7000L)
    }
    Seq("mdv", "morj", "morr").foreach(n => sql(s"DROP TABLE graft.spj.$n"))
  }

  test("runtime filtering: a selective join side prunes fact partitions at execution") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.spj")
    sql("DROP TABLE IF EXISTS graft.spj.fact")
    sql("CREATE TABLE graft.spj.fact (id BIGINT, kind STRING, v DOUBLE) " +
      "PARTITIONED BY (kind)")
    sql("INSERT INTO graft.spj.fact SELECT id, " +
      "concat('k', cast(id % 10 as string)), cast(id as double) " +
      "FROM range(0, 20000)")
    import spark.implicits._
    // parquet-backed dim: a LocalRelation would constant-fold the
    // selective filter away and DPP sees no predicate to derive
    val dimDir = java.nio.file.Files
      .createTempDirectory("spj-dim").resolve("d").toString
    (0 until 10).map(k => (s"k$k", if (k == 3 || k == 7) 1 else 0))
      .toDF("kind", "flag").coalesce(1).write.parquet(dimDir)
    spark.read.parquet(dimDir).createOrReplaceTempView("spj_dim")
    val q = sql("""SELECT sum(f.v) AS s, count(*) AS n
                  |FROM graft.spj.fact f JOIN spj_dim d ON f.kind = d.kind
                  |WHERE d.flag = 1""".stripMargin)
    val plan = finalPlan(q)
    assert(plan.contains("GraftBatchScan"), plan.take(2000))
    // the scan received a dynamic-pruning runtime filter on kind
    assert(plan.contains("dynamicpruning") ||
      plan.contains("RuntimeFilters: [in("),
      s"fact scan must carry a runtime filter:\n${plan.take(4000)}")
    val (s, n) = q.as[(Double, Long)].collect().head
    // kinds k3/k7: ids ≡ 3, 7 (mod 10)
    val expect = (0 until 20000).filter(i => i % 10 == 3 || i % 10 == 7)
    assert(n == expect.size && s == expect.map(_.toDouble).sum, (s, n))
    sql("DROP TABLE graft.spj.fact")
  }

  test("runtime filtering on a NON-partition column: range-clustered files skip at execution") {
    // VERDICT r14 #5: filterAttributes exposes every stats-backed
    // column, so a selective join on a column the table is merely
    // range-clustered on (manifest min/max, no partition transform)
    // still prunes files before any byte is read.
    sql("CREATE NAMESPACE IF NOT EXISTS graft.spj")
    sql("DROP TABLE IF EXISTS graft.spj.rcf")
    sql("CREATE TABLE graft.spj.rcf (id BIGINT, v DOUBLE)")
    // 8 inserts -> 8+ files with DISJOINT id ranges (range-clustered)
    (0 until 8).foreach(i => sql("INSERT INTO graft.spj.rcf " +
      s"SELECT id, cast(id as double) FROM range(${i * 2000}, ${(i + 1) * 2000}, 1, 1)"))
    val total = SnapshotTable.load(spark, s"$warehouse/spj/rcf")
      .currentSnapshot().files.size
    assert(total >= 8)
    // parquet-backed dim (a LocalRelation would constant-fold and DPP
    // would see no join): 40 ids, all inside two files' ranges
    val dimDir = java.nio.file.Files
      .createTempDirectory("spj-rdim").resolve("d").toString
    import spark.implicits._
    (0L until 40L).map(i => (i + 4000L, "x")).toDF("id", "tag")
      .coalesce(1).write.parquet(dimDir)
    spark.read.parquet(dimDir).createOrReplaceTempView("spj_rdim")
    val q = sql("""SELECT sum(f.v) AS s, count(*) AS n
                  |FROM graft.spj.rcf f JOIN spj_rdim d ON f.id = d.id
                  |WHERE d.tag = 'x'""".stripMargin)
    val r = q.collect().head
    assert(r.getLong(1) == 40L &&
      r.getDouble(0) == (4000L until 4040L).map(_.toDouble).sum)
    // the fact scan got the dynamic filter...
    val plan = finalPlan(q)
    assert(plan.contains("GraftBatchScan") &&
      (plan.contains("dynamicpruning") || plan.contains("RuntimeFilters: [in(")),
      s"fact scan must carry a runtime filter on id:\n${plan.take(3000)}")
    // ...and the metric proves files were SKIPPED: only the one file
    // whose [min,max] id range covers the 40 dim keys was read (the
    // post-filter replan runs on an AQE thread, so the thread-local
    // ScanEvents capture can't see it — the scan's numOutputRows can)
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
      (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(s.plan)
        case other => other.children.flatMap(allScans)
      }) ++ (p match {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          Seq(b)
        case _ => Seq.empty
      })
    val factRows = allScans(q.queryExecution.executedPlan)
      .filter(_.toString.contains("rcf"))
      .flatMap(_.metrics.get("numOutputRows").map(_.value))
    assert(factRows.nonEmpty && factRows.sum == 2000L,
      s"runtime IN filter on a non-partition column must open only the " +
        s"covering file (2000 rows of ${total * 2000}), read $factRows")
    sql("DROP TABLE graft.spj.rcf")
  }

  test("MoR deletes, evolution, and row-level scans all stay native") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.spj")
    makeBucketTable("f", 5000)
    val root = s"$warehouse/spj/f"
    // 1. a MoR delete adds vectors -> the scan stays NATIVE (VERDICT
    // r14 #2: the reader masks deleted ordinals from the roaring
    // vectors via the row-index column) and values stay exact
    val t = SnapshotTable.load(spark, root)
    t.deleteWithVectors(org.apache.spark.sql.functions.col("id") % 100 === 0)
    val df = spark.table("graft.spj.f")
    val plan = finalPlan(df)
    assert(plan.contains("GraftBatchScan"),
      s"a DV table must keep the native scan:\n${plan.take(2000)}")
    assert(df.count() == 4950)
    assert(df.as[(Long, Double)].collect().map(_._1).toSet ==
      (0L until 5000L).filterNot(_ % 100 == 0).toSet,
      "native DV masking must drop exactly the deleted ordinals")
    // a second vector generation over the SAME files ORs in
    t.deleteWithVectors(org.apache.spark.sql.functions.col("id") % 100 === 1)
    val df2 = spark.table("graft.spj.f")
    assert(finalPlan(df2).contains("GraftBatchScan"))
    assert(df2.count() == 4900)
    // equality deletes mask natively too (task-side key sets), and
    // compose with the vectors already on the table
    t.deleteByKeys(Seq(2L).toDF("id"), Seq("id"))
    val eqPlan = finalPlan(spark.table("graft.spj.f"))
    assert(eqPlan.contains("GraftBatchScan"),
      s"an equality-delete table must keep the native scan:\n${
        eqPlan.take(2000)}")
    assert(eqPlan.contains("ColumnarToRow"), "eq mask stays columnar")
    assert(spark.table("graft.spj.f").count() == 4899)
    assert(spark.table("graft.spj.f").filter("id = 2").count() == 0)
    // sequence scoping: a re-append of the deleted key is NEWER than
    // the delete file and stays visible
    t.append(Seq((2L, -2.0)).toDF("id", "v"))
    assert(spark.table("graft.spj.f").filter("id = 2")
      .as[(Long, Double)].collect().toSeq == Seq((2L, -2.0)))
    // a projection that DROPS the key column still applies the delete
    // (the reader extends the schema, masks, projects back off)
    assert(spark.table("graft.spj.f").select("v").count() == 4900)
    // 2. schema evolution (new column) -> old files' ids differ from
    // the snapshot's -> the scan stays NATIVE through per-shape read
    // schemas (r15), typed nulls resolve
    makeBucketTable("g", 1000)
    val g = SnapshotTable.load(spark, s"$warehouse/spj/g")
    g.append(spark.range(1000, 1100).selectExpr("id",
      "cast(id as double) as v",
      "if(id >= 0, concat('t', cast(id as string)), null) as tag"))
    val dg = spark.table("graft.spj.g")
    assert(finalPlan(dg).contains("GraftBatchScan"),
      s"an evolved table must keep the native scan:\n${
        finalPlan(dg).take(2000)}")
    assert(dg.count() == 1100)
    assert(dg.filter("tag IS NULL").count() == 1000)
    // 3. a native UPDATE (metadata-column scan) over a bucket table:
    // the row-level read synthesizes (file, pos) on the batch scan
    // (r15) and the positions commit exact vectors
    makeBucketTable("h", 1000)
    sql("UPDATE graft.spj.h SET v = v + 0.5 WHERE id % 10 = 0")
    assert(sql("SELECT v FROM graft.spj.h WHERE id = 20").as[Double]
      .head == 20.5)
    Seq("a", "l", "r", "f", "g", "h").foreach(n =>
      sql(s"DROP TABLE IF EXISTS graft.spj.$n"))
    sql("DROP NAMESPACE graft.spj")
  }
}
