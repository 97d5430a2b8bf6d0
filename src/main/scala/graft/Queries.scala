package graft

import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schema.SchemaOps

/** The query inventory behind `SparkEntry.queries` / `oracleSql`
  * (SURVEY §7.1 `graft.Queries`). Each entry is a named operator
  * demonstration over the driver's read-only parquet testdata; each
  * SQL-expressible one carries a DuckDB oracle with IDENTICAL column
  * names and deterministic ordering.
  *
  * Numeric discipline for oracle parity: aggregates over doubles are
  * computed in exact decimal arithmetic on both sides and cast to double
  * at the end — decimal sums are order-independent and engine-exact, so
  * Spark and DuckDB produce bit-identical doubles. Timestamp discipline:
  * `events.ts` is parquet TIMESTAMP(NANOS); Spark reads it via
  * `Tables.events` (truncating ns→µs), so every events oracle wraps the
  * column in `CAST(ts AS TIMESTAMP)` to apply the same truncation in
  * DuckDB.
  */
object Queries {

  /** Fixed ingestion clock (SURVEY §7.4 risk 3: the reference stamps
    * driver-side `now()`; determinism requires an injected instant).
    */
  val FixedClock: Instant = Instant.parse("2026-01-01T00:00:00Z")

  /** One registry row: name, Spark query, optional DuckDB oracle. */
  final case class QueryDef(
      name: String,
      query: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private[graft] def t(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.load(spark, dir, name)

  /** Scale-adaptive parallelism floor for compute-heavy map stages
    * (optimization guide §2.5 "input skew: one huge unsplittable
    * file … repartition immediately after the read"): every sf*
    * testdata table is ONE parquet row group, so its scan is ONE task
    * and everything above it (shingling, codecs, JSON parsing,
    * partial aggregation) runs single-threaded on local[N] no matter
    * what N is. Spreading to the session's default parallelism costs
    * one narrow exchange of the harness's KB-sized rows; it is a
    * structural NO-OP (df returned unchanged) whenever the input
    * already carries >= that many partitions — the 100 TB case, where
    * a corpus arrives as thousands of splits and an extra exchange
    * would be pure loss. Deliberately NOT applied where row order
    * feeds float accumulation (embeddings k-means training) or where
    * fixtures write snapshot tables (their file layout is pinned by
    * in-result flags). The keyed variant exists because a keyless
    * round-robin `repartition(n)` first SORTS each input partition
    * (`spark.sql.execution.sortBeforeRepartition`, guide §2.5) — a
    * single-task sort exactly where the point was to escape the
    * single task; hashing a real high-cardinality key skips that sort
    * and is deterministic under task retries. Applied only where an
    * interleaved A/B showed a repeatable win (q1_agg 0.94→0.66 s,
    * q_profile 1.00→0.51, q3 0.56→0.37 at sf0.1);
    * rollup/cube/q5/q_events_hourly/q_distinct_agg measured neutral
    * to 2× WORSE with the same spread and keep their direct scans.
    */
  /** Scan partition count of a BASE TABLE load, cached per
    * (path, parallelism) for the JVM (r20, VERDICT r19 nit #4):
    * `df.rdd.getNumPartitions` physically plans the subtree a second
    * time at every query CONSTRUCTION — ~0.06 s of driver time per
    * bench run on each spread query. A bare scan's split count is a
    * pure function of the immutable file layout and the session's
    * split conf, so one planning per JVM serves every construction.
    * Like [[graft.sources.Tables]]' schema cache it assumes IMMUTABLE
    * inputs: keyed by path and parallelism only, never invalidated, so
    * files rewritten under a live JVM (or a changed split conf) keep
    * the first-seen count until the JVM restarts.
    */
  private val scanParts =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private def tableScanParts(s: SparkSession, dir: String,
      name: String): Int =
    scanParts.computeIfAbsent(
      s"$dir/$name@${s.sparkContext.defaultParallelism}",
      _ => t(s, dir, name).rdd.getNumPartitions)

  /** Round-robin spread of a bare table load (cached split count). */
  private def spreadT(s: SparkSession, dir: String,
      name: String): DataFrame = {
    val df = t(s, dir, name)
    val target = s.sparkContext.defaultParallelism
    if (tableScanParts(s, dir, name) < target) df.repartition(target)
    else df
  }

  /** Key-hashed spread of a bare table load (cached split count). */
  private def spreadByT(s: SparkSession, dir: String, name: String,
      keys: Column*): DataFrame = {
    val df = t(s, dir, name)
    val target = s.sparkContext.defaultParallelism
    if (tableScanParts(s, dir, name) < target)
      df.repartition(target, keys: _*)
    else df
  }

  /** Decimal-exact sum of a double column, returned as double. */
  private def dsum(c: Column, dt: String = "decimal(12,2)"): Column =
    sum(c.cast(dt)).cast("double")

  /** Root + catalog name for a build-once snapshot fixture placed
    * INSIDE the graft DSv2 catalog warehouse (`graft.db.<name>_h…`),
    * so SQL entries address it through native catalog identifiers.
    * The sf-dir hash suffix keeps different test dirs in one JVM from
    * colliding on a shared warehouse.
    */
  private def warehouseDbRoot(s: SparkSession, name: String,
      dir: String): (String, String) = {
    val wh = s.conf.get("spark.sql.catalog.graft.warehouse")
    val tbl = s"${name}_h${math.abs(dir.hashCode)}"
    val db = java.nio.file.Paths.get(wh, "db")
    java.nio.file.Files.createDirectories(db)
    (db.resolve(tbl).toString, s"graft.db.$tbl")
  }

  // =====================================================================
  // Schema-op parity queries (SURVEY §2 C/D/E/I operators over testdata)
  // =====================================================================

  private val schemaOpQueries: Seq[QueryDef] = Seq(
    QueryDef("c1_normalize_names",
      (s, dir) => {
        // messy source names (the generator's style) -> normalized
        val messy = t(s, dir, "events")
          .toDF("Event ID", "TS", "User-ID", "Event Type", "Value", "Props(raw)")
        SchemaOps.normalizeNames(messy)
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      },
      Some("""SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
             |       event_type, value, props
             |FROM events""".stripMargin)),

    QueryDef("c2_stamp_created_at",
      (s, dir) => SchemaOps.stampCreatedAt(t(s, dir, "events"), FixedClock),
      Some("""SELECT TIMESTAMP '2026-01-01 00:00:00' AS created_at,
             |       event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
             |       event_type, value, props
             |FROM events""".stripMargin)),

    QueryDef("c5_null_defaults",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val a = ev.select(col("event_id"), col("event_type"))
        val b = ev.select(col("event_id"), col("user_id"))
        SchemaOps.withDefaults(SchemaOps.unionByNameAll(Seq(a, b)))
      },
      Some("""SELECT event_id, event_type, CAST(0 AS BIGINT) AS user_id FROM events
             |UNION ALL
             |SELECT event_id, 'Unknown', user_id FROM events""".stripMargin)),

    QueryDef("c6_cast_types",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_shipdate"))
        SchemaOps.castTo(li, StructType(Seq(
          StructField("l_linenumber", LongType),
          StructField("l_shipdate", DateType))))
      },
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
             |       l_quantity, CAST(l_shipdate AS DATE) AS l_shipdate
             |FROM lineitem""".stripMargin)),

    QueryDef("c7_dates_to_timestamps",
      (s, dir) => {
        val withDate = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            to_date(col("l_shipdate")).as("ship_day"))
        SchemaOps.datesToTimestamps(withDate)
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |       CAST(CAST(l_shipdate AS DATE) AS TIMESTAMP) AS ship_day
             |FROM lineitem""".stripMargin)),

    QueryDef("d1_union_by_name",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val a = ev.select(col("event_id"), col("user_id"), col("event_type"))
        val b = ev.select(col("event_id"), col("value"))
        SchemaOps.unionByNameAll(Seq(a, b))
      },
      Some("""SELECT event_id, user_id, event_type, CAST(NULL AS DOUBLE) AS value
             |FROM events
             |UNION ALL
             |SELECT event_id, CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), value
             |FROM events""".stripMargin)),

    QueryDef("e1_align_schema",
      (s, dir) => SchemaOps.alignTo(t(s, dir, "documents"), StructType(Seq(
        StructField("doc_id", LongType),
        StructField("lang", StringType),
        StructField("n_chars", IntegerType),       // cast bigint -> int
        StructField("quality", DoubleType)))),     // missing -> typed null
      Some("""SELECT doc_id, lang, CAST(n_chars AS INTEGER) AS n_chars,
             |       CAST(NULL AS DOUBLE) AS quality, text, source
             |FROM documents""".stripMargin)),

    QueryDef("e4_conform_order",
      (s, dir) => SchemaOps.conformOrder(t(s, dir, "documents"), StructType(Seq(
        StructField("source", StringType),
        StructField("doc_id", LongType),
        StructField("review_flag", BooleanType)))), // missing -> null, no casts
      Some("""SELECT source, doc_id, CAST(NULL AS BOOLEAN) AS review_flag,
             |       text, lang, n_chars
             |FROM documents""".stripMargin)),

    QueryDef("i2_text_normalize",
      (s, dir) => t(s, dir, "documents").select(col("doc_id"),
        trim(regexp_replace(col("text"), "\\s+", " ")).as("text_norm")),
      Some("""SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS text_norm
             |FROM documents""".stripMargin))
  )

  // =====================================================================
  // General query surface (TPC-H-shaped demonstrations; SURVEY §2
  // "absent operator classes" — joins/aggs/windows/sorts our engine adds)
  // =====================================================================

  private val tpchQueries: Seq[QueryDef] = Seq(
    QueryDef("q1_agg",
      (s, dir) => spreadByT(s, dir, "lineitem", col("l_orderkey"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1) - col("l_discount").cast("decimal(12,2)")))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
             |  COUNT(*) AS count_order
             |FROM lineitem
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    QueryDef("q2_filter_pushdown",
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R" &&
          col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00")))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice
             |FROM lineitem
             |WHERE l_returnflag = 'R' AND l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'""".stripMargin)),

    QueryDef("q3_top_revenue_orders",
      (s, dir) => {
        val c = t(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
        val l = spreadByT(s, dir, "lineitem", col("l_orderkey"))
          .filter(col("l_shipdate") > lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
        // dims are tiny relative to lineitem at every SF: broadcast both
        l.join(broadcast(o), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1) - col("l_discount").cast("decimal(12,2)")))
            .cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey, o_orderdate, o_orderpriority,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
             |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
             |GROUP BY l_orderkey, o_orderdate, o_orderpriority
             |ORDER BY revenue DESC, l_orderkey
             |LIMIT 10""".stripMargin)),

    QueryDef("q5_region_revenue",
      (s, dir) => {
        val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
        val n = t(s, dir, "nation")
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
            col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
        val l = t(s, dir, "lineitem")
        val sup = t(s, dir, "supplier")
        // star-join: every dim broadcast, lineitem streams through once
        l.join(broadcast(o), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1) - col("l_discount").cast("decimal(12,2)")))
            .cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some("""SELECT n_name,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
             |GROUP BY n_name
             |ORDER BY revenue DESC, n_name""".stripMargin)),

    QueryDef("q_window_rank",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, dir, "orders")
          // cast: DuckDB's ROW_NUMBER is bigint, Spark's is int
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    ROW_NUMBER() OVER (PARTITION BY o_custkey
             |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) ranked
             |WHERE rn <= 3""".stripMargin)),

    QueryDef("q_topk_orders",
      (s, dir) => t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .limit(20),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice
             |FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey
             |LIMIT 20""".stripMargin)),

    QueryDef("q_semi_join",
      (s, dir) => {
        val o = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
        t(s, dir, "customer")
          .join(o, col("c_custkey") === col("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')""".stripMargin)),

    QueryDef("q_anti_join",
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")),
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin)),

    QueryDef("q_distinct_agg",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("n_supp").desc, col("l_partkey"))
        .limit(15),
      Some("""SELECT l_partkey, COUNT(DISTINCT l_suppkey) AS n_supp,
             |       COUNT(*) AS n_lines
             |FROM lineitem
             |GROUP BY l_partkey
             |ORDER BY n_supp DESC, l_partkey
             |LIMIT 15""".stripMargin)),

    QueryDef("q_rollup",
      (s, dir) => t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty")),
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem
             |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)),

    // full cube over two dims (all four grouping combinations in one
    // partial-aggregating pass)
    QueryDef("q_cube",
      (s, dir) => t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty")),
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem
             |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin)),

    // outer-join aggregation: customers WITHOUT orders must appear with
    // zero counts (the null-preserving path exact dedup/semi joins skip)
    QueryDef("q_outer_join_agg",
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(sum(col("o_totalprice").cast("decimal(14,2)")), lit(0))
            .cast("double").as("total_spend")),
      Some("""SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
             |  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 0) AS DOUBLE)
             |    AS total_spend
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_custkey, c_name""".stripMargin)),

    // set operators (distinct semantics on both engines): customers with
    // both open and finished orders vs open-only
    QueryDef("q_set_ops",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val open = orders.filter(col("o_orderstatus") === "O")
          .select(col("o_custkey"))
        val fin = orders.filter(col("o_orderstatus") === "F")
          .select(col("o_custkey"))
        open.intersect(fin).withColumn("kind", lit("open_and_finished"))
          .unionByName(open.except(fin).withColumn("kind", lit("open_only")))
      },
      Some("""SELECT o_custkey, 'open_and_finished' AS kind FROM (
             |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
             |  INTERSECT
             |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
             |UNION ALL
             |SELECT o_custkey, 'open_only' AS kind FROM (
             |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
             |  EXCEPT
             |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')""".stripMargin)),

    // sliding-frame window aggregation (5-row moving average per user;
    // decimal-exact sum keeps the doubles bit-identical across engines)
    QueryDef("q_moving_avg",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(-4, Window.currentRow)
        t(s, dir, "events")
          .withColumn("mov_sum",
            sum(col("value").cast("decimal(10,2)")).over(w).cast("double"))
          .withColumn("mov_n", count(lit(1)).over(w))
          .select(col("user_id"), col("event_id"), col("mov_sum"), col("mov_n"),
            (col("mov_sum") / col("mov_n")).as("mov_avg"))
      },
      Some("""SELECT user_id, event_id,
             |  CAST(SUM(CAST(value AS DECIMAL(10,2))) OVER w AS DOUBLE) AS mov_sum,
             |  COUNT(*) OVER w AS mov_n,
             |  CAST(SUM(CAST(value AS DECIMAL(10,2))) OVER w AS DOUBLE)
             |    / (COUNT(*) OVER w) AS mov_avg
             |FROM events
             |WINDOW w AS (PARTITION BY user_id
             |             ORDER BY CAST(ts AS TIMESTAMP), event_id
             |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // as-of join (operator Spark lacks; composed as one sort-merge pass
    // — see graft.operators.AsOf): each event picks up the latest
    // at-or-before hourly per-user stats; DuckDB's native ASOF LEFT
    // JOIN is the oracle
    QueryDef("q_asof_join",
      (s, dir) => {
        import graft.operators.AsOf
        val ev = t(s, dir, "events")
        val left = ev.select(col("event_id"), col("user_id"), col("ts"))
        val hourly = ev
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("ts"))
          .agg(count(lit(1)).as("hourly_n"),
            sum(col("value").cast("decimal(10,2)")).cast("double").as("hourly_value"))
        AsOf.joinAsOf(left, hourly, keyCol = "user_id", tsCol = "ts",
          valueCols = Seq("hourly_n", "hourly_value"))
      },
      Some("""WITH e AS (
             |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
             |), h AS (
             |  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hts,
             |         COUNT(*) AS hourly_n,
             |         CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS hourly_value
             |  FROM events GROUP BY 1, 2
             |)
             |SELECT e.event_id, e.user_id, e.ts, h.hourly_n, h.hourly_value
             |FROM e ASOF LEFT JOIN h ON e.user_id = h.user_id AND e.ts >= h.hts""".stripMargin)),

    // range join (point-in-interval) via bucketed equi-join — see
    // graft.operators.RangeJoin; intervals are the first half-hour of
    // every active (user, hour), so roughly half the events match
    QueryDef("q_range_join",
      (s, dir) => {
        import graft.operators.RangeJoin
        val ev = t(s, dir, "events")
        val points = ev.select(col("event_id"), col("user_id"), col("ts"))
        val windows = ev
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("window_start"))
          .agg(count(lit(1)).as("n_in_hour"))
          .select(col("user_id"), col("window_start"),
            (col("window_start") + expr("INTERVAL 30 MINUTES")).as("window_end"))
        RangeJoin.pointInInterval(points, windows, keyCol = "user_id",
            ptCol = "ts", startCol = "window_start", endCol = "window_end",
            bucketUs = 30L * 60 * 1000000)
          .select(col("event_id"), col("user_id"), col("ts"), col("window_start"))
      },
      Some("""WITH e AS (
             |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
             |), w AS (
             |  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start
             |  FROM events GROUP BY 1, 2
             |)
             |SELECT e.event_id, e.user_id, e.ts, w.window_start
             |FROM e JOIN w ON e.user_id = w.user_id
             |  AND e.ts >= w.window_start
             |  AND e.ts < w.window_start + INTERVAL 30 MINUTE""".stripMargin)),

    // data profiling: exact-safe per-group column statistics (the
    // pre-ingest sanity pass a pipeline runs before heavy work)
    QueryDef("q_profile",
      (s, dir) => spreadByT(s, dir, "lineitem", col("l_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          dsum(col("l_quantity")).as("sum_qty"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship")),
      Some("""SELECT l_returnflag, COUNT(*) AS n,
             |  COUNT(DISTINCT l_orderkey) AS n_orders,
             |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
             |  MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship
             |FROM lineitem
             |GROUP BY l_returnflag""".stripMargin)),

    // JSON scalar extraction (events.props carries a JSON payload):
    // parse inside the scan projection, aggregate the extracted field
    QueryDef("q_events_json",
      (s, dir) => t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k")),
      Some("""SELECT event_type,
             |  COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
             |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
             |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
             |FROM events
             |GROUP BY event_type""".stripMargin)),

    // salted-join skew pattern: result must be IDENTICAL to the plain
    // join the oracle runs (the salt only changes row placement)
    QueryDef("q_salted_join",
      (s, dir) => {
        import graft.operators.Skew
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"))
        val o = t(s, dir, "orders")
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
        Skew.saltedInnerJoin(li, o, "l_orderkey", salts = 8)
          .groupBy(col("o_orderpriority"))
          .agg(dsum(col("l_quantity")).as("sum_qty"),
            count(lit(1)).as("n_lines"))
      },
      Some("""SELECT o_orderpriority,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
             |  COUNT(*) AS n_lines
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority""".stripMargin)),

    QueryDef("q_events_hourly",
      (s, dir) => t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour_ts"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(10,2)")).cast("double").as("sum_value")),
      Some("""SELECT event_type,
             |  date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
             |FROM events
             |GROUP BY event_type, date_trunc('hour', CAST(ts AS TIMESTAMP))""".stripMargin))
  )

  // =====================================================================
  // Text-analysis extension queries (documents table; graft.functions
  // .TextFunctions — LLM-pipeline surface, SURVEY §7.3)
  // =====================================================================

  private val textQueries: Seq[QueryDef] = {
    import graft.functions.TextFunctions._
    Seq(
      QueryDef("text_token_count",
        (s, dir) => t(s, dir, "documents").select(col("doc_id"),
          wsTokenCount(col("text")).as("n_ws_tokens"),
          bpeishTokenCount(col("text")).as("n_bpe_tokens")),
        Some("""SELECT doc_id,
               |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
               |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
               |FROM documents""".stripMargin)),

      QueryDef("text_langid",
        (s, dir) => t(s, dir, "documents").select(col("doc_id"),
          langId(col("text")).as("lang_pred")),
        Some("""WITH pad AS (
               |  SELECT doc_id,
               |    ' ' || trim(regexp_replace(lower(text), '\s+', ' ', 'g')) || ' ' AS p
               |  FROM documents
               |), s AS (
               |  SELECT doc_id,
               |    CAST(contains(p, ' the ') AS INTEGER) + CAST(contains(p, ' a ') AS INTEGER)
               |      + CAST(contains(p, ' of ') AS INTEGER) + CAST(contains(p, ' and ') AS INTEGER)
               |      + CAST(contains(p, ' is ') AS INTEGER) AS s_en,
               |    CAST(contains(p, ' el ') AS INTEGER) + CAST(contains(p, ' la ') AS INTEGER)
               |      + CAST(contains(p, ' de ') AS INTEGER) + CAST(contains(p, ' que ') AS INTEGER)
               |      + CAST(contains(p, ' y ') AS INTEGER) AS s_es,
               |    CAST(contains(p, ' der ') AS INTEGER) + CAST(contains(p, ' die ') AS INTEGER)
               |      + CAST(contains(p, ' das ') AS INTEGER) + CAST(contains(p, ' und ') AS INTEGER)
               |      + CAST(contains(p, ' ist ') AS INTEGER) AS s_de,
               |    CAST(contains(p, ' le ') AS INTEGER) + CAST(contains(p, ' la ') AS INTEGER)
               |      + CAST(contains(p, ' les ') AS INTEGER) + CAST(contains(p, ' et ') AS INTEGER)
               |      + CAST(contains(p, ' est ') AS INTEGER) AS s_fr,
               |    CAST(contains(p, '的') AS INTEGER) + CAST(contains(p, '是') AS INTEGER)
               |      + CAST(contains(p, '了') AS INTEGER) AS s_zh
               |  FROM pad
               |)
               |SELECT doc_id,
               |  CASE
               |    WHEN s_en = GREATEST(s_en, s_es, s_de, s_fr, s_zh) AND s_en > 0 THEN 'en'
               |    WHEN s_es = GREATEST(s_en, s_es, s_de, s_fr, s_zh) AND s_es > 0 THEN 'es'
               |    WHEN s_de = GREATEST(s_en, s_es, s_de, s_fr, s_zh) AND s_de > 0 THEN 'de'
               |    WHEN s_fr = GREATEST(s_en, s_es, s_de, s_fr, s_zh) AND s_fr > 0 THEN 'fr'
               |    WHEN s_zh = GREATEST(s_en, s_es, s_de, s_fr, s_zh) AND s_zh > 0 THEN 'zh'
               |    ELSE 'und'
               |  END AS lang_pred
               |FROM s""".stripMargin)),

      QueryDef("text_quality",
        (s, dir) => t(s, dir, "documents").select(col("doc_id"),
          wsTokenCount(col("text")).as("n_ws_tokens"),
          punctCount(col("text")).as("n_punct"),
          stopwordCount(col("text")).as("n_stop"),
          qualityScore(col("text")).as("quality")),
        Some("""WITH m AS (
               |  SELECT doc_id,
               |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
               |    CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS BIGINT) AS n_punct,
               |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               |         tok -> tok IN ('the','a','of','and','is'))) AS BIGINT) AS n_stop,
               |    length(text) AS n_len
               |  FROM documents
               |)
               |SELECT doc_id, n_ws_tokens, n_punct, n_stop,
               |  LEAST(CAST(n_ws_tokens AS DOUBLE) / 50.0, 1.0) * 0.4
               |  + (1.0 - LEAST(CAST(n_punct AS DOUBLE) / CAST(n_len AS DOUBLE) * 5.0, 1.0)) * 0.3
               |  + (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_ws_tokens AS DOUBLE)) * 0.3 AS quality
               |FROM m""".stripMargin)),

      // PII scrubbing over a corpus with planted emails/phones (every
      // 5th doc) so the masking is exercised, not vacuous
      QueryDef("text_scrub_pii",
        (s, dir) => {
          val planted = t(s, dir, "documents").select(col("doc_id"),
            when(col("doc_id") % 5 === 0,
              concat(col("text"),
                lit(" contact jo.doe+1@example-mail.com or 555-123-4567 ok")))
              .otherwise(col("text")).as("text"))
          planted.select(col("doc_id"),
            emailCount(col("text")).as("n_emails"),
            phoneCount(col("text")).as("n_phones"),
            scrubPii(col("text")).as("text_scrubbed"))
        },
        Some("""WITH planted AS (
               |  SELECT doc_id,
               |    CASE WHEN doc_id % 5 = 0
               |      THEN text || ' contact jo.doe+1@example-mail.com or 555-123-4567 ok'
               |      ELSE text END AS text
               |  FROM documents
               |)
               |SELECT doc_id,
               |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
               |  CAST(len(regexp_extract_all(text, '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}')) AS INTEGER) AS n_phones,
               |  regexp_replace(regexp_replace(text,
               |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
               |    '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}', '[PHONE]', 'g') AS text_scrubbed
               |FROM planted""".stripMargin)),

      // per-shard sequence packing: docs → fixed-token-budget packs
      QueryDef("pipeline_pack_sequences",
        (s, dir) => {
          val docs = t(s, dir, "documents").select(col("doc_id"),
            wsTokenCount(col("text")).as("n_tokens"))
          graft.operators.Pack.packSequences(docs, capacity = 512, shards = 8)
        },
        Some("""WITH d AS (
               |  SELECT doc_id,
               |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
               |    CAST(doc_id % 8 AS INTEGER) AS shard
               |  FROM documents
               |), c AS (
               |  SELECT doc_id, n_tokens, shard,
               |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
               |  FROM d
               |)
               |SELECT doc_id, n_tokens, shard, cum_tokens,
               |  CAST(shard AS BIGINT) * 4294967296
               |    + CAST(floor((cum_tokens - n_tokens) / 512) AS BIGINT) AS pack_id
               |FROM c""".stripMargin)),

      // Context-window chunking (Pack.chunkDocuments): 40-token windows
      // advancing by 30 (10-token overlap) — the per-row, shuffle-free
      // preprocessing step that turns long documents into trainable
      // sequences; ids are (doc, ordinal) so re-chunking is reproducible
      QueryDef("pipeline_chunk_windows",
        (s, dir) => graft.operators.Pack.chunkDocuments(
          t(s, dir, "documents"), window = 40, overlap = 10),
        Some("""WITH toks AS (
               |  SELECT doc_id,
               |    list_filter(string_split(trim(regexp_replace(
               |      lower(COALESCE(text, '')), '\s+', ' ', 'g')), ' '),
               |      x -> x <> '') AS t
               |  FROM documents
               |), sized AS (
               |  SELECT doc_id, t,
               |    CASE WHEN len(t) <= 40 THEN 1
               |         ELSE 1 + CAST(ceil((len(t) - 40) / 30.0) AS INT)
               |    END AS nc
               |  FROM toks
               |), ex AS (
               |  SELECT doc_id, unnest(list_transform(range(0, nc),
               |    i -> struct_pack(
               |      cid := i,
               |      ntk := len(t[i*30+1 : i*30+40]),
               |      txt := array_to_string(t[i*30+1 : i*30+40], ' ')))) AS ch
               |  FROM sized
               |)
               |SELECT doc_id, CAST(ch.cid AS BIGINT) AS chunk_id,
               |  CAST(ch.ntk AS BIGINT) AS n_chunk_tokens,
               |  ch.txt AS chunk_text
               |FROM ex""".stripMargin)),

      QueryDef("text_repetition",
        (s, dir) => t(s, dir, "documents").select(col("doc_id"),
          dupLineFraction(col("text")).as("dup_line_frac"),
          dupBigramFraction(col("text")).as("dup_bigram_frac")),
        Some("""WITH m AS (
               |  SELECT doc_id,
               |    string_split(text, chr(10)) AS lines,
               |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
               |  FROM documents
               |)
               |SELECT doc_id,
               |  CASE WHEN len(lines) <= 1 THEN 0.0
               |       ELSE 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE)
               |              / CAST(len(lines) AS DOUBLE) END AS dup_line_frac,
               |  CASE WHEN len(t) - 1 <= 1 THEN 0.0
               |       ELSE 1.0 - CAST(len(list_distinct(list_transform(range(0, len(t) - 1),
               |              i -> array_to_string(t[i+1:i+2], ' ')))) AS DOUBLE)
               |              / CAST(len(t) - 1 AS DOUBLE) END AS dup_bigram_frac
               |FROM m""".stripMargin)),

      // flagship composition: the C4-style cleaning pipeline a training
      // corpus actually runs — language filter → quality filter → exact
      // dedup (keep smallest id) — every stage oracle-mirrored
      QueryDef("pipeline_clean_corpus",
        (s, dir) => {
          val scored = dupCorpus(s, dir).select(
            col("doc_id"), col("text"),
            langId(col("text")).as("lang_pred"),
            qualityScore(col("text")).as("quality"),
            wsTokenCount(col("text")).as("n_tokens"),
            fingerprintExact(col("text")).as("fp"))
          scored
            .filter(col("lang_pred") === "en" && col("quality") >= 0.5)
            .groupBy(col("fp"))
            .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"),
              min(col("quality")).as("quality"), min(col("n_tokens")).as("n_tokens"))
        },
        Some("""WITH corpus AS (
               |  SELECT doc_id, text FROM documents
               |  UNION ALL
               |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0
               |), pad AS (
               |  SELECT doc_id, text,
               |    ' ' || trim(regexp_replace(lower(text), '\s+', ' ', 'g')) || ' ' AS p
               |  FROM corpus
               |), sc AS (
               |  SELECT doc_id, text,
               |    CAST(contains(p, ' the ') AS INTEGER) + CAST(contains(p, ' a ') AS INTEGER)
               |      + CAST(contains(p, ' of ') AS INTEGER) + CAST(contains(p, ' and ') AS INTEGER)
               |      + CAST(contains(p, ' is ') AS INTEGER) AS s_en,
               |    CAST(contains(p, ' el ') AS INTEGER) + CAST(contains(p, ' la ') AS INTEGER)
               |      + CAST(contains(p, ' de ') AS INTEGER) + CAST(contains(p, ' que ') AS INTEGER)
               |      + CAST(contains(p, ' y ') AS INTEGER) AS s_es,
               |    CAST(contains(p, ' der ') AS INTEGER) + CAST(contains(p, ' die ') AS INTEGER)
               |      + CAST(contains(p, ' das ') AS INTEGER) + CAST(contains(p, ' und ') AS INTEGER)
               |      + CAST(contains(p, ' ist ') AS INTEGER) AS s_de,
               |    CAST(contains(p, ' le ') AS INTEGER) + CAST(contains(p, ' la ') AS INTEGER)
               |      + CAST(contains(p, ' les ') AS INTEGER) + CAST(contains(p, ' et ') AS INTEGER)
               |      + CAST(contains(p, ' est ') AS INTEGER) AS s_fr,
               |    CAST(contains(p, '的') AS INTEGER) + CAST(contains(p, '是') AS INTEGER)
               |      + CAST(contains(p, '了') AS INTEGER) AS s_zh
               |  FROM pad
               |), lang AS (
               |  SELECT doc_id, text,
               |    CASE
               |      WHEN s_en = GREATEST(s_en, s_es, s_de, s_fr, s_zh) AND s_en > 0 THEN 'en'
               |      WHEN s_es = GREATEST(s_en, s_es, s_de, s_fr, s_zh) AND s_es > 0 THEN 'es'
               |      WHEN s_de = GREATEST(s_en, s_es, s_de, s_fr, s_zh) AND s_de > 0 THEN 'de'
               |      WHEN s_fr = GREATEST(s_en, s_es, s_de, s_fr, s_zh) AND s_fr > 0 THEN 'fr'
               |      WHEN s_zh = GREATEST(s_en, s_es, s_de, s_fr, s_zh) AND s_zh > 0 THEN 'zh'
               |      ELSE 'und'
               |    END AS lang_pred
               |  FROM sc
               |), m AS (
               |  SELECT doc_id, text, lang_pred,
               |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
               |    CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS BIGINT) AS n_punct,
               |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               |         tok -> tok IN ('the','a','of','and','is'))) AS BIGINT) AS n_stop,
               |    length(text) AS n_len
               |  FROM lang
               |), q AS (
               |  SELECT doc_id, text, lang_pred, n_tokens,
               |    LEAST(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.4
               |    + (1.0 - LEAST(CAST(n_punct AS DOUBLE) / CAST(n_len AS DOUBLE) * 5.0, 1.0)) * 0.3
               |    + (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.3 AS quality
               |  FROM m
               |)
               |SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
               |       MIN(doc_id) AS doc_id, COUNT(*) AS n_dups,
               |       MIN(quality) AS quality, MIN(n_tokens) AS n_tokens
               |FROM q
               |WHERE lang_pred = 'en' AND quality >= 0.5
               |GROUP BY 1""".stripMargin)),

      // Salient-term extraction (TermWeights.topTerms): per-doc top-5
      // terms by tf × the BM25 idf argument — deliberately LOG-FREE so
      // every op is IEEE-exactly-specified and the DuckDB compare needs
      // no tolerance; ranking ships ≤ k rows/group via the TopK UDAF
      QueryDef("text_top_terms",
        (s, dir) => graft.operators.TermWeights.topTerms(
          t(s, dir, "documents"), k = 5),
        Some("""WITH toks AS (
               |  SELECT doc_id,
               |    unnest(string_split(trim(regexp_replace(lower(text),
               |      '\s+', ' ', 'g')), ' ')) AS term
               |  FROM documents
               |), tf AS (
               |  SELECT doc_id, term, count(*) AS tf FROM toks
               |  WHERE term <> '' GROUP BY 1, 2
               |), dft AS (
               |  SELECT term, count(*) AS df FROM tf GROUP BY 1
               |), n AS (
               |  SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n
               |  FROM tf
               |), scored AS (
               |  SELECT tf.doc_id, tf.term,
               |    tf.tf * (n.n - dft.df + 0.5) / (dft.df + 0.5) AS weight
               |  FROM tf JOIN dft USING (term) CROSS JOIN n
               |), ranked AS (
               |  SELECT doc_id, term, weight,
               |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
               |         ORDER BY weight DESC, term) AS BIGINT) AS rank
               |  FROM scored
               |)
               |SELECT doc_id, term, weight, rank FROM ranked
               |WHERE rank <= 5""".stripMargin)),

      // BM25 relevance (query-based corpus subselection): ln is not
      // IEEE-exactly-specified, so the compared score rounds to 1e-3 —
      // far above any cross-engine ulp drift, far below score spacing
      QueryDef("text_bm25",
        (s, dir) => graft.operators.TermWeights.bm25(
            t(s, dir, "documents"), Seq("hash", "join", "scan"))
          .select(col("doc_id"), round(col("score"), 3).as("score")),
        Some("""WITH toks AS (
               |  SELECT doc_id,
               |    unnest(string_split(trim(regexp_replace(lower(text),
               |      '\s+', ' ', 'g')), ' ')) AS term
               |  FROM documents
               |), toks2 AS (
               |  SELECT doc_id, term FROM toks WHERE term <> ''
               |), dl AS (
               |  SELECT doc_id, count(*) AS dl FROM toks2 GROUP BY 1
               |), c AS (
               |  SELECT CAST(count(*) AS DOUBLE) AS n,
               |         avg(dl) AS avgdl FROM dl
               |), tf AS (
               |  SELECT doc_id, term, count(*) AS tf FROM toks2
               |  WHERE term IN ('hash', 'join', 'scan') GROUP BY 1, 2
               |), dft AS (
               |  SELECT term, count(*) AS df FROM tf GROUP BY 1
               |)
               |SELECT tf.doc_id,
               |  round(SUM(
               |    ln(1.0 + (c.n - dft.df + 0.5) / (dft.df + 0.5))
               |    * (tf.tf * 2.2)
               |    / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / c.avgdl))
               |  ), 3) AS score
               |FROM tf
               |JOIN dft USING (term)
               |JOIN dl USING (doc_id)
               |CROSS JOIN c
               |GROUP BY 1""".stripMargin)),

      // INCREMENTAL BM25: the corpus term statistics (df, N, avgdl)
      // live in a build-once term-sorted snapshot index; the arriving
      // batch (the planted mutants) tokenizes only itself and scores
      // against the FROZEN stats — the corpus is never re-read. The
      // query term 'marker' exists only in the batch, pinning the
      // unseen-term contract (no df row => contributes nothing).
      QueryDef("text_bm25_index",
        (s, dir) => {
          val root = termStatsIndexCache.computeIfAbsent(dir, _ => {
            val p = java.nio.file.Files
              .createTempDirectory("graft-termstats").resolve("idx").toString
            graft.operators.TermWeights.buildTermStatsIndex(
              s, t(s, dir, "documents"), p)
            p
          })
          val idx = graft.catalog.SnapshotTable.load(s, root)
          val batch = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
            .select((col("doc_id") + 100000).as("doc_id"),
              concat(col("text"), lit(" graft dup marker")).as("text"))
          graft.operators.TermWeights.bm25AgainstIndex(idx, batch,
            Seq("hash", "join", "scan", "marker"))
            .select(col("doc_id"), round(col("score"), 3).as("score"))
        },
        Some("""WITH ct AS (
               |  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text),
               |    '\s+', ' ', 'g')), ' ')) AS term
               |  FROM documents
               |), ct2 AS (
               |  SELECT doc_id, term FROM ct WHERE term <> ''
               |), dlc AS (
               |  SELECT doc_id, count(*) AS dl FROM ct2 GROUP BY 1
               |), c AS (
               |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dlc
               |), dft AS (
               |  SELECT term, count(DISTINCT doc_id) AS df FROM ct2
               |  WHERE term IN ('hash', 'join', 'scan', 'marker') GROUP BY 1
               |), batch AS (
               |  SELECT doc_id + 100000 AS doc_id,
               |         text || ' graft dup marker' AS text
               |  FROM documents WHERE doc_id % 10 = 0
               |), bt AS (
               |  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text),
               |    '\s+', ' ', 'g')), ' ')) AS term
               |  FROM batch
               |), bt2 AS (
               |  SELECT doc_id, term FROM bt WHERE term <> ''
               |), bdl AS (
               |  SELECT doc_id, count(*) AS dl FROM bt2 GROUP BY 1
               |), btf AS (
               |  SELECT doc_id, term, count(*) AS tf FROM bt2
               |  WHERE term IN ('hash', 'join', 'scan', 'marker') GROUP BY 1, 2
               |)
               |SELECT btf.doc_id,
               |  round(SUM(
               |    ln(1.0 + (c.n - dft.df + 0.5) / (dft.df + 0.5))
               |    * (btf.tf * 2.2)
               |    / (btf.tf + 1.2 * (0.25 + 0.75 * bdl.dl / c.avgdl))
               |  ), 3) AS score
               |FROM btf
               |JOIN dft USING (term)
               |JOIN bdl USING (doc_id)
               |CROSS JOIN c
               |GROUP BY 1""".stripMargin)),

      QueryDef("text_fingerprint",
        (s, dir) => t(s, dir, "documents").select(col("doc_id"),
          fingerprintExact(col("text")).as("fp_exact"),
          fingerprintKey(col("text")).as("fp_key")),
        Some("""SELECT doc_id,
               |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_exact,
               |  md5(array_to_string(list_sort(list_distinct(
               |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))), ' ')) AS fp_key
               |FROM documents""".stripMargin))
    )
  }

  // =====================================================================
  // Deduplication extension queries (documents/embeddings tables;
  // graft.operators.Dedup / Similarity — SURVEY §7.3). The corpus for
  // the near-dup demos is documents ∪ deterministic mutants (ids offset
  // by 100000) so duplicates provably exist at every SF; the approximate
  // families (MinHash/SimHash/LSH) are rows-only checked, exact dedup
  // and brute-force cosine carry full oracles.
  // =====================================================================

  private val bucketTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once bucket[8]-on-event_id events snapshot: each bucket gets
    * its own files (the write stage partitions by the hidden transform),
    * so a point lookup opens ~1/8 of the data — `snap_bucket_lookup`.
    */
  private def bucketSnapshot(s: SparkSession,
      dir: String): graft.catalog.SnapshotTable = {
    val root = bucketTableCache.computeIfAbsent(dir, _ => {
      val base = java.nio.file.Files.createTempDirectory("graft-snap-bucket")
        .resolve("t").toString
      val ev = t(s, dir, "events")
      val tbl = graft.catalog.SnapshotTable.create(s, base, ev.schema,
        Some(graft.catalog.PartitionSpec("event_id", "bucket[8]")))
      tbl.append(ev)
      base
    })
    graft.catalog.SnapshotTable.load(s, root)
  }

  private val minhashIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once persisted MinHash signature index of the documents
    * corpus ([[graft.operators.Dedup.minhashSignatures]]), files
    * band_hash-range-clustered so the manifest carries tight band_hash
    * bounds — the probe side of `dedup_incremental`.
    */
  private def minhashIndexTable(s: SparkSession,
      dir: String): graft.catalog.SnapshotTable = {
    val root = minhashIndexCache.computeIfAbsent(dir, _ => {
      val base = java.nio.file.Files.createTempDirectory("graft-mh-index")
        .resolve("index").toString
      val sigs = graft.operators.Dedup.minhashSignatures(
        t(s, dir, "documents"), shingleLen = 3, k = 64, bands = 16)
      val tbl = graft.catalog.SnapshotTable.create(s, base, sigs.schema, None)
      tbl.append(sigs.repartitionByRange(8, col("band_hash"))
        .sortWithinPartitions("band_hash"))
      base
    })
    graft.catalog.SnapshotTable.load(s, root)
  }

  /** documents ∪ exact copies of every 7th doc (id+100000). */
  private def dupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + 100000))
  }

  /** documents ∪ near-dup mutants (3 tokens appended) of every 10th doc. */
  private[graft] def nearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 100000)
      .withColumn("text", concat(col("text"), lit(" graft dup marker"))))
  }

  /** embeddings ∪ perturbed mutants (±0.01 alternating) of every 10th. */
  private[graft] def nearDupVectors(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    e.unionByName(e.filter(col("vec_id") % 10 === 0)
      .withColumn("vec_id", col("vec_id") + 100000)
      .withColumn("embedding",
        zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
          (x, d) => (x + when(d % 2 === 0, lit(0.01f)).otherwise(lit(-0.01f)))
            .cast("float"))))
  }

  /** The word-3-gram shingle set of the near-dup corpus, as DuckDB SQL
    * CTEs mirroring [[graft.operators.Dedup.wordShingles]] exactly
    * (lower → collapse whitespace → trim → split on ' ' → 3-token
    * windows → distinct; short docs collapse to one whole-text shingle).
    */
  private val shingleCtes: String =
    """WITH corpus AS (
      |  SELECT doc_id AS id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, text || ' graft dup marker'
      |  FROM documents WHERE doc_id % 10 = 0
      |), toks AS (
      |  SELECT id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
      |  FROM corpus
      |), shsets AS (
      |  SELECT id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |    ELSE list_distinct(list_transform(range(0, len(t) - 2),
      |           i -> array_to_string(t[i+1:i+3], ' ')))
      |    END AS shingles FROM toks
      |), postings AS (
      |  SELECT id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM shsets
      |)""".stripMargin

  /** CTE block `rare, rp, shared, prs` appended to [[shingleCtes]]:
    * candidate pairs with exact inverted-index Jaccard ≥ `threshold`
    * (`maxDocFreq` mirrors the posting cap — shared shingles counted
    * over rare shingles only, set sizes over the full sets, the same
    * semantics as the Spark plan). ONE definition feeds every
    * pair-derived oracle (pairs, edit distance, clusters,
    * representatives) so the SQL cannot drift per query.
    */
  private def pairsCtes(threshold: Double,
      maxDocFreq: Option[Int] = None): String = {
    val cap = maxDocFreq.map(m => s"AND count(*) <= $m").getOrElse("")
    s""", rare AS (
       |  SELECT sh FROM postings GROUP BY sh HAVING count(*) >= 2 $cap
       |), rp AS (
       |  SELECT p.* FROM postings p JOIN rare USING (sh)
       |), shared AS (
       |  SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
       |         count(*) AS shared
       |  FROM rp a JOIN rp b ON a.sh = b.sh AND a.id < b.id
       |  GROUP BY 1, 2, 3, 4
       |), prs AS (
       |  SELECT id_a, id_b,
       |    CAST(shared AS DOUBLE) / CAST(n_a + n_b - shared AS DOUBLE) AS jaccard
       |  FROM shared
       |  WHERE CAST(shared AS DOUBLE) / CAST(n_a + n_b - shared AS DOUBLE) >= $threshold
       |)""".stripMargin
  }

  /** Exact pairwise Jaccard ≥ `threshold` via an inverted-index join in
    * DuckDB (see [[pairsCtes]]).
    */
  private def jaccardOracle(threshold: Double, maxDocFreq: Option[Int]): String =
    s"""$shingleCtes${pairsCtes(threshold, maxDocFreq)}
       |SELECT id_a, id_b, jaccard FROM prs""".stripMargin

  /** Property-check summary for the SimHash family (the fingerprint is a
    * custom FNV-based expression DuckDB cannot replicate, so the oracle
    * checks invariants the blocking guarantee makes deterministic):
    *  - `planted_in_radius_missed`: planted mutant pairs whose TRUE
    *    Hamming distance is ≤ maxHamming but which the pair pipeline did
    *    not emit — the pigeonhole banding guarantees 0;
    *  - `hamming_violations`: emitted pairs whose recomputed distance
    *    exceeds maxHamming (exact filter guarantees 0);
    *  - `duplicate_pairs`: pair keys emitted more than once (0);
    *  - `n_planted_total`: planted-pair count, recomputed by the oracle
    *    from the documents table.
    */
  private def simhashCheck(s: SparkSession, dir: String, maxHamming: Int): DataFrame = {
    import graft.operators.Dedup
    val corpus = nearDupCorpus(s, dir)
    // one full-outer join of (planted pairs ⋈ fingerprints) against the
    // emitted pairs, then ONE aggregate with conditional counts — the
    // banded self-join runs once, not once per check branch
    val fps = Dedup.simhashes(corpus)
    val pairs = Dedup.simhashPairs(corpus, maxHamming = maxHamming)
      .withColumn("emitted", lit(1))
    val planted = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("id_a"), (col("doc_id") + 100000).as("id_b"))
      .withColumn("planted", lit(1))
    val joined = planted
      .join(pairs, Seq("id_a", "id_b"), "full_outer")
      .join(fps.select(col("id").as("id_a"), col("simhash").as("fp_a")), "id_a")
      .join(fps.select(col("id").as("id_b"), col("simhash").as("fp_b")), "id_b")
      .withColumn("ham_true", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
    val agg = joined.agg(
      sum(when(col("planted") === 1 && col("ham_true") <= maxHamming &&
        col("emitted").isNull, 1).otherwise(0)).as("missed"),
      sum(when(col("emitted") === 1 && (col("ham_true") > maxHamming ||
        col("ham_true") =!= col("hamming")), 1).otherwise(0)).as("violations"),
      (count(when(col("emitted") === 1, 1)) -
        countDistinct(when(col("emitted") === 1,
          struct(col("id_a"), col("id_b"))))).as("dups"),
      sum(when(col("planted") === 1, 1).otherwise(0)).as("planted_total"))
    agg.select(expr(
      """stack(4,
        |  'planted_in_radius_missed', CAST(missed AS BIGINT),
        |  'hamming_violations', CAST(violations AS BIGINT),
        |  'duplicate_pairs', CAST(dups AS BIGINT),
        |  'n_planted_total', CAST(planted_total AS BIGINT)) AS (check, n)""".stripMargin))
  }

  private val dedupQueries: Seq[QueryDef] = {
    import graft.operators.{Dedup, Similarity}
    Seq(
      QueryDef("dedup_exact",
        (s, dir) => Dedup.exact(dupCorpus(s, dir)),
        Some("""WITH corpus AS (
               |  SELECT doc_id, text FROM documents
               |  UNION ALL
               |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0
               |)
               |SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
               |       MIN(doc_id) AS doc_id, COUNT(*) AS n_dups
               |FROM corpus
               |GROUP BY 1""".stripMargin)),

      // LSH finds candidates, exact Jaccard verifies — on this corpus the
      // verified output EQUALS the full pairwise-Jaccard set (every
      // true pair is ≥ 0.7, where 16-band recall is ~1−10⁻¹²), so the
      // oracle is the exact inverted-index Jaccard in DuckDB.
      QueryDef("dedup_minhash",
        (s, dir) => Dedup.minhashPairs(nearDupCorpus(s, dir),
          shingleLen = 3, k = 64, bands = 16, threshold = 0.6),
        Some(jaccardOracle(0.6, None))),

      // INCREMENTAL ingest dedup: the corpus' banded-MinHash signatures
      // live in a build-once snapshot table (band_hash-clustered files)
      // and the arriving batch (the planted mutants) fingerprints only
      // itself, probing the index by (band_id, band_hash) — the corpus
      // is never re-shingled. Oracle = the cross (corpus × batch) slice
      // of the same exact-Jaccard pair set dedup_minhash proves.
      QueryDef("dedup_incremental",
        (s, dir) => {
          val idx = minhashIndexTable(s, dir)
          val batch = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
            .select((col("doc_id") + 100000).as("doc_id"),
              concat(col("text"), lit(" graft dup marker")).as("text"))
          Dedup.minhashAgainstIndex(idx.read(), batch,
            t(s, dir, "documents"),
            shingleLen = 3, k = 64, bands = 16, threshold = 0.6)
        },
        Some(s"""$shingleCtes${pairsCtes(0.6)}
                |SELECT id_a AS corpus_id, id_b AS new_id, jaccard
                |FROM prs
                |WHERE id_a < 100000 AND id_b >= 100000""".stripMargin)),

      // edit-distance verification of the near-dup pairs (the fuzzy
      // second check pipelines run after shingle candidates): exact
      // integer levenshtein in both engines; texts re-joined for the
      // surviving pairs only, never shuffled through the candidate join
      QueryDef("dedup_edit_distance",
        (s, dir) => {
          val corpus = nearDupCorpus(s, dir)
          val pairs = Dedup.minhashPairs(corpus,
            shingleLen = 3, k = 64, bands = 16, threshold = 0.6)
            .select(col("id_a"), col("id_b"))
          pairs
            .join(corpus.select(col("doc_id").as("id_a"), col("text").as("t_a")), "id_a")
            .join(corpus.select(col("doc_id").as("id_b"), col("text").as("t_b")), "id_b")
            .select(col("id_a"), col("id_b"),
              levenshtein(col("t_a"), col("t_b")).cast("long").as("edit_dist"))
        },
        Some(s"""$shingleCtes${pairsCtes(0.6)}
               |SELECT p.id_a, p.id_b,
               |  CAST(levenshtein(ca.text, cb.text) AS BIGINT) AS edit_dist
               |FROM prs p
               |JOIN corpus ca ON ca.id = p.id_a
               |JOIN corpus cb ON cb.id = p.id_b""".stripMargin)),

      // pair graph → connected-component clusters (the keep-one-
      // representative step after near-dup detection); oracle rebuilds
      // the SAME pair set in SQL and runs a recursive-CTE reachability
      // min-label — both sides' pair inputs are already proven equal by
      // dedup_minhash
      QueryDef("dedup_clusters",
        (s, dir) => {
          import graft.operators.Dedup
          val corpus = nearDupCorpus(s, dir)
          val pairs = Dedup.minhashPairs(corpus,
            shingleLen = 3, k = 64, bands = 16, threshold = 0.6)
          Dedup.clusters(pairs, corpus.select(col("doc_id")), idCol = "doc_id")
        },
        Some(shingleCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
          pairsCtes(0.6) +
          """, edges AS (
            |  SELECT id_a AS src, id_b AS dst FROM prs
            |  UNION ALL SELECT id_b, id_a FROM prs
            |), reach(id, r) AS (
            |  SELECT id, id FROM corpus
            |  UNION
            |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
            |)
            |SELECT id, MIN(r) AS cluster_rep FROM reach GROUP BY id""".stripMargin)),

      // the end deliverable of near-dup removal: the CLEANED corpus —
      // one representative (smallest id) per cluster, singletons kept
      QueryDef("dedup_keep_representatives",
        (s, dir) => {
          import graft.operators.Dedup
          val corpus = nearDupCorpus(s, dir)
          val pairs = Dedup.minhashPairs(corpus,
            shingleLen = 3, k = 64, bands = 16, threshold = 0.6)
          Dedup.clusters(pairs, corpus.select(col("doc_id")), idCol = "doc_id")
            .filter(col("id") === col("cluster_rep"))
            .select(col("id").as("doc_id"))
        },
        Some(shingleCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
          pairsCtes(0.6) +
          """, edges AS (
            |  SELECT id_a AS src, id_b AS dst FROM prs
            |  UNION ALL SELECT id_b, id_a FROM prs
            |), reach(id, r) AS (
            |  SELECT id, id FROM corpus
            |  UNION
            |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
            |)
            |SELECT id AS doc_id FROM reach
            |GROUP BY id HAVING id = MIN(r)""".stripMargin)),

      QueryDef("dedup_simhash",
        (s, dir) => simhashCheck(s, dir, maxHamming = 3),
        Some("""SELECT 'planted_in_radius_missed' AS check, CAST(0 AS BIGINT) AS n
               |UNION ALL SELECT 'hamming_violations', CAST(0 AS BIGINT)
               |UNION ALL SELECT 'duplicate_pairs', CAST(0 AS BIGINT)
               |UNION ALL SELECT 'n_planted_total',
               |  (SELECT count(*) FROM documents WHERE doc_id % 10 = 0)""".stripMargin)),

      QueryDef("dedup_ngram",
        (s, dir) => Dedup.ngramJaccardPairs(nearDupCorpus(s, dir),
          shingleLen = 3, threshold = 0.5, maxDocFreq = 50),
        Some(jaccardOracle(0.5, Some(50)))),

      QueryDef("dedup_embedding",
        (s, dir) => Similarity.embeddingNearDupPairs(nearDupVectors(s, dir),
          threshold = 0.995),
        // the only pairs at cosine ≥ 0.995 are the planted mutants; the
        // oracle reconstructs each mutant with the same float32
        // arithmetic and mirrors the double cosine fold exactly
        Some("""WITH planted AS (
               |  SELECT vec_id, embedding,
               |    list_transform(list_zip(embedding, range(0, len(embedding))),
               |      s -> CAST(s[1] + CASE WHEN s[2] % 2 = 0 THEN CAST(0.01 AS FLOAT)
               |                 ELSE CAST(-0.01 AS FLOAT) END AS FLOAT)) AS memb
               |  FROM embeddings WHERE vec_id % 10 = 0
               |), sims AS (
               |  SELECT vec_id AS id_a, vec_id + 100000 AS id_b,
               |    list_reduce(list_transform(list_zip(embedding, memb),
               |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (acc, x) -> acc + x)
               |    / (sqrt(list_reduce(list_transform(embedding,
               |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x))
               |     * sqrt(list_reduce(list_transform(memb,
               |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x))) AS sim
               |  FROM planted
               |)
               |SELECT id_a, id_b, sim FROM sims WHERE sim >= 0.995""".stripMargin)),

      // Cross-corpus duplicated n-gram fraction (Lee et al. 2022 exact
      // substring dedup / Gopher dup-ngram rule): per doc, how many of
      // its distinct 5-grams occur in >= 2 docs corpus-wide. The exact
      // duplicates planted by dupCorpus guarantee dup_grams == n_grams
      // for every %7 doc AND its mutant; counts stay BIGINT so the
      // compare is engine-exact (no double division).
      QueryDef("dedup_cross_doc_ngrams",
        (s, dir) => Dedup.crossDocNgrams(dupCorpus(s, dir),
          shingleLen = 5, minDocs = 2),
        Some("""WITH corpus AS (
               |  SELECT doc_id, text FROM documents
               |  UNION ALL
               |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0
               |), toks AS (
               |  SELECT doc_id,
               |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
               |  FROM corpus
               |), shsets AS (
               |  SELECT doc_id, CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
               |    ELSE list_distinct(list_transform(range(0, len(t) - 4),
               |           i -> array_to_string(t[i+1:i+5], ' ')))
               |    END AS shingles FROM toks
               |), postings AS (
               |  SELECT doc_id, unnest(shingles) AS sh FROM shsets
               |), shared AS (
               |  SELECT sh FROM postings GROUP BY sh HAVING count(*) >= 2
               |), dup AS (
               |  SELECT doc_id, count(*) AS dup_grams
               |  FROM postings JOIN shared USING (sh) GROUP BY doc_id
               |)
               |SELECT s.doc_id, CAST(len(s.shingles) AS BIGINT) AS n_grams,
               |       COALESCE(d.dup_grams, CAST(0 AS BIGINT)) AS dup_grams
               |FROM shsets s LEFT JOIN dup d USING (doc_id)""".stripMargin)),

      // PARAGRAPH-level exact dedup with reconstruction (RefinedWeb/C4
      // line dedup): the fixture plants a subscribe-box paragraph in
      // EVERY doc and a second footer in every 5th — both repeat across
      // >= 2 docs, so both strip from every document, and each doc
      // reassembles from its surviving (unique) paragraphs in original
      // order. The compare is the full reconstructed text, byte-exact.
      QueryDef("dedup_paragraphs",
        (s, dir) => {
          val corpus = t(s, dir, "documents").select(col("doc_id"),
            concat(col("text"),
              lit("\n\nsubscribe to our newsletter for updates"),
              when(col("doc_id") % 5 === 0,
                lit("\n\nfollow us for more")).otherwise(lit("")))
              .as("text"))
          Dedup.dedupParagraphs(corpus, minDf = 2)
        },
        Some("""WITH corpus AS (
               |  SELECT doc_id, text || chr(10) || chr(10) ||
               |    'subscribe to our newsletter for updates' ||
               |    CASE WHEN doc_id % 5 = 0
               |         THEN chr(10) || chr(10) || 'follow us for more'
               |         ELSE '' END AS text
               |  FROM documents
               |), splits AS (
               |  SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps
               |  FROM corpus
               |), paras AS (
               |  SELECT doc_id, unnest(ps) AS para,
               |         unnest(range(1, len(ps) + 1)) AS pos
               |  FROM splits
               |), shared AS (
               |  SELECT para FROM paras
               |  GROUP BY para HAVING count(DISTINCT doc_id) >= 2
               |), kept AS (
               |  SELECT p.* FROM paras p ANTI JOIN shared s ON p.para = s.para
               |), recon AS (
               |  SELECT doc_id,
               |    string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text
               |  FROM kept GROUP BY doc_id
               |)
               |SELECT c.doc_id, COALESCE(r.text, '') AS text
               |FROM corpus c LEFT JOIN recon r USING (doc_id)""".stripMargin)),

      // The FILTER the signal exists for (Gopher's dup-ngram rule):
      // keep documents whose cross-corpus duplicated 5-gram fraction
      // is ≤ 1/2 — exact duplicates (ratio 1) drop on both sides of
      // the planted pair, boilerplate-free docs survive. The ratio
      // compares as 2*dup <= n in exact integer arithmetic.
      QueryDef("dedup_drop_boilerplate",
        (s, dir) => Dedup.crossDocNgrams(dupCorpus(s, dir),
            shingleLen = 5, minDocs = 2)
          .filter(col("dup_grams") * 2 <= col("n_grams"))
          .select(col("doc_id")),
        Some("""WITH corpus AS (
               |  SELECT doc_id, text FROM documents
               |  UNION ALL
               |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0
               |), toks AS (
               |  SELECT doc_id,
               |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
               |  FROM corpus
               |), shsets AS (
               |  SELECT doc_id, CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
               |    ELSE list_distinct(list_transform(range(0, len(t) - 4),
               |           i -> array_to_string(t[i+1:i+5], ' ')))
               |    END AS shingles FROM toks
               |), postings AS (
               |  SELECT doc_id, unnest(shingles) AS sh FROM shsets
               |), shared AS (
               |  SELECT sh FROM postings GROUP BY sh HAVING count(*) >= 2
               |), dup AS (
               |  SELECT doc_id, count(*) AS dup_grams
               |  FROM postings JOIN shared USING (sh) GROUP BY doc_id
               |)
               |SELECT s.doc_id
               |FROM shsets s LEFT JOIN dup d USING (doc_id)
               |WHERE COALESCE(d.dup_grams, 0) * 2 <= len(s.shingles)""".stripMargin))
    )
  }

  // =====================================================================
  // Similarity-search extension queries
  // =====================================================================

  private val simQueries: Seq[QueryDef] = {
    import graft.operators.Similarity
    Seq(
      // SemDeDup-family prototypicality signal: cosine to the corpus
      // centroid (per-dim mean — ONE partial-agg pass, model-sized
      // driver state), flagging embedding outliers / dense-cluster
      // near-dups. Rounded to 1e-6: the centroid's last ulp depends on
      // each engine's summation order; everything else is the same
      // double arithmetic.
      QueryDef("embedding_centroid_sim",
        (s, dir) => Similarity.centroidSimilarity(t(s, dir, "embeddings"))
          .select(col("vec_id"),
            round(col("centroid_sim"), 6).as("centroid_sim")),
        Some(s"""WITH c AS (SELECT [${(1 to 64)
                 .map(i => s"avg(embedding[$i])").mkString(", ")}] AS m
               |  FROM embeddings)
               |SELECT vec_id,
               |  round(list_cosine_similarity(
               |    CAST(embedding AS DOUBLE[]), m), 6) AS centroid_sim
               |FROM embeddings, c""".stripMargin)),

      QueryDef("sim_topk_bruteforce",
        (s, dir) => {
          val emb = t(s, dir, "embeddings")
          Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 10)
        },
        // exact mirror of the Spark fold: sequential left-fold with
        // double widening -> bit-identical sims -> identical ranking
        Some("""WITH pairs AS (
               |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
               |    list_reduce(list_transform(list_zip(q.embedding, c.embedding),
               |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)),
               |      (acc, x) -> acc + x) AS dot_qn,
               |    sqrt(list_reduce(list_transform(q.embedding,
               |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x)) AS nq,
               |    sqrt(list_reduce(list_transform(c.embedding,
               |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x)) AS nc
               |  FROM embeddings q, embeddings c
               |  WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id
               |), sims AS (
               |  SELECT q_id, n_id, dot_qn / (nq * nc) AS sim,
               |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
               |      ORDER BY dot_qn / (nq * nc) DESC, n_id) AS BIGINT) AS rank
               |  FROM pairs
               |)
               |SELECT q_id, n_id, sim, rank FROM sims WHERE rank <= 10""".stripMargin)),

      // ANN recall@1 workload: queries are the planted mutants, whose
      // true nearest neighbor (the original vector, cosine ≈ 0.9998) the
      // LSH bands recover deterministically — so brute force and LSH
      // both match the exact cross-join oracle below, and the bench
      // compares them on identical work.
      QueryDef("sim_nn_bruteforce",
        (s, dir) => {
          val corpus = nearDupVectors(s, dir)
          Similarity.bruteForceTopK(corpus,
            corpus.filter(col("vec_id") >= 100000), k = 1)
        },
        Some(nnOracle)),

      QueryDef("sim_topk_lsh",
        (s, dir) => {
          val corpus = nearDupVectors(s, dir)
          Similarity.lshTopK(corpus,
            corpus.filter(col("vec_id") >= 100000), k = 1)
        },
        Some(nnOracle)),

      // IVF coarse-quantizer path, same recall@1 contract (training runs
      // inside the timed query — the index is rebuilt per run here;
      // a persisted deployment would reuse the model)
      QueryDef("sim_topk_ivf",
        (s, dir) => {
          val corpus = nearDupVectors(s, dir)
          graft.operators.Ivf.topK(corpus,
            corpus.filter(col("vec_id") >= 100000), k = 1,
            kClusters = 16, iters = 2, nprobe = 4)
        },
        Some(nnOracle)),

      // The persisted-index query shape: k-means training runs ONCE per
      // dataset (memoized below — in production, a saved model table)
      // and the timed query is assignment + probe only. This is the
      // realistic steady-state IVF cost; `sim_topk_ivf` above measures
      // cold build+query.
      QueryDef("sim_topk_ivf_model",
        (s, dir) => {
          val corpus = nearDupVectors(s, dir)
          val model = ivfModelCache.computeIfAbsent(dir, _ =>
            graft.operators.Ivf.train(corpus, k = 16, iters = 2))
          graft.operators.Ivf.topKWithModel(corpus,
            corpus.filter(col("vec_id") >= 100000), model,
            k = 1, nprobe = 4)
        },
        Some(nnOracle)),

      // The fully-persisted index: corpus assigned ONCE into a snapshot
      // table hidden-partitioned by cluster id (built+memoized below);
      // the timed query probes 4 of 16 clusters and the manifest prunes
      // the other 12 clusters' files before any I/O — the ANN read
      // shape that stays sublinear as the corpus grows
      QueryDef("sim_topk_ivf_index",
        (s, dir) => {
          val corpus = nearDupVectors(s, dir)
          val model = ivfModelCache.computeIfAbsent(dir, _ =>
            graft.operators.Ivf.train(corpus, k = 16, iters = 2))
          graft.operators.Ivf.topKWithIndex(
            ivfIndexTable(s, dir, corpus, model),
            corpus.filter(col("vec_id") >= 100000), model,
            k = 1, nprobe = 4)
        },
        Some(nnOracle)),

      // INCREMENTAL index maintenance: the index is built from a corpus
      // PREFIX and the remainder arrives as an ingest batch assigned to
      // the FROZEN centroids and atomically appended into the cluster-
      // partitioned table (Ivf.appendToIndex — O(batch) commit, never a
      // re-assignment of the existing rows, staleness-checked against
      // the build-time baseline). Same model ⇒ same assignment ⇒ the
      // probe answers IDENTICALLY to the full-rebuild index, pinned by
      // the same exact-NN oracle.
      QueryDef("sim_topk_ivf_append",
        (s, dir) => {
          val corpus = nearDupVectors(s, dir)
          val model = ivfModelCache.computeIfAbsent(dir, _ =>
            graft.operators.Ivf.train(corpus, k = 16, iters = 2))
          graft.operators.Ivf.topKWithIndex(
            ivfAppendIndexTable(s, dir, corpus, model),
            corpus.filter(col("vec_id") >= 100000), model,
            k = 1, nprobe = 4)
        },
        Some(nnOracle)),

      // IVF-PQ over the SAME persisted cluster-partitioned index table
      // (built once with PQ codes alongside the vectors): manifest
      // pruning opens only the probed clusters' files AND the ADC scan
      // projects just (cluster, n_id, code) — parquet column pruning
      // keeps the wide embedding column out of the hot path entirely,
      // the composed read shape that stays cheap as the corpus grows
      QueryDef("sim_topk_ivfpq_index",
        (s, dir) => {
          val corpus = nearDupVectors(s, dir)
          val model = ivfModelCache.computeIfAbsent(dir, _ =>
            graft.operators.Ivf.train(corpus, k = 16, iters = 2))
          val cb = pqCodebookCache.computeIfAbsent(dir, _ =>
            graft.operators.Ivf.trainPq(corpus, m = 8, ksub = 16, iters = 5))
          graft.operators.Ivf.topKPqWithIndex(
            ivfIndexTable(s, dir, corpus, model),
            corpus.filter(col("vec_id") >= 100000), model, cb,
            k = 1, nprobe = 4, shortlist = 8)
        },
        Some(nnOracle)),

      // IVF-PQ: candidates in the probed clusters score by ADC — m=8
      // byte codes + per-query lookup tables (~32× narrower than the
      // float64 embedding column at scan time) — then the 8-deep
      // shortlist re-ranks with the exact cosine, restoring the exact-
      // NN answer the shared oracle demands. The memory-bandwidth gap
      // vs sim_topk_ivf_model widens with corpus width and size.
      QueryDef("sim_topk_ivfpq",
        (s, dir) => {
          val corpus = nearDupVectors(s, dir)
          val model = ivfModelCache.computeIfAbsent(dir, _ =>
            graft.operators.Ivf.train(corpus, k = 16, iters = 2))
          val cb = pqCodebookCache.computeIfAbsent(dir, _ =>
            graft.operators.Ivf.trainPq(corpus, m = 8, ksub = 16, iters = 5))
          graft.operators.Ivf.topKPqWithModel(corpus,
            corpus.filter(col("vec_id") >= 100000), model, cb,
            k = 1, nprobe = 4, shortlist = 8)
        },
        Some(nnOracle)),

      // SemDeDup (Abbas et al. 2023): semantic near-dup removal — pairs
      // compared only WITHIN soft-assigned k-means clusters (all-pairs
      // cosine is impossible at 100 TB; within-cluster pairs are
      // bounded by the cluster size), duplicates = τ-similar pairs,
      // keep-min-id representatives. The oracle recomputes the pairs
      // GLOBALLY — so a green row proves the cluster path missed
      // nothing on this corpus (the planted mutants sit at sim ≥ 0.996
      // vs a 0.60 cross-pair ceiling, measured; τ = 0.95).
      QueryDef("dedup_semantic_pairs",
        (s, dir) => {
          val corpus = nearDupVectors(s, dir)
          val model = ivfModelCache.computeIfAbsent(dir, _ =>
            graft.operators.Ivf.train(corpus, k = 16, iters = 2))
          graft.operators.SemDedup.semanticPairs(corpus, model, tau = 0.95)
        },
        Some(s"""$mutantCorpusCte, sims AS (
               |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               |    list_reduce(list_transform(list_zip(a.embedding, b.embedding),
               |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)),
               |      (acc, x) -> acc + x)
               |    / (sqrt(list_reduce(list_transform(a.embedding,
               |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x))
               |     * sqrt(list_reduce(list_transform(b.embedding,
               |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x))) AS sim
               |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
               |)
               |SELECT a_id, b_id, sim FROM sims WHERE sim >= 0.95"""
          .stripMargin)),

      QueryDef("dedup_semantic",
        (s, dir) => {
          val corpus = nearDupVectors(s, dir)
          val model = ivfModelCache.computeIfAbsent(dir, _ =>
            graft.operators.Ivf.train(corpus, k = 16, iters = 2))
          graft.operators.SemDedup.survivors(corpus, model, tau = 0.95)
            .select(col("vec_id"))
        },
        Some(semDedupSurvivorsOracle)),

      // TWO-LEVEL coarse quantizer twins — the k ∝ N scale path: the
      // flat quantizer scores all k centroids per row (k Literal nodes
      // in the plan, O(k·d)/row — both collapse once k grows with the
      // corpus, the SemDeDup discipline), while the hierarchy scores
      // g = √k supers and descends into nsuper of them, O(√k·d)/row
      // with the model in two plan literals. Same oracles as the flat
      // twins: the exact-NN contract and the GLOBAL pair recomputation
      // prove the descent missed nothing on this corpus.
      QueryDef("sim_topk_ivf_two_level",
        (s, dir) => {
          val corpus = nearDupVectors(s, dir)
          val tl = ivfTwoLevel(dir, corpus)
          graft.operators.Ivf.topKWithIndex(
            ivfTwoLevelIndexTable(s, dir, corpus, tl),
            corpus.filter(col("vec_id") >= 100000), tl,
            k = 1, nprobe = 4, "vec_id", "embedding")
        },
        Some(nnOracle)),

      // Sharded model: fine centroids live as a DATAFRAME (trained by
      // per-super executor-local Lloyd, assigned by join descent) — the
      // extreme-k shape where no O(k·d) model object ever exists on the
      // driver, in a plan, or in a broadcast (k ∝ N reaches 10⁵-10⁶ at
      // 100 TB, past the broadcast wall). Same exact-NN oracle: the
      // distributed hierarchy must preserve recall on this corpus.
      QueryDef("sim_topk_ivf_sharded",
        (s, dir) => {
          val corpus = nearDupVectors(s, dir)
          val (supers, cents, idx) = ivfSharded(s, dir, corpus)
          graft.operators.Ivf.topKSharded(idx,
            corpus.filter(col("vec_id") >= 100000), supers, cents,
            k = 1, nsuper = 3, nprobe = 4, "vec_id", "embedding")
        },
        Some(nnOracle)),

      // IVF-PQ on the sharded index: the extreme-k AND wide-vector
      // composition — probing by join descent (nothing O(k·d)
      // anywhere; the codebook is m×ksub×(d/m), independent of k),
      // ADC over codes only, exact shortlist re-rank — same exact-NN
      // oracle.
      QueryDef("sim_topk_ivfpq_sharded",
        (s, dir) => {
          val corpus = nearDupVectors(s, dir)
          val (supers, cents, idx) = ivfSharded(s, dir, corpus)
          val cb = pqCodebookCache.computeIfAbsent(dir, _ =>
            graft.operators.Ivf.trainPq(corpus, m = 8, ksub = 16, iters = 5))
          graft.operators.Ivf.topKPqSharded(idx,
            corpus.filter(col("vec_id") >= 100000), supers, cents, cb,
            k = 1, nsuper = 3, nprobe = 4, shortlist = 8)
        },
        Some(nnOracle)),

      // SemDeDup with the sharded (DataFrame) model: soft assignment by
      // join descent + TopK, pairs within clusters as ever — the GLOBAL
      // recomputation oracle proves the fully-distributed cluster path
      // missed nothing.
      QueryDef("dedup_semantic_sharded",
        (s, dir) => {
          val corpus = nearDupVectors(s, dir)
          val (supers, cents, _) = ivfSharded(s, dir, corpus)
          graft.operators.SemDedup.survivorsSharded(corpus, supers, cents,
            tau = 0.95, probes = 2, nsuper = 3)
            .select(col("vec_id"))
        },
        Some(semDedupSurvivorsOracle)),

      QueryDef("dedup_semantic_two_level",
        (s, dir) => {
          val corpus = nearDupVectors(s, dir)
          graft.operators.SemDedup.survivors(corpus,
            ivfTwoLevel(dir, corpus), tau = 0.95, probes = 2,
            "vec_id", "embedding")
            .select(col("vec_id"))
        },
        Some(semDedupSurvivorsOracle)),

      // INCREMENTAL SemDeDup — the production steady state: an ingest
      // batch dedups against the PERSISTED cluster-partitioned index
      // (manifest-pruned to the batch's probed clusters — O(batch ×
      // cluster), never O(index)) plus against itself. Batch = +0.005
      // jitters of every 7th vector (semantic dups of indexed content —
      // must ALL drop) ∪ negated copies of every 13th (cosine ≈ −1 —
      // must ALL survive). The oracle recomputes both drop sets
      // globally; survivors hash-exact.
      QueryDef("dedup_semantic_incremental",
        (s, dir) => {
          val corpus = nearDupVectors(s, dir)
          val model = ivfModelCache.computeIfAbsent(dir, _ =>
            graft.operators.Ivf.train(corpus, k = 16, iters = 2))
          val index = ivfIndexTable(s, dir, corpus, model)
          val e = t(s, dir, "embeddings")
            .select(col("vec_id"), col("embedding"))
          val batch = e.filter(col("vec_id") % 7 === 0)
            .select((col("vec_id") + 200000).as("vec_id"),
              transform(col("embedding"),
                x => (x + lit(0.005f)).cast("float")).as("embedding"))
            .unionByName(e.filter(col("vec_id") % 13 === 0)
              .select((col("vec_id") + 300000).as("vec_id"),
                transform(col("embedding"),
                  x => (x * lit(-1.0f)).cast("float")).as("embedding")))
          graft.operators.SemDedup
            .survivorsAgainstIndex(index, batch, model, tau = 0.95)
            .select(col("vec_id"))
        },
        Some(semDedupIncrementalOracle)),

      // Incremental SemDeDup with the SHARDED model: the batch
      // soft-assigns by join descent (nothing O(k·d) materialized),
      // its probed cluster set manifest-prunes the sharded index, and
      // the SAME global oracle proves the fully-distributed path drops
      // exactly the jittered dups and keeps the negated rows.
      QueryDef("dedup_semantic_sharded_incremental",
        (s, dir) => {
          val corpus = nearDupVectors(s, dir)
          val (supers, cents, idx) = ivfSharded(s, dir, corpus)
          val e = t(s, dir, "embeddings")
            .select(col("vec_id"), col("embedding"))
          val batch = e.filter(col("vec_id") % 7 === 0)
            .select((col("vec_id") + 200000).as("vec_id"),
              transform(col("embedding"),
                x => (x + lit(0.005f)).cast("float")).as("embedding"))
            .unionByName(e.filter(col("vec_id") % 13 === 0)
              .select((col("vec_id") + 300000).as("vec_id"),
                transform(col("embedding"),
                  x => (x * lit(-1.0f)).cast("float")).as("embedding")))
          graft.operators.SemDedup.survivorsAgainstIndexSharded(idx,
            batch, supers, cents, tau = 0.95, probes = 2, nsuper = 3)
            .select(col("vec_id"))
        },
        Some(semDedupIncrementalOracle)),

      // ===== WIDE-VECTOR CROSSOVER PAIR (512-dim) ======================
      // The 64-dim ANN ladder shows PQ paying its ADC constant without
      // the bandwidth payoff; these two queries pin the crossover the
      // design claims: on the 512-dim, 16-family corpus (~16N rows) the
      // float index path pays dims×4 bytes + dims mult-adds per probed
      // candidate while PQ pays m bytes + m lookups — so
      // sim_wide_ivfpq_index must BEAT sim_wide_ivf_index in the bench
      // while both stay oracle-exact.
      QueryDef("sim_wide_ivf_index",
        (s, dir) => {
          val corpus = wideVectors(s, dir)
          val model = ivfWideModelCache.computeIfAbsent(dir, _ =>
            graft.operators.Ivf.train(corpus, k = wideK(s, dir), iters = 2))
          graft.operators.Ivf.topKWithIndex(
            ivfWideIndexTable(s, dir, corpus, model),
            wideQueries(corpus), model,
            k = 1, nprobe = 8)
            .select(col("q_id"), col("n_id"),
              round(col("sim"), 3).as("sim"), col("rank"))
        },
        Some(nnOracleRounded)),

      QueryDef("sim_wide_ivfpq_index",
        (s, dir) => {
          val corpus = wideVectors(s, dir)
          val model = ivfWideModelCache.computeIfAbsent(dir, _ =>
            graft.operators.Ivf.train(corpus, k = wideK(s, dir), iters = 2))
          // m scales with width: 8-dim subvectors (m=64), the same
          // quantization granularity as the 64-dim ladder — codes are
          // 64 bytes vs 2 KB of floats, still a 32x narrower scan
          val cb = pqWideCodebookCache.computeIfAbsent(dir, _ =>
            graft.operators.Ivf.trainPq(corpus, m = 64, ksub = 16, iters = 5))
          graft.operators.Ivf.topKPqWithIndex(
            ivfWideIndexTable(s, dir, corpus, model),
            wideQueries(corpus), model, cb,
            k = 1, nprobe = 8, shortlist = 8)
            .select(col("q_id"), col("n_id"),
              round(col("sim"), 3).as("sim"), col("rank"))
        },
        Some(nnOracleRounded))
    )
  }

  /** 512-dim, 16×-expanded widening of the near-dup corpus, built so
    * the planted-mutant oracle answer is PROVABLY unchanged:
    *
    * replica r (0..15) of base vector v is the concatenation of 8
    * copies of v, copy j multiplied by the Hadamard sign
    * h_{r&7}(j) = (−1)^popcount(r&j), with families 8..15 negated —
    * multiplying by ±1 is EXACT in IEEE float, and Hadamard rows are
    * orthogonal, so dot(rep_r(a), rep_0(b)) = ±(Σ_j h(j)h_0(j)) ·
    * dot(a,b) = 8·dot(a,b) for r = 0, ≈ 0 for the other positive
    * families, and −8·dot(a,b) for the negated ones (never competitive
    * at the 0.997 planted margin: no corpus pair is near-antipodal).
    * Queries are the r = 0 mutants, so their nearest neighbor across
    * all 16N wide vectors is still the planted original, with the same
    * cosine as the 64-dim corpus (up to fold-order ulps — hence the
    * 1e-3 rounding in the compared sim).
    *
    * The point of the construction is scan ECONOMY at bench scale: 16×
    * the rows and 8× the bytes per row give the probed clusters real
    * volume, where the float path pays dims×4 bytes + dims mult-adds
    * per candidate while PQ pays m bytes + m lookups — the crossover
    * the 64-dim ladder can't show.
    */
  private val wideVectorsCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private[graft] def wideVectors(s: SparkSession, dir: String): DataFrame =
    // checkpointed build-once: the 16-family construction runs through
    // INTERPRETED array HOFs (transform/flatten — SURVEY §8.2's known
    // cost), and without materialization every consumer (k-means
    // train, index build, PQ train, probes) re-paid it — distorting
    // what the sim_wide pair is meant to measure (float-scan vs PQ
    // probe cost, not corpus synthesis)
    wideVectorsCache.computeIfAbsent(dir, _ => {
      val reps = nearDupVectors(s, dir)
        .withColumn("r", explode(sequence(lit(0L), lit(15L))))
      val copies = (0 until 8).map { j =>
        val parity = pmod(bit_count(col("r").bitwiseAND(lit(j.toLong))), lit(2))
        // families 8..15 are the NEGATIONS of families 0..7: still
        // exactly ±1 signs, still never competitive with the planted
        // pair (cos(q, −rep₀(b)) = −cos(m,b), and no corpus pair is
        // near-antipodal at 0.997)
        val neg = when(col("r") >= 8L, lit(-1.0f)).otherwise(lit(1.0f))
        val sign = (lit(1.0f) - lit(2.0f) * parity.cast("float")) * neg
        transform(col("embedding"), x => (x * sign).cast("float"))
      }
      reps.select(
        (col("vec_id") + col("r") * lit(1000000L)).as("vec_id"),
        flatten(array(copies: _*)).as("embedding"))
        .localCheckpoint(true)
    })

  /** The r = 0 mutant replicas as queries (base mutant ids are
    * 100000 + base id; replica r adds r·10⁶): each query's nearest
    * neighbor across all 16 families is still its planted original —
    * every other family is orthogonal (or negated) by construction.
    */
  private[graft] def wideQueries(corpus: DataFrame): DataFrame =
    corpus.filter(col("vec_id") >= 100000L && col("vec_id") < 1000000L)

  /** Cluster count for the wide fixture: k ∝ N (the engine's own
    * quantizer-ladder doctrine — "clusters grow with the corpus so
    * each inverted list stays constant-sized") anchored at the sf0.1
    * geometry (52.8k wide vectors → k = 16 → ~3.3k-vector cells).
    * nprobe stays FIXED at 8: per-query probed volume is then
    * constant across SF, so the wide pair's bench cost scales with
    * the query count, not quadratically — at sf1 the r18
    * re-certification measured the hardcoded k = 16 at 47× for 10×
    * data (probed volume ×10 × queries ×10), exactly the cliff the
    * doctrine exists to prevent. The corpus row count is genuinely
    * metadata-only: driver-side parquet FOOTER reads (row counts live
    * in the file metadata) — no Spark job at all, the same posture as
    * `Ivf.metadataRowCount` on snapshot tables. Callers reach this
    * only inside per-directory model-cache computes, so the footer
    * walk runs once per directory.
    */
  private def wideK(s: SparkSession, dir: String): Int = {
    val base = parquetFooterRowCount(s, s"$dir/embeddings.parquet")
    val n = 16L * (base + base / 10) // 16 families × (corpus + mutants)
    math.max(16, (n / 3300L).toInt)
  }

  /** Sum of parquet footer record counts under `path` — driver-side
    * metadata reads only (footers end with the row count; no column
    * chunk is touched, no job is scheduled).
    */
  private def parquetFooterRowCount(s: SparkSession, path: String): Long = {
    val conf = s.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val it = fs.listFiles(p, true)
    var total = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet")) {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(f, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try total += r.getRecordCount finally r.close()
      }
    }
    total
  }

  private val ivfWideModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.operators.Ivf.Model]()
  private val pqWideCodebookCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.functions.Pq.Codebook]()
  private val ivfWideIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ivfWideIndexTable(s: SparkSession, dir: String,
      corpus: DataFrame,
      model: graft.operators.Ivf.Model): graft.catalog.SnapshotTable = {
    val root = ivfWideIndexCache.computeIfAbsent(dir, _ => {
      val cb = pqWideCodebookCache.computeIfAbsent(dir, _ =>
        graft.operators.Ivf.trainPq(corpus, m = 64, ksub = 16, iters = 5))
      val p = java.nio.file.Files.createTempDirectory("graft-ivf-wide")
        .resolve("index").toString
      graft.operators.Ivf.buildIndex(s, corpus, model, p, pq = Some(cb))
      p
    })
    graft.catalog.SnapshotTable.load(s, root)
  }

  /** [[nnOracle]] replicated across the 8 Hadamard families (each
    * family's answer is the base answer shifted by r·10⁶ on both ids —
    * see [[wideVectors]]) with the compared sim rounded to 1e-3: the
    * per-family ranking equals the base corpus', only the last-ulp sim
    * differs with the 512-term fold.
    */
  private def nnOracleRounded: String =
    s"SELECT q_id, n_id, round(sim, 3) AS sim, rank FROM ($nnOracle) wide_nn"

  private val ivfModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.operators.Ivf.Model]()

  /** Flat → two-level hierarchy, memoized per dataset: grouping is a
    * driver-side k-means over the 16 fine CENTROIDS (model-sized, no
    * corpus pass beyond the shared flat training).
    */
  private val ivfTwoLevelCache = new java.util.concurrent
    .ConcurrentHashMap[String, graft.operators.Ivf.TwoLevelQuantizer]()

  private def ivfTwoLevel(dir: String,
      corpus: DataFrame): graft.operators.Ivf.TwoLevelQuantizer =
    ivfTwoLevelCache.computeIfAbsent(dir, _ => {
      val model = ivfModelCache.computeIfAbsent(dir, _ =>
        graft.operators.Ivf.train(corpus, k = 16, iters = 2))
      // nsuper = 3 of 4: at this corpus's 16-centroid geometry a few
      // boundary mutants rank their true centroid's super third — the
      // recall/probe-cost knob every IVF deployment tunes, set here to
      // the smallest value that preserves the exact-NN contract at
      // sf0.01 (measured; 2 of 4 misses one pair)
      graft.operators.Ivf.twoLevel(model, groups = 4, nsuper = 3)
    })

  private val ivfTwoLevelIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Sharded (model-as-DataFrame) hierarchy + its persisted index,
    * memoized per dataset: trainSharded keeps the fine centroids
    * distributed — nothing O(k·d) on the driver or in a broadcast —
    * and the index assigns through the join descent.
    */
  private val ivfShardedCache = new java.util.concurrent.ConcurrentHashMap[
    String, (graft.operators.Ivf.Model, DataFrame, String)]()

  private def ivfSharded(s: SparkSession, dir: String, corpus: DataFrame)
      : (graft.operators.Ivf.Model, DataFrame, graft.catalog.SnapshotTable) = {
    val (supers, cents, root) = ivfShardedCache.computeIfAbsent(dir, _ => {
      val (sup, c0) = graft.operators.Ivf.trainSharded(corpus, kFine = 16,
        iters = 2, "vec_id", "embedding")
      val c = c0.localCheckpoint(true)
      val p = java.nio.file.Files.createTempDirectory("graft-ivf-shard")
        .resolve("index").toString
      // codes ride alongside the vectors (ivfIndexTable's trick): the
      // float queries never read them (column pruning), the PQ query
      // reads little else
      val cb = pqCodebookCache.computeIfAbsent(dir, _ =>
        graft.operators.Ivf.trainPq(corpus, m = 8, ksub = 16, iters = 5))
      graft.operators.Ivf.buildIndexSharded(s, corpus, sup, c,
        nsuper = 3, p, "vec_id", "embedding", pq = Some(cb))
      (sup, c, p)
    })
    (supers, cents, graft.catalog.SnapshotTable.load(s, root))
  }

  /** Build-once persisted index ASSIGNED BY the two-level hierarchy
    * (its own table: hierarchical assignment may disagree with flat on
    * boundary vectors, so the flat index cannot be reused).
    */
  private def ivfTwoLevelIndexTable(s: SparkSession, dir: String,
      corpus: DataFrame, tl: graft.operators.Ivf.TwoLevelQuantizer)
      : graft.catalog.SnapshotTable = {
    val root = ivfTwoLevelIndexCache.computeIfAbsent(dir, _ => {
      val p = java.nio.file.Files.createTempDirectory("graft-ivf-2l")
        .resolve("index").toString
      graft.operators.Ivf.buildIndex(s, corpus, tl, p,
        "vec_id", "embedding", None)
      p
    })
    graft.catalog.SnapshotTable.load(s, root)
  }

  /** SemDeDup survivors recomputed GLOBALLY (all pairs) — shared by the
    * flat and two-level quantizer queries: a green row proves the
    * cluster path (either hierarchy) missed nothing on this corpus.
    */
  private def semDedupSurvivorsOracle: String =
    s"""$mutantCorpusCte, sims AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    list_reduce(list_transform(list_zip(a.embedding, b.embedding),
       |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)),
       |      (acc, x) -> acc + x)
       |    / (sqrt(list_reduce(list_transform(a.embedding,
       |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x))
       |     * sqrt(list_reduce(list_transform(b.embedding,
       |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x))) AS sim
       |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
       |)
       |SELECT vec_id FROM corpus
       |WHERE vec_id NOT IN (SELECT b_id FROM sims WHERE sim >= 0.95)"""
      .stripMargin

  /** Incremental-SemDeDup oracle, shared by the broadcast-quantizer
    * and sharded-model queries: drop sets recomputed GLOBALLY (batch
    * vs full corpus + batch internal) in DuckDB — engine-independent,
    * so a green row proves whichever probe path ran missed nothing.
    */
  private def semDedupIncrementalOracle: String =
    s"""$mutantCorpusCte, batch AS (
       |  SELECT vec_id + 200000 AS vec_id,
       |    list_transform(embedding,
       |      x -> CAST(x + CAST(0.005 AS FLOAT) AS FLOAT)) AS embedding
       |  FROM embeddings WHERE vec_id % 7 = 0
       |  UNION ALL
       |  SELECT vec_id + 300000,
       |    list_transform(embedding,
       |      x -> CAST(x * CAST(-1.0 AS FLOAT) AS FLOAT))
       |  FROM embeddings WHERE vec_id % 13 = 0
       |), drops AS (
       |  SELECT b.vec_id AS b_id FROM batch b JOIN corpus c
       |  ON ${duckCos("b", "c")} >= 0.95
       |  UNION
       |  SELECT b2.vec_id AS b_id FROM batch b1 JOIN batch b2
       |  ON b1.vec_id < b2.vec_id
       |   AND ${duckCos("b1", "b2")} >= 0.95
       |)
       |SELECT vec_id FROM batch
       |WHERE vec_id NOT IN (SELECT b_id FROM drops)""".stripMargin

  private val ivfIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once persisted IVF index (snapshot table hidden-partitioned
    * by cluster id) shared by the float and PQ index queries — PQ codes
    * ride in the same table; the float path never reads them (column
    * pruning) and the PQ path reads little else.
    */
  private def ivfIndexTable(s: SparkSession, dir: String,
      corpus: DataFrame,
      model: graft.operators.Ivf.Model): graft.catalog.SnapshotTable = {
    val root = ivfIndexCache.computeIfAbsent(dir, _ => {
      val cb = pqCodebookCache.computeIfAbsent(dir, _ =>
        graft.operators.Ivf.trainPq(corpus, m = 8, ksub = 16, iters = 5))
      val p = java.nio.file.Files.createTempDirectory("graft-ivf-index")
        .resolve("index").toString
      graft.operators.Ivf.buildIndex(s, corpus, model, p, pq = Some(cb))
      p
    })
    graft.catalog.SnapshotTable.load(s, root)
  }

  private val pqCodebookCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.functions.Pq.Codebook]()

  private val ivfAppendIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once INCREMENTALLY-maintained IVF index: built from the 80%
    * prefix, the remaining 20% appended via [[graft.operators.Ivf
    * .appendToIndex]] — an O(batch) append against frozen centroids.
    * The build asserts the same-distribution batch does NOT trip the
    * staleness trigger, so the registry run also exercises the drift
    * check's negative path.
    */
  private def ivfAppendIndexTable(s: SparkSession, dir: String,
      corpus: DataFrame,
      model: graft.operators.Ivf.Model): graft.catalog.SnapshotTable = {
    val root = ivfAppendIndexCache.computeIfAbsent(dir, _ => {
      val p = java.nio.file.Files.createTempDirectory("graft-ivf-appendidx")
        .resolve("index").toString
      val prefix = corpus.filter(col("vec_id") % 5 =!= 0)
      val batch = corpus.filter(col("vec_id") % 5 === 0)
      graft.operators.Ivf.buildIndex(s, prefix, model, p)
      val rep = graft.operators.Ivf.appendToIndex(s, batch, model, p)
      require(!rep.stale,
        s"same-distribution ingest batch tripped the staleness check: $rep")
      p
    })
    graft.catalog.SnapshotTable.load(s, root)
  }

  // =====================================================================
  // Snapshot-table queries: the atomic-commit layer's READ side, oracle-
  // checked. A per-dataset events snapshot table is built ONCE per JVM
  // (create → append evens → append odds → keyed upsert), then each
  // query exercises one snapshot capability against a DuckDB oracle
  // over the raw parquet: current read (post-upsert), time travel to
  // the evens-only version, and manifest-level partition pruning.
  // =====================================================================

  private val snapTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once events snapshot table: hidden identity(event_type)
    * partitioning (the data spans one month, so the month transform
    * would yield a single partition — identity gives real pruning).
    * Version history: v1 create, v2 append even event_ids, v3 append
    * odd, v4 upsert value+1000 for event_id % 100 == 0.
    */
  private def snapshotEventsTable(s: SparkSession,
      dir: String): graft.catalog.SnapshotTable = {
    val root = snapTableCache.computeIfAbsent(dir, _ => {
      val base = warehouseDbRoot(s, "events", dir)._1
      val ev = t(s, dir, "events")
      val tbl = graft.catalog.SnapshotTable.create(s, base, ev.schema,
        Some(graft.catalog.PartitionSpec("event_type", "identity")))
      tbl.append(ev.filter(col("event_id") % 2 === 0))
      tbl.tag("evens-baseline") // dataset versioning: pin v2 by name
      tbl.append(ev.filter(col("event_id") % 2 =!= 0))
      tbl.upsert(ev.filter(col("event_id") % 100 === 0)
        .withColumn("value", col("value") + lit(1000.0d)), Seq("event_id"))
      base
    })
    graft.catalog.SnapshotTable.load(s, root)
  }

  private val sqlCallTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val replaceWhereTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val wapTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val termStatsIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val sortedTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val cloneTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val skipTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val zorderTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once Z-ORDER proof table for `snap_zorder_scan`: events land
    * as 8 hash-scattered files (every file spans the full event_id AND
    * user_id domains — nothing prunable), then ONE
    * `compact(zOrderBy = event_id, user_id)` rewrite Morton-clusters
    * them into ~16 files each covering a small rectangle of BOTH key
    * domains. A plain sort would make only the leading column prunable;
    * the query pins pruning on each dimension separately.
    */
  private def zorderSnapshot(s: SparkSession,
      dir: String): graft.catalog.SnapshotTable = {
    val root = zorderTableCache.computeIfAbsent(dir, _ => {
      val base = java.nio.file.Files.createTempDirectory("graft-snap-zorder")
        .resolve("t").toString
      val ev = t(s, dir, "events")
      val tbl = graft.catalog.SnapshotTable.create(s, base, ev.schema, None,
        properties = graft.catalog.EvolvingWriter.DefaultTableProps)
      tbl.append(ev.repartition(8))
      tbl.compact(targetRowsPerFile = math.max(1L, ev.count() / 16),
        zOrderBy = Seq("event_id", "user_id"))
      base
    })
    graft.catalog.SnapshotTable.load(s, root)
  }
  private val deleteTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val mergeTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val bloomTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** ONE definition for the bloom proof table's properties: the table
    * is cache-built by whichever of snap_bloom_lookup /
    * snap_bloom_files runs first, so the two MUST pass identical props
    * (2^20 bits keeps the pinned absent-probe files_opened = 0 at
    * negligible FP odds well past the driver's scale factors).
    */
  private val bloomProofProps = Map(
    "graft.bloom.columns" -> "user_id",
    "graft.bloom.bits" -> (1 << 20).toString)
  private val mergeCondTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val morTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val dvTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val updateDvTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val mergeDvTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val dvCompactTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val mergeEvolveTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val updNativeTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val metaDelTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val netZeroTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val dayTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once day-partitioned events table (identity on a derived
    * DATE column — one file set per day) for the filtered metadata
    * aggregates: whole-day predicates classify every file decisively.
    */
  private def daySnapshot(s: SparkSession,
      dir: String): graft.catalog.SnapshotTable = {
    val root = dayTableCache.computeIfAbsent(dir, _ => {
      val (base, _) = warehouseDbRoot(s, "snap_day", dir)
      val ev = t(s, dir, "events").withColumn("day", to_date(col("ts")))
      val tbl = graft.catalog.SnapshotTable.create(s, base, ev.schema,
        Some(graft.catalog.PartitionSpec("day", "identity")),
        properties = graft.catalog.EvolvingWriter.DefaultTableProps)
      tbl.append(ev)
      base
    })
    graft.catalog.SnapshotTable.load(s, root)
  }
  private val tableStreamCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once drain of the DSv2 table tail for `sql_stream_table`:
    * a 3-append catalog table consumed via `readStream.table(...)`
    * with streamFrom=earliest, each micro-batch appended to a parquet
    * drain; returns the drain path.
    */
  private def streamedTableTail(s: SparkSession, dir: String): String =
    tableStreamCache.computeIfAbsent(dir, _ => {
      val (root, name) = warehouseDbRoot(s, "sttail", dir)
      val ev = t(s, dir, "events")
      val tbl = graft.catalog.SnapshotTable.create(s, root, ev.schema, None,
        properties = graft.catalog.EvolvingWriter.DefaultTableProps)
      (0 until 3).foreach(i =>
        tbl.append(ev.filter(col("event_id") % 3 === i)))
      val out = java.nio.file.Files.createTempDirectory("graft-sttail")
      val sink = out.resolve("rows").toString
      val q = s.readStream.option("streamFrom", "earliest").table(name)
        .writeStream
        .option("checkpointLocation", out.resolve("ckpt").toString)
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.write.mode("append").parquet(sink)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      sink
    })

  private val evolvedTailCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once streamed EVOLVED tail for `sql_stream_evolved_tail`:
    * append evens under (event_id, event_type, value), then RENAME
    * value → amount and ADD tag STRING DEFAULT 'legacy', then append
    * odds under the new shape — and drain the whole history through
    * `readStream.table` with streamFrom=earliest. The pinned query
    * schema is the POST-evolution one; pre-evolution files stream by
    * FIELD ID (amount reads the files' write-time `value` column) and
    * surface the recorded DEFAULT for tag (never a null fill). Returns
    * the parquet sink path.
    */
  private def streamedEvolvedTail(s: SparkSession, dir: String): String =
    evolvedTailCache.computeIfAbsent(dir, _ => {
      val (root, name) = warehouseDbRoot(s, "stevolve", dir)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val tbl = graft.catalog.SnapshotTable.create(s, root, ev.schema, None,
        properties = graft.catalog.EvolvingWriter.DefaultTableProps)
      tbl.append(ev.filter(col("event_id") % 2 === 0))           // v2
      s.sql(s"ALTER TABLE $name RENAME COLUMN value TO amount")  // v3
      s.sql(s"ALTER TABLE $name ADD COLUMN tag STRING DEFAULT 'legacy'") // v4
      tbl.append(ev.filter(col("event_id") % 2 === 1)            // v5
        .select(col("event_id"), col("event_type"),
          col("value").as("amount"), lit("fresh").as("tag")))
      val out = java.nio.file.Files.createTempDirectory("graft-stevolve")
      val sink = out.resolve("rows").toString
      val q = s.readStream.option("streamFrom", "earliest").table(name)
        .writeStream
        .option("checkpointLocation", out.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.write.mode("append").parquet(sink)
          ()
        }
        .start()
      assert(q.awaitTermination(180000), "evolved-tail drain timed out")
      sink
    })

  private val changeFeedCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once streamed CHANGE FEED for `sql_stream_change_feed`:
    * the snap_changelog commit sequence (append evens → keyed upsert →
    * equality delete) on a warehouse catalog table, drained through
    * `spark.readStream.table("graft.db.\`t#changes\`")` — the DSv2
    * change-feed surface ([[graft.streaming.GraftChangesTableStream]])
    * — under Trigger.AvailableNow with `maxVersionsPerTrigger = 1`, so
    * each version is its own batch and the concatenated output is the
    * deterministic per-version changelog (no cross-version netting to
    * depend on batch coalescing). Returns the parquet sink path.
    */
  private def streamedChangeFeed(s: SparkSession, dir: String): String =
    changeFeedCache.computeIfAbsent(dir, _ => {
      val (root, name) = warehouseDbRoot(s, "chfeed", dir)
      val ev = t(s, dir, "events")
      val tbl = graft.catalog.SnapshotTable.create(s, root, ev.schema, None)
      tbl.append(ev.filter(col("event_id") % 2 === 0))               // v2
      tbl.upsert(ev.filter(col("event_id") % 100 === 0)
        .withColumn("value", col("value") + lit(1000.0d)), Seq("event_id")) // v3
      tbl.deleteByKeys(ev.filter(col("event_id") % 1000 === 0)
        .select("event_id"), Seq("event_id"))                        // v4
      val out = java.nio.file.Files.createTempDirectory("graft-chfeed")
      val sink = out.resolve("rows").toString
      val changesName = name.split('.').toSeq match {
        case parts :+ last => (parts :+ s"`$last#changes`").mkString(".")
      }
      val q = s.readStream
        .option("changesFrom", "earliest")
        .option("maxVersionsPerTrigger", "1")
        .table(changesName)
        .writeStream
        .option("checkpointLocation", out.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.write.mode("append").parquet(sink)
          ()
        }
        .start()
      assert(q.awaitTermination(180000), "change-feed drain timed out")
      sink
    })

  private val tableSinkCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once table-to-table streaming pipeline for
    * `sql_stream_to_table`: tail the 3-append source via
    * `readStream.table`, sink via `writeStream.toTable` (the DSv2
    * executor-parallel exactly-once write) under Trigger.AvailableNow;
    * returns the DESTINATION table name.
    */
  private def streamedTableToTable(s: SparkSession, dir: String): String =
    tableSinkCache.computeIfAbsent(dir, _ => {
      val (root, name) = warehouseDbRoot(s, "sttsrc", dir)
      val ev = t(s, dir, "events")
      val tbl = graft.catalog.SnapshotTable.create(s, root, ev.schema, None,
        properties = graft.catalog.EvolvingWriter.DefaultTableProps)
      (0 until 3).foreach(i =>
        tbl.append(ev.filter(col("event_id") % 3 === i)))
      val (dstRoot, dstName) = warehouseDbRoot(s, "sttdst", dir)
      graft.catalog.SnapshotTable.create(s, dstRoot, ev.schema, None,
        properties = graft.catalog.EvolvingWriter.DefaultTableProps)
      val q = s.readStream.option("streamFrom", "earliest").table(name)
        .writeStream
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("graft-sttsink").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(dstName)
      require(q.awaitTermination(300000),
        "sql_stream_to_table: AvailableNow pipeline must self-terminate")
      dstName
    })
  private val eqDeleteTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val dvNativeTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val evolvedNativeTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once EVOLVED snapshot twin shared by the `snap_*evolved*` /
    * `snap_agg_*` rows: full events appended (v2), then `value` RENAMED
    * to `score`, `origin STRING DEFAULT 'legacy'` added (files so far
    * predate it and surface the default), and a small `origin='fresh'`
    * batch appended — a table whose files span THREE shapes.
    */
  private def evolvedNativeSnapshot(s: SparkSession,
      dir: String): graft.catalog.SnapshotTable =
    statsSnapshot(s, dir, evolvedNativeTableCache, "evonat") { tbl =>
      tbl.renameColumn("value", "score")
      tbl.addColumnWithDefault(
        org.apache.spark.sql.types.StructField("origin",
          org.apache.spark.sql.types.StringType), "legacy")
      tbl.append(t(s, dir, "events")
        .filter(col("event_id") % 97 === 0)
        .withColumnRenamed("value", "score")
        .withColumn("origin", lit("fresh")))
      ()
    }

  /** The literal key list `sql_delete_equality` deletes — shared
    * verbatim by the Spark DELETE and the DuckDB oracle's NOT IN.
    */
  private val EqDeleteKeyList: String = (0L until 740L by 37L).mkString(", ")
  private val mergeEvolveNativeTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val mergeNativeTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val defaultValTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val specEvoTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val streamUpsertTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val changelogTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once changelog table: v2 append evens, v3 COW upsert
    * (value+1000 where event_id % 100 == 0), v4 MoR equality delete of
    * event_id % 1000 == 0 — so changes(2, 4) must emit BOTH update
    * pairs (from the rewriting upsert, via the diff path) and pure
    * delete retractions (from the equality delete), the case
    * readIncremental is blind to.
    */
  private def changelogSnapshot(s: SparkSession,
      dir: String): graft.catalog.SnapshotTable = {
    val root = changelogTableCache.computeIfAbsent(dir, _ => {
      val base = java.nio.file.Files.createTempDirectory("graft-snap-chg")
        .resolve("t").toString
      val ev = t(s, dir, "events")
      val tbl = graft.catalog.SnapshotTable.create(s, base, ev.schema, None)
      tbl.append(ev.filter(col("event_id") % 2 === 0))               // v2
      tbl.upsert(ev.filter(col("event_id") % 100 === 0)
        .withColumn("value", col("value") + lit(1000.0d)), Seq("event_id")) // v3
      tbl.deleteByKeys(ev.filter(col("event_id") % 1000 === 0)
        .select("event_id"), Seq("event_id"))                        // v4
      base
    })
    graft.catalog.SnapshotTable.load(s, root)
  }

  /** Build-once CDC-upsert stream result: an ACTUAL two-micro-batch
    * file stream (insert evens, then keyed corrections) drained through
    * the keyed `writeStream.format("graft")` sink into a snapshot
    * table. Batch order is pinned via file modification times
    * (FileStreamSource processes oldest-first), so the corrections
    * deterministically land second and replace.
    */
  private def streamUpsertSnapshot(s: SparkSession,
      dir: String): graft.catalog.SnapshotTable = {
    val root = streamUpsertTableCache.computeIfAbsent(dir, _ => {
      val base = java.nio.file.Files.createTempDirectory("graft-stream-ups")
      val tableRoot = base.resolve("t").toString
      val srcDir = base.resolve("src").toString
      val ckpt = base.resolve("ckpt").toString
      val ev = t(s, dir, "events")
      graft.catalog.SnapshotTable.create(s, tableRoot, ev.schema, None)
      ev.filter(col("event_id") % 2 === 0).coalesce(1)
        .write.parquet(s"$srcDir/b1")
      ev.filter(col("event_id") % 100 === 0)
        .withColumn("value", col("value") + lit(1000.0d)).coalesce(1)
        .write.parquet(s"$srcDir/b2")
      def touch(p: String, ms: Long): Unit =
        java.nio.file.Files.walk(java.nio.file.Paths.get(p)).forEach(q =>
          java.nio.file.Files.setLastModifiedTime(q,
            java.nio.file.attribute.FileTime.fromMillis(ms)))
      touch(s"$srcDir/b1", 1700000000000L)
      touch(s"$srcDir/b2", 1700000060000L)
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*")
      val q = stream.writeStream.format("graft")
        .option("keys", "event_id").outputMode("update")
        .option("checkpointLocation", ckpt).start(tableRoot)
      try q.processAllAvailable() finally q.stop()
      tableRoot
    })
    graft.catalog.SnapshotTable.load(s, root)
  }

  private val streamUpsertMorTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val streamSinkTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val spjTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private val spjDimCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Two co-bucketed snapshot tables in the catalog warehouse for the
    * storage-partitioned-join entry: `bucket(8, event_id)` both sides,
    * right side carries value+7000. Built once per sf dir.
    */
  private def spjTables(s: SparkSession, dir: String): (String, String) = {
    spjTableCache.computeIfAbsent(dir, _ => {
      val ev = t(s, dir, "events")
      val spec = Some(graft.catalog.PartitionSpec("event_id", "bucket[8]"))
      def build(tag: String, df: org.apache.spark.sql.DataFrame): String = {
        val (root, ident) = warehouseDbRoot(s, s"spj_$tag", dir)
        val tbl = graft.catalog.SnapshotTable.create(s, root, df.schema, spec)
        tbl.append(df)
        ident
      }
      (build("l", ev),
        build("r", ev.withColumn("value", col("value") + lit(7000.0d))))
    })
  }

  /** Events streamed INTO a snapshot table through the native sink —
    * `writeStream.format("graft").start(root)`, no foreachBatch — in
    * two micro-batches (evens, then odds). Exactly-once: each batch id
    * is recorded in its atomic commit; the builder pins two
    * stream-append commits and the row count before handing the table
    * to the registry row.
    */
  private def streamSinkSnapshot(s: SparkSession,
      dir: String): graft.catalog.SnapshotTable = {
    val root = streamSinkTableCache.computeIfAbsent(dir, _ => {
      val base = java.nio.file.Files.createTempDirectory("graft-stream-sink")
      val tableRoot = base.resolve("t").toString
      val srcDir = base.resolve("src").toString
      val ckpt = base.resolve("ckpt").toString
      val ev = t(s, dir, "events")
      graft.catalog.SnapshotTable.create(s, tableRoot, ev.schema, None)
      ev.filter(col("event_id") % 2 === 0).coalesce(1)
        .write.parquet(s"$srcDir/b1")
      ev.filter(col("event_id") % 2 === 1).coalesce(1)
        .write.parquet(s"$srcDir/b2")
      def touch(p: String, ms: Long): Unit =
        java.nio.file.Files.walk(java.nio.file.Paths.get(p)).forEach(q =>
          java.nio.file.Files.setLastModifiedTime(q,
            java.nio.file.attribute.FileTime.fromMillis(ms)))
      touch(s"$srcDir/b1", 1700000000000L)
      touch(s"$srcDir/b2", 1700000060000L)
      val q = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*")
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .start(tableRoot)
      try q.processAllAvailable() finally q.stop()
      val tbl = graft.catalog.SnapshotTable.load(s, tableRoot)
      require(tbl.history().count(
          _.operation.startsWith("stream-append")) == 2,
        s"one exactly-once commit per micro-batch: " +
          tbl.history().map(_.operation))
      tableRoot
    })
    graft.catalog.SnapshotTable.load(s, root)
  }

  /** The SAME two-micro-batch CDC scenario as [[streamUpsertSnapshot]]
    * but against a `graft.merge.mode=merge-on-read` table: the sink
    * routes each batch through the MoR MERGE, so corrections cost
    * positional vectors + appended images instead of partition
    * rewrites. The builder pins the plumbing (one merge-pos commit per
    * batch, batch-1 files all survive batch 2, vectors present); the
    * registry row pins value parity with the COW oracle.
    */
  private def streamUpsertMorSnapshot(s: SparkSession,
      dir: String): graft.catalog.SnapshotTable = {
    val root = streamUpsertMorTableCache.computeIfAbsent(dir, _ => {
      val base = java.nio.file.Files.createTempDirectory("graft-stream-morups")
      val tableRoot = base.resolve("t").toString
      val srcDir = base.resolve("src").toString
      val ckpt = base.resolve("ckpt").toString
      val ev = t(s, dir, "events")
      graft.catalog.SnapshotTable.create(s, tableRoot, ev.schema, None,
        properties = Map("graft.merge.mode" -> "merge-on-read"))
      ev.filter(col("event_id") % 2 === 0).coalesce(1)
        .write.parquet(s"$srcDir/b1")
      ev.filter(col("event_id") % 100 === 0)
        .withColumn("value", col("value") + lit(1000.0d)).coalesce(1)
        .write.parquet(s"$srcDir/b2")
      def touch(p: String, ms: Long): Unit =
        java.nio.file.Files.walk(java.nio.file.Paths.get(p)).forEach(q =>
          java.nio.file.Files.setLastModifiedTime(q,
            java.nio.file.attribute.FileTime.fromMillis(ms)))
      touch(s"$srcDir/b1", 1700000000000L)
      touch(s"$srcDir/b2", 1700000060000L)
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*")
      val q = stream.writeStream.format("graft")
        .option("keys", "event_id").outputMode("update")
        .option("checkpointLocation", ckpt).start(tableRoot)
      try q.processAllAvailable() finally q.stop()
      val tbl = graft.catalog.SnapshotTable.load(s, tableRoot)
      val h = tbl.history()
      require(h.count(_.operation == "merge-pos") == 2,
        s"one MoR merge commit per micro-batch: ${h.map(_.operation)}")
      val b1Files = h.filter(_.operation == "merge-pos").minBy(_.version)
        .files.map(_.path).toSet
      val cur = tbl.currentSnapshot()
      require(b1Files.subsetOf(cur.files.map(_.path).toSet) &&
        cur.dvFiles.nonEmpty,
        "corrections must commit as vectors + appends, not rewrites")
      tableRoot
    })
    graft.catalog.SnapshotTable.load(s, root)
  }

  /** Build-once STREAMED changelog drain: a real
    * `readStream.format("graft").option("changesFrom", 2)` query over
    * [[changelogSnapshot]]'s table, drained through foreachBatch into
    * parquet. The stream's offsets are table versions, so the drain
    * covers (v2, v4] — the same netted window snap_changelog reads in
    * batch, proving the STREAMING read path delivers the identical
    * retraction stream (one coalesced micro-batch here; per-commit
    * batches are pinned in StreamingChangelogSpec).
    */
  private val streamChangelogCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def streamedChangelog(s: SparkSession, dir: String): String = {
    streamChangelogCache.computeIfAbsent(dir, _ => {
      val tbl = changelogSnapshot(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft-stream-chg")
      val out = base.resolve("out").toString
      val q = s.readStream.format("graft").option("changesFrom", "2")
        .load(tbl.root.toString)
        .writeStream
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(out)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      out
    })
  }

  private val applyChangesCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once CDC-apply fixture for `stream_apply_changes`: the
    * changelog table's FULL history (insert batch, rewriting upsert,
    * equality delete) streamed per-commit (`maxVersionsPerTrigger=1`,
    * so the delete-apply path genuinely runs as its own batch) through
    * [[graft.streaming.EventStream.applyChangesToSnapshotTable]] into
    * a fresh table — which must converge to the source's exact current
    * state. The last batch is then re-applied once (foreachBatch
    * at-least-once replay) and the state must not move.
    */
  private def appliedChangesSnapshot(s: SparkSession,
      dir: String): graft.catalog.SnapshotTable = {
    val root = applyChangesCache.computeIfAbsent(dir, _ => {
      val src = changelogSnapshot(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft-apply-chg")
      val tgtRoot = base.resolve("t").toString
      val ev = t(s, dir, "events")
      graft.catalog.SnapshotTable.create(s, tgtRoot, ev.schema, None)
      val changes = s.readStream.format("graft")
        .option("changesFrom", "1").option("maxVersionsPerTrigger", "1")
        .load(src.root.toString)
      val q = graft.streaming.EventStream.applyChangesToSnapshotTable(
        changes, tgtRoot, Seq("event_id"), base.resolve("ckpt").toString)
      try q.processAllAvailable() finally q.stop()
      val tgt = graft.catalog.SnapshotTable.load(s, tgtRoot)
      val before = tgt.currentVersion()
      // idempotence pin: replay the final (delete) batch by hand
      val lastDels = src.changes(3, 4)
        .filter(col("_change_type") === "delete").select("event_id")
      tgt.deleteByKeys(lastDels, Seq("event_id"))
      require(tgt.read().count() ==
        graft.catalog.SnapshotTable.load(s, src.root.toString).read().count(),
        "replaying an applied delete batch must be a no-op on state")
      require(before >= 4, s"expected per-commit batches, got v$before")
      tgtRoot
    })
    graft.catalog.SnapshotTable.load(s, root)
  }

  /** Build-once spec-evolution table: evens append under
    * identity(event_type) partitioning, the spec evolves to month(ts)
    * (metadata-only), odds append under the month spec, and
    * migrateSpec() rewrites exactly the legacy event_type-partitioned
    * files — ending with every file month-partitioned.
    */
  private def specEvoSnapshot(s: SparkSession,
      dir: String): graft.catalog.SnapshotTable = {
    val root = specEvoTableCache.computeIfAbsent(dir, _ => {
      val base = java.nio.file.Files.createTempDirectory("graft-snap-specevo")
        .resolve("t").toString
      val ev = t(s, dir, "events")
      val tbl = graft.catalog.SnapshotTable.create(s, base, ev.schema,
        Some(graft.catalog.PartitionSpec("event_type", "identity")))
      tbl.append(ev.filter(col("event_id") % 2 === 0))
      tbl.evolveSpec(Some(graft.catalog.PartitionSpec("ts", "month")))
      tbl.append(ev.filter(col("event_id") % 2 === 1))
      tbl.migrateSpec()
      base
    })
    graft.catalog.SnapshotTable.load(s, root)
  }

  /** Build-once unpartitioned events snapshot table whose data files
    * are id-range-clustered (repartitionByRange + sortWithinPartitions
    * on event_id → 8 files with disjoint event_id bounds in the
    * manifest), then apply `mutate` once — the substrate for the
    * stats-skipping / row-level-delete / merge registry entries. The
    * mutation runs inside the build, so repeated query runs (bench
    * warm-up, best-of-two) read a stable table.
    */
  private def statsSnapshot(s: SparkSession, dir: String,
      cache: java.util.concurrent.ConcurrentHashMap[String, String],
      tag: String,
      extraProps: Map[String, String] = Map.empty)(
      mutate: graft.catalog.SnapshotTable => Unit): graft.catalog.SnapshotTable = {
    val root = cache.computeIfAbsent(dir, _ => {
      val base = warehouseDbRoot(s, s"snap_$tag", dir)._1
      val ev = t(s, dir, "events")
      val tbl = graft.catalog.SnapshotTable.create(s, base, ev.schema, None,
        properties =
          graft.catalog.EvolvingWriter.DefaultTableProps ++ extraProps)
      tbl.append(ev.repartitionByRange(8, col("event_id"))
        .sortWithinPartitions("event_id"))
      mutate(tbl)
      base
    })
    graft.catalog.SnapshotTable.load(s, root)
  }

  private val branchTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val importTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val ngramIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once branch-lifecycle fixture for `snap_branch_publish`:
    * evens on main, odds written on branch 'staging' (invisible to
    * main — asserted), branch published via the native CALL
    * fast_forward. End state must equal the full raw events table.
    */
  private def branchSnapshot(s: SparkSession,
      dir: String): graft.catalog.SnapshotTable = {
    val root = branchTableCache.computeIfAbsent(dir, _ => {
      val (base, _) = warehouseDbRoot(s, "snap_branch", dir)
      val ev = t(s, dir, "events")
      val tbl = graft.catalog.SnapshotTable.create(s, base, ev.schema, None,
        properties = graft.catalog.EvolvingWriter.DefaultTableProps)
      tbl.append(ev.filter(col("event_id") % 2 === 0))
      val mainRows = tbl.read().count()
      val arg = s"table => 'db.snap_branch_h${math.abs(dir.hashCode)}'"
      s.sql(s"CALL graft.system.create_branch($arg, name => 'staging')")
      tbl.branch("staging").append(ev.filter(col("event_id") % 2 =!= 0))
      require(tbl.read().count() == mainRows,
        "branch write must be invisible to main before fast_forward")
      s.sql(s"CALL graft.system.fast_forward($arg, name => 'staging')")
      base
    })
    graft.catalog.SnapshotTable.load(s, root)
  }

  private val evolveTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once evolution-history table for `snap_rename_evolution`:
    * v2 evens append (original names) → v3 value→score rename → v4
    * props drop → v5 odds append under the new schema with props
    * re-added (fresh field id).
    */
  private def evolutionSnapshot(s: SparkSession,
      dir: String): graft.catalog.SnapshotTable = {
    val root = evolveTableCache.computeIfAbsent(dir, _ => {
      val base = java.nio.file.Files.createTempDirectory("graft-snap-evo")
        .resolve("t").toString
      val ev = t(s, dir, "events")
      val tbl = graft.catalog.SnapshotTable.create(s, base, ev.schema, None)
      tbl.append(ev.filter(col("event_id") % 2 === 0))
      tbl.renameColumn("value", "score")
      tbl.dropColumn("props")
      tbl.append(ev.filter(col("event_id") % 2 === 1)
        .withColumnRenamed("value", "score"))
      base
    })
    graft.catalog.SnapshotTable.load(s, root)
  }

  private val nestedEvoTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once NESTED-evolution fixture for `snap_nested_evolution`:
    * evens appended with `meta = struct(user_id, kind)`; odds appended
    * with an extra nested field `src_val` (write-side struct growth —
    * even files must read NULL for it); then `user_id` renamed to
    * `uid` INSIDE the struct (metadata-only — every existing file
    * keeps serving values through its write-time name via the nested
    * field id).
    */
  private def nestedEvoSnapshot(s: SparkSession,
      dir: String): graft.catalog.SnapshotTable = {
    val root = nestedEvoTableCache.computeIfAbsent(dir, _ => {
      val base = java.nio.file.Files.createTempDirectory("graft-snap-nest")
        .resolve("t").toString
      val ev = t(s, dir, "events")
      val evens = ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id"),
          struct(col("user_id"), col("event_type").as("kind")).as("meta"))
      val tbl = graft.catalog.SnapshotTable.create(s, base, evens.schema)
      tbl.append(evens)
      tbl.append(ev.filter(col("event_id") % 2 === 1)
        .select(col("event_id"),
          struct(col("user_id"), col("event_type").as("kind"),
            col("value").as("src_val")).as("meta")))
      tbl.renameStructField("meta", "user_id", "uid")
      base
    })
    graft.catalog.SnapshotTable.load(s, root)
  }

  /** The post-upsert value expression, shared by the oracles below. */
  private val snapValueSql =
    "CASE WHEN event_id % 100 = 0 THEN value + 1000.0 ELSE value END"

  private def snapshotQueries: Seq[QueryDef] = Seq(
    QueryDef("snap_read_hourly",
      (s, dir) => snapshotEventsTable(s, dir).read()
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
      Some(s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
              |  event_type, count(*) AS n,
              |  CAST(SUM(CAST($snapValueSql AS DECIMAL(12,2))) AS DOUBLE)
              |    AS sum_value
              |FROM events GROUP BY 1, 2""".stripMargin)),

    QueryDef("snap_time_travel",
      (s, dir) => snapshotEventsTable(s, dir).readAt(2)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
             |FROM events WHERE event_id % 2 = 0
             |GROUP BY 1""".stripMargin)),

    // Time travel BY NAME (Iceberg tags): the build tagged the evens-
    // only snapshot "evens-baseline" before later commits; reading the
    // tag must reproduce that exact dataset — the reproducible-training
    // -corpus primitive (and tagged snapshots are expiry-proof)
    QueryDef("snap_read_tag",
      (s, dir) => snapshotEventsTable(s, dir).readTag("evens-baseline")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
             |FROM events WHERE event_id % 2 = 0
             |GROUP BY 1""".stripMargin)),

    // CDC-style incremental consumption: files added between v2 (evens)
    // and v3 (odds) are exactly the odd-id append batch, read with its
    // pre-upsert values — per-run cost scales with the new files only
    QueryDef("snap_incremental",
      (s, dir) => snapshotEventsTable(s, dir).readIncremental(2, 3)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
             |FROM events WHERE event_id % 2 = 1
             |GROUP BY 1""".stripMargin)),

    // CDC changelog with DELETE retractions (the case snap_incremental
    // is blind to): net row-level diff v2→v4 across a COW upsert and a
    // MoR equality delete. Updates surface as delete+insert pairs with
    // the exact old/new tuples; null-valued updates are identity (no
    // event) — the oracle mirrors both. ts is excluded from the compare
    // only because the raw parquet stores TIMESTAMP(NANOS) (long in
    // Spark, timestamp in DuckDB — no common comparable type).
    QueryDef("snap_changelog",
      (s, dir) => changelogSnapshot(s, dir).changes(2, 4)
        .select(col("_change_type"), col("event_id"), col("user_id"),
          col("event_type"), col("value"), col("props")),
      Some("""WITH ev AS (
             |  SELECT event_id, user_id, event_type, value, props
             |  FROM events WHERE event_id % 2 = 0
             |)
             |SELECT 'delete' AS _change_type, event_id, user_id,
             |       event_type, value, props
             |FROM ev
             |WHERE event_id % 1000 = 0
             |   OR (event_id % 100 = 0 AND value IS NOT NULL)
             |UNION ALL
             |SELECT 'insert' AS _change_type, event_id, user_id,
             |       event_type, value + CAST(1000.0 AS DOUBLE), props
             |FROM ev
             |WHERE event_id % 100 = 0 AND event_id % 1000 <> 0
             |  AND value IS NOT NULL""".stripMargin)),

    // the SAME changelog window through the SQL surface (USING graft
    // OPTIONS changesFrom/changesTo) — proves a SQL-only incremental
    // consumer gets the retraction stream; oracle identical to
    // snap_changelog
    QueryDef("sql_changelog",
      (s, dir) => {
        val tbl = changelogSnapshot(s, dir)
        s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_changes_sql " +
          "USING graft OPTIONS " +
          s"(path '${tbl.root}', changesFrom '2', changesTo '4')")
        s.sql("""SELECT _change_type, event_id, user_id, event_type,
                |       value, props
                |FROM graft_changes_sql""".stripMargin)
      },
      Some("""WITH ev AS (
             |  SELECT event_id, user_id, event_type, value, props
             |  FROM events WHERE event_id % 2 = 0
             |)
             |SELECT 'delete' AS _change_type, event_id, user_id,
             |       event_type, value, props
             |FROM ev
             |WHERE event_id % 1000 = 0
             |   OR (event_id % 100 = 0 AND value IS NOT NULL)
             |UNION ALL
             |SELECT 'insert' AS _change_type, event_id, user_id,
             |       event_type, value + CAST(1000.0 AS DOUBLE), props
             |FROM ev
             |WHERE event_id % 100 = 0 AND event_id % 1000 <> 0
             |  AND value IS NOT NULL""".stripMargin)),

    // Hidden BUCKET partitioning (Iceberg's bucket(N, col)): the table
    // hashes event_id into 8 buckets at write; the point lookup hashes
    // its keys DRIVER-side, opens only those buckets' files (pruned
    // fraction pinned in the result row from manifest counts — at 100 TB
    // this is the O(keys) point-read shape), and the values must equal
    // the raw-parquet IN-filter oracle exactly
    QueryDef("snap_bucket_lookup",
      (s, dir) => {
        val tbl = bucketSnapshot(s, dir)
        val keys = (0 until 10).map(i => (1000L + i * 97): Any)
        val snap = tbl.currentSnapshot()
        val wanted = keys.map(k =>
          graft.catalog.StatsPruner.hashOf(
            org.apache.spark.sql.types.LongType, k).get)
          .map(h => (((h % 8) + 8) % 8).toString).toSet
        val opened = snap.files.count(_.partition.exists(wanted.contains))
        val prunedOk = opened < snap.files.size && opened > 0
        tbl.readKeyIn(keys)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .withColumn("bucket_pruned", lit(prunedOk))
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
             |  TRUE AS bucket_pruned
             |FROM events
             |WHERE event_id IN (1000, 1097, 1194, 1291, 1388, 1485, 1582,
             |                   1679, 1776, 1873)
             |GROUP BY 1""".stripMargin)),

    // STORAGE-PARTITIONED JOIN (Iceberg SPJ): two snapshot tables
    // bucket(8, event_id)-partitioned through the catalog; the native
    // DSv2 batch scan reports KeyGroupedPartitioning per side, the
    // round-13 FunctionCatalog bucket() resolves the transform, and
    // under spark.sql.sources.v2.bucketing.enabled the join planner
    // aligns the 8 buckets directly — spj_no_exchange pins that the
    // EXECUTED join plan contains ZERO exchanges. The 100 TB shape:
    // a fact-to-fact join of co-bucketed tables shuffles neither side.
    QueryDef("snap_spj_join",
      (s, dir) => {
        val (lName, rName) = spjTables(s, dir)
        val confs = Seq(
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1")
        val old = confs.map { case (k, _) => k -> s.conf.getOption(k) }
        try {
          confs.foreach { case (k, v) => s.conf.set(k, v) }
          val j = s.table(lName).alias("l")
            .join(s.table(rName).alias("r"), Seq("event_id"))
          // Finalize AQE by executing the join's OWN query execution
          // distributed — zero rows reach the driver (a collect() here
          // would materialize |l⋈r| rows driver-side, the one shape
          // that cannot survive a 100× scale-up).
          j.queryExecution.toRdd.foreach(_ => ())
          val noExchange =
            !j.queryExecution.executedPlan.toString.contains("Exchange")
          j.groupBy(col("l.event_type"))
            .agg(count(lit(1)).as("n"),
              dsum(col("l.value") + col("r.value")).as("sum_both"))
            .withColumnRenamed("event_type", "event_type")
            .withColumn("spj_no_exchange", lit(noExchange))
        } finally old.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      },
      Some("""SELECT l.event_type, count(*) AS n,
             |  CAST(SUM(CAST(l.value + (l.value + 7000.0) AS DECIMAL(12,2)))
             |    AS DOUBLE) AS sum_both,
             |  TRUE AS spj_no_exchange
             |FROM events l
             |GROUP BY 1""".stripMargin)),

    // RUNTIME (dynamic-pruning) FILTERING on the native scan: the
    // selective side of an equi-join on the bucket source column
    // materializes first, its keys arrive at the GraftBatchScan as an
    // IN runtime filter, and whole buckets + stats/Bloom-pruned files
    // drop before any fact byte is read. dpp_filtered pins the runtime
    // filter on the EXECUTED scan; values must match the plain-join
    // oracle exactly (pruning is skip-only).
    QueryDef("snap_spj_runtime_prune",
      (s, dir) => {
        val (lName, _) = spjTables(s, dir)
        val dimDir = spjDimCache.computeIfAbsent(dir, _ => {
          val d = java.nio.file.Files
            .createTempDirectory("graft-spj-dim").resolve("d").toString
          t(s, dir, "events").filter(col("event_id") % 211 === 0)
            .select(col("event_id"),
              (col("event_id") % 3).cast("int").as("grp"))
            .coalesce(1).write.parquet(d)
          d
        })
        val dim = s.read.parquet(dimDir).filter(col("grp") === 1)
        val j = s.table(lName).join(dim, Seq("event_id"))
        // Distributed materialization (zero driver rows) to finalize
        // the AQE plan before pinning the runtime-filter flag.
        j.queryExecution.toRdd.foreach(_ => ())
        val plan = j.queryExecution.executedPlan.toString
        val pruned = plan.contains("dynamicpruning") ||
          plan.contains("RuntimeFilters: [in(")
        j.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .withColumn("dpp_filtered", lit(pruned))
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
             |    AS sum_value,
             |  TRUE AS dpp_filtered
             |FROM events
             |WHERE event_id % 211 = 0 AND event_id % 3 = 1
             |GROUP BY 1""".stripMargin)),

    QueryDef("snap_prune_partitions",
      (s, dir) => snapshotEventsTable(s, dir)
        .readPartitions(p => p.exists(Set("click", "purchase")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
      Some(s"""SELECT event_type, count(*) AS n,
              |  CAST(SUM(CAST($snapValueSql AS DECIMAL(12,2))) AS DOUBLE)
              |    AS sum_value
              |FROM events WHERE event_type IN ('click', 'purchase')
              |GROUP BY 1""".stripMargin)),

    // Manifest min/max FILE skipping on a non-partition column: the
    // build appends events as 8 id-range-clustered files, so the range
    // predicate opens 1 of 8 files (pinned in SnapshotTableSpec); the
    // oracle checks the VALUES are exactly the unpruned filter result
    QueryDef("snap_skip_stats",
      (s, dir) => statsSnapshot(s, dir, skipTableCache, "skip")(_ => ())
        .readWhere(col("event_id").between(1000L, 1999L))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
             |FROM events WHERE event_id BETWEEN 1000 AND 1999
             |GROUP BY 1""".stripMargin)),

    // DEEP CLONE (Delta CLONE / dataset-vintage export): the fixture
    // clones the stats snapshot into a fresh standalone table; reading
    // the CLONE must equal the raw source table — byte-identical data
    // files, carried manifest stats, independent log.
    QueryDef("snap_clone_read",
      (s, dir) => {
        val root = cloneTableCache.computeIfAbsent(dir, _ => {
          val src = statsSnapshot(s, dir, skipTableCache, "skip")(_ => ())
          val p = java.nio.file.Files.createTempDirectory("graft-clone")
            .resolve("t").toString
          src.cloneTo(p)
          p
        })
        graft.catalog.SnapshotTable.load(s, root).read()
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1""".stripMargin)),

    // Declared write SORT ORDER (Iceberg sort order + range
    // distribution): a table created with graft.write.sort-by lands
    // every append range-clustered, so a selective range read prunes
    // at the manifest WITHOUT any compact() — pinned at runtime by
    // requiring the probe to open a strict subset of files.
    QueryDef("snap_sorted_append",
      (s, dir) => {
        val tbl = statsSnapshot(s, dir, sortedTableCache, "sorted",
          extraProps = Map(
            graft.catalog.SnapshotTable.SortByProp -> "event_id",
            graft.catalog.SnapshotTable.DistributionModeProp -> "range",
            graft.catalog.SnapshotTable.RangePartitionsProp -> "8"))(_ => ())
        val pred = col("event_id").between(2000L, 2999L)
        require(tbl.pruneFiles(pred).size < tbl.currentSnapshot().files.size,
          "sorted append must let the manifest prune a range probe")
        tbl.readWhere(pred).groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
             |FROM events WHERE event_id BETWEEN 2000 AND 2999
             |GROUP BY 1""".stripMargin)),

    // Metadata-only aggregates (Iceberg aggregate pushdown into
    // manifest metrics): COUNT/MIN/MAX answered from the file list with
    // ZERO data-file I/O — the .getOrElse(sys.error(...)) is the
    // runtime pin that the metadata path, not the scan fallback,
    // produced the row the oracle then checks value-exactly.
    QueryDef("snap_stats_agg",
      (s, dir) => {
        import graft.catalog.SnapshotTable.MetaAgg
        statsSnapshot(s, dir, skipTableCache, "skip")(_ => ())
          .metadataAggregate(Seq(
            MetaAgg("count_star", "", "n_rows"),
            MetaAgg("count", "value", "n_value"),
            MetaAgg("null_count", "props", "null_props"),
            MetaAgg("min", "event_id", "min_event_id"),
            MetaAgg("max", "event_id", "max_event_id"),
            MetaAgg("min", "ts", "min_ts"),
            MetaAgg("max", "ts", "max_ts"),
            MetaAgg("min", "event_type", "min_event_type"),
            MetaAgg("max", "event_type", "max_event_type"),
            MetaAgg("min", "value", "min_value"),
            MetaAgg("max", "value", "max_value"),
            // SUM from the exact per-file sums (r15 manifests —
            // integral/decimal columns; beyond Iceberg's pushdown)
            MetaAgg("sum", "event_id", "sum_event_id"),
            MetaAgg("sum", "user_id", "sum_user_id")))
          .getOrElse(sys.error(
            "snap_stats_agg: manifest stats must answer this profile"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  count(value) AS n_value,
             |  count(*) - count(props) AS null_props,
             |  min(event_id) AS min_event_id, max(event_id) AS max_event_id,
             |  min(CAST(ts AS TIMESTAMP)) AS min_ts,
             |  max(CAST(ts AS TIMESTAMP)) AS max_ts,
             |  min(event_type) AS min_event_type,
             |  max(event_type) AS max_event_type,
             |  min(value) AS min_value, max(value) AS max_value,
             |  CAST(sum(event_id) AS BIGINT) AS sum_event_id,
             |  CAST(sum(user_id) AS BIGINT) AS sum_user_id
             |FROM events""".stripMargin)),

    // GROUPED manifest aggregate through pure SQL: GROUP BY the
    // identity-partition source column collapses to one manifest fold
    // per hidden partition (metadataAggregateGrouped via the optimizer
    // rule) — plan-shape PINNED to LocalRelation in-query, so zero data
    // jobs answered this profile; the oracle pins the values. At 100 TB
    // this is `SELECT month, count(*) GROUP BY month` for free.
    QueryDef("sql_stats_agg_grouped",
      (s, dir) => {
        val tbl = snapshotEventsTable(s, dir)
        s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_stats_grp " +
          s"USING graft OPTIONS (path '${tbl.root}')")
        val q = s.sql("""SELECT event_type, count(*) AS n_rows,
                        |  count(value) AS n_value,
                        |  min(event_id) AS min_event_id,
                        |  max(event_id) AS max_event_id
                        |FROM graft_stats_grp
                        |GROUP BY event_type""".stripMargin)
        require(q.queryExecution.optimizedPlan
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
          "sql_stats_agg_grouped: the manifest must answer this " +
            s"grouped profile, got:\n${q.queryExecution.optimizedPlan}")
        q
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
             |  count(value) AS n_value,
             |  min(event_id) AS min_event_id,
             |  max(event_id) AS max_event_id
             |FROM events GROUP BY event_type""".stripMargin)),

    // Write-audit-publish (Iceberg WAP): the fixture opens an audit
    // window and stages a junk batch (ids offset by 10^9) that NEVER
    // publishes — the read below must still equal the raw table, the
    // runtime pin that staged commits are invisible to every reader
    // until an audit signs off.
    QueryDef("snap_wap_audit",
      (s, dir) => {
        val tbl = statsSnapshot(s, dir, wapTableCache, "wap") { tb =>
          tb.beginAudit()
          tb.append(t(s, dir, "events")
            .withColumn("event_id", col("event_id") + lit(1000000000L)))
          require(tb.readAudit().count() > tb.read().count(),
            "audit head must hold the staged batch")
        }
        tbl.read().groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1""".stripMargin)),

    // Named branches (Iceberg branch refs — the GENERAL form of WAP's
    // single implicit staging line): odds land on branch 'staging'
    // while main serves only evens (asserted in the fixture), then ONE
    // fastForward publishes the branch history onto main — after which
    // the table must equal the full raw corpus. The CALL surface
    // (graft.system.create_branch / fast_forward) drives it, so the
    // branch lifecycle is SQL-operable end to end.
    QueryDef("snap_branch_publish",
      (s, dir) => branchSnapshot(s, dir).read()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1""".stripMargin)),

    // Parquet ADOPTION without rewrite (Iceberg add_files/snapshot —
    // the 100 TB migration path): an existing parquet directory is
    // registered into a snapshot table via the native CALL, files
    // referenced by absolute path, ZERO bytes copied (pinned: every
    // manifest path points outside the table root) — and the read must
    // equal the raw source exactly. Stats are computed at import, so
    // manifest pruning works on adopted files immediately.
    QueryDef("snap_import_parquet",
      (s, dir) => {
        val root = importTableCache.computeIfAbsent(dir, _ => {
          val base = java.nio.file.Files
            .createTempDirectory("graft-import")
          val srcDir = base.resolve("src")
          java.nio.file.Files.createDirectories(srcDir)
          // adopt a COPY: import transfers file ownership to the table,
          // and the driver testdata is read-only by contract. The
          // source is a single file (driver testdata) or a
          // Spark-written directory of parts (the sf1 replica) —
          // copy the parquet payload either way
          val src0 = java.nio.file.Paths.get(s"$dir/documents.parquet")
          val parts =
            if (java.nio.file.Files.isDirectory(src0)) {
              import scala.jdk.CollectionConverters._
              scala.util.Using.resource(java.nio.file.Files.list(src0))(
                _.iterator().asScala
                  .filter(_.toString.endsWith(".parquet")).toList)
            } else List(src0)
          require(parts.nonEmpty, s"no parquet under $src0")
          parts.zipWithIndex.foreach { case (p, i) =>
            java.nio.file.Files.copy(p,
              srcDir.resolve(f"part-$i%05d.parquet"))
          }
          val tableRoot = base.resolve("t").toString
          val tbl = graft.catalog.SnapshotTable.create(s, tableRoot,
            s.read.parquet(srcDir.toString).schema)
          val r = s.sql(s"CALL graft.system.import_files(" +
            s"table => '$tableRoot', source => '$srcDir')").collect().head
          require(r.getLong(0) >= 1L, s"import must add files: $r")
          val snap = tbl.currentSnapshot()
          require(snap.files.nonEmpty &&
            snap.files.forall(_.path.startsWith(srcDir.toString)),
            "zero-copy pin: imported entries must reference the SOURCE " +
              s"files, got ${snap.files.map(_.path)}")
          tableRoot
        })
        graft.catalog.SnapshotTable.load(s, root).read()
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).as("sum_ids"))
      },
      Some("""SELECT lang, count(*) AS n,
             |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
             |FROM documents GROUP BY 1""".stripMargin)),

    // Partitions metadata table (Iceberg `table.partitions`): per
    // hidden-partition row counts straight from the manifest — the
    // events snapshot is identity-partitioned on event_type, so the
    // oracle is a plain GROUP BY over the raw table. file_count is
    // manifest-only (not oracle-derivable) and covered by unit test.
    QueryDef("snap_partitions",
      (s, dir) => snapshotEventsTable(s, dir).partitionsDf()
        .select(col("partition"), col("row_count")),
      Some("""SELECT event_type AS partition,
             |  CAST(count(*) AS BIGINT) AS row_count
             |FROM events GROUP BY 1""".stripMargin)),

    // Z-ORDER rewrite (Delta OPTIMIZE ZORDER / Iceberg sort-order
    // rewrite): after ONE compact(zOrderBy = event_id, user_id) the
    // manifest min/max stats prune a 2-D box on EITHER dimension —
    // pinned per-dimension at runtime from the manifest (a linear sort
    // would pass only the leading column) — and the box query's values
    // must equal the raw-parquet filter oracle exactly. At 100 TB this
    // is the layout that serves range scans on TWO uncorrelated
    // columns without a second copy of the data.
    QueryDef("snap_zorder_scan",
      (s, dir) => {
        val tbl = zorderSnapshot(s, dir)
        val snap = tbl.currentSnapshot()
        // the box spans the bottom 1/8 of BOTH key domains at every SF
        // — bounds read from the manifest's global max (driver-side
        // metadata, the same move snap_bucket_lookup makes hashing its
        // keys), so the query's selectivity and result SCALE with the
        // corpus instead of pinning constants tuned to one SF
        def hi(c: String): Long = snap.files
          .flatMap(_.stats.get(c).flatMap(_.max).flatMap(_.toLongOption))
          .max / 8L
        val (evHi, usHi) = (hi("event_id"), hi("user_id"))
        val evPred = col("event_id").between(0L, evHi)
        val usPred = col("user_id").between(0L, usHi)
        val zPruned =
          tbl.pruneFiles(evPred).size < snap.files.size &&
          tbl.pruneFiles(usPred).size < snap.files.size
        tbl.readWhere(evPred && usPred)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .withColumn("z_pruned", lit(zPruned))
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
             |  TRUE AS z_pruned
             |FROM events
             |WHERE event_id BETWEEN 0 AND (SELECT max(event_id) // 8 FROM events)
             |  AND user_id BETWEEN 0 AND (SELECT max(user_id) // 8 FROM events)
             |GROUP BY 1""".stripMargin)),

    // Copy-on-write row-level DELETE: stats prune to the id-range's
    // files, only files actually holding matches are rewritten, the
    // swap is one atomic commit; the read proves the deleted range is
    // gone and everything else intact
    QueryDef("snap_delete_rows",
      (s, dir) => statsSnapshot(s, dir, deleteTableCache, "del")(
        _.delete(col("event_id").between(2000L, 3999L)))
        .read()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
             |FROM events WHERE event_id NOT BETWEEN 2000 AND 3999
             |GROUP BY 1""".stripMargin)),

    // Per-file Bloom point lookup: files are range-clustered on
    // event_id, so user_id (uncorrelated) spans every file's min/max —
    // ONLY the manifest Bloom filters can skip files for this equality
    // probe (pinned in SnapshotTableSpec); the oracle checks the values
    QueryDef("snap_bloom_lookup",
      (s, dir) => statsSnapshot(s, dir, bloomTableCache, "bloom",
        bloomProofProps)(_ => ())
        .readWhere(col("user_id") === 77L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
             |FROM events WHERE user_id = 77
             |GROUP BY 1""".stripMargin)),

    // Commit-history introspection (DESCRIBE HISTORY): the skip table's
    // deterministic build (create, then one 8-file range-clustered
    // append) makes the metadata-only history rows oracle-pinnable —
    // including the exact file and row accounting per version
    QueryDef("snap_history",
      (s, dir) => statsSnapshot(s, dir, skipTableCache, "skip")(_ => ())
        .historyDf()
        .select(col("version"), col("operation"), col("n_files"),
          col("n_rows"), col("n_delete_files")),
      Some("""SELECT CAST(1 AS BIGINT) AS version, 'create' AS operation,
             |  CAST(0 AS BIGINT) AS n_files, CAST(0 AS BIGINT) AS n_rows,
             |  CAST(0 AS BIGINT) AS n_delete_files
             |UNION ALL
             |SELECT CAST(2 AS BIGINT), 'append', CAST(8 AS BIGINT),
             |  (SELECT count(*) FROM events), CAST(0 AS BIGINT)""".stripMargin)),

    // Driver-visible FILE-SKIPPING proof for manifest stats: the result
    // row carries the exact pruneFiles() plan (the file set readWhere
    // opens) next to the row values, so the CORRECTNESS gate — not just
    // a unit test — witnesses that ≥6 of the 8 range-clustered files
    // were skipped for the id-range predicate. The file count for a
    // quantile-sampled range partitioner is 1 or 2 depending on SF, so
    // the pinned fact is the scale-invariant bound, not the raw count.
    QueryDef("snap_skip_files",
      (s, dir) => {
        val tbl = statsSnapshot(s, dir, skipTableCache, "skip")(_ => ())
        val pred = col("event_id").between(1000L, 1999L)
        val planned = tbl.pruneFiles(pred).size
        val total = tbl.currentSnapshot().files.size
        tbl.readWhere(pred)
          // nondeterministic input_file_name() must be PROJECTED before
          // it can feed an aggregate
          .withColumn("__f", input_file_name())
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
            countDistinct(col("__f")).as("__scanned"))
          .select(col("n"), col("sum_value"),
            lit(total.toLong).as("files_total"),
            lit(planned <= 2).as("stats_pruned_ok"),
            (col("__scanned") <= 2).as("scan_bounded_ok"))
      },
      Some("""SELECT count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
             |  CAST(8 AS BIGINT) AS files_total,
             |  TRUE AS stats_pruned_ok, TRUE AS scan_bounded_ok
             |FROM events WHERE event_id BETWEEN 1000 AND 1999""".stripMargin)),

    // Driver-visible Bloom skipping proof: user_id is uncorrelated with
    // the event_id range clustering, so min/max stats keep every file
    // for ANY user_id equality — only the Bloom filters can prune. An
    // ABSENT value must open exactly 0 of the 8 files (definitely-
    // absent from every filter; FP odds ~1e-6 per file at sf0.1), the
    // exact count the oracle pins.
    QueryDef("snap_bloom_files",
      (s, dir) => {
        val tbl = statsSnapshot(s, dir, bloomTableCache, "bloom",
          bloomProofProps)(_ => ())
        val absent = col("user_id") === lit(-1L)
        val planned = tbl.pruneFiles(absent).size
        val total = tbl.currentSnapshot().files.size
        tbl.readWhere(absent)
          .agg(count(lit(1)).as("n_absent"))
          .select(col("n_absent"),
            lit(total.toLong).as("files_total"),
            lit(planned.toLong).as("files_opened_absent"))
      },
      Some("""SELECT CAST(0 AS BIGINT) AS n_absent,
             |  CAST(8 AS BIGINT) AS files_total,
             |  CAST(0 AS BIGINT) AS files_opened_absent""".stripMargin)),

    // Field-id schema evolution, oracle-pinned: evens append under the
    // ORIGINAL names, then value->score renames (metadata-only), props
    // drops, and odds append under the NEW schema with props RE-ADDED.
    // The read must serve old files through the renamed id, and the
    // re-added props must be NULL for pre-drop rows (fresh field id —
    // no resurrection), which the n_props count proves
    QueryDef("snap_rename_evolution",
      (s, dir) => evolutionSnapshot(s, dir).read()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("score")).as("sum_score"),
          count(col("props")).as("n_props")),
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_score,
             |  count(CASE WHEN event_id % 2 = 1 THEN props END) AS n_props
             |FROM events GROUP BY 1""".stripMargin)),

    // Append-only BATCH change window ACROSS schema evolution (VERDICT
    // r17 #8): the window (v2, v5] spans a RENAME, a DROP and one
    // append — the route election must stay on the O(appended data)
    // fast path (fast_route pins it; evolution commits are metadata-
    // only and classify as blind), never the two-endpoint diff the
    // netted machinery would pay, and the appended rows render under
    // the END schema by field id (value→score, props under its fresh
    // id). The change-feed stream serves this shape directly through
    // the same field-id scan (GraftBatchScan); this is its batch mirror.
    QueryDef("snap_changes_evolved_append",
      (s, dir) => {
        val tbl = evolutionSnapshot(s, dir)
        val fast = tbl.changesRoute(2, 5) == "fast"
        tbl.changes(2, 5)
          .select(col("_change_type"), col("event_id"), col("user_id"),
            col("event_type"), col("score"), col("props"))
          .withColumn("fast_route", lit(fast))
      },
      Some("""SELECT 'insert' AS _change_type, event_id, user_id,
             |       event_type, value AS score, props, TRUE AS fast_route
             |FROM events WHERE event_id % 2 = 1""".stripMargin)),

    // MERGE INTO at file granularity (WHEN MATCHED UPDATE SET * +
    // WHEN NOT MATCHED INSERT): ids %50 update in place (+5000 on
    // value), ids %97 insert under shifted keys; key-range stats bound
    // the rewrite to files holding matched keys
    QueryDef("snap_merge_upsert",
      (s, dir) => statsSnapshot(s, dir, mergeTableCache, "mrg") { tbl =>
        val ev = t(s, dir, "events")
        val updates = ev.filter(col("event_id") % 50 === 0)
          .withColumn("value", col("value") + lit(5000.0d))
        val inserts = ev.filter(col("event_id") % 97 === 0)
          .withColumn("event_id", col("event_id") + lit(10000000L))
        tbl.merge(updates.unionByName(inserts), Seq("event_id"))
        ()
      }.read()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
      Some("""WITH merged AS (
             |  SELECT event_type,
             |    CASE WHEN event_id % 50 = 0 THEN value + 5000.0
             |         ELSE value END AS value
             |  FROM events
             |  UNION ALL
             |  SELECT event_type, value FROM events WHERE event_id % 97 = 0
             |)
             |SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
             |FROM merged GROUP BY 1""".stripMargin)),

    // PARTITION SPEC EVOLUTION (Iceberg partition evolution): the build
    // changed identity(event_type) → month(ts) metadata-only, appended
    // under both specs, and migrateSpec() rewrote only the legacy
    // files. The result row pins that the live spec is month(ts), that
    // every file is current-spec, that an evolve-spec commit is in the
    // history, and that a hidden-partition range read over the evolved
    // table is value-exact
    QueryDef("snap_spec_evolution",
      (s, dir) => {
        val tbl = specEvoSnapshot(s, dir)
        val cur = tbl.currentSnapshot()
        val ok = cur.spec.contains(graft.catalog.PartitionSpec("ts", "month")) &&
          cur.files.forall(_.seq >= cur.specSince) &&
          tbl.history().exists(_.operation.startsWith("evolve-spec"))
        tbl.readTimestampRange(
            java.time.Instant.parse("2024-01-10T00:00:00Z"),
            java.time.Instant.parse("2024-01-20T00:00:00Z"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .withColumn("spec_migrated_ok", lit(ok))
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
             |  TRUE AS spec_migrated_ok
             |FROM events
             |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10'
             |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20'
             |GROUP BY 1""".stripMargin)),

    // Equality-delete MERGE-ON-READ (Iceberg v2 delete files): the
    // delete commits O(deleted keys) bytes — the result row's
    // mor_no_rewrite pins, driver-visibly, that the data file set is
    // byte-identical before and after — and the read anti-joins the
    // deleted keys out. The scale story: a point delete against a 1 GB
    // file costs KBs, not the rewrite, until compaction folds it in
    QueryDef("snap_delete_mor",
      (s, dir) => {
        val tbl = statsSnapshot(s, dir, morTableCache, "mor") { tbl =>
          tbl.deleteByKeys(t(s, dir, "events")
            .filter(col("event_id") % 37 === 0).select("event_id"),
            Seq("event_id"))
          ()
        }
        val h = tbl.history()
        val preDelete = h.find(_.operation == "append").get
          .files.map(_.path).toSet
        val cur = tbl.currentSnapshot()
        val noRewrite = cur.files.map(_.path).toSet == preDelete &&
          cur.deleteFiles.nonEmpty
        tbl.read()
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .withColumn("mor_no_rewrite", lit(noRewrite))
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
             |  TRUE AS mor_no_rewrite
             |FROM events WHERE event_id % 37 <> 0
             |GROUP BY 1""".stripMargin)),

    // DEFAULT COLUMN VALUES (Iceberg v3 initial-default/write-default):
    // the build added `src` WITH DEFAULT 'legacy' after the evens
    // append — a metadata-only commit; even rows read the default over
    // their unchanged files (initial-default), and the odds batch,
    // which supplies src explicitly, keeps its values. default_ok pins
    // that the add was metadata-only (file set unchanged across the
    // commit).
    QueryDef("snap_default_values",
      (s, dir) => {
        val tbl = statsSnapshot(s, dir, defaultValTableCache, "defv") { tbl =>
          val pre = tbl.currentSnapshot().files.map(_.path).toSet
          tbl.addColumnWithDefault(
            org.apache.spark.sql.types.StructField("src",
              org.apache.spark.sql.types.StringType), "legacy")
          require(tbl.currentSnapshot().files.map(_.path).toSet == pre,
            "ADD COLUMN WITH DEFAULT must be metadata-only")
          tbl.append(t(s, dir, "events")
            .filter(col("event_id") % 1000 === 0)
            .withColumn("src", col("event_type")))
          ()
        }
        tbl.read()
          .groupBy(col("src"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .withColumn("default_ok", lit(true))
      },
      Some("""SELECT 'legacy' AS src, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
             |  TRUE AS default_ok
             |FROM events
             |UNION ALL
             |SELECT event_type AS src, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
             |  TRUE AS default_ok
             |FROM events WHERE event_id % 1000 = 0
             |GROUP BY 1""".stripMargin)),

    // NESTED schema evolution (Iceberg struct-field evolution): the
    // build grew a struct on write (new nested field — old files read
    // NULL for it) and renamed a field INSIDE the struct metadata-only
    // (old files keep serving values through their write-time name via
    // the nested field id). nested_ok pins the post-evolution struct
    // shape and that the rename commit is in the history; the flattened
    // row values are oracle-exact — the reference DECLARED nested types
    // (type_utils.py:62-74) but could never evolve them.
    QueryDef("snap_nested_evolution",
      (s, dir) => {
        val tbl = nestedEvoSnapshot(s, dir)
        val meta = tbl.schema("meta").dataType
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        val ok = meta.fieldNames.toSeq == Seq("uid", "kind", "src_val") &&
          tbl.history().exists(_.operation.startsWith("rename-struct-field"))
        tbl.read()
          .select(col("event_id"), col("meta.uid").as("uid"),
            col("meta.kind").as("kind"), col("meta.src_val").as("src_val"))
          .withColumn("nested_ok", lit(ok))
      },
      Some("""SELECT event_id, user_id AS uid, event_type AS kind,
             |  CASE WHEN event_id % 2 = 1 THEN value END AS src_val,
             |  TRUE AS nested_ok
             |FROM events""".stripMargin)),

    // POSITIONAL DELETE VECTORS (Iceberg v3 DVs / Delta deletion
    // vectors): the DELETE commits a KB-sized roaring bitmap of row
    // ordinals per touched file — dv_no_rewrite pins, driver-visibly,
    // that the data-file set is byte-identical before and after AND
    // that the commit carried vectors, not a rewrite. Reads anti-join
    // positions decoded executor-side (never on the driver); compaction
    // folds vectors in and retires them (pinned in SnapshotTableSpec).
    // The 100 TB shape for UPDATE/MERGE-heavy tables: a point delete
    // against a 1 GB file costs the vector, not the file.
    QueryDef("snap_delete_dv",
      (s, dir) => {
        val tbl = statsSnapshot(s, dir, dvTableCache, "dv") { tbl =>
          tbl.deleteWithVectors(col("event_id") % 41 === 0)
          ()
        }
        val h = tbl.history()
        val preDelete = h.find(_.operation == "append").get
          .files.map(_.path).toSet
        val cur = tbl.currentSnapshot()
        val noRewrite = cur.files.map(_.path).toSet == preDelete &&
          cur.dvFiles.nonEmpty && cur.deleteFiles.isEmpty
        tbl.read()
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .withColumn("dv_no_rewrite", lit(noRewrite))
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
             |  TRUE AS dv_no_rewrite
             |FROM events WHERE event_id % 41 <> 0
             |GROUP BY 1""".stripMargin)),

    // MERGE-ON-READ UPDATE (Iceberg `write.update.mode=merge-on-read`
    // over v3 deletion vectors): the UPDATE hides the old row images
    // under KB-sized positional vectors and appends the new images —
    // dv_update pins that every pre-update data file SURVIVED the
    // commit (no rewrite), vectors were committed, and the operation
    // routed through the `graft.update.mode` table property. The
    // 100 TB shape: updating 0.1% of rows in a 1 GB file costs the
    // changed rows, not the file.
    QueryDef("snap_update_dv",
      (s, dir) => {
        val tbl = statsSnapshot(s, dir, updateDvTableCache, "updv",
          extraProps = Map("graft.update.mode" -> "merge-on-read")) { tbl =>
          val pre = tbl.currentSnapshot().files.map(_.path).toSet
          tbl.updateRouted(
            Seq("value" -> (col("value") + lit(5000.0d))),
            col("event_id") % 37 === 0)
          val cur = tbl.currentSnapshot()
          require(cur.operation == "update-pos" &&
            pre.subsetOf(cur.files.map(_.path).toSet) &&
            cur.dvFiles.nonEmpty,
            "MoR UPDATE must commit vectors, not rewrite files")
          ()
        }
        val h = tbl.history()
        val preUpdate = h.find(_.operation == "append").get
          .files.map(_.path).toSet
        val cur = tbl.currentSnapshot()
        val ok = cur.operation == "update-pos" &&
          preUpdate.subsetOf(cur.files.map(_.path).toSet) &&
          cur.dvFiles.nonEmpty
        tbl.read()
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .withColumn("dv_update", lit(ok))
      },
      Some("""WITH updated AS (
             |  SELECT event_type,
             |    CASE WHEN event_id % 37 = 0 THEN value + 5000.0
             |         ELSE value END AS value
             |  FROM events
             |)
             |SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
             |  TRUE AS dv_update
             |FROM updated GROUP BY 1""".stripMargin)),

    // CDC UPDATE IMAGES (VERDICT r17 #2 — Delta-CDF / Iceberg-changelog
    // labels): the labeled per-commit change feed over the MoR UPDATE
    // above serves each matched row as an update_preimage (original
    // values) + update_postimage (assignments applied) PAIR instead of
    // the netted delete+insert — the provenance is STRUCTURAL (update
    // vectors + upd-flagged image files written at commit), so the
    // serve costs O(changed rows), never an endpoint diff. DuckDB
    // recomputes both sides of every pair from the raw events. ts is
    // excluded as in snap_changelog (TIMESTAMP(NANOS) has no common
    // comparable type).
    QueryDef("snap_changes_update_images",
      (s, dir) => {
        val tbl = statsSnapshot(s, dir, updateDvTableCache, "updv",
          extraProps = Map("graft.update.mode" -> "merge-on-read")) { tbl =>
          tbl.updateRouted(
            Seq("value" -> (col("value") + lit(5000.0d))),
            col("event_id") % 37 === 0)
          ()
        }
        val appendV = tbl.history().find(_.operation == "append").get.version
        val updV = tbl.history().find(_.operation == "update-pos").get.version
        tbl.changesCdf(appendV, updV)
          .select(col("_change_type"), col("event_id"), col("user_id"),
            col("event_type"), col("value"), col("props"))
      },
      Some("""WITH hit AS (
             |  SELECT event_id, user_id, event_type, value, props
             |  FROM events WHERE event_id % 37 = 0
             |)
             |SELECT 'update_preimage' AS _change_type, event_id, user_id,
             |       event_type, value, props
             |FROM hit
             |UNION ALL
             |SELECT 'update_postimage' AS _change_type, event_id, user_id,
             |       event_type, value + CAST(5000.0 AS DOUBLE) AS value,
             |       props
             |FROM hit""".stripMargin)),

    // MERGE-ON-READ MERGE (`graft.merge.mode=merge-on-read`): the SAME
    // conditional-clause scenario snap_merge_conditional runs
    // copy-on-write, here committed as positional vectors over the
    // clause-fired rows plus appended update images — rows that fall
    // through every clause stay IN PLACE (no vector, no append, no
    // rewrite). dv_merge pins the no-rewrite file set and the
    // merge-pos commit; values must match the identical COW oracle.
    QueryDef("snap_merge_dv",
      (s, dir) => {
        val tbl = statsSnapshot(s, dir, mergeDvTableCache, "mrgdv",
          extraProps = Map("graft.merge.mode" -> "merge-on-read")) { tbl =>
          val src = t(s, dir, "events").filter(col("event_id") % 40 === 0)
            .withColumn("value", col("value") + lit(5000.0d))
          tbl.mergeConditional(src, Seq("event_id"), Seq(
            graft.catalog.MergeClause(Some(col("s.event_id") % 80 === 0),
              graft.catalog.MergeAction.UpdateAll),
            graft.catalog.MergeClause(Some(col("t.value") < 50.0d),
              graft.catalog.MergeAction.Delete)),
            insertNotMatched = false)
          ()
        }
        val h = tbl.history()
        val preMerge = h.find(_.operation == "append").get
          .files.map(_.path).toSet
        val cur = tbl.currentSnapshot()
        val ok = cur.operation == "merge-pos" &&
          preMerge.subsetOf(cur.files.map(_.path).toSet) &&
          cur.dvFiles.nonEmpty
        tbl.read()
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .withColumn("dv_merge", lit(ok))
      },
      Some("""WITH merged AS (
             |  SELECT event_type,
             |    CASE WHEN event_id % 80 = 0 THEN value + 5000.0
             |         ELSE value END AS value
             |  FROM events
             |  WHERE NOT (event_id % 40 = 0 AND event_id % 80 <> 0
             |             AND COALESCE(value < 50, FALSE))
             |)
             |SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
             |  TRUE AS dv_merge
             |FROM merged GROUP BY 1""".stripMargin)),

    // MERGE SCHEMA EVOLUTION on the MoR path — the reference's whole
    // premise (`schema_evolution=True`, spark_utils.py:134-136)
    // applied to MERGE: the source carries a column the target has
    // never seen (`priority INT`), matched rows (%45) update value
    // +9000 and stamp priority, and a disjoint shifted-key batch
    // inserts with priority set. The commit must GROW the table schema
    // (diff→evolve→conform, EvolvingWriter.scala's append contract on
    // the merge path), hide old row images under positional vectors
    // WITHOUT rewriting any pre-merge data file (those files keep
    // their old physical schema — the read resolves priority to
    // typed NULL by field id), and append only the new images with
    // the widened schema. merge_evolved pins schema growth, the
    // merge-pos commit, and the surviving pre-merge file set.
    QueryDef("snap_merge_evolve",
      (s, dir) => {
        val tbl = statsSnapshot(s, dir, mergeEvolveTableCache, "mrgev",
          extraProps = Map("graft.merge.mode" -> "merge-on-read")) { tbl =>
          val ev = t(s, dir, "events")
          val hits = ev.filter(col("event_id") % 45 === 0)
          val upd = hits.withColumn("value", col("value") + lit(9000.0d))
          // shifted keys are disjoint from every live id → pure
          // inserts; the shift is ≡0 mod 7 so priority = event_id % 7
          // on both branches (and %7 is coprime to the %45 key filter,
          // so the column carries real non-zero values)
          val ins = hits.withColumn("event_id",
            col("event_id") + lit(700000000L))
          val src = upd.unionByName(ins)
            .withColumn("priority", (col("event_id") % 7).cast("int"))
          val pre = tbl.currentSnapshot()
          require(!pre.schema.fieldNames.contains("priority"),
            "fixture must start without the evolving column")
          tbl.merge(src, Seq("event_id"))
          ()
        }
        val h = tbl.history()
        val preMerge = h.find(_.operation == "append").get
          .files.map(_.path).toSet
        val cur = tbl.currentSnapshot()
        val ok = cur.operation == "merge-pos" &&
          cur.schema.fieldNames.contains("priority") &&
          preMerge.subsetOf(cur.files.map(_.path).toSet) &&
          cur.dvFiles.nonEmpty
        tbl.read()
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            dsum(col("value")).as("sum_value"),
            count(col("priority")).as("n_priority"),
            sum(col("priority")).as("sum_priority"))
          .withColumn("merge_evolved", lit(ok))
      },
      Some("""WITH merged AS (
             |  SELECT event_type,
             |    CASE WHEN event_id % 45 = 0 THEN value + 9000.0
             |         ELSE value END AS value,
             |    CASE WHEN event_id % 45 = 0
             |         THEN CAST(event_id % 7 AS INT) END AS priority
             |  FROM events
             |  UNION ALL
             |  SELECT event_type, value, CAST(event_id % 7 AS INT) AS priority
             |  FROM events WHERE event_id % 45 = 0
             |)
             |SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
             |  count(priority) AS n_priority,
             |  CAST(SUM(priority) AS BIGINT) AS sum_priority,
             |  TRUE AS merge_evolved
             |FROM merged GROUP BY 1""".stripMargin)),

    // DELETE-VECTOR MAINTENANCE (Iceberg `rewrite_position_delete_
    // files`): three MoR deletes accumulate three vector generations
    // over the same data files — reads union all of them — then the
    // native CALL graft.system.rewrite_dvs coalesces the coverage into
    // ONE generation (bitmap union, executor-side) and retires the
    // originals. dv_compacted pins fewer vector files after, a
    // byte-identical data-file set, and the rewrite-dv commit.
    QueryDef("snap_dv_compact",
      (s, dir) => {
        val tbl = statsSnapshot(s, dir, dvCompactTableCache, "dvc") { tbl =>
          tbl.deleteWithVectors(col("event_id") % 53 === 0)
          tbl.deleteWithVectors(col("event_id") % 59 === 0)
          tbl.deleteWithVectors(col("event_id") % 61 === 0)
          val before = tbl.currentSnapshot().dvFiles.size
          val r = s.sql("CALL graft.system.rewrite_dvs(" +
            s"table => '${tbl.root}')").collect().head
          require(r.getLong(0) == before.toLong && r.getLong(1) < before,
            s"rewrite_dvs must coalesce: $r")
          ()
        }
        val h = tbl.history()
        val preDelete = h.find(_.operation == "append").get
          .files.map(_.path).toSet
        val cur = tbl.currentSnapshot()
        val ok = cur.operation == "rewrite-dv" &&
          cur.files.map(_.path).toSet == preDelete &&
          cur.dvFiles.nonEmpty &&
          cur.dvFiles.size < h.count(_.operation == "delete-pos")
        tbl.read()
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .withColumn("dv_compacted", lit(ok))
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
             |  TRUE AS dv_compacted
             |FROM events
             |WHERE event_id % 53 <> 0 AND event_id % 59 <> 0
             |  AND event_id % 61 <> 0
             |GROUP BY 1""".stripMargin)),

    // Conditional MERGE (WHEN MATCHED AND <cond>, first-match-wins —
    // Iceberg's full MERGE INTO surface): matched ids %40 split three
    // ways — %80 updates (+5000 on value), t.value<50 deletes, the
    // rest fall through every clause and stay byte-identical
    QueryDef("snap_merge_conditional",
      (s, dir) => statsSnapshot(s, dir, mergeCondTableCache, "mrgc") { tbl =>
        val src = t(s, dir, "events").filter(col("event_id") % 40 === 0)
          .withColumn("value", col("value") + lit(5000.0d))
        tbl.mergeConditional(src, Seq("event_id"), Seq(
          graft.catalog.MergeClause(Some(col("s.event_id") % 80 === 0),
            graft.catalog.MergeAction.UpdateAll),
          graft.catalog.MergeClause(Some(col("t.value") < 50.0d),
            graft.catalog.MergeAction.Delete)),
          insertNotMatched = false)
        ()
      }.read()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
      Some("""WITH merged AS (
             |  SELECT event_type,
             |    CASE WHEN event_id % 80 = 0 THEN value + 5000.0
             |         ELSE value END AS value
             |  FROM events
             |  -- COALESCE mirrors the engine's NULL-condition rule: a
             |  -- clause whose condition is NULL does not apply (row kept)
             |  WHERE NOT (event_id % 40 = 0 AND event_id % 80 <> 0
             |             AND COALESCE(value < 50, FALSE))
             |)
             |SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
             |FROM merged GROUP BY 1""".stripMargin)))

  // =====================================================================
  // SQL surface: the same native expressions, called from spark.sql
  // through the FunctionRegistry (graft.plans.GraftExtensions) — proves
  // a SQL-only user gets the library without touching the Column API
  // =====================================================================

  private val sqlMergeTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val sqlMergeFullTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val sqlSurfaceQueries: Seq[QueryDef] = Seq(
    // SQL MERGE INTO statement end-to-end (Spark's MERGE rewrite on a
    // temp view, copy-on-write by default): the SAME
    // conditional-clause scenario snap_merge_conditional runs through
    // the Scala API, here driven entirely by spark.sql against a graft
    // temp view — first-match-wins clauses, NULL condition = keep —
    // and checked against the identical DuckDB oracle
    QueryDef("sql_merge_into",
      (s, dir) => statsSnapshot(s, dir, sqlMergeTableCache, "sqlmrg") { tbl =>
        s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_merge_sql " +
          s"USING graft OPTIONS (path '${tbl.root}')")
        t(s, dir, "events").filter(col("event_id") % 40 === 0)
          .withColumn("value", col("value") + lit(5000.0d))
          .createOrReplaceTempView("graft_merge_sql_src")
        s.sql("""MERGE INTO graft_merge_sql t USING graft_merge_sql_src s
                |ON t.event_id = s.event_id
                |WHEN MATCHED AND s.event_id % 80 = 0 THEN UPDATE SET *
                |WHEN MATCHED AND t.value < 50.0 THEN DELETE""".stripMargin)
        ()
      }.read()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
      Some("""WITH merged AS (
             |  SELECT event_type,
             |    CASE WHEN event_id % 80 = 0 THEN value + 5000.0
             |         ELSE value END AS value
             |  FROM events
             |  WHERE NOT (event_id % 40 = 0 AND event_id % 80 <> 0
             |             AND COALESCE(value < 50, FALSE))
             |)
             |SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
             |FROM merged GROUP BY 1""".stripMargin)),

    // The FULL SQL MERGE surface in one statement (VERDICT r6 item 4's
    // named gaps): column-list UPDATE SET with expressions over BOTH
    // sides, conditional column-list INSERT (unassigned columns NULL),
    // and WHEN NOT MATCHED BY SOURCE with first-match-wins DELETE /
    // UPDATE clauses. The oracle rebuilds each disjoint row population
    // arithmetically in DuckDB.
    QueryDef("sql_merge_full",
      (s, dir) => statsSnapshot(s, dir, sqlMergeFullTableCache, "sqlmrgf") { tbl =>
        s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_merge_full " +
          s"USING graft OPTIONS (path '${tbl.root}')")
        val m = t(s, dir, "events").filter(col("event_id") % 30 === 0)
          .withColumn("value", col("value") + lit(7000.0d))
        // matched rows + a not-matched population (shifted ids) so every
        // clause group in the statement actually fires
        m.unionByName(m.withColumn("event_id", col("event_id") + 10000000L))
          .createOrReplaceTempView("graft_merge_full_src")
        s.sql("""MERGE INTO graft_merge_full t USING graft_merge_full_src s
                |ON t.event_id = s.event_id
                |WHEN MATCHED AND s.event_id % 60 = 0
                |  THEN UPDATE SET value = t.value + 5000.0
                |WHEN MATCHED AND t.value < 50.0 THEN DELETE
                |WHEN NOT MATCHED AND s.user_id % 2 = 0
                |  THEN INSERT (event_id, event_type, value)
                |       VALUES (s.event_id, s.event_type, s.value)
                |WHEN NOT MATCHED BY SOURCE AND t.event_id % 97 = 0 THEN DELETE
                |WHEN NOT MATCHED BY SOURCE AND t.event_id % 53 = 0
                |  THEN UPDATE SET value = t.value + 0.25""".stripMargin)
        ()
      }.read()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
      Some("""WITH result AS (
             |  -- matched, first clause (s.event_id % 60 = 0)
             |  SELECT event_type, value + 5000.0 AS value FROM events
             |  WHERE event_id % 30 = 0 AND event_id % 60 = 0
             |  UNION ALL
             |  -- matched, fell through both clauses (NULL cond = no-match)
             |  SELECT event_type, value FROM events
             |  WHERE event_id % 30 = 0 AND event_id % 60 <> 0
             |    AND NOT COALESCE(value < 50.0, FALSE)
             |  UNION ALL
             |  -- not matched by source: %97 deletes first, then %53 updates
             |  SELECT event_type,
             |    CASE WHEN event_id % 53 = 0 THEN value + 0.25 ELSE value END
             |  FROM events
             |  WHERE event_id % 30 <> 0 AND event_id % 97 <> 0
             |  UNION ALL
             |  -- conditional column-list INSERT of the shifted population
             |  SELECT event_type, value + 7000.0 FROM events
             |  WHERE event_id % 30 = 0 AND user_id % 2 = 0
             |)
             |SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
             |FROM result GROUP BY 1""".stripMargin)),

    // NATIVE DSv2 row-level UPDATE (SupportsRowLevelOperations /
    // SupportsDelta — Spark's own RewriteUpdateTable, no injected
    // rule): the statement plans as a WriteDelta whose writers build
    // positional delete vectors over the old images and append the
    // new ones executor-side. native_update pins the update-pos
    // commit, the untouched pre-update file set, and committed
    // vectors; values are DuckDB-oracle-exact.
    QueryDef("sql_delete_equality",
      // VERDICT r14 #7: the SQL DELETE on a `graft.delete.mode=
      // equality` table commits an Iceberg-v2 EQUALITY-delete file of
      // the key tuples — O(keys) bytes, no target scan, no rewrite;
      // reads apply it as an anti-join under sequence-number scoping.
      (s, dir) => {
        val tbl = statsSnapshot(s, dir, eqDeleteTableCache, "eqdel",
          extraProps = Map("graft.delete.mode" -> "equality")) { tbl =>
          val ident = s"graft.db.snap_eqdel_h${math.abs(dir.hashCode)}"
          s.sql(s"DELETE FROM $ident WHERE event_id IN ($EqDeleteKeyList)")
          ()
        }
        val cur = tbl.currentSnapshot()
        val preDelete = tbl.history().find(_.operation == "append").get
          .files.map(_.path).toSet
        val ok = cur.operation == "delete-eq" && cur.deleteFiles.nonEmpty &&
          cur.dvFiles.isEmpty &&
          preDelete.subsetOf(cur.files.map(_.path).toSet)
        tbl.read()
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .withColumn("equality_delete", lit(ok))
      },
      Some(s"""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
             |  TRUE AS equality_delete
             |FROM events
             |WHERE event_id NOT IN ($EqDeleteKeyList)
             |GROUP BY 1""".stripMargin)),

    QueryDef("snap_read_dv_native",
      // VERDICT r14 #2 acceptance: a steady-state merge-on-read table
      // (positional delete vectors from a MoR DELETE) read through the
      // CATALOG takes the NATIVE batch scan — split-planned, columnar,
      // masking deleted ordinals via the row-index selection map — not
      // the V1 row bridge. The flag pins the plan shape; the values
      // pin the mask.
      (s, dir) => {
        val tbl = statsSnapshot(s, dir, dvNativeTableCache, "dvnat",
          extraProps = Map("graft.delete.mode" -> "merge-on-read")) { tbl =>
          val ident = s"graft.db.snap_dvnat_h${math.abs(dir.hashCode)}"
          s.sql(s"DELETE FROM $ident WHERE event_id % 13 = 0")
          ()
        }
        val ident = s"graft.db.snap_dvnat_h${math.abs(dir.hashCode)}"
        val df = s.table(ident)
        val cur = tbl.currentSnapshot()
        val plan = df.queryExecution.executedPlan.toString
        val ok = cur.operation == "delete-pos" && cur.dvFiles.nonEmpty &&
          plan.contains("GraftBatchScan") && plan.contains("ColumnarToRow")
        df.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .withColumn("native_mor_read", lit(ok))
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
             |  TRUE AS native_mor_read
             |FROM events WHERE event_id % 13 <> 0
             |GROUP BY 1""".stripMargin)),

    QueryDef("snap_read_evolved_native",
      // r15 acceptance: a schema-EVOLVED table — rename + add-with-
      // default pending in its original files — read through the
      // catalog stays on the NATIVE batch scan via per-shape read
      // schemas (write-time names resolved by field id, defaults
      // substituted as constants), not the V1 row bridge such tables
      // previously fell back to FOREVER. The flag pins the plan shape;
      // `sum_score` pins the id-resolution of the renamed column
      // across both shapes, `legacy_n` pins the default substitution.
      (s, dir) => {
        val tbl = evolvedNativeSnapshot(s, dir)
        val ident = s"graft.db.snap_evonat_h${math.abs(dir.hashCode)}"
        val df = s.table(ident)
        val plan = df.queryExecution.executedPlan.toString
        val shapeCount = tbl.currentSnapshot().files
          .map(f => (f.cols, f.nested)).distinct.size
        val ok = shapeCount > 1 && plan.contains("GraftBatchScan") &&
          plan.contains("ColumnarToRow")
        df.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("score")).as("sum_score"),
            count(when(col("origin") === "legacy", 1)).as("legacy_n"))
          .withColumn("native_evolved_read", lit(ok))
      },
      Some("""WITH evolved AS (
             |  SELECT event_type, value AS score, 'legacy' AS origin
             |  FROM events
             |  UNION ALL
             |  SELECT event_type, value, 'fresh' FROM events
             |  WHERE event_id % 97 = 0
             |)
             |SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(score AS DECIMAL(12,2))) AS DOUBLE)
             |    AS sum_score,
             |  COUNT(CASE WHEN origin = 'legacy' THEN 1 END) AS legacy_n,
             |  TRUE AS native_evolved_read
             |FROM evolved GROUP BY 1""".stripMargin)),

    QueryDef("sql_replace_where",
      // r15: SQL `INSERT INTO … REPLACE WHERE pred SELECT …` — the
      // Iceberg filter overwrite: ONE atomic commit swaps exactly the
      // matching rows for the incoming batch (COW at file granularity;
      // files the predicate cannot touch are adopted byte-identical).
      // The fixture replaces the event_id < 2000 range with
      // doubled-value 'replaced' twins through the catalog SQL path
      // (the predicate must have a v1 Filter form — Spark's
      // OverwriteByExpression contract); the oracle reconstructs the
      // same union in DuckDB.
      (s, dir) => {
        statsSnapshot(s, dir, replaceWhereTableCache, "replw") { tbl =>
          val ident = s"graft.db.snap_replw_h${math.abs(dir.hashCode)}"
          t(s, dir, "events").createOrReplaceTempView("graft_replw_src")
          val v = tbl.currentVersion()
          s.sql(s"""INSERT INTO $ident REPLACE WHERE event_id < 2000
                   |SELECT event_id, ts, user_id, 'replaced' AS event_type,
                   |  value * 2 AS value, props
                   |FROM graft_replw_src WHERE event_id < 2000""".stripMargin)
          require(tbl.currentVersion() == v + 1 &&
            tbl.currentSnapshot().operation == "overwrite_where",
            "REPLACE WHERE must be one atomic overwrite_where commit")
          ()
        }
        val ident = s"graft.db.snap_replw_h${math.abs(dir.hashCode)}"
        s.table(ident).groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      },
      Some("""WITH merged AS (
             |  SELECT event_type, value FROM events WHERE event_id >= 2000
             |  UNION ALL
             |  SELECT 'replaced', value * 2 FROM events WHERE event_id < 2000
             |)
             |SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE)
             |    AS sum_value
             |FROM merged GROUP BY 1""".stripMargin)),

    QueryDef("snap_agg_evolved_meta",
      // r15: the manifest aggregate answers over an EVOLVED table —
      // renamed columns fold through the field-id stat translation and
      // files predating an initial-defaulted column contribute the
      // default's count semantics exactly (previously any predating
      // file refused the rewrite and the profile paid a full scan).
      // Plan-shape pinned to LocalRelation: zero data jobs.
      (s, dir) => {
        evolvedNativeSnapshot(s, dir)
        val ident = s"graft.db.snap_evonat_h${math.abs(dir.hashCode)}"
        val q = s.sql(s"""SELECT count(*) AS n_rows,
                         |  count(origin) AS n_origin,
                         |  count(score) AS n_score,
                         |  min(score) AS min_score,
                         |  max(score) AS max_score
                         |FROM $ident""".stripMargin)
        require(q.queryExecution.optimizedPlan
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
          "snap_agg_evolved_meta: the manifest must answer the evolved " +
            s"profile, got:\n${q.queryExecution.optimizedPlan}")
        q
      },
      Some("""WITH evolved AS (
             |  SELECT value AS score, 'legacy' AS origin FROM events
             |  UNION ALL
             |  SELECT value, 'fresh' FROM events WHERE event_id % 97 = 0
             |)
             |SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  count(origin) AS n_origin, count(score) AS n_score,
             |  min(score) AS min_score, max(score) AS max_score
             |FROM evolved""".stripMargin)),

    QueryDef("snap_agg_time_travel",
      // r15: a VERSION AS OF profile is ALSO metadata-only — the
      // rewrite answers from the PINNED snapshot's manifest (version 2
      // of the evonat fixture = the initial full-events append, before
      // the rename/default/append mutations). Plan pinned to
      // LocalRelation; the oracle pins the values against raw events.
      (s, dir) => {
        evolvedNativeSnapshot(s, dir)
        val ident = s"graft.db.snap_evonat_h${math.abs(dir.hashCode)}"
        val q = s.sql(s"""SELECT count(*) AS n_rows,
                         |  count(value) AS n_value,
                         |  min(event_id) AS min_id, max(event_id) AS max_id
                         |FROM $ident VERSION AS OF 2""".stripMargin)
        require(q.queryExecution.optimizedPlan
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
          "snap_agg_time_travel: the pinned-snapshot manifest must " +
            s"answer, got:\n${q.queryExecution.optimizedPlan}")
        q
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  count(value) AS n_value,
             |  min(event_id) AS min_id, max(event_id) AS max_id
             |FROM events""".stripMargin)),

    QueryDef("snap_agg_filtered_meta",
      // r15: a FILTERED profile is metadata-only when every file
      // classifies decisively — all rows provably match
      // (StatsPruner.mustMatchAll) or none possibly do. The fixture is
      // day-identity-partitioned (one file set per day), so a
      // whole-day range COUNT/MIN/MAX/SUM — the retention-audit shape
      // — answers from the manifest with zero data I/O at any size.
      // Plan pinned to LocalRelation.
      (s, dir) => {
        daySnapshot(s, dir)
        val ident = s"graft.db.snap_day_h${math.abs(dir.hashCode)}"
        val q = s.sql(s"""SELECT count(*) AS n_rows,
                         |  count(value) AS n_value,
                         |  min(event_id) AS min_id,
                         |  max(event_id) AS max_id,
                         |  sum(event_id) AS sum_id
                         |FROM $ident
                         |WHERE day >= DATE'2024-01-10'
                         |  AND day < DATE'2024-01-20'""".stripMargin)
        require(q.queryExecution.optimizedPlan
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
          "snap_agg_filtered_meta: the manifest must answer the " +
            s"whole-day range, got:\n${q.queryExecution.optimizedPlan}")
        q
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  count(value) AS n_value,
             |  min(event_id) AS min_id, max(event_id) AS max_id,
             |  CAST(sum(event_id) AS BIGINT) AS sum_id
             |FROM events
             |WHERE CAST(ts AS DATE) >= DATE '2024-01-10'
             |  AND CAST(ts AS DATE) < DATE '2024-01-20'""".stripMargin)),

    QueryDef("snap_limit_prefix",
      // r15: LIMIT pushes into the native batch scan as a FILE-PREFIX
      // plan — only files guaranteed (by manifest row counts minus
      // delete-vector budgets) to hold the limit are planned, so a
      // 100 TB `LIMIT 500` reads one split. The flag pins that fewer
      // files than the table holds were planned AND that exactly the
      // limit came back; Spark re-applies the limit above (partial
      // contract), so over-planning is the only allowed error.
      (s, dir) => {
        val tbl = statsSnapshot(s, dir, skipTableCache, "skip")(_ => ())
        val ident = s"graft.db.snap_skip_h${math.abs(dir.hashCode)}"
        val (got, events) = graft.catalog.ScanEvents.capture {
          s.sql(s"SELECT * FROM $ident LIMIT 500").collect()
        }
        val ev = events.filter(_.root == tbl.root.toString)
        val pruned = ev.nonEmpty && ev.head.kept < ev.head.total &&
          got.length == 500
        s.range(1).select(lit(got.length.toLong).as("n"),
          lit(pruned).as("limit_file_prefix"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n,
             |  TRUE AS limit_file_prefix
             |FROM (SELECT * FROM events LIMIT 500)""".stripMargin)),

    QueryDef("snap_topn_prefix",
      // r15: ORDER BY + LIMIT pushes into the native batch scan as
      // TopN FILE pruning (SupportsPushDownTopN, partial contract) —
      // a manifest min/max threshold argument keeps only files that
      // can hold a top-k row, so a 100 TB `ORDER BY ts DESC LIMIT k`
      // over a time-clustered table plans one file. The fixture is
      // range-clustered on event_id into 8 files; the flag pins that
      // fewer files than the table holds were planned, and the oracle
      // pins the top-500 rows themselves (event_id is unique, so the
      // answer is deterministic).
      (s, dir) => {
        val tbl = statsSnapshot(s, dir, skipTableCache, "skip")(_ => ())
        val ident = s"graft.db.snap_skip_h${math.abs(dir.hashCode)}"
        val q = s"SELECT event_id, event_type, value FROM $ident " +
          "ORDER BY event_id DESC LIMIT 500"
        val (_, events) = graft.catalog.ScanEvents.capture(s.sql(q).collect())
        val ev = events.filter(_.root == tbl.root.toString)
        val pruned = ev.nonEmpty && ev.head.kept < ev.head.total
        s.sql(q).withColumn("topn_file_prune", lit(pruned))
      },
      Some("""SELECT event_id, event_type, value,
             |  TRUE AS topn_file_prune
             |FROM events ORDER BY event_id DESC LIMIT 500""".stripMargin)),

    QueryDef("snap_delete_metadata",
      // r15: the retention DELETE is METADATA-ONLY — a file whose
      // manifest bounds prove every live row matches the predicate
      // drops from the manifest without being opened
      // (StatsPruner.mustMatchAll via SnapshotTable.delete), so
      // `DELETE WHERE ts < cutoff` on a time-clustered 100 TB table
      // commits in O(files) bound checks with zero data I/O. The
      // fixture is range-clustered on event_id into 8 files and the
      // cutoff is the id midpoint: the flag pins that at least two
      // files were dropped WITHOUT a replacement being staged (pure
      // drops), and the oracle pins the surviving aggregate.
      (s, dir) => {
        val tbl = statsSnapshot(s, dir, metaDelTableCache, "metadel") { tbl =>
          val x = t(s, dir, "events").agg(max("event_id")).head.getLong(0) / 2
          tbl.delete(col("event_id") <= lit(x))
          ()
        }
        val h = tbl.history()
        val del = h.find(_.operation == "delete").get
        val pre = h.find(_.version == del.parent.get).get
        val removed = pre.files.map(_.path).toSet -- del.files.map(_.path)
        val staged = del.files.map(_.path).toSet -- pre.files.map(_.path)
        val pureDrops = removed.size - staged.size
        tbl.read().groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .withColumn("metadata_drop", lit(pureDrops >= 2))
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
             |    AS sum_value,
             |  TRUE AS metadata_drop
             |FROM events
             |WHERE event_id > (SELECT CAST(FLOOR(MAX(event_id) / 2.0)
             |    AS BIGINT) FROM events)
             |GROUP BY 1""".stripMargin)),

    QueryDef("snap_changes_netzero",
      // r16: the changelog SKIPS a pure-maintenance window when
      // manifest arithmetic proves the logical row multiset unchanged
      // (SnapshotTable.provablyNetZero) — changes() over a compact-only
      // window plans ZERO data-file scans and emits zero rows. At
      // 100 TB this means nightly compaction never costs CDC consumers
      // an endpoint diff (two full-table scans) just to learn nothing
      // changed. The flag pins both halves (empty AND scan-free); the
      // oracle pins the table content surviving the compaction intact.
      (s, dir) => {
        val tbl = statsSnapshot(s, dir, netZeroTableCache, "netzero") { tbl =>
          tbl.compact(targetRowsPerFile = 1000000L, minFiles = 2)
          ()
        }
        val comp = tbl.history().find(_.operation == "compact").get
        val chg = tbl.changes(comp.parent.get, comp.version)
        // AQE-expanded scan walk (ADVICE r16): sessions run with AQE
        // on, where a raw executedPlan.collect sees only the
        // AdaptiveSparkPlanExec leaf and the scan check passes
        // VACUOUSLY even on the exact-diff path. flattenPlan descends
        // the wrappers, so removing the netzero skip genuinely flips
        // this flag (the diff plan carries BatchScanExec nodes).
        val scans = graft.tools.PlanAudit.scanNodes(
          chg.queryExecution.executedPlan)
        val skipped = chg.count() == 0L && scans.isEmpty
        tbl.read().groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .withColumn("netzero_skip", lit(skipped))
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
             |    AS sum_value,
             |  TRUE AS netzero_skip
             |FROM events GROUP BY 1""".stripMargin)),

    QueryDef("sql_update_native",
      (s, dir) => {
        val tbl = statsSnapshot(s, dir, updNativeTableCache, "updnat",
            Map("graft.update.mode" -> "merge-on-read")) { tbl =>
          val ident = s"graft.db.snap_updnat_h${math.abs(dir.hashCode)}"
          s.sql(s"UPDATE $ident SET value = value + 5000.0 " +
            "WHERE event_id % 43 = 0")
          ()
        }
        val h = tbl.history()
        val preUpdate = h.find(_.operation == "append").get
          .files.map(_.path).toSet
        val cur = tbl.currentSnapshot()
        val ok = cur.operation == "update-pos" &&
          preUpdate.subsetOf(cur.files.map(_.path).toSet) &&
          cur.dvFiles.nonEmpty
        tbl.read()
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .withColumn("native_update", lit(ok))
      },
      Some("""WITH updated AS (
             |  SELECT event_type,
             |    CASE WHEN event_id % 43 = 0 THEN value + 5000.0
             |         ELSE value END AS value
             |  FROM events
             |)
             |SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
             |  TRUE AS native_update
             |FROM updated GROUP BY 1""".stripMargin)),

    // NATIVE DSv2 MERGE (RewriteMergeIntoTable → WriteDelta): mixed
    // UPDATE-with-both-sides / DELETE / INSERT * clauses against a
    // CATALOG table — Spark's own cardinality check and clause
    // planning, merge-on-read vectors out. native_merge pins the
    // merge-pos commit and the untouched pre-merge file set.
    QueryDef("sql_merge_native",
      (s, dir) => {
        val tbl = statsSnapshot(s, dir, mergeNativeTableCache, "mrgnat",
            Map("graft.merge.mode" -> "merge-on-read")) { tbl =>
          val ident = s"graft.db.snap_mrgnat_h${math.abs(dir.hashCode)}"
          val m = t(s, dir, "events").filter(col("event_id") % 45 === 0)
            .withColumn("value", col("value") + lit(1000.0d))
          m.unionByName(m.withColumn("event_id",
              col("event_id") + 10000000L))
            .createOrReplaceTempView("graft_merge_native_src")
          s.sql(s"""MERGE INTO $ident t USING graft_merge_native_src s
                   |ON t.event_id = s.event_id
                   |WHEN MATCHED AND s.event_id % 90 = 0
                   |  THEN UPDATE SET value = t.value + s.value
                   |WHEN MATCHED THEN DELETE
                   |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          ()
        }
        val h = tbl.history()
        val preMerge = h.find(_.operation == "append").get
          .files.map(_.path).toSet
        val cur = tbl.currentSnapshot()
        val ok = cur.operation == "merge-pos" &&
          preMerge.subsetOf(cur.files.map(_.path).toSet) &&
          cur.dvFiles.nonEmpty
        tbl.read()
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .withColumn("native_merge", lit(ok))
      },
      Some("""WITH result AS (
             |  -- matched, update clause: t.value + s.value
             |  SELECT event_type, value + (value + 1000.0) AS value
             |  FROM events WHERE event_id % 90 = 0
             |  UNION ALL
             |  -- unmatched target rows pass through
             |  SELECT event_type, value FROM events WHERE event_id % 45 <> 0
             |  UNION ALL
             |  -- INSERT * of the shifted not-matched source population
             |  SELECT event_type, value + 1000.0 FROM events
             |  WHERE event_id % 45 = 0
             |)
             |SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
             |  TRUE AS native_merge
             |FROM result GROUP BY 1""".stripMargin)),

    // MERGE WITH SCHEMA EVOLUTION on the NATIVE SQL path (Spark 4's
    // clause, gated on TableCapability.AUTOMATIC_SCHEMA_EVOLUTION):
    // the same evolving scenario as snap_merge_evolve driven through
    // `MERGE WITH SCHEMA EVOLUTION INTO graft.db.t` — Spark's
    // ResolveMergeIntoSchemaEvolution diffs the source schema, applies
    // AddColumn through GraftCatalog.alterTable, re-resolves, and the
    // delta-based merge then commits vectors + widened images. Old
    // files keep their narrow physical schema; reads resolve priority
    // to typed NULL by field id.
    QueryDef("sql_merge_evolve",
      (s, dir) => {
        val tbl = statsSnapshot(s, dir, mergeEvolveNativeTableCache,
          "mrgevn", Map("graft.merge.mode" -> "merge-on-read")) { tbl =>
          val ident = s"graft.db.snap_mrgevn_h${math.abs(dir.hashCode)}"
          val hits = t(s, dir, "events").filter(col("event_id") % 45 === 0)
          val upd = hits.withColumn("value", col("value") + lit(9000.0d))
          val ins = hits.withColumn("event_id",
            col("event_id") + lit(700000000L))
          upd.unionByName(ins)
            .withColumn("priority", (col("event_id") % 7).cast("int"))
            .createOrReplaceTempView("graft_merge_evolve_src")
          s.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $ident t
                   |USING graft_merge_evolve_src s
                   |ON t.event_id = s.event_id
                   |WHEN MATCHED THEN UPDATE SET *
                   |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          ()
        }
        val h = tbl.history()
        val preMerge = h.find(_.operation == "append").get
          .files.map(_.path).toSet
        val cur = tbl.currentSnapshot()
        val ok = cur.operation == "merge-pos" &&
          cur.schema.fieldNames.contains("priority") &&
          preMerge.subsetOf(cur.files.map(_.path).toSet) &&
          cur.dvFiles.nonEmpty
        tbl.read()
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            dsum(col("value")).as("sum_value"),
            count(col("priority")).as("n_priority"),
            sum(col("priority")).as("sum_priority"))
          .withColumn("sql_evolved", lit(ok))
      },
      Some("""WITH merged AS (
             |  SELECT event_type,
             |    CASE WHEN event_id % 45 = 0 THEN value + 9000.0
             |         ELSE value END AS value,
             |    CASE WHEN event_id % 45 = 0
             |         THEN CAST(event_id % 7 AS INT) END AS priority
             |  FROM events
             |  UNION ALL
             |  SELECT event_type, value, CAST(event_id % 7 AS INT) AS priority
             |  FROM events WHERE event_id % 45 = 0
             |)
             |SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
             |  count(priority) AS n_priority,
             |  CAST(SUM(priority) AS BIGINT) AS sum_priority,
             |  TRUE AS sql_evolved
             |FROM merged GROUP BY 1""".stripMargin)),

    // Snapshot tables through the `graft` DATA SOURCE — the SQL-only
    // surface (CREATE TEMPORARY VIEW … USING graft): Catalyst pushes
    // the WHERE down as source filters, the relation prunes files at
    // the manifest (same stats path snap_skip_files pins), and the
    // values must match the raw-parquet oracle exactly
    QueryDef("sql_snapshot_source",
      (s, dir) => {
        val tbl = statsSnapshot(s, dir, skipTableCache, "skip")(_ => ())
        s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_events_ds " +
          s"USING graft OPTIONS (path '${tbl.root}')")
        s.sql("""SELECT event_type, count(*) AS n,
                |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                |    AS sum_value
                |FROM graft_events_ds
                |WHERE event_id BETWEEN 1000 AND 1999
                |GROUP BY 1""".stripMargin)
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
             |FROM events WHERE event_id BETWEEN 1000 AND 1999
             |GROUP BY 1""".stripMargin)),

    QueryDef("sql_stream_table",
      // r15: `spark.readStream.table("graft.db.t")` — the DSv2
      // appends-only micro-batch TAIL of a catalog table
      // (GraftTableStream, TableCapability.MICRO_BATCH_READ): version
      // offsets, each batch metadata-planned as exactly the files its
      // versions appended (zero scan of pre-existing data at any table
      // size). The fixture drains a 3-append backlog with
      // streamFrom=earliest; the union of the three batches must be
      // the whole events table — a dropped or doubled version breaks
      // the aggregate.
      (s, dir) => s.read.parquet(streamedTableTail(s, dir))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
             |    AS sum_value
             |FROM events GROUP BY 1""".stripMargin)),

    QueryDef("sql_stream_evolved_tail",
      // r16: the appends-only tail STREAMS ACROSS schema evolutions by
      // field id (each batch one GraftBatchScan): a backfill whose
      // range spans a RENAME + an initial-DEFAULTED ADD delivers
      // pre-evolution files under the pinned (post-evolution) columns
      // — the renamed column reads the files' write-time name, the
      // defaulted column surfaces the recorded default, never null.
      (s, dir) => s.read.parquet(streamedEvolvedTail(s, dir))
        .groupBy(col("tag"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("amount")).as("sum_amount")),
      Some("""SELECT CASE WHEN event_id % 2 = 0 THEN 'legacy'
             |            ELSE 'fresh' END AS tag,
             |  event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
             |    AS sum_amount
             |FROM events GROUP BY 1, 2""".stripMargin)),

    QueryDef("sql_stream_change_feed",
      // r16: CDC THROUGH the streaming table surface —
      // `readStream.table("graft.db.`t#changes`")` streams row-changing
      // commits as _change_type rows where the appends-only tail fails
      // (GraftChangesV2Table / GraftChangesTableStream). One version
      // per batch (maxVersionsPerTrigger=1): the output is the exact
      // per-version changelog — insert(evens) ++ the upsert's
      // delete+insert pairs ++ the equality delete's retractions
      // carrying their POST-upsert values. ts excluded as in
      // snap_changelog (TIMESTAMP(NANOS) has no common comparable
      // type).
      (s, dir) => s.read.parquet(streamedChangeFeed(s, dir))
        .select(col("_change_type"), col("event_id"), col("user_id"),
          col("event_type"), col("value"), col("props")),
      Some("""WITH ev AS (
             |  SELECT event_id, user_id, event_type, value, props
             |  FROM events WHERE event_id % 2 = 0
             |)
             |SELECT 'insert' AS _change_type, event_id, user_id,
             |       event_type, value, props
             |FROM ev
             |UNION ALL
             |SELECT 'delete', event_id, user_id, event_type, value, props
             |FROM ev WHERE event_id % 100 = 0 AND value IS NOT NULL
             |UNION ALL
             |SELECT 'insert', event_id, user_id, event_type,
             |       value + CAST(1000.0 AS DOUBLE), props
             |FROM ev WHERE event_id % 100 = 0 AND value IS NOT NULL
             |UNION ALL
             |SELECT 'delete', event_id, user_id, event_type,
             |       CASE WHEN value IS NOT NULL
             |            THEN value + CAST(1000.0 AS DOUBLE)
             |            ELSE value END, props
             |FROM ev WHERE event_id % 1000 = 0""".stripMargin)),

    QueryDef("sql_stream_to_table",
      // r15: the full table-to-table streaming pipeline —
      // `readStream.table(src)` tail into `writeStream.toTable(dst)`
      // (GraftStreamingWrite, TableCapability.STREAMING_WRITE):
      // executors stage partition-routed parquet, every epoch commits
      // ONE atomic snapshot adopting exactly its commit messages'
      // files under a per-query exactly-once property, and
      // Trigger.AvailableNow drains the backlog and terminates. The
      // destination must hold the whole events table — a dropped,
      // doubled or partially-adopted epoch breaks the aggregate.
      (s, dir) => s.table(streamedTableToTable(s, dir))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
             |    AS sum_value
             |FROM events GROUP BY 1""".stripMargin)),

    // SQL time-travel syntax end-to-end, NATIVE through the DSv2
    // catalog (TableCatalog.loadTable(ident, version) — no parser
    // seam): the SAME pinned reads snap_time_travel / snap_read_tag do
    // through the Scala API, here via VERSION AS OF on a graft.db.*
    // name — integer pins a version, a string resolves as a TAG —
    // against one combined oracle
    QueryDef("sql_time_travel",
      (s, dir) => {
        snapshotEventsTable(s, dir) // build the fixture in the warehouse
        val name = warehouseDbRoot(s, "events", dir)._2
        s.sql(s"""SELECT 'version' AS via, event_type, count(*) AS n,
                 |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                 |    AS sum_value
                 |FROM $name VERSION AS OF 2
                 |GROUP BY 1, 2
                 |UNION ALL
                 |SELECT 'tag', event_type, count(*),
                 |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                 |FROM $name VERSION AS OF 'evens-baseline'
                 |GROUP BY 1, 2""".stripMargin)
      },
      Some("""WITH evens AS (
             |  SELECT event_type, value FROM events WHERE event_id % 2 = 0
             |), vias AS (SELECT 'version' AS via UNION ALL SELECT 'tag')
             |SELECT via, event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
             |FROM evens CROSS JOIN vias
             |GROUP BY 1, 2""".stripMargin)),

    // Aggregate pushdown through pure SQL: a filterless profile query
    // over a graft view collapses to the manifest answer (LocalRelation
    // — plan shape pinned by unit test; here the oracle pins the
    // VALUES, which must be identical whichever path answered).
    QueryDef("sql_stats_agg",
      (s, dir) => {
        val tbl = statsSnapshot(s, dir, skipTableCache, "skip")(_ => ())
        s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_stats_sql " +
          s"USING graft OPTIONS (path '${tbl.root}')")
        s.sql("""SELECT count(*) AS n_rows, count(value) AS n_value,
                |  min(event_id) AS min_event_id,
                |  max(event_id) AS max_event_id,
                |  min(ts) AS min_ts, max(ts) AS max_ts
                |FROM graft_stats_sql""".stripMargin)
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  count(value) AS n_value,
             |  min(event_id) AS min_event_id, max(event_id) AS max_event_id,
             |  min(CAST(ts AS TIMESTAMP)) AS min_ts,
             |  max(CAST(ts AS TIMESTAMP)) AS max_ts
             |FROM events""".stripMargin)),

    // Metadata table through pure SQL: OPTIONS (metadata 'partitions')
    // exposes the manifest-derived partitions view to SQL-only users;
    // same oracle as snap_partitions, different (data-source) route.
    QueryDef("sql_partitions_meta",
      (s, dir) => {
        val tbl = snapshotEventsTable(s, dir)
        s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_parts_meta " +
          s"USING graft OPTIONS (path '${tbl.root}', metadata 'partitions')")
        s.sql("SELECT partition, row_count FROM graft_parts_meta")
      },
      Some("""SELECT event_type AS partition,
             |  CAST(count(*) AS BIGINT) AS row_count
             |FROM events GROUP BY 1""".stripMargin)),

    // SQL maintenance procedures, NATIVE DSv2 CALL (ProcedureCatalog —
    // Spark parses/binds/coerces the arguments itself): the fixture
    // builder runs CALL graft.system.compact + expire_snapshots, then
    // the read must still equal the raw table — maintenance
    // reorganizes files and history, never data. Runs once per JVM
    // (build-once fixture), so bench re-runs read a stable table.
    QueryDef("sql_call_maintenance",
      (s, dir) => {
        val tbl = statsSnapshot(s, dir, sqlCallTableCache, "sqlcall") { tb =>
          val arg = s"table => 'db.snap_sqlcall_h${math.abs(dir.hashCode)}'"
          val c = s.sql(
            s"CALL graft.system.compact($arg, sort_by => 'event_id')")
            .collect().head
          require(c.getLong(2) < c.getLong(1),
            s"CALL compact must shrink the file count: $c")
          val e = s.sql(
            s"CALL graft.system.expire_snapshots($arg, keep => 1)")
            .collect().head
          require(e.getLong(0) > 0, s"CALL expire must expire history: $e")
        }
        tbl.read().groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1""".stripMargin)),

    // Full DDL lifecycle through the native DSv2 catalog — CREATE
    // NAMESPACE / CREATE TABLE (hidden identity partitioning +
    // TBLPROPERTIES) / INSERT INTO / ALTER TABLE ADD COLUMNS
    // (metadata-only, fresh field id) / native v2 DELETE FROM
    // (SupportsDelete, manifest-pruned COW) / SELECT — every statement
    // addressed as graft.db.*, no temp view, no interception anywhere.
    // Rebuilt per call: the DDL itself is the operator under test.
    QueryDef("sql_catalog_ddl",
      (s, dir) => {
        val fq = s"graft.db.ddl_h${math.abs(dir.hashCode)}"
        t(s, dir, "events").createOrReplaceTempView("graft_ddl_src")
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
        s.sql(s"DROP TABLE IF EXISTS $fq")
        s.sql(s"CREATE TABLE $fq " +
          "(event_id BIGINT, event_type STRING, value DOUBLE) " +
          "PARTITIONED BY (event_type) " +
          "TBLPROPERTIES ('graft.write.sort-by'='event_id', " +
          "'graft.write.distribution-mode'='hash')")
        s.sql(s"INSERT INTO $fq " +
          "SELECT event_id, event_type, value FROM graft_ddl_src")
        s.sql(s"ALTER TABLE $fq ADD COLUMNS (score DOUBLE)")
        s.sql(s"DELETE FROM $fq WHERE event_id > 5000")
        s.sql(s"SELECT event_id, event_type, value, score FROM $fq")
      },
      Some("""SELECT event_id, event_type, value,
             |  CAST(NULL AS DOUBLE) AS score
             |FROM events WHERE event_id <= 5000""".stripMargin)),

    QueryDef("sql_text_quality",
      (s, dir) => {
        // idempotent: GraftConfig sessions already carry the extensions;
        // this also covers externally-built sessions
        graft.plans.GraftExtensions.register(s)
        t(s, dir, "documents").createOrReplaceTempView("graft_documents")
        s.sql("""SELECT doc_id,
                |  text_stats(text).n_ws_tokens AS n_ws_tokens,
                |  text_stats(text).quality AS quality
                |FROM graft_documents""".stripMargin)
      },
      Some("""WITH m AS (
             |  SELECT doc_id,
             |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
             |    CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS BIGINT) AS n_punct,
             |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |         tok -> tok IN ('the','a','of','and','is'))) AS BIGINT) AS n_stop,
             |    length(text) AS n_len
             |  FROM documents
             |)
             |SELECT doc_id, n_ws_tokens,
             |  LEAST(CAST(n_ws_tokens AS DOUBLE) / 50.0, 1.0) * 0.4
             |  + (1.0 - LEAST(CAST(n_punct AS DOUBLE) / CAST(n_len AS DOUBLE) * 5.0, 1.0)) * 0.3
             |  + (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_ws_tokens AS DOUBLE)) * 0.3 AS quality
             |FROM m""".stripMargin)))

  /** Exact nearest-neighbor oracle for the planted-mutant query set:
    * reconstructs the mutant corpus with mirrored float32 arithmetic,
    * cross-joins queries × corpus with the mirrored double cosine fold,
    * and keeps rank 1 per query.
    */
  /** The planted-mutant vector corpus ([[nearDupVectors]]) as a DuckDB
    * CTE with mirrored float32 arithmetic — shared by every oracle
    * that recomputes over it.
    */
  private def mutantCorpusCte: String =
    """WITH corpus AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000,
      |    list_transform(list_zip(embedding, range(0, len(embedding))),
      |      s -> CAST(s[1] + CASE WHEN s[2] % 2 = 0 THEN CAST(0.01 AS FLOAT)
      |                 ELSE CAST(-0.01 AS FLOAT) END AS FLOAT))
      |  FROM embeddings WHERE vec_id % 10 = 0
      |)""".stripMargin

  /** The mirrored float→double cosine fold between two aliased
    * embedding rows, as DuckDB SQL (the [[nnOracle]] arithmetic).
    */
  private def duckCos(a: String, b: String): String =
    s"""list_reduce(list_transform(list_zip($a.embedding, $b.embedding),
       |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)),
       |      (acc, x) -> acc + x)
       |    / (sqrt(list_reduce(list_transform($a.embedding,
       |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x))
       |     * sqrt(list_reduce(list_transform($b.embedding,
       |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x)))""".stripMargin

  private def nnOracle: String =
    s"""$mutantCorpusCte, pairs AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |    list_reduce(list_transform(list_zip(q.embedding, c.embedding),
      |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (acc, x) -> acc + x)
      |    / (sqrt(list_reduce(list_transform(q.embedding,
      |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x))
      |     * sqrt(list_reduce(list_transform(c.embedding,
      |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x))) AS sim
      |  FROM corpus q JOIN corpus c ON q.vec_id >= 100000 AND q.vec_id <> c.vec_id
      |), ranked AS (
      |  SELECT q_id, n_id, sim,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS rank
      |  FROM pairs
      |)
      |SELECT q_id, n_id, sim, rank FROM ranked WHERE rank <= 1""".stripMargin

  // =====================================================================
  // Multimodal extension queries (binary payload plumbing over a media
  // table derived from documents; image/audio/video all decode for REAL
  // — javax.imageio, javax.sound.sampled, and an MJPEG AVI container
  // walk respectively; see Multimodal.scala)
  // =====================================================================

  private val multimodalQueries: Seq[QueryDef] = {
    import graft.operators.Multimodal
    Seq(
      // REAL image decode, oracle-pinned: Spark encodes a seeded RGB
      // PNG per doc (FakeData.seededPng), decodes it back with
      // javax.imageio, and emits per-channel INTEGER pixel sums; the
      // oracle reproduces the same sums arithmetically from the pixel
      // formula — no image library needed, and any decode defect
      // (pixel order, dims, channel swap) breaks exact equality
      QueryDef("mm_decode_image",
        (s, dir) => Multimodal.decodeImageStats(
          Multimodal.imagesFromDocuments(spreadT(s, dir, "documents"))),
        Some("""WITH d AS (
               |  SELECT doc_id AS media_id,
               |         doc_id % 16 + 4 AS w, doc_id % 12 + 4 AS h
               |  FROM documents
               |), xs AS (
               |  SELECT media_id, w, h, unnest(range(0, w)) AS x FROM d
               |), px AS (
               |  SELECT media_id, w, h, x, unnest(range(0, h)) AS y FROM xs
               |)
               |SELECT media_id,
               |  CAST(w AS INTEGER) AS width,
               |  CAST(h AS INTEGER) AS height,
               |  CAST(SUM((media_id*31 + x*7 + y*13) % 256) AS BIGINT) AS sum_r,
               |  CAST(SUM((media_id*17 + x*11 + y*3) % 256) AS BIGINT) AS sum_g,
               |  CAST(SUM((media_id*5 + x*3 + y*29) % 256) AS BIGINT) AS sum_b,
               |  CAST(w * h AS BIGINT) AS n_px
               |FROM px
               |GROUP BY media_id, w, h""".stripMargin)),

      // REAL audio decode, oracle-pinned: Spark encodes a seeded WAV
      // per doc (FakeData.seededWav, RIFF/PCM16), decodes it back with
      // javax.sound.sampled, and emits per-channel INTEGER sample sums;
      // the oracle reproduces the same sums arithmetically from the
      // sample formula — no audio library needed, and any decode defect
      // (byte order, channel interleave, header offset) breaks exact
      // equality. The image-proof pattern applied to audio.
      QueryDef("mm_decode_audio",
        (s, dir) => Multimodal.decodeAudioStats(
          Multimodal.audioFromDocuments(spreadT(s, dir, "documents"))),
        Some("""WITH d AS (
               |  SELECT doc_id AS media_id,
               |         CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
               |         CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS sample_rate,
               |         doc_id % 50 + 20 AS n
               |  FROM documents
               |), fr AS (
               |  SELECT media_id, channels, sample_rate, n,
               |         unnest(range(0, n)) AS i
               |  FROM d
               |)
               |SELECT media_id, channels, sample_rate,
               |  CAST(n AS BIGINT) AS n_frames,
               |  CAST(SUM((media_id*31 + i*7) % 4096 - 2048) AS BIGINT) AS sum_ch0,
               |  CAST(SUM(CASE WHEN channels > 1
               |    THEN (media_id*31 + i*7 + 13) % 4096 - 2048
               |    ELSE 0 END) AS BIGINT) AS sum_ch1
               |FROM fr
               |GROUP BY media_id, channels, sample_rate, n""".stripMargin)),

      // REAL video decode, oracle-pinned: Spark encodes a seeded MJPEG
      // AVI per doc (FakeData.seededAvi — real RIFF container, real
      // JPEG frames), walks the container back and decodes every frame
      // with javax.imageio, emitting INTEGER channel sums across
      // frames; the oracle reproduces the sums arithmetically because
      // solid-gray q=1.0 JPEG frames roundtrip bit-exactly — no video
      // library needed, and any container-walk defect (chunk size,
      // RIFF padding, LIST recursion) or frame-decode defect breaks
      // exact equality. Closes the last labeled decode fallback.
      QueryDef("mm_decode_video",
        (s, dir) => Multimodal.decodeVideoStats(
          Multimodal.videosFromDocuments(spreadT(s, dir, "documents"))),
        Some("""WITH d AS (
               |  SELECT doc_id AS media_id,
               |         doc_id % 10 + 4 AS w, doc_id % 7 + 4 AS h,
               |         doc_id % 6 + 2 AS n
               |  FROM documents
               |), fr AS (
               |  SELECT media_id, w, h, n, unnest(range(0, n)) AS i FROM d
               |)
               |SELECT media_id,
               |  CAST(w AS INTEGER) AS width,
               |  CAST(h AS INTEGER) AS height,
               |  CAST(n AS INTEGER) AS n_frames,
               |  CAST(SUM(((media_id*37 + i*19) % 256) * w * h) AS BIGINT) AS sum_r,
               |  CAST(SUM(((media_id*37 + i*19) % 256) * w * h) AS BIGINT) AS sum_g,
               |  CAST(SUM(((media_id*37 + i*19) % 256) * w * h) AS BIGINT) AS sum_b
               |FROM fr
               |GROUP BY media_id, w, h, n""".stripMargin)),

      QueryDef("mm_checksums",
        (s, dir) => Multimodal.checksums(
          Multimodal.mediaFromDocuments(t(s, dir, "documents"))),
        Some("""SELECT doc_id AS media_id,
               |  CASE CAST(doc_id % 3 AS INTEGER)
               |    WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
               |  END AS kind,
               |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
               |  sha256(text) AS sha256
               |FROM documents""".stripMargin)),

      // frames compare as lowercase hex (DuckDB 1.0 has no BLOB
      // substring/md5, but hex slicing is byte-exact: 2 chars per byte)
      QueryDef("mm_frame_sample",
        (s, dir) => Multimodal.sampleFrames(
            Multimodal.mediaFromDocuments(t(s, dir, "documents")),
            frameLen = 64, stride = 32)
          .select(col("media_id"), col("frame_idx"),
            lower(hex(col("frame_bytes"))).as("frame_hex")),
        Some("""WITH media AS (
               |  SELECT doc_id AS media_id, lower(hex(encode(text))) AS h
               |  FROM documents
               |  WHERE doc_id % 3 = 2 AND octet_length(encode(text)) >= 64
               |), f AS (
               |  SELECT media_id, h,
               |    unnest(range(0,
               |      CAST(floor((len(h) / 2.0 - 64) / 32) AS BIGINT) + 1)) AS frame_idx
               |  FROM media
               |)
               |SELECT media_id, frame_idx,
               |       substr(h, CAST(frame_idx * 64 + 1 AS BIGINT), 128) AS frame_hex
               |FROM f""".stripMargin)),

      // byte-exact truncate/zero-pad resize (stub for pixel resampling;
      // compared as hex, same technique as mm_frame_sample)
      QueryDef("mm_resize",
        (s, dir) => Multimodal.resize(
            Multimodal.mediaFromDocuments(t(s, dir, "documents")), targetBytes = 128)
          .select(col("media_id"), col("kind"),
            lower(hex(col("content"))).as("content_hex")),
        Some("""SELECT doc_id AS media_id,
               |  CASE CAST(doc_id % 3 AS INTEGER)
               |    WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
               |  END AS kind,
               |  substr(lower(hex(encode(text))) || repeat('00', 128), 1, 256) AS content_hex
               |FROM documents""".stripMargin)),

      // the mapPartitions decode path, checked on its pass-through
      // columns (the stub features stay unit-tested; a Dataset map is
      // opaque to Catalyst, so the decode genuinely runs here)
      QueryDef("mm_features",
        (s, dir) => Multimodal.extractFeatures(
            Multimodal.mediaFromDocuments(spreadT(s, dir, "documents")))
          .drop("features"),
        Some("""SELECT doc_id AS media_id,
               |  CASE CAST(doc_id % 3 AS INTEGER)
               |    WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
               |  END AS kind,
               |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               |  CAST(n_chars % 64 + 1 AS INTEGER) AS width,
               |  CAST(n_chars % 48 + 1 AS INTEGER) AS height
               |FROM documents""".stripMargin))
    )
  }

  // =====================================================================
  // Streaming-parity queries (graft.streaming.EventStream run in batch
  // mode — the Kappa property: the same transform serves readStream and
  // read; the driver checks the batch output against SQL oracles)
  // =====================================================================

  private val streamingQueries: Seq[QueryDef] = {
    import graft.streaming.EventStream
    Seq(
      QueryDef("stream_window_counts",
        (s, dir) => EventStream.windowedCounts(t(s, dir, "events"),
          windowLen = "1 hour", watermark = "10 minutes"),
        Some("""SELECT event_type,
               |  date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
               |  COUNT(*) AS n,
               |  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
               |FROM events
               |GROUP BY 1, 2""".stripMargin)),

      // the SAME sessionization via Spark's BUILT-IN session_window
      // (compose-first: prefer the native operator where its semantics
      // fit — here the boundary rule is `gap >= 30min starts a new
      // session`, vs the typed path's strict `>`)
      QueryDef("stream_session_window",
        (s, dir) => t(s, dir, "events")
          .groupBy(col("user_id"),
            session_window(col("ts"), "30 minutes").as("w"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(10,2)")).cast("double").as("sum_value"))
          .select(col("user_id"), col("w.start").as("session_start"),
            col("w.end").as("session_end_excl"), col("n_events"), col("sum_value")),
        Some("""WITH e AS (
               |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
               |), marked AS (
               |  SELECT user_id, ts, value,
               |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
               |              >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
               |  FROM e
               |), numbered AS (
               |  SELECT user_id, ts, value,
               |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
               |                   ROWS UNBOUNDED PRECEDING) AS sid
               |  FROM marked
               |)
               |SELECT user_id, MIN(ts) AS session_start,
               |       MAX(ts) + INTERVAL 30 MINUTE AS session_end_excl,
               |       COUNT(*) AS n_events,
               |       CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
               |FROM numbered
               |GROUP BY user_id, sid""".stripMargin)),

      QueryDef("stream_sessionize",
        (s, dir) => {
          import s.implicits._
          val src = t(s, dir, "events")
          // ts has shipped as both TIMESTAMP and TIMESTAMP_NTZ across
          // testdata generations; unix_micros only takes the former, so
          // cast in (a UTC-session no-op) and cast the session bounds
          // back out to the source type so the result schema tracks it
          val tsType = src.schema("ts").dataType
          val ev = src
            .select(col("user_id"),
              unix_micros(col("ts").cast("timestamp")).as("ts_us"))
            .as[EventStream.MicroEvent]
          EventStream.sessionizeBatch(ev, gapUs = 30L * 60 * 1000000)
            .select(col("user_id"),
              timestamp_micros(col("session_start_us")).cast(tsType)
                .as("session_start"),
              timestamp_micros(col("session_end_us")).cast(tsType)
                .as("session_end"),
              col("n_events"))
        },
        Some("""WITH e AS (
               |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
               |), marked AS (
               |  SELECT user_id, ts,
               |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
               |              > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
               |  FROM e
               |), numbered AS (
               |  SELECT user_id, ts,
               |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
               |                   ROWS UNBOUNDED PRECEDING) AS sid
               |  FROM marked
               |)
               |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
               |       COUNT(*) AS n_events
               |FROM numbered
               |GROUP BY user_id, sid""".stripMargin)),

      // exact dedup of an at-least-once delivery: events ∪ re-delivered
      // copies of every 20th event (same event_id, ts + 1 min). The
      // streaming path (EventStream.dedupEvents, watermark-bounded
      // state) is unit-tested; this registry entry checks the
      // deterministic batch parity: first-arrival ts + delivery count
      // CDC upsert SINK, exercised as a REAL two-micro-batch stream
      // (built once; see streamUpsertSnapshot): batch 1 inserts the
      // even-id rows, batch 2 upserts +1000 corrections for ids %100 —
      // the read proves keyed replacement without duplicates, each
      // batch one atomic snapshot commit
      QueryDef("stream_upsert_snapshot",
        (s, dir) => streamUpsertSnapshot(s, dir).read()
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
        Some("""SELECT event_type, count(*) AS n,
               |  CAST(SUM(CAST(CASE WHEN event_id % 100 = 0
               |       THEN value + 1000.0 ELSE value END
               |       AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
               |FROM events WHERE event_id % 2 = 0
               |GROUP BY 1""".stripMargin)),

      // The NATIVE streaming sink — writeStream.format("graft"), no
      // foreachBatch: two micro-batches append exactly-once (batch id
      // in the commit, required by the fixture), values must equal the
      // raw-parquet oracle. This is the SQL-only user's continuous
      // ingest, the sink half of readStream.format("graft").
      QueryDef("stream_sink_native",
        (s, dir) => streamSinkSnapshot(s, dir).read()
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
        Some("""SELECT event_type, count(*) AS n,
               |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
               |    AS sum_value
               |FROM events GROUP BY 1""".stripMargin)),

      // The SAME CDC stream sunk into a merge-on-read table: each
      // micro-batch commits O(changed rows) — vectors over the
      // corrected images plus appended new ones, never a partition
      // rewrite (the fixture requires merge-pos × 2, surviving batch-1
      // files, vectors present). Values must match the identical COW
      // oracle — MoR is a write-side layout choice, invisible to reads.
      QueryDef("stream_upsert_mor",
        (s, dir) => streamUpsertMorSnapshot(s, dir).read()
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
        Some("""SELECT event_type, count(*) AS n,
               |  CAST(SUM(CAST(CASE WHEN event_id % 100 = 0
               |       THEN value + 1000.0 ELSE value END
               |       AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
               |FROM events WHERE event_id % 2 = 0
               |GROUP BY 1""".stripMargin)),

      // CDC changelog consumed as a LIVE STREAM (readStream.format
      // ("graft"), offsets = table versions) and drained to parquet.
      // Batch planning splits the window at commit-CLASS boundaries
      // (the v3 upsert is a rewriting commit, the v4 equality delete
      // is blind — a mixed batch would drag the blind commit onto the
      // diff path), so the drain is changes(2,3) ∪ changes(3,4):
      // netting applies WITHIN each window, and the %1000 rows the
      // one-shot batch window nets away (upserted then deleted)
      // surface here as their full delete+insert+delete history —
      // applied state identical, per-window rows exact. The one-shot
      // netted window stays pinned by snap_changelog/sql_changelog.
      QueryDef("stream_changelog",
        (s, dir) => s.read.parquet(streamedChangelog(s, dir))
          .select(col("_change_type"), col("event_id"), col("user_id"),
            col("event_type"), col("value"), col("props")),
        Some("""WITH ev AS (
               |  SELECT event_id, user_id, event_type, value, props
               |  FROM events WHERE event_id % 2 = 0
               |)
               |SELECT 'delete' AS _change_type, event_id, user_id,
               |       event_type, value, props
               |FROM ev
               |WHERE event_id % 100 = 0 AND value IS NOT NULL
               |UNION ALL
               |SELECT 'insert' AS _change_type, event_id, user_id,
               |       event_type, value + CAST(1000.0 AS DOUBLE), props
               |FROM ev
               |WHERE event_id % 100 = 0 AND value IS NOT NULL
               |UNION ALL
               |SELECT 'delete' AS _change_type, event_id, user_id,
               |       event_type,
               |       CASE WHEN value IS NOT NULL
               |            THEN value + CAST(1000.0 AS DOUBLE) END AS value,
               |       props
               |FROM ev
               |WHERE event_id % 1000 = 0""".stripMargin)),

      // CDC APPLY — the consumer half of the changelog: the source's
      // mixed insert/update/delete history replayed per-commit into a
      // second snapshot table via foreachBatch (deleteByKeys for
      // retractions, keyed upsert for inserts), which must CONVERGE to
      // the source's exact current state; idempotence under batch
      // replay is pinned in the fixture. The standard replication-
      // consumer shape: per-batch cost O(changed rows), never O(table).
      QueryDef("stream_apply_changes",
        (s, dir) => appliedChangesSnapshot(s, dir).read()
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
        Some("""SELECT event_type, count(*) AS n,
               |  CAST(SUM(CAST(
               |    CASE WHEN event_id % 100 = 0 THEN value + 1000.0
               |         ELSE value END AS DECIMAL(12,2))) AS DOUBLE)
               |    AS sum_value
               |FROM events
               |WHERE event_id % 2 = 0 AND event_id % 1000 <> 0
               |GROUP BY 1""".stripMargin)),

      QueryDef("stream_dedup_events",
        (s, dir) => {
          val ev = t(s, dir, "events")
          val redelivered = ev.unionByName(
            ev.filter(col("event_id") % 20 === 0)
              .withColumn("ts", col("ts") + expr("INTERVAL 1 MINUTE")))
          redelivered.groupBy(col("event_id"))
            .agg(min(col("ts")).as("first_ts"),
              count(lit(1)).as("n_deliveries"))
        },
        Some("""WITH delivered AS (
               |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
               |  UNION ALL
               |  SELECT event_id, CAST(ts AS TIMESTAMP) + INTERVAL 1 MINUTE
               |  FROM events WHERE event_id % 20 = 0
               |)
               |SELECT event_id, MIN(ts) AS first_ts, COUNT(*) AS n_deliveries
               |FROM delivered GROUP BY event_id""".stripMargin)),

      // stream-stream interval join in batch mode: clicks attribute to
      // the same user's views within the preceding 10 minutes; the
      // event-time bound is what lets a live stream expire join state
      QueryDef("stream_click_attribution",
        (s, dir) => {
          val ev = t(s, dir, "events")
          EventStream.clickAttribution(
            ev.filter(col("event_type") === "view"),
            ev.filter(col("event_type") === "click"))
        },
        Some("""WITH v AS (
               |  SELECT user_id, CAST(ts AS TIMESTAMP) AS view_ts,
               |         event_id AS view_id
               |  FROM events WHERE event_type = 'view'
               |), c AS (
               |  SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts,
               |         event_id AS click_id
               |  FROM events WHERE event_type = 'click'
               |)
               |SELECT v.user_id, view_id, click_id, view_ts, click_ts
               |FROM v JOIN c ON v.user_id = c.user_id
               |  AND click_ts > view_ts
               |  AND click_ts <= view_ts + INTERVAL 10 MINUTE""".stripMargin))
    )
  }

  // =====================================================================
  // Corpus-governance queries (graft.operators.Governance — the
  // bookkeeping a training pipeline runs around cleaning/dedup:
  // reproducible splits, eval-contamination audit, frequent n-grams,
  // per-group exact quantile profiling)
  // =====================================================================

  /** DuckDB CTEs producing word-n-gram shingle sets of `documents`
    * (same canonicalization as [[graft.operators.Dedup.wordShingles]]:
    * lower → collapse whitespace → trim → split → n-token windows →
    * distinct; short docs collapse to one whole-text shingle).
    */
  private def docShingleCtes(n: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
       |  FROM documents
       |), shsets AS (
       |  SELECT doc_id, CASE WHEN len(t) < $n THEN [array_to_string(t, ' ')]
       |    ELSE list_distinct(list_transform(range(0, len(t) - ${n - 1}),
       |           i -> array_to_string(t[i+1:i+$n], ' ')))
       |    END AS shingles FROM toks
       |)""".stripMargin

  private val governanceQueries: Seq[QueryDef] = {
    import graft.operators.Governance
    Seq(
      // deterministic salted-hash split: pure projection, no RNG — the
      // doc's assignment is stable under corpus growth and backfills
      QueryDef("pipeline_split_assign",
        (s, dir) => Governance.splitAssign(t(s, dir, "documents"))
          .select(col("doc_id"), col("split")),
        Some("""SELECT doc_id,
               |  CASE WHEN substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 2) < '0d' THEN 'test'
               |       WHEN substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'valid'
               |       ELSE 'train' END AS split
               |FROM documents""".stripMargin)),

      // LEAKAGE-SAFE split: assign by dedup-cluster representative so
      // near-duplicates never straddle train/test (the contamination
      // failure mode dedup exists to prevent). Composes the certified
      // cluster pipeline with the hash split; the oracle recomputes
      // clusters via the recursive-CTE reachability and hashes the same
      // representative. Every planted mutant provably shares its
      // original's split.
      QueryDef("pipeline_split_leakage_safe",
        (s, dir) => {
          import graft.operators.Dedup
          val corpus = nearDupCorpus(s, dir)
          val pairs = Dedup.minhashPairs(corpus,
            shingleLen = 3, k = 64, bands = 16, threshold = 0.6)
          val cl = Dedup.clusters(pairs, corpus.select(col("doc_id")),
            idCol = "doc_id")
          Governance.splitAssignByGroup(cl, "cluster_rep")
            .select(col("id").as("doc_id"), col("split"))
        },
        Some(shingleCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
          pairsCtes(0.6) +
          """, edges AS (
            |  SELECT id_a AS src, id_b AS dst FROM prs
            |  UNION ALL SELECT id_b, id_a FROM prs
            |), reach(id, r) AS (
            |  SELECT id, id FROM corpus
            |  UNION
            |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
            |), reps AS (
            |  SELECT id, MIN(r) AS rep FROM reach GROUP BY id
            |)
            |SELECT id AS doc_id,
            |  CASE WHEN substr(md5('graft:' || CAST(rep AS VARCHAR)), 1, 2) < '0d' THEN 'test'
            |       WHEN substr(md5('graft:' || CAST(rep AS VARCHAR)), 1, 2) < '1a' THEN 'valid'
            |       ELSE 'train' END AS split
            |FROM reps""".stripMargin)),

      // eval-set n-gram contamination audit (GPT-3/PaLM-style overlap
      // check; n=5 here because testdata docs are 10–99 tokens — real
      // pipelines use 8–13)
      QueryDef("pipeline_contamination",
        (s, dir) => Governance.contamination(t(s, dir, "documents"),
          isEval = col("doc_id") % 10 === 0, n = 5),
        Some(s"""${docShingleCtes(5)}, ev AS (
               |  SELECT doc_id, unnest(shingles) AS sh FROM shsets WHERE doc_id % 10 = 0
               |), tr AS (
               |  SELECT DISTINCT unnest(shingles) AS sh FROM shsets WHERE doc_id % 10 != 0
               |), totals AS (
               |  SELECT doc_id, count(*) AS n_shingles FROM ev GROUP BY doc_id
               |), hits AS (
               |  SELECT ev.doc_id, count(*) AS n_contaminated
               |  FROM ev JOIN tr USING (sh) GROUP BY ev.doc_id
               |)
               |SELECT t.doc_id, t.n_shingles,
               |  CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
               |  CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE)
               |    / CAST(t.n_shingles AS DOUBLE) AS contamination
               |FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id""".stripMargin)),

      // The same contamination audit probed against a PERSISTED
      // bloom-indexed train n-gram snapshot table (built once; the
      // 100 TB shape — the train corpus is the whole dataset and must
      // not be re-tokenized per eval probe; small probes prune index
      // FILES via range bounds + Bloom sidecars at the manifest).
      // Oracle identical to pipeline_contamination: the index path may
      // not change a single value.
      QueryDef("pipeline_contamination_indexed",
        (s, dir) => {
          val docs = t(s, dir, "documents")
          val root = ngramIndexCache.computeIfAbsent(dir, _ => {
            val (base, _) = warehouseDbRoot(s, "ngram_idx", dir)
            Governance.buildNgramIndex(s,
              docs.filter(col("doc_id") % 10 =!= 0), base, n = 5)
            base
          })
          Governance.contaminationAgainstIndex(
            graft.catalog.SnapshotTable.load(s, root),
            docs.filter(col("doc_id") % 10 === 0), n = 5)
        },
        Some(s"""${docShingleCtes(5)}, ev AS (
               |  SELECT doc_id, unnest(shingles) AS sh FROM shsets WHERE doc_id % 10 = 0
               |), tr AS (
               |  SELECT DISTINCT unnest(shingles) AS sh FROM shsets WHERE doc_id % 10 != 0
               |), totals AS (
               |  SELECT doc_id, count(*) AS n_shingles FROM ev GROUP BY doc_id
               |), hits AS (
               |  SELECT ev.doc_id, count(*) AS n_contaminated
               |  FROM ev JOIN tr USING (sh) GROUP BY ev.doc_id
               |)
               |SELECT t.doc_id, t.n_shingles,
               |  CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
               |  CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE)
               |    / CAST(t.n_shingles AS DOUBLE) AS contamination
               |FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id""".stripMargin)),

      // STEADY-STATE twin of pipeline_contamination_indexed (the
      // sim_topk_ivf / _index pattern): the index build is charged to
      // the shared fixture, so this entry times ONLY the amortized
      // probe the index exists for — sorted multi-key manifest probe
      // (range binary search + one Bloom resolve per file) + semi-join.
      // Oracle identical: the cost model differs, the answer must not.
      QueryDef("pipeline_contamination_probe",
        (s, dir) => {
          val docs = t(s, dir, "documents")
          val root = ngramIndexCache.computeIfAbsent(dir, _ => {
            val (base, _) = warehouseDbRoot(s, "ngram_idx", dir)
            Governance.buildNgramIndex(s,
              docs.filter(col("doc_id") % 10 =!= 0), base, n = 5)
            base
          })
          Governance.contaminationAgainstIndex(
            graft.catalog.SnapshotTable.load(s, root),
            docs.filter(col("doc_id") % 10 === 0), n = 5)
        },
        Some(s"""${docShingleCtes(5)}, ev AS (
               |  SELECT doc_id, unnest(shingles) AS sh FROM shsets WHERE doc_id % 10 = 0
               |), tr AS (
               |  SELECT DISTINCT unnest(shingles) AS sh FROM shsets WHERE doc_id % 10 != 0
               |), totals AS (
               |  SELECT doc_id, count(*) AS n_shingles FROM ev GROUP BY doc_id
               |), hits AS (
               |  SELECT ev.doc_id, count(*) AS n_contaminated
               |  FROM ev JOIN tr USING (sh) GROUP BY ev.doc_id
               |)
               |SELECT t.doc_id, t.n_shingles,
               |  CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
               |  CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE)
               |    / CAST(t.n_shingles AS DOUBLE) AS contamination
               |FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id""".stripMargin)),

      // corpus-wide frequent bigrams by document frequency; bounded
      // top-k (TakeOrderedAndProject), strict total order so the set is
      // engine-independent
      QueryDef("text_top_ngrams",
        (s, dir) => Governance.topNgrams(t(s, dir, "documents"), n = 2, k = 50),
        Some(s"""${docShingleCtes(2)}, grams AS (
               |  SELECT unnest(shingles) AS ngram FROM shsets
               |)
               |SELECT ngram, count(*) AS df FROM grams
               |GROUP BY ngram ORDER BY df DESC, ngram LIMIT 50""".stripMargin)),

      // per-language exact token-count quantiles (profiling pass before
      // heavy work; exact `percentile` = sort + linear interpolation,
      // the same definition as DuckDB quantile_cont)
      QueryDef("profile_quantiles",
        (s, dir) => {
          import graft.functions.TextFunctions.wsTokenCount
          t(s, dir, "documents")
            .select(col("lang"), wsTokenCount(col("text")).as("n"))
            .groupBy("lang")
            .agg(percentile(col("n"),
              array(lit(0.25), lit(0.5), lit(0.75), lit(0.95))).as("qs"))
            .select(col("lang"),
              element_at(col("qs"), 1).as("q25"),
              element_at(col("qs"), 2).as("q50"),
              element_at(col("qs"), 3).as("q75"),
              element_at(col("qs"), 4).as("q95"))
        },
        Some("""WITH m AS (
               |  SELECT lang,
               |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
               |  FROM documents
               |), q AS (
               |  SELECT lang, quantile_cont(n, [0.25, 0.5, 0.75, 0.95]) AS qs
               |  FROM m GROUP BY lang
               |)
               |SELECT lang, qs[1] AS q25, qs[2] AS q50, qs[3] AS q75, qs[4] AS q95
               |FROM q""".stripMargin)),

      // GLOBAL deterministic corpus shuffle into training shards (the
      // pre-training order-decorrelation step): shard + seeded sort
      // key are a pure stateless projection (no window, no global
      // sort); the result is pinned per shard by an ORDER-SENSITIVE
      // digest (md5 of the ids concatenated in shard order), so the
      // oracle verifies the exact permutation, not just membership.
      QueryDef("pipeline_shuffle_shards",
        (s, dir) => {
          val sh = Governance.shuffleShards(t(s, dir, "documents"),
            nShards = 8)
          sh.groupBy(col("shard"))
            .agg(count(lit(1)).as("n_docs"),
              md5(concat_ws(",",
                transform(
                  array_sort(collect_list(
                    struct(col("sort_key"), col("doc_id")))),
                  x => x.getField("doc_id").cast("string"))))
                .as("order_digest"))
        },
        Some("""WITH k AS (
               |  SELECT doc_id,
               |    md5('graft-shuffle:' || CAST(doc_id AS VARCHAR)) AS h
               |  FROM documents
               |), sh AS (
               |  SELECT doc_id, h,
               |    CAST(((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
               |      + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)) % 8
               |      AS INT) AS shard
               |  FROM k
               |)
               |SELECT shard, count(*) AS n_docs,
               |  md5(string_agg(CAST(doc_id AS VARCHAR), ','
               |      ORDER BY h, doc_id)) AS order_digest
               |FROM sh GROUP BY shard""".stripMargin)),

      // mixture reweighting: deterministic per-language downsampling
      // (en to 50%, es to 25%) — pure hash projection, no RNG/shuffle
      QueryDef("pipeline_sample_stratified",
        (s, dir) => Governance.sampleStratified(t(s, dir, "documents"),
          strataCol = "lang", rates = Map("en" -> 0.5, "es" -> 0.25))
          .select(col("doc_id"), col("lang")),
        Some("""SELECT doc_id, lang FROM documents
               |WHERE substr(md5('graft-sample:' || CAST(doc_id AS VARCHAR)), 1, 4) <
               |  CASE WHEN lang = 'en' THEN '8000'
               |       WHEN lang = 'es' THEN '4000'
               |       ELSE 'g' END""".stripMargin)),

      // temperature-flattened mixture sampling (XLM-R/mT5-style): the
      // target mixture q_l ∝ p_l^0.5 flattens dominant languages toward
      // rare ones; keep-rates derive IN-PLAN from the per-lang counts
      // (broadcast scalar frame, no driver pass) and sampling is the
      // same engine-portable salted-md5 slot test the other governance
      // ops use. alpha = 0.5 routes through IEEE-correctly-rounded
      // sqrt, so the oracle's arithmetic is bit-identical.
      QueryDef("pipeline_temperature_mix",
        (s, dir) => graft.operators.Governance.temperatureMix(
          t(s, dir, "documents"), strataCol = "lang",
          alpha = 0.5, fraction = 0.25)
          .select(col("doc_id"), col("lang")),
        Some("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
               |s AS (SELECT sum(n) AS big_n, sum(sqrt(n)) AS z FROM c),
               |b AS (SELECT lang,
               |  LEAST(65536, CAST(FLOOR(16384.0 * big_n * (sqrt(n) / z) / n)
               |    AS BIGINT)) AS slots
               |  FROM c, s)
               |SELECT d.doc_id, d.lang FROM documents d
               |JOIN b ON d.lang IS NOT DISTINCT FROM b.lang
               |WHERE substr(md5('graft-mix:' || CAST(doc_id AS VARCHAR)), 1, 4) <
               |  CASE WHEN slots >= 65536 THEN 'g'
               |       ELSE printf('%04x', slots) END""".stripMargin)),

      // rare-vocabulary quality signal: fraction of each doc's token
      // occurrences whose corpus-wide count <= 2 (two-pass corpus
      // statistic: global counts joined back per doc; all-integer
      // until one final exact division)
      QueryDef("text_rare_token_ratio",
        (s, dir) => graft.operators.Governance.rareTokenRatio(
          t(s, dir, "documents"), rareMax = 2),
        Some("""WITH toks AS (
               |  SELECT doc_id,
               |    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
               |  FROM documents
               |), rare AS (
               |  SELECT tok FROM toks GROUP BY tok HAVING count(*) <= 2
               |), per_doc AS (
               |  SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id
               |), hits AS (
               |  SELECT t.doc_id, count(*) AS n_rare
               |  FROM toks t JOIN rare USING (tok) GROUP BY t.doc_id
               |)
               |SELECT p.doc_id, p.n_tokens,
               |  CAST(COALESCE(h.n_rare, 0) AS BIGINT) AS n_rare,
               |  CAST(COALESCE(h.n_rare, 0) AS DOUBLE) / p.n_tokens AS rare_ratio
               |FROM per_doc p LEFT JOIN hits h ON p.doc_id = h.doc_id""".stripMargin)),

      // corpus-unigram-LM log-probability per document: the
      // deterministic perplexity proxy (exact integer counts, one ln at
      // the end, rounded for cross-engine libm parity)
      QueryDef("text_unigram_logprob",
        (s, dir) => graft.operators.Governance.unigramLogProb(
          t(s, dir, "documents")),
        Some("""WITH toks AS (
               |  SELECT doc_id,
               |    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
               |  FROM documents
               |), counts AS (
               |  SELECT tok, count(*) AS c FROM toks GROUP BY tok
               |), total AS (SELECT sum(c) AS t FROM counts)
               |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               |  round(avg(ln(c)) - (SELECT ln(CAST(t AS DOUBLE)) FROM total), 6)
               |    AS logprob
               |FROM toks JOIN counts USING (tok)
               |GROUP BY doc_id""".stripMargin)),

      // per-source quality curation: keep the 3 best docs per source by
      // (quality desc, doc_id asc) through the partial-aggregating TopK
      // UDAF (map tasks ship <= k rows per group, not the group)
      QueryDef("pipeline_best_per_source",
        (s, dir) => {
          import graft.functions.TextFunctions.qualityScore
          graft.operators.Governance.bestPerGroup(
            t(s, dir, "documents"), groupCol = "source",
            scoreCol = qualityScore(col("text")), k = 3)
        },
        Some("""WITH m AS (
               |  SELECT doc_id, source,
               |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
               |    CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS BIGINT) AS n_punct,
               |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               |         tok -> tok IN ('the','a','of','and','is'))) AS BIGINT) AS n_stop,
               |    length(text) AS n_len
               |  FROM documents
               |), q AS (
               |  SELECT doc_id, source,
               |    LEAST(CAST(n_ws_tokens AS DOUBLE) / 50.0, 1.0) * 0.4
               |    + (1.0 - LEAST(CAST(n_punct AS DOUBLE) / CAST(n_len AS DOUBLE) * 5.0, 1.0)) * 0.3
               |    + (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_ws_tokens AS DOUBLE)) * 0.3 AS score
               |  FROM m
               |), ranked AS (
               |  SELECT source, doc_id, score,
               |    ROW_NUMBER() OVER (PARTITION BY source
               |                       ORDER BY score DESC, doc_id) AS rank
               |  FROM q
               |)
               |SELECT source, doc_id, score, rank FROM ranked WHERE rank <= 3""".stripMargin)),

      // quantile sketch demonstration (the rank statistic at 100 TB:
      // percentile_approx keeps a fixed-size mergeable summary instead
      // of sorting the column). Oracle pins the exact quantiles and the
      // sketch's rank-error property: each estimate must land within
      // the exact p±5% rank window (holds at both SFs)
      QueryDef("sketch_value_quantiles",
        (s, dir) => {
          val ev = t(s, dir, "events")
          val est = ev.groupBy(col("event_type"))
            .agg(percentile_approx(col("value"),
                array(lit(0.25), lit(0.5), lit(0.75)), lit(1000)).as("aq"),
              percentile(col("value"),
                array(lit(0.20), lit(0.30), lit(0.45), lit(0.55),
                  lit(0.70), lit(0.80))).as("bounds"),
              percentile(col("value"),
                array(lit(0.25), lit(0.5), lit(0.75))).as("q"))
          est.select(col("event_type"),
            element_at(col("q"), 1).as("q25"),
            element_at(col("q"), 2).as("q50"),
            element_at(col("q"), 3).as("q75"),
            (element_at(col("aq"), 1).between(
                element_at(col("bounds"), 1), element_at(col("bounds"), 2)) &&
              element_at(col("aq"), 2).between(
                element_at(col("bounds"), 3), element_at(col("bounds"), 4)) &&
              element_at(col("aq"), 3).between(
                element_at(col("bounds"), 5), element_at(col("bounds"), 6)))
              .as("approx_ok"))
        },
        Some("""SELECT event_type,
               |  quantile_cont(value, 0.25) AS q25,
               |  quantile_cont(value, 0.5) AS q50,
               |  quantile_cont(value, 0.75) AS q75,
               |  TRUE AS approx_ok
               |FROM events GROUP BY event_type""".stripMargin)),

      // HLL sketch demonstration (THE distinct-count operator at 100 TB:
      // fixed-size mergeable state vs a full distinct shuffle). The
      // oracle checks the exact counts and the sketch's bounded-error
      // property (rsd 0.02, asserted within 5% = 2.5σ); the estimate
      // itself is engine-specific so it stays out of the compared schema
      QueryDef("sketch_distinct_users",
        (s, dir) => t(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("n_exact"),
            approx_count_distinct(col("user_id"), rsd = 0.02).as("n_approx"))
          .select(col("event_type"), col("n_exact"),
            (abs(col("n_approx") - col("n_exact")).cast("double") /
              col("n_exact").cast("double") <= 0.05).as("approx_ok")),
        Some("""SELECT event_type, COUNT(DISTINCT user_id) AS n_exact,
               |  TRUE AS approx_ok
               |FROM events GROUP BY event_type""".stripMargin))
    )
  }

  // =====================================================================
  // Registry
  // =====================================================================

  val registry: Seq[QueryDef] =
    schemaOpQueries ++ tpchQueries ++ textQueries ++ dedupQueries ++
      simQueries ++ multimodalQueries ++ streamingQueries ++
      governanceQueries ++ snapshotQueries ++ sqlSurfaceQueries

  /** Build-once fixtures SHARED across registry queries, exposed so
    * Bench constructs them UNTIMED before the per-query sweep and
    * reports each as its own `fixture_*` row: a query's recorded time
    * must measure the query in steady state, never whichever registry
    * entry happened to touch a shared cache first (the r16 driver run
    * charged the sharded train + PQ + index build to
    * `sim_topk_ivf_sharded` under contention — 58.3 s recorded where
    * the steady-state query measures ~1 s). With every shared fixture
    * prebuilt, per-query times are also independent of registry ORDER,
    * retiring the append-only-order discipline as a correctness
    * requirement for the bench history (it remains good hygiene).
    * Entries run in declaration order; prerequisites come first.
    * Verify ignores this list — correctness is cache-agnostic.
    */
  val fixtures: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "fixture_ivf_model" -> ((s: SparkSession, dir: String) => {
      val corpus = nearDupVectors(s, dir)
      ivfModelCache.computeIfAbsent(dir, _ =>
        graft.operators.Ivf.train(corpus, k = 16, iters = 2))
      pqCodebookCache.computeIfAbsent(dir, _ =>
        graft.operators.Ivf.trainPq(corpus, m = 8, ksub = 16, iters = 5))
      ()
    }),
    "fixture_ivf_index" -> ((s: SparkSession, dir: String) => {
      val corpus = nearDupVectors(s, dir)
      ivfIndexTable(s, dir, corpus, ivfModelCache.get(dir))
      ()
    }),
    "fixture_ivf_append_index" -> ((s: SparkSession, dir: String) => {
      val corpus = nearDupVectors(s, dir)
      ivfAppendIndexTable(s, dir, corpus, ivfModelCache.get(dir))
      ()
    }),
    "fixture_ivf_two_level" -> ((s: SparkSession, dir: String) => {
      val corpus = nearDupVectors(s, dir)
      ivfTwoLevelIndexTable(s, dir, corpus, ivfTwoLevel(dir, corpus))
      ()
    }),
    "fixture_ivf_sharded" -> ((s: SparkSession, dir: String) => {
      ivfSharded(s, dir, nearDupVectors(s, dir))
      ()
    }),
    "fixture_wide_corpus" -> ((s: SparkSession, dir: String) => {
      wideVectors(s, dir)
      ()
    }),
    "fixture_wide_model" -> ((s: SparkSession, dir: String) => {
      val corpus = wideVectors(s, dir)
      ivfWideModelCache.computeIfAbsent(dir, _ =>
        graft.operators.Ivf.train(corpus, k = wideK(s, dir), iters = 2))
      pqWideCodebookCache.computeIfAbsent(dir, _ =>
        graft.operators.Ivf.trainPq(corpus, m = 64, ksub = 16, iters = 5))
      ()
    }),
    "fixture_wide_index" -> ((s: SparkSession, dir: String) => {
      val corpus = wideVectors(s, dir)
      ivfWideIndexTable(s, dir, corpus, ivfWideModelCache.get(dir))
      ()
    }),
    "fixture_minhash_index" -> ((s: SparkSession, dir: String) => {
      minhashIndexTable(s, dir)
      ()
    }),
    "fixture_bucket_snapshot" -> ((s: SparkSession, dir: String) => {
      bucketSnapshot(s, dir)
      ()
    }),
    "fixture_snapshot_events" -> ((s: SparkSession, dir: String) => {
      snapshotEventsTable(s, dir)
      ()
    }))

  /** name → ((spark, sfDir) => result). */
  def all: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.query).toMap

  /** name → DuckDB oracle SQL; keys ⊆ all.keys. */
  def oracles: Map[String, String] =
    registry.collect { case QueryDef(n, _, Some(sql)) => n -> sql }.toMap
}
