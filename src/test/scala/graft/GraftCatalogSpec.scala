package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.SnapshotTable

/** The DSv2 `GraftCatalog` end-to-end: every statement here goes
  * through Spark's native catalog machinery (resolution, time travel,
  * DELETE pushdown, ALTER TABLE changes, CALL procedures) with NO
  * graft parser or per-statement setup — the architecture parity item
  * with Iceberg's catalog integration.
  */
class GraftCatalogSpec extends AnyFunSuite {

  private lazy val spark = TestSparkSession.spark
  import spark.implicits._

  private def sql(q: String) = spark.sql(q)

  test("namespace + table DDL lifecycle: CREATE/SHOW/INSERT/SELECT/DROP") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.ddl1")
    assert(sql("SHOW NAMESPACES IN graft").as[String].collect()
      .contains("ddl1"))
    sql("DROP TABLE IF EXISTS graft.ddl1.ev")
    sql("CREATE TABLE graft.ddl1.ev (id BIGINT, kind STRING, v DOUBLE) " +
      "PARTITIONED BY (kind) TBLPROPERTIES ('graft.write.sort-by'='id')")
    assert(sql("SHOW TABLES IN graft.ddl1").select("tableName")
      .as[String].collect().contains("ev"))
    sql("INSERT INTO graft.ddl1.ev VALUES (1, 'a', 1.5), (2, 'b', 2.5)")
    sql("INSERT INTO graft.ddl1.ev VALUES (3, 'a', 3.5)")
    assert(sql("SELECT sum(id) FROM graft.ddl1.ev").as[Long]
      .collect().head == 6L)
    // hidden partitioning took the identity transform + the property
    val warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val t = SnapshotTable.load(spark, s"$warehouse/ddl1/ev")
    assert(t.currentSnapshot().spec.map(_.source) == Some("kind"))
    assert(t.currentSnapshot().properties("graft.write.sort-by") == "id")
    // dynamic partition overwrite: only the hidden partitions present
    // in the incoming rows swap ('a' replaced, 'b' untouched)
    val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      sql("INSERT OVERWRITE graft.ddl1.ev VALUES (9, 'a', 9.0)")
      assert(sql("SELECT sum(id), count(*) FROM graft.ddl1.ev")
        .collect().head.toSeq == Seq(11L, 2L))
      // static mode: INSERT OVERWRITE replaces the WHOLE table atomically
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
      sql("INSERT OVERWRITE graft.ddl1.ev VALUES (9, 'z', 9.0)")
      assert(sql("SELECT count(*) FROM graft.ddl1.ev").as[Long]
        .collect().head == 1L)
    } finally spark.conf.set(
      "spark.sql.sources.partitionOverwriteMode", prevMode)
    // TRUNCATE empties, keeps schema
    sql("TRUNCATE TABLE graft.ddl1.ev")
    assert(sql("SELECT count(*) FROM graft.ddl1.ev").as[Long]
      .collect().head == 0L)
    assert(sql("SELECT * FROM graft.ddl1.ev").columns.toSeq ==
      Seq("id", "kind", "v"))
    assert(sql("DROP TABLE graft.ddl1.ev").collect().isEmpty)
    assert(!spark.catalog.tableExists("graft.ddl1.ev"))
  }

  test("a NOT NULL column reads nullable yet refuses NULL in INSERT, UPDATE and MERGE") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.nn")
    sql("DROP TABLE IF EXISTS graft.nn.t")
    sql("CREATE TABLE graft.nn.t (id BIGINT NOT NULL, v DOUBLE)")
    sql("INSERT INTO graft.nn.t VALUES (1, 1.0), (2, 2.0)")
    assert(spark.table("graft.nn.t").schema("id").nullable)
    Seq("INSERT INTO graft.nn.t VALUES (NULL, 3.0)",
      "UPDATE graft.nn.t SET id = NULL WHERE id = 1",
      "MERGE INTO graft.nn.t t USING (SELECT CAST(NULL AS BIGINT) AS id, " +
        "3.0 AS v) s ON t.id = s.id WHEN NOT MATCHED THEN INSERT *"
    ).foreach { q =>
      val e = intercept[Exception](sql(q))
      assert(e.getMessage.contains("IS NOT NULL"), s"$q: ${e.getMessage}")
    }
    assert(sql("SELECT id, v FROM graft.nn.t ORDER BY id")
      .as[(Long, Double)].collect().toSeq == Seq((1L, 1.0), (2L, 2.0)))
  }

  test("a merge-on-read MERGE that deletes is not refused by a NOT NULL column") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.nn")
    sql("DROP TABLE IF EXISTS graft.nn.mor")
    sql("CREATE TABLE graft.nn.mor (id BIGINT NOT NULL, v DOUBLE) " +
      "TBLPROPERTIES ('graft.merge.mode'='merge-on-read')")
    sql("INSERT INTO graft.nn.mor VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    Seq((1L, 0.0), (3L, 30.0), (4L, 4.0)).toDF("id", "v")
      .createOrReplaceTempView("nn_mor_src")
    sql("""MERGE INTO graft.nn.mor t USING nn_mor_src s ON t.id = s.id
          |WHEN MATCHED AND s.v = 0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(sql("SELECT id, v FROM graft.nn.mor ORDER BY id")
      .as[(Long, Double)].collect().toSeq ==
      Seq((2L, 2.0), (3L, 30.0), (4L, 4.0)))
    val e = intercept[Exception](sql("MERGE INTO graft.nn.mor t USING " +
      "(SELECT CAST(NULL AS BIGINT) AS id, 5.0 AS v) s ON t.id = s.id " +
      "WHEN NOT MATCHED THEN INSERT *"))
    assert(e.getMessage.contains("IS NOT NULL"), e.getMessage)
  }

  test("a NOT NULL struct field, array element or map value refuses NULL in INSERT, UPDATE and MERGE") {
    import org.apache.spark.sql.types._
    sql("CREATE NAMESPACE IF NOT EXISTS graft.nn")
    sql("DROP TABLE IF EXISTS graft.nn.nested")
    // the snapshot records the non-nullable values; the catalog table
    // reads them nullable
    val warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StructType(Seq(
        StructField("a", IntegerType, nullable = false),
        StructField("in", StructType(Seq(
          StructField("c", StringType, nullable = false))))))),
      StructField("xs", ArrayType(IntegerType, containsNull = false)),
      StructField("m", MapType(StringType, IntegerType,
        valueContainsNull = false))))
    SnapshotTable.create(spark, s"$warehouse/nn/nested", schema, None)
    sql("INSERT INTO graft.nn.nested VALUES " +
      "(1, named_struct('a', 1, 'in', named_struct('c', 'x')), " +
      "array(1), map('k', 1)), (2, NULL, NULL, NULL), " +
      "(3, named_struct('a', 3, 'in', NULL), array(), map())")
    def s(a: String, c: String) =
      s"named_struct('a', CAST($a AS INT), 'in', named_struct('c', CAST($c AS STRING)))"
    val bad = Seq(
      s"INSERT INTO graft.nn.nested VALUES (4, ${s("NULL", "'y'")}, NULL, NULL)",
      s"INSERT INTO graft.nn.nested VALUES (4, ${s("4", "NULL")}, NULL, NULL)",
      "INSERT INTO graft.nn.nested VALUES (4, NULL, array(1, NULL), NULL)",
      "INSERT INTO graft.nn.nested VALUES (4, NULL, NULL, map('k', NULL))",
      s"UPDATE graft.nn.nested SET s = ${s("NULL", "'z'")} WHERE id = 1",
      "UPDATE graft.nn.nested SET m = map('k', CAST(NULL AS INT)) WHERE id = 1",
      "MERGE INTO graft.nn.nested t USING (SELECT 2L AS id, " +
        s"${s("2", "NULL")} AS s) src ON t.id = src.id " +
        "WHEN MATCHED THEN UPDATE SET s = src.s",
      "MERGE INTO graft.nn.nested t USING (SELECT 5L AS id) src " +
        "ON t.id = src.id WHEN NOT MATCHED THEN INSERT (id, xs) " +
        "VALUES (src.id, array(CAST(NULL AS INT)))")
    bad.foreach { q =>
      val e = intercept[Exception](sql(q))
      assert(e.getMessage.contains("IS NOT NULL"), s"$q: ${e.getMessage}")
    }
    // a NULL parent holds no field to check
    sql(s"UPDATE graft.nn.nested SET s = NULL, xs = NULL WHERE id = 1")
    assert(sql("SELECT id FROM graft.nn.nested WHERE s IS NULL ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 2L))
    assert(sql("SELECT count(*) FROM graft.nn.nested").as[Long]
      .collect().head == 3L)
  }

  test("ALTER TABLE: add/rename/drop/widen columns and set/unset properties") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.ddl2")
    sql("DROP TABLE IF EXISTS graft.ddl2.t")
    sql("CREATE TABLE graft.ddl2.t (id INT, v DOUBLE)")
    sql("INSERT INTO graft.ddl2.t VALUES (1, 1.0), (2, 2.0)")
    sql("ALTER TABLE graft.ddl2.t ADD COLUMNS (tagv STRING)")
    // old rows surface NULL through the fresh field id
    assert(sql("SELECT tagv FROM graft.ddl2.t").collect()
      .forall(_.isNullAt(0)))
    sql("ALTER TABLE graft.ddl2.t RENAME COLUMN v TO score")
    assert(sql("SELECT sum(score) FROM graft.ddl2.t").as[Double]
      .collect().head == 3.0)
    // int -> bigint widens metadata-only; disallowed changes are named
    sql("ALTER TABLE graft.ddl2.t ALTER COLUMN id TYPE BIGINT")
    sql("INSERT INTO graft.ddl2.t VALUES (3000000000, 3.0, 'x')")
    assert(sql("SELECT max(id) FROM graft.ddl2.t").as[Long]
      .collect().head == 3000000000L)
    val bad = intercept[Exception](
      sql("ALTER TABLE graft.ddl2.t ALTER COLUMN score TYPE STRING"))
    assert(bad.getMessage.contains("widen"), bad.getMessage)
    sql("ALTER TABLE graft.ddl2.t DROP COLUMN tagv")
    assert(sql("SELECT * FROM graft.ddl2.t").columns.toSeq ==
      Seq("id", "score"))
    sql("ALTER TABLE graft.ddl2.t SET TBLPROPERTIES ('k1'='v1')")
    val warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val t = SnapshotTable.load(spark, s"$warehouse/ddl2/t")
    assert(t.currentSnapshot().properties("k1") == "v1")
    sql("ALTER TABLE graft.ddl2.t UNSET TBLPROPERTIES ('k1')")
    assert(!t.currentSnapshot().properties.contains("k1"))
  }

  test("native time travel and metadata tables on catalog names") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.tt")
    sql("DROP TABLE IF EXISTS graft.tt.ev")
    sql("CREATE TABLE graft.tt.ev (id BIGINT, v DOUBLE)")
    sql("INSERT INTO graft.tt.ev VALUES (1, 1.0), (2, 2.0)") // v2
    sql("INSERT INTO graft.tt.ev VALUES (3, 3.0)") // v3
    val warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val t = SnapshotTable.load(spark, s"$warehouse/tt/ev")
    t.tag("two-rows", 2L)
    assert(sql("SELECT count(*) FROM graft.tt.ev").as[Long]
      .collect().head == 3L)
    assert(sql("SELECT count(*) FROM graft.tt.ev VERSION AS OF 2")
      .as[Long].collect().head == 2L)
    assert(sql("SELECT count(*) FROM graft.tt.ev VERSION AS OF 'two-rows'")
      .as[Long].collect().head == 2L)
    val v2At = java.time.Instant.ofEpochMilli(
      t.history().find(_.version == 2L).get.timestampMs)
    assert(sql(s"SELECT count(*) FROM graft.tt.ev TIMESTAMP AS OF '$v2At'")
      .as[Long].collect().head == 2L)
    // filterless profile aggregates over the CATALOG name collapse to
    // the manifest answer (same optimizer rule as the v1 relation)
    val pd = sql("SELECT count(*) AS n, min(id) AS mn, max(id) AS mx " +
      "FROM graft.tt.ev")
    assert(pd.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      s"expected manifest answer:\n${pd.queryExecution.optimizedPlan}")
    assert(pd.collect().head.toSeq == Seq(3L, 1L, 3L))
    // metadata tables via the #suffix addressing
    assert(sql("SELECT count(*) FROM graft.tt.`ev#history`").as[Long]
      .collect().head == 3L) // create + 2 appends
    assert(sql("SELECT tag FROM graft.tt.`ev#tags`").as[String]
      .collect().toSeq == Seq("two-rows"))
    assert(sql("SELECT sum(rows) FROM graft.tt.`ev#files`").as[Long]
      .collect().head == 3L)
  }

  test("native v2 DELETE, rule-lowered UPDATE and MERGE on catalog tables") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.dml")
    sql("DROP TABLE IF EXISTS graft.dml.t")
    sql("CREATE TABLE graft.dml.t (id BIGINT, v DOUBLE)")
    sql("INSERT INTO graft.dml.t SELECT id, CAST(id AS DOUBLE) " +
      "FROM range(1, 11)")
    // pushable predicate: the NATIVE SupportsDelete path
    sql("DELETE FROM graft.dml.t WHERE id > 8")
    assert(sql("SELECT count(*) FROM graft.dml.t").as[Long]
      .collect().head == 8L)
    // non-pushable predicate (modulo): lowered by the resolution rule
    sql("DELETE FROM graft.dml.t WHERE id % 7 = 0")
    assert(sql("SELECT count(*) FROM graft.dml.t").as[Long]
      .collect().head == 7L)
    // UPDATE through the rule
    sql("UPDATE graft.dml.t SET v = v + 100 WHERE id <= 2")
    assert(sql("SELECT sum(v) FROM graft.dml.t").as[Double]
      .collect().head == (1 + 2 + 3 + 4 + 5 + 6 + 8) + 200.0)
    // MERGE through the rule
    Seq((1L, 50.0), (99L, 99.0)).toDF("id", "v")
      .createOrReplaceTempView("dml_src")
    sql("""MERGE INTO graft.dml.t t USING dml_src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val byId = sql("SELECT id, v FROM graft.dml.t").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byId(1L) == 50.0 && byId(99L) == 99.0 && byId(2L) == 102.0)
    // graft.delete.mode=merge-on-read routes SQL DELETE to positional
    // delete vectors: zero data files rewritten, rows gone
    sql("ALTER TABLE graft.dml.t SET TBLPROPERTIES " +
      "('graft.delete.mode'='merge-on-read')")
    val warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val st = SnapshotTable.load(spark, s"$warehouse/dml/t")
    val preFiles = st.currentSnapshot().files.map(_.path).toSet
    sql("DELETE FROM graft.dml.t WHERE id = 99")
    val post = st.currentSnapshot()
    // MoR never rewrites: surviving files are untouched originals. The
    // r18 lane split stages the merge-INSERTED row (id=99) in its own
    // file, so this point delete provably fully-matches that file and
    // drops it metadata-only — no vector needed, still zero rewrite.
    val postFiles = post.files.map(_.path).toSet
    assert(postFiles.subsetOf(preFiles) && (preFiles -- postFiles).size <= 1,
      "MoR: no rewrite (a provably-all-matching file may drop outright)")
    assert(post.dvFiles.nonEmpty || postFiles != preFiles,
      "the delete must leave a vector or drop the matched file")
    assert(!sql("SELECT id FROM graft.dml.t").as[Long].collect()
      .contains(99L))
  }

  test("writes to a path-addressed catalog identifier and writeTo API") {
    val root = java.nio.file.Files.createTempDirectory("graft-cat-path")
      .resolve("t").toString
    SnapshotTable.create(spark, root,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))))
    sql(s"INSERT INTO graft.`$root` VALUES (1), (2)")
    assert(sql(s"SELECT count(*) FROM graft.`$root`").as[Long]
      .collect().head == 2L)
    // DataFrameWriterV2 against the catalog
    spark.range(3, 5).toDF("id").writeTo(s"graft.`$root`").append()
    assert(sql(s"SELECT count(*) FROM graft.`$root`").as[Long]
      .collect().head == 4L)
  }

  test("CREATE TABLE AS SELECT through the catalog") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.ctas")
    sql("DROP TABLE IF EXISTS graft.ctas.t")
    sql("CREATE TABLE graft.ctas.t AS " +
      "SELECT id, CAST(id * 1.5 AS DOUBLE) AS v FROM range(1, 6)")
    assert(sql("SELECT count(*), sum(v) FROM graft.ctas.t")
      .collect().head.toSeq == Seq(5L, 22.5))
    // the result is a real snapshot table (atomic history, readable API)
    val warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val t = SnapshotTable.load(spark, s"$warehouse/ctas/t")
    assert(t.read().count() == 5L)
  }

  test("branch addressing: the branch view writes the branch; VERSION AS OF 'branch:...' reads it") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.br")
    sql("DROP TABLE IF EXISTS graft.br.t")
    sql("CREATE TABLE graft.br.t (id BIGINT, v DOUBLE)")
    sql("INSERT INTO graft.br.t VALUES (1, 1.0), (2, 2.0)")
    val warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val t = SnapshotTable.load(spark, s"$warehouse/br/t")
    t.createBranch("staging")
    // the branch VIEW is the branch: inserts and DML land there only
    sql("CREATE OR REPLACE TEMPORARY VIEW br_v USING graft " +
      s"OPTIONS (path '${t.root}', branch 'staging')")
    sql("INSERT INTO br_v VALUES (3, 3.0)")
    sql("UPDATE br_v SET v = v + 10 WHERE id = 1")
    assert(sql("SELECT count(*) FROM graft.br.t").as[Long]
      .collect().head == 2L) // main untouched
    assert(sql("SELECT sum(v) FROM br_v").as[Double]
      .collect().head == 11.0 + 2.0 + 3.0)
    // catalog time-travel syntax reads the branch head
    assert(sql("SELECT count(*) FROM graft.br.t VERSION AS OF 'branch:staging'")
      .as[Long].collect().head == 3L)
    // publish; main now equals the branch
    t.fastForward("staging")
    assert(sql("SELECT sum(v) FROM graft.br.t").as[Double]
      .collect().head == 16.0)
    // branch + time travel options are mutually exclusive
    val e = intercept[Exception] {
      sql("CREATE OR REPLACE TEMPORARY VIEW br_bad USING graft " +
        s"OPTIONS (path '${t.root}', branch 'staging', versionAsOf '1')")
      sql("SELECT * FROM br_bad").collect()
    }
    assert(e.getMessage.contains("branch"), e.getMessage)
    // the WRITE-side branch option routes df.write to the branch line
    t.createBranch("wside")
    Seq((50L, 5.0)).toDF("id", "v").write.format("graft")
      .option("branch", "wside").mode("append").save(t.root.toString)
    assert(t.read().filter(col("id") === 50L).count() == 0L)
    assert(t.branch("wside").read().filter(col("id") === 50L).count() == 1L)
  }

  test("destructive DDL and time travel refuse metadata-suffixed names") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.meta")
    sql("DROP TABLE IF EXISTS graft.meta.t")
    sql("CREATE TABLE graft.meta.t (id BIGINT)")
    sql("INSERT INTO graft.meta.t VALUES (1)")
    // DROP TABLE t#history must NOT delete the base table
    val drop = intercept[Exception](sql("DROP TABLE graft.meta.`t#history`"))
    assert(drop.getMessage.contains("metadata"), drop.getMessage)
    assert(sql("SELECT count(*) FROM graft.meta.t").as[Long]
      .collect().head == 1L)
    val tt = intercept[Exception](sql(
      "SELECT * FROM graft.meta.`t#history` VERSION AS OF 1").collect())
    assert(tt.getMessage.contains("metadata"), tt.getMessage)
    val rn = intercept[Exception](sql(
      "ALTER TABLE graft.meta.`t#history` RENAME TO meta.x"))
    assert(rn.getMessage.contains("metadata"), rn.getMessage)
    // a NULL procedure argument errors instead of silently reading as 0
    val nul = intercept[Exception](sql(
      s"CALL graft.system.expire_snapshots(table => 'meta.t', " +
        "keep => NULL)").collect())
    assert(nul.getMessage.contains("NULL"), nul.getMessage)
    // half-failing multi-change ALTER applies NOTHING (pre-validated)
    val alter = intercept[Exception](sql(
      "ALTER TABLE graft.meta.t ADD COLUMNS (a INT, id DOUBLE)"))
    assert(alter.getMessage.toLowerCase.contains("pre-check")
      || alter.getMessage.contains("id"), alter.getMessage)
    assert(sql("SELECT * FROM graft.meta.t").columns.toSeq == Seq("id"),
      "no partial ALTER may survive")
    // ALTER TABLE on a metadata-suffixed name must refuse (it would
    // otherwise resolve to and silently mutate the BASE table)
    val am = intercept[Exception](sql(
      "ALTER TABLE graft.meta.`t#history` ADD COLUMNS (z INT)"))
    assert(am.getMessage.contains("metadata"), am.getMessage)
    assert(sql("SELECT * FROM graft.meta.t").columns.toSeq == Seq("id"))
    // a type change outside the int->bigint / float->double widen rule
    // fails the PRE-check (Spark's own analyzer already rejects true
    // narrowing; bigint->string is a Spark-legal upcast graft cannot
    // serve without a rewrite — it must fail BEFORE any change applies)
    val nar = intercept[Exception](sql(
      "ALTER TABLE graft.meta.t ALTER COLUMN id TYPE STRING"))
    assert(nar.getMessage.contains("pre-check"), nar.getMessage)
    // ADD COLUMN with a position fails the PRE-check too
    val pos = intercept[Exception](sql(
      "ALTER TABLE graft.meta.t ADD COLUMNS (w INT FIRST)"))
    assert(pos.getMessage.contains("pre-check"), pos.getMessage)
    assert(sql("SELECT * FROM graft.meta.t").columns.toSeq == Seq("id"))
  }

  test("nested struct-field DDL through SQL ALTER TABLE") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.nest")
    sql("DROP TABLE IF EXISTS graft.nest.t")
    sql("CREATE TABLE graft.nest.t " +
      "(id BIGINT, meta STRUCT<kind: STRING, score: BIGINT>)")
    sql("INSERT INTO graft.nest.t VALUES " +
      "(1, named_struct('kind', 'a', 'score', 10L))")
    // ADD a field inside the struct: metadata-only, old rows read NULL
    sql("ALTER TABLE graft.nest.t ADD COLUMNS (meta.boost DOUBLE)")
    assert(sql("SELECT meta.boost FROM graft.nest.t").collect()
      .head.isNullAt(0))
    sql("INSERT INTO graft.nest.t VALUES " +
      "(2, named_struct('kind', 'b', 'score', 20L, 'boost', 2.5D))")
    // RENAME survives for files written under the old name (field id)
    sql("ALTER TABLE graft.nest.t RENAME COLUMN meta.score TO points")
    assert(sql("SELECT id, meta.points FROM graft.nest.t ORDER BY id")
      .as[(Long, Long)].collect().toSeq == Seq((1L, 10L), (2L, 20L)))
    // DROP removes the field; re-ADD never resurrects old bytes
    sql("ALTER TABLE graft.nest.t DROP COLUMN meta.points")
    sql("ALTER TABLE graft.nest.t ADD COLUMNS (meta.points BIGINT)")
    assert(sql("SELECT count(meta.points) FROM graft.nest.t")
      .as[Long].collect().head == 0L)
    // dropping EVERY field of a struct in one ALTER fails the
    // PRE-check atomically (the apply phase refuses the last-field
    // drop, so the simulation must too — otherwise the first drop
    // commits and the second fails: partial DDL)
    sql("DROP TABLE IF EXISTS graft.nest.two")
    sql("CREATE TABLE graft.nest.two " +
      "(id BIGINT, s STRUCT<a: BIGINT, b: STRING>)")
    val lastField = intercept[Exception](sql(
      "ALTER TABLE graft.nest.two DROP COLUMNS (s.a, s.b)"))
    assert(lastField.getMessage.contains("pre-check") &&
      lastField.getMessage.contains("last field"), lastField.getMessage)
    // nothing applied: both fields still present
    assert(sql("SELECT s.a, s.b FROM graft.nest.two").columns.toSeq ==
      Seq("a", "b"))
  }

  test("native row-level operations: UPDATE/MERGE/DELETE plan as DSv2 deltas") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.rl")
    sql("DROP TABLE IF EXISTS graft.rl.t")
    sql("CREATE TABLE graft.rl.t (id BIGINT, kind STRING, v DOUBLE) " +
      "PARTITIONED BY (kind) TBLPROPERTIES ('graft.delete.mode'=" +
      "'merge-on-read', 'graft.update.mode'='merge-on-read', " +
      "'graft.merge.mode'='merge-on-read')")
    sql("INSERT INTO graft.rl.t VALUES " +
      "(1,'a',1.0),(2,'a',2.0),(3,'b',3.0),(4,'b',4.0)")
    val warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val t = SnapshotTable.load(spark, s"$warehouse/rl/t")
    val pre = t.currentSnapshot().files.map(_.path).toSet

    // UPDATE: Spark's own RewriteUpdateTable → WriteDelta → positional
    // vectors hide the old images, new images append — no rewrite
    sql("UPDATE graft.rl.t SET v = v + 100.0 WHERE id <= 2")
    val s1 = t.currentSnapshot()
    assert(s1.operation == "update-pos", s1.operation)
    assert(pre.subsetOf(s1.files.map(_.path).toSet), "no data file rewritten")
    assert(s1.dvFiles.nonEmpty && s1.dvFiles.map(_.rows).sum == 2L)
    assert(sql("SELECT v FROM graft.rl.t WHERE id <= 2 ORDER BY id")
      .as[Double].collect().toSeq == Seq(101.0, 102.0))
    // the hand-laid delta files carry REAL partition values (the
    // writer renders __graft_p=... exactly like a partitionBy batch)
    assert(s1.files.filterNot(f => pre.contains(f.path))
      .forall(_.partition.contains("a")),
      s1.files.filterNot(f => pre.contains(f.path)).map(_.partition))

    // MERGE with mixed clauses — planned natively by
    // RewriteMergeIntoTable (no injected-rule surface limits)
    Seq((2L, "a", 0.0), (4L, "b", 0.0), (9L, "c", 9.0))
      .toDF("id", "kind", "v").createOrReplaceTempView("rl_src")
    sql("""MERGE INTO graft.rl.t t USING rl_src s ON t.id = s.id
          |WHEN MATCHED AND t.id = 2 THEN UPDATE SET v = s.v
          |WHEN MATCHED THEN DELETE
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val s2 = t.currentSnapshot()
    assert(s2.operation == "merge-pos", s2.operation)
    assert(sql("SELECT id, v FROM graft.rl.t ORDER BY id")
      .as[(Long, Double)].collect().toSeq ==
      Seq((1L, 101.0), (2L, 0.0), (3L, 3.0), (9L, 9.0)))

    // a NON-pushable DELETE predicate (modulo has no v1 filter form)
    // runs as a native delta too — vectors, no rewrite
    val preDel = t.currentSnapshot().files.map(_.path).toSet
    sql("DELETE FROM graft.rl.t WHERE id % 3 = 0")
    val s3 = t.currentSnapshot()
    assert(s3.operation == "delete-pos", s3.operation)
    assert(s3.files.map(_.path).toSet == preDel)
    assert(sql("SELECT id FROM graft.rl.t ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 2L))

    // a PUSHABLE delete that is not metadata-only: merge-on-read keeps
    // it off the metadata-delete shortcut, so it is a delta too
    sql("DELETE FROM graft.rl.t WHERE id = 1")
    assert(t.currentSnapshot().operation == "delete-pos",
      t.currentSnapshot().operation)
    assert(sql("SELECT id FROM graft.rl.t").as[Long].collect().toSeq ==
      Seq(2L))

    // SUBQUERY predicates — the surface the v1 rule refuses with a
    // named error — plan natively through the delta path
    sql("DROP TABLE IF EXISTS graft.rl.t2")
    sql("CREATE TABLE graft.rl.t2 (id BIGINT, v DOUBLE) TBLPROPERTIES " +
      "('graft.delete.mode'='merge-on-read', " +
      "'graft.update.mode'='merge-on-read', 'graft.merge.mode'='merge-on-read')")
    sql("INSERT INTO graft.rl.t2 VALUES (1,1.0),(2,2.0),(3,3.0)")
    sql("DELETE FROM graft.rl.t2 WHERE id IN " +
      "(SELECT id + 1 FROM graft.rl.t2 WHERE id <= 1)")
    assert(sql("SELECT id FROM graft.rl.t2 ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 3L))
    val t2 = SnapshotTable.load(spark, s"$warehouse/rl/t2")
    assert(t2.currentSnapshot().operation == "delete-pos")
    // a statement matching NOTHING commits nothing (no empty snapshot)
    val vBefore = t2.currentVersion()
    sql("UPDATE graft.rl.t2 SET v = 0.0 WHERE id = 999")
    assert(t2.currentVersion() == vBefore, "no-op UPDATE must not commit")
    // MERGE cardinality: a source with duplicate keys fails with
    // Spark's OWN check (the native surface brings it for free)
    Seq((3L, 10.0), (3L, 20.0)).toDF("id", "v")
      .createOrReplaceTempView("rl_dup")
    val card = intercept[Exception](sql(
      """MERGE INTO graft.rl.t2 t USING rl_dup s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin).collect())
    assert(card.getMessage.toLowerCase.contains("cardinality") ||
      card.getMessage.contains("multiple"), card.getMessage)
    assert(sql("SELECT v FROM graft.rl.t2 WHERE id = 3").as[Double]
      .collect().toSeq == Seq(3.0), "failed MERGE must not half-apply")
  }

  test("RENAME TABLE moves the directory; DROP NAMESPACE respects emptiness") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.mv")
    sql("DROP TABLE IF EXISTS graft.mv.a")
    sql("DROP TABLE IF EXISTS graft.mv.b")
    sql("CREATE TABLE graft.mv.a (id BIGINT)")
    sql("INSERT INTO graft.mv.a VALUES (7)")
    // the RENAME TO target is catalog-relative (Spark reuses the
    // source catalog)
    sql("ALTER TABLE graft.mv.a RENAME TO mv.b")
    assert(sql("SELECT id FROM graft.mv.b").as[Long].collect().toSeq ==
      Seq(7L))
    assert(!spark.catalog.tableExists("graft.mv.a"))
    val full = intercept[Exception](sql("DROP NAMESPACE graft.mv"))
    assert(full.getMessage.toLowerCase.contains("empty")
      || full.getMessage.toLowerCase.contains("cascade"), full.getMessage)
    sql("DROP NAMESPACE graft.mv CASCADE")
    assert(!sql("SHOW NAMESPACES IN graft").as[String].collect()
      .contains("mv"))
  }

  test("v2 FunctionCatalog: transform parity, namespace contract, guards") {
    // months/bucket produce the SAME equivalence classes as the
    // write-side partition transforms (the seam the delta write's
    // clustered distribution resolves through)
    val rows = sql(
      "SELECT graft.months(timestamp'2024-03-07 10:00:00') AS m, " +
        "graft.bucket(16, 12345L) AS b").collect().head
    assert(rows.getInt(0) == (2024 - 1970) * 12 + 2, rows.getInt(0))
    // the write-side transform itself (seed-42 xxhash64 is Spark's
    // xxhash64 default), same rendering as SnapshotTable.partitionExpr
    val expected = spark.range(1).select(
      pmod(xxhash64(lit(12345L)), lit(16L)))
      .collect().head.getLong(0).toInt
    assert(rows.getInt(1) == expected, s"${rows.getInt(1)} vs $expected")

    // catalog-root functions list; an existing db namespace holds none
    assert(sql("SHOW FUNCTIONS IN graft").as[String].collect()
      .exists(_.endsWith("months")))
    sql("CREATE NAMESPACE IF NOT EXISTS graft.fns")
    // an UNKNOWN namespace is a NoSuchNamespace analysis error, not a
    // silent empty result (FunctionCatalog contract)
    val e1 = intercept[Exception](
      sql("SHOW FUNCTIONS IN graft.no_such_ns").collect())
    assert(e1.getMessage.contains("no_such_ns"), e1.getMessage)
    val e2 = intercept[Exception](
      sql("SELECT graft.no_such_ns.months(current_timestamp())").collect())
    assert(e2.getMessage.contains("no_such_ns"), e2.getMessage)
    // functions do NOT resolve under arbitrary existing namespaces
    val e3 = intercept[Exception](
      sql("SELECT graft.fns.months(current_timestamp())").collect())
    assert(e3.getMessage.toLowerCase.contains("routine")
      || e3.getMessage.toLowerCase.contains("function"), e3.getMessage)

    // bucket(n <= 0) is a named domain error, not / by zero
    val e4 = intercept[Exception](
      sql("SELECT graft.bucket(0, 7L)").collect())
    assert(e4.getMessage.contains("bucket count must be positive"),
      e4.getMessage)
    sql("DROP NAMESPACE graft.fns CASCADE")
  }

  test("manifest statistics drive join planning: small/pruned scans broadcast, big ones don't") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.stats")
    sql("DROP TABLE IF EXISTS graft.stats.dim")
    sql("DROP TABLE IF EXISTS graft.stats.fact")
    sql("CREATE TABLE graft.stats.dim (id BIGINT, name STRING)")
    sql("INSERT INTO graft.stats.dim SELECT id, concat('n', cast(id as string)) " +
      "FROM range(0, 100)")
    sql("CREATE TABLE graft.stats.fact (id BIGINT, v DOUBLE)")
    (0 until 6).foreach(i => sql("INSERT INTO graft.stats.fact " +
      s"SELECT id, cast(id as double) FROM range(${i * 300000}, ${(i + 1) * 300000})"))

    def leafStats(df: org.apache.spark.sql.DataFrame): BigInt =
      df.queryExecution.optimizedPlan.collectLeaves().head.stats.sizeInBytes
    // the dim scan reports its real (tiny) size, not defaultSizeInBytes
    val dimBytes = leafStats(spark.table("graft.stats.dim"))
    assert(dimBytes > 0 && dimBytes < 100L * 1000,
      s"dim stats should be ~rows*width, got $dimBytes")
    // the fact scan reports big (1.8M rows * 16B > broadcast threshold)
    val factBytes = leafStats(spark.table("graft.stats.fact"))
    assert(factBytes > 10L * 1024 * 1024, s"fact stats too small: $factBytes")
    // a PRUNED fact scan reports the post-pushdown size: id<1000 keeps
    // a handful of range-clustered files out of ~192
    val prunedBytes = leafStats(
      sql("SELECT * FROM graft.stats.fact WHERE id < 1000"))
    assert(prunedBytes * 20 < factBytes,
      s"pruned scan must report the pruned size: $prunedBytes vs $factBytes")

    def finalPlan(q: String): String = {
      val df = sql(q)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    // small dim side auto-broadcasts with NO hint
    val p1 = finalPlan("SELECT f.id, d.name FROM graft.stats.fact f " +
      "JOIN graft.stats.dim d ON f.id = d.id WHERE f.id < 50")
    assert(p1.contains("BroadcastHashJoin"), p1.take(3000))
    // the pruned branch of a self-join broadcasts too
    val p2 = finalPlan("SELECT f.id FROM graft.stats.fact f JOIN " +
      "(SELECT id FROM graft.stats.fact WHERE id < 1000) g ON f.id = g.id")
    assert(p2.contains("BroadcastHashJoin"), p2.take(3000))
    // the path read: read.format("graft") reports sizeInBytes the same way
    val warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val dimDs = spark.read.format("graft").load(s"$warehouse/stats/dim")
    assert(leafStats(dimDs) == dimBytes)
    sql("DROP TABLE graft.stats.dim")
    sql("DROP TABLE graft.stats.fact")
    sql("DROP NAMESPACE graft.stats")
  }

  test("graft.delete.mode=equality: key-predicate DELETE commits delete-eq, no target scan") {
    // VERDICT r14 #7: a key DELETE under equality mode writes an
    // O(keys) equality-delete file — data files untouched, no scan —
    // while a non-key predicate degrades to positional vectors.
    sql("CREATE NAMESPACE IF NOT EXISTS graft.eqd")
    sql("DROP TABLE IF EXISTS graft.eqd.t")
    sql("CREATE TABLE graft.eqd.t (id BIGINT, kind STRING, v DOUBLE) " +
      "TBLPROPERTIES ('graft.delete.mode'='equality')")
    sql("INSERT INTO graft.eqd.t SELECT id, " +
      "if(id % 2 = 0, 'a', 'b'), cast(id as double) FROM range(0, 100)")
    val warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val t = SnapshotTable.load(spark, s"$warehouse/eqd/t")
    val dataFiles = t.currentSnapshot().files.map(_.path).toSet

    sql("DELETE FROM graft.eqd.t WHERE id IN (3, 5, 7)")
    val s1 = t.currentSnapshot()
    assert(s1.operation == "delete-eq",
      s"IN-key delete must commit an equality delete, got ${s1.operation}")
    assert(s1.deleteFiles.nonEmpty && s1.dvFiles.isEmpty)
    assert(s1.files.map(_.path).toSet == dataFiles, "no data file rewritten")
    assert(sql("SELECT count(*) FROM graft.eqd.t").as[Long].head == 97L)

    // composite key tuple: (id=8 AND kind='a') deletes exactly one row
    sql("DELETE FROM graft.eqd.t WHERE id = 8 AND kind = 'a'")
    assert(t.currentSnapshot().operation == "delete-eq")
    assert(sql("SELECT count(*) FROM graft.eqd.t").as[Long].head == 96L)
    // a tuple that matches nothing deletes nothing
    sql("DELETE FROM graft.eqd.t WHERE id = 10 AND kind = 'b'")
    assert(sql("SELECT count(*) FROM graft.eqd.t").as[Long].head == 96L)

    // sequence-number semantics: a re-append of a deleted key is a NEW
    // row and stays visible
    sql("INSERT INTO graft.eqd.t VALUES (3, 'a', 3.0)")
    assert(sql("SELECT count(*) FROM graft.eqd.t WHERE id = 3")
      .as[Long].head == 1L)

    // a non-key predicate under equality mode degrades to positional
    // vectors — merge-on-read either way, never a rewrite
    sql("DELETE FROM graft.eqd.t WHERE v >= 90.0")
    val s2 = t.currentSnapshot()
    assert(s2.operation == "delete-pos" && s2.dvFiles.nonEmpty,
      s"non-key predicate must take the positional path, got ${s2.operation}")
    assert(sql("SELECT count(*) FROM graft.eqd.t").as[Long].head == 87L)
    // the original data files all survive (the extra file is the
    // re-appended key's)
    assert(dataFiles.subsetOf(s2.files.map(_.path).toSet))
    sql("DROP TABLE graft.eqd.t")
    sql("DROP NAMESPACE graft.eqd")
  }

  test("column statistics flip a 3-table join reorder under CBO") {
    // VERDICT r14 #4: manifests carry per-column min/max/nulls and an
    // HLL ndv sketch; the native scan surfaces them through
    // SupportsReportStatistics.columnStats, so CostBasedJoinReorder
    // can size snapshot-table joins. big1⋈small is ~100 rows while
    // big1⋈big2 is 200k — CBO must pull `small` forward.
    sql("CREATE NAMESPACE IF NOT EXISTS graft.cbo")
    Seq("b1", "b2", "s").foreach(n =>
      sql(s"DROP TABLE IF EXISTS graft.cbo.$n"))
    sql("CREATE TABLE graft.cbo.b1 (k BIGINT, j BIGINT)")
    sql("INSERT INTO graft.cbo.b1 SELECT id, id % 100000 FROM range(0, 200000)")
    sql("CREATE TABLE graft.cbo.b2 (k BIGINT, w DOUBLE)")
    sql("INSERT INTO graft.cbo.b2 SELECT id, cast(id as double) " +
      "FROM range(0, 200000)")
    sql("CREATE TABLE graft.cbo.s (j BIGINT, tag STRING)")
    sql("INSERT INTO graft.cbo.s SELECT id, concat('t', cast(id as string)) " +
      "FROM range(0, 50)")
    // the manifest really carries a mergeable ndv sketch, and its
    // union estimates the true distinct count within HLL lgk=8 error
    val warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val b1 = SnapshotTable.load(spark, s"$warehouse/cbo/b1")
    val jSketches = b1.currentSnapshot().files.map(_.stats("j").ndv)
    assert(jSketches.nonEmpty && jSketches.forall(_.isDefined))
    val est = graft.catalog.FileStats.ndvEstimate(jSketches).get
    assert(math.abs(est - 100000L) < 15000L,
      s"ndv union estimate should be ~100000, got $est")

    val q = """SELECT b1.k, b2.w, s.tag
              |FROM graft.cbo.b1 b1
              |JOIN graft.cbo.b2 b2 ON b1.k = b2.k
              |JOIN graft.cbo.s s ON b1.j = s.j""".stripMargin
    def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
      val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally old.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    // a left-deep join tree prints its scans in join order: written
    // order is (b1⋈b2)⋈s, so b2 appears before s
    def scanOrder(): (Int, Int) = {
      val plan = sql(q).queryExecution.optimizedPlan.toString
      (plan.indexOf("cbo.b2"), plan.indexOf("cbo.s"))
    }
    withConf("spark.sql.cbo.enabled" -> "false") {
      val (b2At, sAt) = scanOrder()
      assert(b2At >= 0 && sAt >= 0 && b2At < sAt,
        s"without CBO the written order stands: b2@$b2At s@$sAt")
    }
    withConf(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true") {
      val (b2At, sAt) = scanOrder()
      assert(b2At >= 0 && sAt >= 0 && sAt < b2At,
        s"CBO must join the selective small table first: b2@$b2At s@$sAt")
      // and the reordered plan is still exact
      assert(sql(q).count() == 100L)
    }
    Seq("b1", "b2", "s").foreach(n => sql(s"DROP TABLE graft.cbo.$n"))
    sql("DROP NAMESPACE graft.cbo")
  }

  test("REPLACE WHERE: one atomic filter overwrite, untouched files intact") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.rw")
    sql("DROP TABLE IF EXISTS graft.rw.t")
    sql("CREATE TABLE graft.rw.t (id BIGINT, k STRING, v DOUBLE)")
    // two commits with DISJOINT id ranges so the manifest can prove
    // which files the overwrite may touch
    sql("INSERT INTO graft.rw.t SELECT id, 'a', cast(id as double) " +
      "FROM range(0, 100)")
    sql("INSERT INTO graft.rw.t SELECT id, 'b', cast(id as double) " +
      "FROM range(1000, 1100)")
    val warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val t = SnapshotTable.load(spark, s"$warehouse/rw/t")
    val vBefore = t.currentVersion()
    val untouched = t.currentSnapshot().files
      .filter(_.stats.get("id").flatMap(_.min).exists(_.toLong >= 1000))
      .map(_.path).toSet
    assert(untouched.nonEmpty)

    // SQL REPLACE WHERE: swap the id<100 half for a new batch
    sql("INSERT INTO graft.rw.t REPLACE WHERE id < 100 " +
      "SELECT id, 'c', -1.0 FROM range(0, 50)")
    // ONE commit, op recorded
    assert(t.currentVersion() == vBefore + 1)
    assert(t.currentSnapshot().operation == "overwrite_where")
    // exact contents: old id>=1000 rows intact, replaced half swapped
    assert(sql("SELECT count(*) FROM graft.rw.t").as[Long].head == 150L)
    assert(sql("SELECT count(*) FROM graft.rw.t WHERE k = 'a'")
      .as[Long].head == 0L)
    assert(sql("SELECT count(*) FROM graft.rw.t WHERE k = 'c' AND v = -1.0")
      .as[Long].head == 50L)
    assert(sql("SELECT count(*) FROM graft.rw.t WHERE k = 'b'")
      .as[Long].head == 100L)
    // files outside the predicate were NOT rewritten (byte-identical
    // adoption - the manifest still lists the same paths)
    val after = t.currentSnapshot().files.map(_.path).toSet
    assert(untouched.subsetOf(after),
      "files the predicate cannot touch must survive the overwrite")

    // DataFrameWriterV2 route: overwrite(condition)
    spark.range(2000, 2010)
      .selectExpr("id", "'d' as k", "cast(0.5 as double) as v")
      .writeTo("graft.rw.t").overwrite(col("k") === "b")
    assert(sql("SELECT count(*) FROM graft.rw.t").as[Long].head == 60L)
    assert(sql("SELECT count(*) FROM graft.rw.t WHERE k = 'b'")
      .as[Long].head == 0L)
    assert(sql("SELECT count(*) FROM graft.rw.t WHERE k = 'd'")
      .as[Long].head == 10L)
    // rows where the predicate is NULL are KEPT (SQL overwrite scope)
    sql("INSERT INTO graft.rw.t SELECT 3000, NULL, 9.0")
    spark.range(4000, 4001)
      .selectExpr("id", "'e' as k", "cast(1.0 as double) as v")
      .writeTo("graft.rw.t").overwrite(col("k") === "c")
    assert(sql("SELECT count(*) FROM graft.rw.t WHERE k IS NULL")
      .as[Long].head == 1L, "NULL-predicate rows must survive")
    assert(sql("SELECT count(*) FROM graft.rw.t WHERE k = 'c'")
      .as[Long].head == 0L)
  }
}
