package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2Relation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{GraftBatchScan, PartitionSpec, Snapshot, SnapshotConflictException, SnapshotLog, SnapshotTable}

/** Pins the snapshot layer's contract: atomic commits, optimistic
  * concurrency, time travel, rollback, expiry, hidden-partition
  * pruning, and read-time schema widening.
  */
class SnapshotTableSpec extends AnyFunSuite {

  private lazy val spark = TestSparkSession.spark
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("snaptbl").resolve("t").toString

  private val eventsSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("ts", TimestampType),
    StructField("v", DoubleType)))

  private def rows(ids: (Long, String, Double)*) =
    ids.map { case (i, m, v) => (i, Timestamp.valueOf(s"$m 00:00:00"), v) }
      .toDF("id", "ts", "v")

  private val monthSpec = Some(PartitionSpec("ts", "month"))

  /** Deterministic injected clock: each call +1s from t0. */
  private def tickClock(t0: Long = 1000000L): () => Long = {
    val n = new java.util.concurrent.atomic.AtomicLong(t0)
    () => n.addAndGet(1000L)
  }

  test("create + append + read round-trips; manifest partitions are hidden") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec)
    assert(t.currentVersion() == 1L)
    assert(t.read().count() == 0L)
    t.append(rows((1, "2024-01-05", 1.0), (2, "2024-02-06", 2.0)))
    val df = t.read()
    // hidden partitioning: no partition column surfaces in the schema
    assert(df.columns.toSeq == Seq("id", "ts", "v"))
    assert(df.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // manifest knows the partition values without touching data files
    assert(t.currentSnapshot().partitions.flatten.toSet == Set("2024-01", "2024-02"))
  }

  test("null partition-source rows land in the null partition and read back") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec)
    val withNull = rows((1, "2024-01-05", 1.0))
      .unionByName(Seq((2L, null.asInstanceOf[Timestamp], 2.0)).toDF("id", "ts", "v"))
    t.append(withNull)
    assert(t.currentSnapshot().partitions.toSet == Set(Some("2024-01"), None))
    assert(t.read().count() == 2L)
    // null partition prunes like any other
    assert(t.readPartitions(_.isEmpty).select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("appends are atomic: a staged-but-uncommitted batch is invisible") {
    val root = freshRoot()
    val t = SnapshotTable.create(spark, root, eventsSchema, monthSpec,
      clock = tickClock())
    t.append(rows((1, "2024-01-05", 1.0)))
    // simulate a writer that crashed after staging, before commit:
    // files under data/ with no manifest referencing them
    rows((99, "2024-01-09", 9.9))
      .withColumn(SnapshotTable.PartCol, date_format($"ts", "yyyy-MM"))
      .write.partitionBy(SnapshotTable.PartCol)
      .parquet(s"$root/${SnapshotLog.DataDirName}/deadbeefcrashed")
    assert(t.read().select("id").as[Long].collect().toSeq == Seq(1L))
    // a crashed COMMIT leaves a staged .tmp manifest in the log dir
    Files.write(java.nio.file.Paths.get(root, SnapshotLog.LogDirName,
      ".tmp-9-dead.json"), "{}".getBytes("UTF-8"))
    // orphan cleanup removes exactly the unreferenced files + aged tmp
    val removed = t.removeOrphanFiles(olderThanMs = -3600 * 1000)
    assert(removed >= 2)
    assert(t.read().select("id").as[Long].collect().toSeq == Seq(1L))
    assert(t.currentVersion() == 2L, "tmp manifest never counted as a version")
  }

  test("time travel by version and timestamp; rollback preserves history") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec,
      clock = tickClock())
    t.append(rows((1, "2024-01-05", 1.0)))               // v2
    val v2At = t.currentSnapshot().timestampMs
    t.append(rows((2, "2024-01-06", 2.0)))               // v3
    assert(t.readAt(2).count() == 1L)
    assert(t.readAt(3).count() == 2L)
    assert(t.readAsOf(v2At).count() == 1L)
    val rb = t.rollback(2)                               // v4 = content of v2
    assert(rb.version == 4L)
    assert(t.read().select("id").as[Long].collect().toSeq == Seq(1L))
    assert(t.readAt(3).count() == 2L, "rollback must not destroy history")
  }

  test("rollback restores table properties with the content") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec,
      properties = Map("graft.bloom.columns" -> "id"))
    t.append(rows((1, "2024-01-05", 1.0)))               // v2
    t.renameColumn("id", "uid")                          // v3: prop follows
    assert(t.currentSnapshot().properties("graft.bloom.columns") == "uid")
    val rb = t.rollback(2)                               // v4 = state of v2
    // properties are table state too: leaving the post-rename bloom
    // spec against the restored pre-rename schema would silently stop
    // building Bloom filters for the column on every later append
    assert(rb.properties("graft.bloom.columns") == "id")
    assert(t.currentSnapshot().schema.fieldNames.contains("id"))
  }

  test("overwritePartitions replaces exactly the incoming partitions") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec)
    t.append(rows((1, "2024-01-05", 1.0), (2, "2024-02-06", 2.0)))
    t.overwritePartitions(rows((10, "2024-01-07", 10.0)))
    val out = t.read().select("id").as[Long].collect().sorted.toSeq
    assert(out == Seq(2L, 10L))
  }

  test("upsert replaces keyed rows, touches only their partitions, and is atomic") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec)
    t.append(rows((1, "2024-01-05", 1.0), (2, "2024-02-06", 2.0),
      (3, "2024-03-07", 3.0)))
    val marchFiles = t.currentSnapshot().files
      .filter(_.partition.contains("2024-03")).map(_.path).toSet
    t.upsert(rows((1, "2024-01-05", 100.0), (4, "2024-02-08", 4.0)), Seq("id"))
    val out = t.read().orderBy("id").select("id", "v")
      .as[(Long, Double)].collect().toSeq
    assert(out == Seq((1L, 100.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)))
    // untouched partition kept its physical files (partition-bounded rewrite)
    val marchAfter = t.currentSnapshot().files
      .filter(_.partition.contains("2024-03")).map(_.path).toSet
    assert(marchAfter == marchFiles)
  }

  test("upsert against a stale base version raises a conflict, leaving the table intact") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec)
    t.append(rows((1, "2024-01-05", 1.0)))
    val stale = t.currentVersion()
    t.append(rows((2, "2024-01-06", 2.0))) // someone else commits
    val before = t.read().select("id").as[Long].collect().sorted.toSeq
    intercept[SnapshotConflictException] {
      t.upsertFrom(rows((1, "2024-01-05", 99.0)), Seq("id"), stale)
    }
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == before)
  }

  test("concurrent appends both land via commit retry") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec)
    val start = new CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { i =>
      new Thread(() => {
        try {
          start.await()
          val tt = SnapshotTable.load(spark, t.root.toString)
          tt.append(rows((i.toLong, "2024-01-05", i.toDouble)))
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent append failed: ${errs.peek()}")
    assert(t.currentVersion() == 3L)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("schema evolution: new column appends; old snapshots keep their schema") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec)
    t.append(rows((1, "2024-01-05", 1.0)))
    val evolvedBatch = rows((2, "2024-02-06", 2.0)).withColumn("tag", lit("b"))
    t.append(evolvedBatch)
    val df = t.read()
    assert(df.columns.toSeq == Seq("id", "ts", "v", "tag"))
    val byId = df.select("id", "tag").as[(Long, Option[String])]
      .collect().toMap
    assert(byId == Map(1L -> None, 2L -> Some("b")))
    // time travel reads the contemporary (pre-evolution) schema
    assert(t.readAt(2).columns.toSeq == Seq("id", "ts", "v"))
  }

  test("schema evolution: int→long and float→double widen; old narrow files still read") {
    val narrow = StructType(Seq(
      StructField("id", IntegerType),
      StructField("score", FloatType)))
    val t = SnapshotTable.create(spark, freshRoot(), narrow, None)
    t.append(Seq((1, 1.5f)).toDF("id", "score"))
    t.append(Seq((2L, 2.5d)).toDF("id", "score")) // wider batch
    val s = t.schema
    assert(s("id").dataType == LongType && s("score").dataType == DoubleType)
    val out = t.read().orderBy("id").as[(Long, Double)].collect().toSeq
    assert(out == Seq((1L, 1.5), (2L, 2.5)))
  }

  test("readTimestampRange prunes at the manifest and filters exactly") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec)
    t.append(rows((1, "2024-01-05", 1.0), (2, "2024-02-06", 2.0),
      (3, "2024-03-07", 3.0), (4, "2024-02-20", 4.0)))
    val from = Instant.parse("2024-02-01T00:00:00Z")
    val until = Instant.parse("2024-02-10T00:00:00Z")
    val df = t.readTimestampRange(from, until)
    assert(df.select("id").as[Long].collect().toSeq == Seq(2L))
    // pruning proof: only the 2024-02 files appear in the scan
    val scanned = df.select(input_file_name()).distinct()
      .as[String].collect().toSet
    val feb = t.currentSnapshot().files.filter(_.partition.contains("2024-02"))
    assert(scanned.forall(f => feb.exists(e => f.endsWith(e.path.split('/').last))))
    assert(scanned.size <= feb.size)
  }

  test("compact is partition-scoped, atomic per partition, and preserves rows") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec)
    (1 to 4).foreach(i => t.append(rows((i.toLong, "2024-01-05", i.toDouble),
      (100L + i, "2024-02-06", i.toDouble))))
    val before = t.currentSnapshot()
    assert(before.files.count(_.partition.contains("2024-01")) == 4)
    val results = t.compact(targetRowsPerFile = 1000L,
      partitions = Some(Seq(Some("2024-01"))))
    assert(results.map(_._1) == Seq(Some("2024-01")))
    val after = t.currentSnapshot()
    assert(after.files.count(_.partition.contains("2024-01")) == 1)
    // untouched partition's files unchanged
    assert(after.files.filter(_.partition.contains("2024-02")).map(_.path).toSet ==
      before.files.filter(_.partition.contains("2024-02")).map(_.path).toSet)
    assert(t.read().count() == 8L)
    // one commit per compacted partition
    assert(after.version == before.version + 1)
  }

  test("expireSnapshots honors vacuum_min_snapshots_to_keep and deletes dead files") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec,
      properties = Map("vacuum_min_snapshots_to_keep" -> "2"))
    t.append(rows((1, "2024-01-05", 1.0)))
    t.overwritePartitions(rows((2, "2024-01-06", 2.0))) // v2's files now dead
    t.append(rows((3, "2024-02-07", 3.0)))
    val deadPaths = t.history().flatMap(_.files.map(_.path)).toSet --
      t.currentSnapshot().files.map(_.path).toSet
    assert(deadPaths.nonEmpty)
    val (expired, deleted) = t.expireSnapshots()
    assert(expired == 2, "4 snapshots, keep 2") // v1, v2 expired
    assert(deleted == deadPaths.size)
    assert(t.history().map(_.version) == Seq(3L, 4L))
    // live data unaffected
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    // time travel to an expired version: clear error naming the live range
    val e = intercept[IllegalArgumentException] { t.readAt(1) }
    assert(e.getMessage.contains("expired") && e.getMessage.contains("3, 4"))
  }

  test("expiry garbage-collects manifests and bloom sidecars with their last referent") {
    val root = freshRoot()
    val t = SnapshotTable.create(spark, root, eventsSchema, None,
      properties = Map("vacuum_min_snapshots_to_keep" -> "1",
        "graft.bloom.columns" -> "id"))
    t.append(rows((1, "2024-01-05", 1.0)))
    t.overwrite(rows((2, "2024-01-06", 2.0))) // v2's manifest+sidecar die
    def aux(sub: String): Set[String] = {
      val d = new java.io.File(new java.io.File(root,
        graft.catalog.SnapshotLog.LogDirName), sub)
      Option(d.list()).map(_.filterNot(_.endsWith(".crc")).toSet)
        .getOrElse(Set.empty)
    }
    assert(aux("manifests").size >= 2 && aux("blooms").size >= 2)
    t.expireSnapshots()
    assert(aux("manifests").size == 1,
      "expired append's manifest must be deleted")
    assert(aux("blooms").size == 1,
      "expired append's bloom sidecar must be deleted")
    // the survivor still reads and still bloom-prunes
    assert(t.read().select("id").as[Long].collect().toSeq == Seq(2L))
    assert(t.pruneFiles(col("id") === 1L).isEmpty, "bloom+bounds prune")
    assert(t.pruneFiles(col("id") === 2L).size == 1)
  }

  test("maintain() executes the reference's TBLPROPERTIES thresholds") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec,
      properties = Map(
        "optimize_rewrite_data_file_threshold" -> "3",
        "vacuum_min_snapshots_to_keep" -> "3"))
    (1 to 5).foreach(i => t.append(rows((i.toLong, "2024-01-05", i.toDouble))))
    assert(t.currentSnapshot().files.size == 5)
    t.maintain(targetRowsPerFile = 1000L)
    assert(t.currentSnapshot().files.size == 1)
    assert(t.history().size == 3)
    assert(t.read().count() == 5L)
  }

  test("column defaults: old files read initial-default, omitting writers stamp write-default, explicit NULL stays NULL") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema)
    t.append(rows((1, "2024-01-01", 1.0)))                      // v2
    t.addColumnWithDefault(
      StructField("src", StringType), "legacy")                 // v3
    // initial-default: the pre-existing file reads the default, no
    // rewrite (file set unchanged)
    assert(t.read().select("src").as[String].collect().toSeq == Seq("legacy"))
    assert(t.currentSnapshot().files.size == 1)
    // write-default: a batch OMITTING the column stamps the default
    t.append(rows((2, "2024-01-02", 2.0)))                      // v4
    // explicit NULL stays NULL; explicit value wins
    t.append(Seq((3L, java.sql.Timestamp.valueOf("2024-01-03 00:00:00"),
        3.0, null: String), (4L,
        java.sql.Timestamp.valueOf("2024-01-04 00:00:00"), 4.0, "api"))
      .toDF("id", "ts", "v", "src"))                            // v5
    val got = t.read().select(col("id"), col("src"))
      .as[(Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, Some("legacy")), (2L, Some("legacy")),
      (3L, None), (4L, Some("api"))), got)
    // compaction materializes defaults into the rewrite — identical
    t.compact(minFiles = 1)
    assert(t.read().select(col("id"), col("src"))
      .as[(Long, Option[String])].collect().sortBy(_._1).toSeq == got)
    // upsert and MERGE stamp the write-default too (one writer
    // semantics per table, not per verb): a batch OMITTING the column
    // gets 'legacy' whether it lands via append, upsert or MERGE
    t.upsert(rows((5, "2024-01-05", 5.0)), Seq("id"))
    assert(t.read().filter(col("id") === 5L).select("src")
      .as[String].collect().toSeq == Seq("legacy"), "upsert default")
    t.merge(rows((6, "2024-01-06", 6.0)), Seq("id"))
    assert(t.read().filter(col("id") === 6L).select("src")
      .as[String].collect().toSeq == Seq("legacy"), "merge-insert default")
    // ...and a matched UPDATE SET * from an omitting source replaces
    // the row's src with the default (the writer doesn't know the
    // column), while explicit values still win
    t.merge(rows((4, "2024-01-04", 44.0)), Seq("id"))
    assert(t.read().filter(col("id") === 4L).select("v", "src")
      .as[(Double, String)].collect().toSeq == Seq((44.0, "legacy")))
    // timestamps are refused (session-zone-dependent rendering)
    val bad = intercept[IllegalArgumentException](t.addColumnWithDefault(
      StructField("at", TimestampType),
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    assert(bad.getMessage.contains("not supported"), bad.getMessage)
    // SQL surface: ADD COLUMNS ... DEFAULT through the catalog
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.defs")
    spark.sql("DROP TABLE IF EXISTS graft.defs.t")
    spark.sql("CREATE TABLE graft.defs.t (id BIGINT)")
    spark.sql("INSERT INTO graft.defs.t VALUES (1)")
    spark.sql("ALTER TABLE graft.defs.t ADD COLUMNS " +
      "(tier STRING DEFAULT 'bronze')")
    assert(spark.sql("SELECT tier FROM graft.defs.t").as[String]
      .collect().toSeq == Seq("bronze"))
  }

  test("nested evolution: struct fields add/rename/drop by field id; old files resolve correctly") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("meta", StructType(Seq(
        StructField("kind", StringType),
        StructField("score", LongType))))))
    val t = SnapshotTable.create(spark, freshRoot(), schema)
    def row(id: Long, kind: String, score: Long) =
      Seq((id, (kind, score))).toDF("id", "meta")
        .select(col("id"), col("meta").cast(schema("meta").dataType))
    t.append(row(1, "a", 10))                                  // v2
    // WRITE-SIDE nested evolution: a batch whose struct carries a new
    // field grows the table struct; old rows read NULL for it
    val grown = Seq((2L, ("b", 20L, 2.5))).toDF("id", "meta")
    t.append(grown.select(col("id"), col("meta").cast(
      "struct<kind:string,score:bigint,boost:double>")))       // v3
    assert(t.schema("meta").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("kind", "score", "boost"))
    val afterGrow = t.read().select(col("id"), col("meta.kind"),
      col("meta.boost")).as[(Long, String, Option[Double])]
      .collect().sortBy(_._1).toSeq
    assert(afterGrow == Seq((1L, "a", None), (2L, "b", Some(2.5))))
    // an OLD-SHAPE batch still appends (by-name struct conform)
    t.append(row(3, "c", 30))                                  // v4
    // explicit DDL add
    t.addStructField("meta", StructField("tag", StringType))   // v5
    // RENAME survives: old files keep serving values through the old
    // physical name via the nested id
    t.renameStructField("meta", "score", "points")             // v6
    val renamed = t.read().select(col("id"), col("meta.points"))
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(renamed == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // DROP then re-ADD the same name: fresh id, NO resurrection
    t.dropStructField("meta", "points")                        // v7
    t.addStructField("meta", StructField("points", LongType))  // v8
    assert(t.read().filter(col("meta.points").isNotNull).count() == 0L)
    // new appends land in the re-added field; old rows stay NULL
    val full = Seq((4L, ("d", 7.5, "x", 40L))).toDF("id", "meta")
      .select(col("id"), col("meta").cast(
        "struct<kind:string,boost:double,tag:string,points:bigint>"))
    t.append(full)                                             // v9
    val pts = t.read().select(col("id"), col("meta.points"))
      .as[(Long, Option[Long])].collect().sortBy(_._1).toSeq
    assert(pts == Seq((1L, None), (2L, None), (3L, None), (4L, Some(40L))))
    // time travel renders each snapshot under its contemporary schema
    assert(t.readAt(2).select("meta.score").as[Long].collect().toSeq ==
      Seq(10L))
    // compaction rewrites under the current schema, content identical
    val before = t.read().select(col("id"), col("meta.kind"),
      col("meta.points")).as[(Long, String, Option[Long])]
      .collect().sortBy(_._1).toSeq
    t.compact(minFiles = 1)
    assert(t.read().select(col("id"), col("meta.kind"),
      col("meta.points")).as[(Long, String, Option[Long])]
      .collect().sortBy(_._1).toSeq == before)
    // ...and a rename AFTER compaction still resolves (rewritten files
    // recorded current nested ids)
    t.renameStructField("meta", "kind", "category")
    assert(t.read().select("meta.category").as[String].collect().sorted
      .toSeq == Seq("a", "b", "c", "d"))
    // NULL structs stay NULL through the rebuild projection
    val withNull = Seq((5L, None: Option[(String, Double, String, Long)]))
      .toDF("id", "meta").select(col("id"), col("meta").cast(
        "struct<category:string,boost:double,tag:string,points:bigint>"))
    t.append(withNull)
    assert(t.read().filter(col("id") === 5L).select(col("meta").isNull)
      .as[Boolean].collect().head)
  }

  test("positional delete vectors: no rewrite, reads apply, compaction folds in, changes retract") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, None)
    // ONE multi-row file: a single-row file would be provably all-
    // matching and metadata-drop instead (MetadataDeleteSpec pins
    // that); this test pins the VECTOR mechanics on partial matches
    t.append(rows((1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0),
      (3, "2024-01-03", 3.0), (4, "2024-01-04", 4.0)).repartition(1)) // v2
    val preFiles = t.currentSnapshot().files.map(_.path).toSet
    // DELETE via vector: data-file set byte-identical, vector present
    t.deleteWithVectors(col("id") === 2L)                    // v3
    val s3 = t.currentSnapshot()
    assert(s3.files.map(_.path).toSet == preFiles, "no data file rewritten")
    assert(s3.dvFiles.nonEmpty && s3.dvFiles.map(_.rows).sum == 1L)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 4L))
    // vectors are pending row-level state: metadata aggregates refuse
    assert(t.metadataAggregate(Seq(
      SnapshotTable.MetaAgg("count_star", "", "n"))).isEmpty)
    // a second vector on the SAME file unions with the first
    t.deleteWithVectors(col("v") >= 4.0)                     // v4
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L))
    // composes with equality MoR deletes
    t.deleteByKeys(Seq(3L).toDF("id"), Seq("id"))            // v5
    assert(t.read().select("id").as[Long].collect().toSeq == Seq(1L))
    // a re-append of identical content is untouched (path-exact
    // coverage = sequence-number semantics)
    t.append(rows((2, "2024-01-02", 2.0)))                   // v6
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    // time travel still sees the pre-delete content
    assert(t.readAt(2).count() == 4L)
    // changelog across the vector commits nets exact retractions
    val ch = t.changes(2, 5).select("_change_type", "id")
      .as[(String, Long)].collect().sorted.toSeq
    assert(ch == Seq(("delete", 2L), ("delete", 3L), ("delete", 4L)), ch)
    // predicate matching nothing commits nothing
    val v = t.currentVersion()
    assert(t.deleteWithVectors(col("id") === 999L).version == v)
    // compaction folds vectors (and the eq delete) into the rewrite
    // and retires them; content identical before/after
    val before = t.read().select("id", "v").as[(Long, Double)]
      .collect().sorted.toSeq
    t.compact(minFiles = 1)
    val sc = t.currentSnapshot()
    assert(sc.dvFiles.isEmpty && sc.deleteFiles.isEmpty)
    assert(t.read().select("id", "v").as[(Long, Double)]
      .collect().sorted.toSeq == before)
    // read-modify-write: a concurrent commit between read and publish
    // conflicts (positions are only valid against the base file set)
    t.append(rows((7, "2024-02-01", 7.0)))
    val base = t.currentSnapshot()
    t.append(rows((8, "2024-02-02", 8.0)))
    // simulate staleness: delete computed against `base` must fail —
    // use the internal seam via a fresh handle racing a commit
    val t2 = SnapshotTable.load(spark, t.root.toString)
    t2.deleteWithVectors(col("id") === 7L) // current base: fine
    assert(t2.read().filter(col("id") === 7L).count() == 0L)
  }

  test("maintain() honors N-D graft.zorder and rejects out-of-range values") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, None,
      properties = Map(
        "optimize_rewrite_data_file_threshold" -> "2",
        "graft.zorder" -> "id,v,ts"))
    (1 to 3).foreach(i =>
      t.append(rows((i.toLong, s"2024-01-0$i", i.toDouble))))
    // 3-column z-order must be APPLIED during maintenance (it used to
    // be silently ignored when not exactly 2 columns)
    t.maintain(targetRowsPerFile = 1000L)
    assert(t.currentSnapshot().files.size == 1)
    assert(t.read().count() == 3L)
    // an out-of-range value fails loudly instead of falling back
    t.setProperties(Map("graft.zorder" -> "id"))
    val bad = intercept[IllegalArgumentException](t.maintain())
    assert(bad.getMessage.contains("graft.zorder"), bad.getMessage)
  }

  test("readIncremental returns only rows from files added in the version range") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec)
    t.append(rows((1, "2024-01-05", 1.0)))                 // v2
    t.append(rows((2, "2024-02-06", 2.0), (3, "2024-02-07", 3.0))) // v3
    t.append(rows((4, "2024-03-08", 4.0)))                 // v4
    assert(t.readIncremental(2, 3).select("id").as[Long]
      .collect().sorted.toSeq == Seq(2L, 3L))
    assert(t.readIncremental(2, 4).select("id").as[Long]
      .collect().sorted.toSeq == Seq(2L, 3L, 4L))
    assert(t.readIncremental(4, 4).count() == 0L)
  }

  test("appendStreamBatch is exactly-once: a replayed batch id is skipped") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec)
    assert(t.appendStreamBatch(rows((1, "2024-01-05", 1.0)), 0L).isDefined)
    assert(t.appendStreamBatch(rows((2, "2024-01-06", 2.0)), 1L).isDefined)
    // crash-replay of batch 1: must be a no-op, not a duplicate
    assert(t.appendStreamBatch(rows((2, "2024-01-06", 2.0)), 1L).isEmpty)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(t.currentSnapshot().properties(SnapshotTable.StreamBatchProp) == "1")
  }

  test("compact(sortBy) range-clusters: output files cover disjoint id ranges") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec)
    // interleaved appends so unsorted files all span the full id range
    (0 until 4).foreach { i =>
      t.append(rows((100L + i, "2024-01-05", 1.0), (200L + i, "2024-01-06", 2.0),
        (300L + i, "2024-01-07", 3.0)))
    }
    t.compact(targetRowsPerFile = 4L, sortBy = Seq("id"))
    val files = t.currentSnapshot().files
    assert(files.size >= 2, "expected multiple range-clustered output files")
    val ranges = files.map { f =>
      val d = spark.read.schema(eventsSchema)
        .parquet(new org.apache.hadoop.fs.Path(t.root, f.path).toString)
      val r = d.agg(min("id"), max("id")).head
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2,
        s"file id ranges overlap: $ranges")
      case _ =>
    }
  }

  /** Keyed CDC upsert of `stream` into the table at `root` on `id`. */
  private def upsertStream(stream: org.apache.spark.sql.DataFrame,
      root: String, ckpt: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.format("graft").option("keys", "id")
      .outputMode("update").option("checkpointLocation", ckpt).start(root)

  test("graft sink streams micro-batches exactly-once into the table") {
    val srcDir = Files.createTempDirectory("snap-stream-src").toString
    val ckpt = Files.createTempDirectory("snap-stream-ckpt").toString
    val root = freshRoot()
    SnapshotTable.create(spark, root, eventsSchema, monthSpec)
    rows((1, "2024-01-05", 1.0)).coalesce(1).write.parquet(s"$srcDir/f1")
    rows((2, "2024-02-06", 2.0)).coalesce(1).write.parquet(s"$srcDir/f2")
    val stream = spark.readStream.schema(eventsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*")
    val q = stream.writeStream.format("graft")
      .option("checkpointLocation", ckpt).start(root)
    try q.processAllAvailable() finally q.stop()
    val t = SnapshotTable.load(spark, root)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // one atomic commit per micro-batch, ids recorded
    assert(t.currentSnapshot().properties.contains(SnapshotTable.StreamBatchProp))
  }

  test("keyed graft sink streams CDC micro-batches atomically") {
    val srcDir = Files.createTempDirectory("snap-ups-src").toString
    val ckpt = Files.createTempDirectory("snap-ups-ckpt").toString
    val root = freshRoot()
    val t0 = SnapshotTable.create(spark, root, eventsSchema, monthSpec)
    t0.append(rows((1, "2024-01-05", 1.0), (2, "2024-02-06", 2.0)))
    // batch 1 corrects key 1; batch 2 corrects key 2 and inserts key 3
    rows((1, "2024-01-05", 10.0)).coalesce(1).write.parquet(s"$srcDir/f1")
    rows((2, "2024-02-06", 20.0), (3, "2024-03-07", 3.0))
      .coalesce(1).write.parquet(s"$srcDir/f2")
    val stream = spark.readStream.schema(eventsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*")
    val q = upsertStream(stream, root, ckpt)
    try q.processAllAvailable() finally q.stop()
    val t = SnapshotTable.load(spark, root)
    val got = t.read().select("id", "v").as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 10.0, 2L -> 20.0, 3L -> 3.0),
      "late corrections replace, new keys insert, no duplicates")
    assert(t.read().count() == 3L)
    // each micro-batch was one atomic upsert commit
    assert(t.history().count(_.operation.startsWith("upsert")) == 2)
  }

  test("keyed graft sink on merge-on-read commits vectors; replay converges") {
    val srcDir = Files.createTempDirectory("snap-morups-src").toString
    val ckpt = Files.createTempDirectory("snap-morups-ckpt").toString
    val root = freshRoot()
    val t0 = SnapshotTable.create(spark, root, eventsSchema, monthSpec,
      properties = Map("graft.merge.mode" -> "merge-on-read"))
    t0.append(rows((1, "2024-01-05", 1.0), (2, "2024-02-06", 2.0)))
    val preFiles = t0.currentSnapshot().files.map(_.path).toSet
    // batch 1 corrects key 1; batch 2 corrects key 2 and inserts key 3
    rows((1, "2024-01-05", 10.0)).coalesce(1).write.parquet(s"$srcDir/f1")
    rows((2, "2024-02-06", 20.0), (3, "2024-03-07", 3.0))
      .coalesce(1).write.parquet(s"$srcDir/f2")
    val stream = spark.readStream.schema(eventsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*")
    val q = upsertStream(stream, root, ckpt)
    try q.processAllAvailable() finally q.stop()
    val t = SnapshotTable.load(spark, root)
    val expect = Map(1L -> 10.0, 2L -> 20.0, 3L -> 3.0)
    assert(t.read().select("id", "v").as[(Long, Double)].collect().toMap
      == expect)
    // each micro-batch landed as ONE MoR merge commit: old images hide
    // under vectors, pre-stream data files all survive (no rewrite)
    assert(t.history().count(_.operation == "merge-pos") == 2,
      t.history().map(_.operation))
    val cur = t.currentSnapshot()
    assert(preFiles.subsetOf(cur.files.map(_.path).toSet),
      "CDC micro-batches must not rewrite target files")
    assert(cur.dvFiles.nonEmpty)
    // one image hidden per corrected key across the two batches
    assert(cur.dvFiles.map(_.rows).sum == 2L, cur.dvFiles)
    // post-crash replay (fresh checkpoint, same source) re-applies the
    // same keyed merges — state converges, nothing duplicates
    val ckpt2 = Files.createTempDirectory("snap-morups-ckpt2").toString
    val q2 = upsertStream(
      spark.readStream.schema(eventsSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*"),
      root, ckpt2)
    try q2.processAllAvailable() finally q2.stop()
    val t2 = SnapshotTable.load(spark, root)
    assert(t2.read().select("id", "v").as[(Long, Double)].collect().toMap
      == expect, "replayed batches must be value-idempotent")
    assert(t2.read().count() == 3L)
  }

  test("appending an empty batch commits a clean no-op snapshot") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec)
    t.append(rows((1, "2024-01-05", 1.0)))
    val filesBefore = t.currentSnapshot().files
    t.append(rows().filter(col("id") < 0)) // legal empty input
    assert(t.currentVersion() == 3L)
    assert(t.currentSnapshot().files == filesBefore)
    assert(t.read().count() == 1L)
  }

  test("readTimestampRange prunes in the session time zone, not UTC") {
    val tzKey = "spark.sql.session.timeZone"
    val prev = spark.conf.get(tzKey)
    spark.conf.set(tzKey, "America/Los_Angeles")
    try {
      val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec)
      // 2024-03-01T00:30Z is Feb 29 16:30 in LA -> partition 2024-02
      t.append(Seq((1L, java.sql.Timestamp.from(
        Instant.parse("2024-03-01T00:30:00Z")), 1.0)).toDF("id", "ts", "v"))
      assert(t.currentSnapshot().partitions.flatten.toSet == Set("2024-02"))
      val out = t.readTimestampRange(Instant.parse("2024-03-01T00:00:00Z"),
        Instant.parse("2024-04-01T00:00:00Z"))
      assert(out.select("id").as[Long].collect().toSeq == Seq(1L),
        "UTC-based pruning would drop the row living in the 2024-02 partition")
    } finally spark.conf.set(tzKey, prev)
  }

  test("compact(zOrderBy) clusters without leaking the Morton key, rows intact") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec)
    (0 until 3).foreach { i =>
      t.append(rows((10L + i, "2024-01-05", (i % 2).toDouble),
        (20L + i, "2024-01-06", (i % 3).toDouble)))
    }
    t.compact(targetRowsPerFile = 3L, zOrderBy = Seq("id", "v"))
    val df = t.read()
    assert(df.columns.toSeq == Seq("id", "ts", "v"), "no __z leak")
    assert(df.select("id").as[Long].collect().sorted.toSeq ==
      Seq(10L, 11L, 12L, 20L, 21L, 22L))
    intercept[IllegalArgumentException] {
      t.compact(zOrderBy = Seq("id"))
    }
  }

  test("zOrder rank normalization: both dimensions prune despite unequal bit widths") {
    // id spans 14 bits, grp 3 bits — RAW Morton interleave would put
    // every range-partition boundary on id bits and leave grp files
    // unclustered (grp pruning impossible); normalized 16-bit ranks
    // give both columns equal split levels
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("grp", LongType)))
    val t = SnapshotTable.create(spark, freshRoot(), schema, None)
    val df = spark.range(10000).select(col("id"),
      (col("id") * 2654435761L % 8L).as("grp")) // decorrelated 0..7
    t.append(df.repartition(4))
    t.compact(targetRowsPerFile = 625L, zOrderBy = Seq("id", "grp"))
    val total = t.currentSnapshot().files.size
    assert(total >= 8, s"expected a multi-file rewrite, got $total")
    val idOpened = t.pruneFiles(col("id") <= 1249L).size
    val grpOpened = t.pruneFiles(col("grp") === 0L).size
    assert(idOpened < total, s"id dim must prune: $idOpened/$total")
    assert(grpOpened < total,
      s"narrow dim must prune too (raw interleave fails this): " +
        s"$grpOpened/$total")
    // pruning stays exact: the pruned read returns the full answer
    assert(t.readWhere(col("grp") === 0L).count() ==
      df.filter(col("grp") === 0L).count())
  }

  test("3-D zOrder: every dimension prunes; 1 and 9 columns refused") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("grp", LongType), StructField("w", LongType)))
    val t = SnapshotTable.create(spark, freshRoot(), schema, None)
    // three mutually-decorrelated dimensions with very different
    // widths (14 / 3 / 5 bits) — the rank normalization must still
    // give each its share of split levels
    val df = spark.range(10000).select(col("id"),
      (col("id") * 2654435761L % 8L).as("grp"),
      (col("id") * 40503L % 32L).as("w"))
    t.append(df.repartition(4))
    t.compact(targetRowsPerFile = 400L, zOrderBy = Seq("id", "grp", "w"))
    val total = t.currentSnapshot().files.size
    assert(total >= 16, s"expected a multi-file rewrite, got $total")
    val idOpened = t.pruneFiles(col("id") <= 1249L).size
    val grpOpened = t.pruneFiles(col("grp") === 0L).size
    val wOpened = t.pruneFiles(col("w") < 4L).size
    assert(idOpened < total, s"id dim must prune: $idOpened/$total")
    assert(grpOpened < total, s"grp dim must prune: $grpOpened/$total")
    assert(wOpened < total, s"w dim must prune: $wOpened/$total")
    // pruning stays exact on every dimension
    assert(t.readWhere(col("w") < 4L).count() ==
      df.filter(col("w") < 4L).count())
    assert(t.readWhere(col("grp") === 0L).count() ==
      df.filter(col("grp") === 0L).count())
    intercept[IllegalArgumentException](t.compact(zOrderBy = Seq("id")))
    intercept[IllegalArgumentException](
      t.compact(zOrderBy = (1 to 9).map(i => s"c$i")))
  }

  test("identity-partition values with path-hostile characters round-trip") {
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType)))
    val t = SnapshotTable.create(spark, freshRoot(), schema,
      Some(PartitionSpec("k", "identity")))
    // non-ASCII partition values are excluded: Spark's own file writer
    // fails on them when the JVM locale is POSIX (container limitation,
    // not a decode issue — the escaping under test is Hive %XX)
    val vals = Seq("a b", "a/b", "a=b", "a%b", "a'b", "a:b")
    t.append(vals.zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "v"))
    // manifest partition values decode back to the ORIGINAL strings
    assert(t.currentSnapshot().partitions.flatten.toSet == vals.toSet)
    // pruning by a hostile value selects exactly its rows
    assert(t.readPartitions(_.contains("a/b")).select("v").as[Long]
      .collect().toSeq == Seq(1L))
    assert(t.read().count() == vals.size.toLong)
  }

  test("delete vectors survive path-hostile partition values (':', space, '%')") {
    // the DV join keys on a normalized _metadata.file_path; Hive %XX
    // dir escaping + URI percent-encoding ride on top of each other,
    // so write- and read-side must decode through ONE shared helper
    // (SnapshotTable.uriPath) or the vector covers a phantom path /
    // the anti-join misses and deleted rows resurrect
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType)))
    val t = SnapshotTable.create(spark, freshRoot(), schema,
      Some(PartitionSpec("k", "identity")))
    val vals = Seq("a:b c", "x%20y", "p=q's")
    // one two-row file per hostile partition: the v<100 delete must be
    // PARTIAL per file so it commits vectors (a fully-matching file
    // would metadata-drop instead — MetadataDeleteSpec's contract)
    t.append(vals.zipWithIndex.flatMap { case (k, i) =>
      Seq((k, i.toLong), (k, i.toLong + 100L)) }.toDF("k", "v")
      .repartition(1))
    val preFiles = t.currentSnapshot().files.map(_.path).toSet
    // delete ONE row in each hostile partition, via vectors
    t.deleteWithVectors(col("v") < 100L)
    val s = t.currentSnapshot()
    assert(s.files.map(_.path).toSet == preFiles, "no data file rewritten")
    assert(s.dvFiles.nonEmpty, "vectors committed")
    // every vector covers a REAL manifest path (no phantom coverage)
    val live = preFiles
    assert(s.dvFiles.flatMap(_.dataPaths).forall(live.contains),
      s"phantom DV path in ${s.dvFiles.flatMap(_.dataPaths)}")
    // ...and the read-side anti-join actually drops the rows
    assert(t.read().select("v").as[Long].collect().sorted.toSeq ==
      Seq(100L, 101L, 102L), "deleted rows must not resurrect")
    assert(t.read().select("k").distinct().count() == 3L)
  }

  test("merge-on-read UPDATE: vectors hide old rows, new images append, no rewrite") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, None)
    t.append(rows((1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0),
      (3, "2024-01-03", 3.0), (4, "2024-01-04", 4.0)))
    val preFiles = t.currentSnapshot().files.map(_.path).toSet
    t.updateWithVectors(Seq("v" -> (col("v") + lit(100.0))), col("id") <= 2L)
    val s = t.currentSnapshot()
    assert(s.operation == "update-pos")
    // the pre-update files survive byte-identical; the update is a
    // vector (hiding the old images) plus appended new images
    assert(preFiles.subsetOf(s.files.map(_.path).toSet), "no rewrite")
    assert(s.dvFiles.nonEmpty && s.dvFiles.map(_.rows).sum == 2L)
    assert(t.read().select("id", "v").as[(Long, Double)]
      .collect().sorted.toSeq ==
      Seq((1L, 101.0), (2L, 102.0), (3L, 3.0), (4L, 4.0)))
    // a row already hidden by a vector is NOT resurrected by a later
    // MoR update whose predicate would have matched it
    t.deleteWithVectors(col("id") === 3L)
    t.updateWithVectors(Seq("v" -> lit(999.0)), col("v") <= 4.0)
    assert(t.read().select("id", "v").as[(Long, Double)]
      .collect().sorted.toSeq ==
      Seq((1L, 101.0), (2L, 102.0), (4L, 999.0)),
      "MoR update must not resurrect vector-deleted rows")
    // time travel sees every intermediate image
    assert(t.readAt(2).select("v").as[Double].collect().sum == 10.0)
    // updateRouted honors graft.update.mode
    t.setProperties(Map("graft.update.mode" -> "merge-on-read"))
    val filesBefore = t.currentSnapshot().files.map(_.path).toSet
    t.updateRouted(Seq("v" -> lit(0.0)), col("id") === 1L)
    assert(t.currentSnapshot().operation == "update-pos")
    assert(filesBefore.subsetOf(t.currentSnapshot().files.map(_.path).toSet))
    assert(t.read().filter(col("id") === 1L).select("v")
      .as[Double].collect().toSeq == Seq(0.0))
  }

  test("merge-on-read MERGE: only clause-fired rows cost vectors and appends") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, None,
      properties = Map("graft.merge.mode" -> "merge-on-read"))
    t.append(rows((1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0),
      (3, "2024-01-03", 3.0), (4, "2024-01-04", 4.0)))
    val preFiles = t.currentSnapshot().files.map(_.path).toSet
    // id=1 updates (UpdateAll), id=2 deletes, id=3 matches but falls
    // through every clause (kept IN PLACE — no vector, no append),
    // id=9 inserts
    val src = rows((1, "2024-01-01", 100.0), (2, "2024-01-02", 0.0),
      (3, "2024-01-03", 0.0), (9, "2024-01-09", 9.0))
    t.mergeConditional(src, Seq("id"), Seq(
      graft.catalog.MergeClause(Some(col("s.v") >= 100.0),
        graft.catalog.MergeAction.UpdateAll),
      graft.catalog.MergeClause(Some(col("t.id") === 2L),
        graft.catalog.MergeAction.Delete)))
    val s = t.currentSnapshot()
    assert(s.operation == "merge-pos")
    assert(preFiles.subsetOf(s.files.map(_.path).toSet), "no rewrite")
    // exactly two rows hidden: the update's old image and the delete
    assert(s.dvFiles.map(_.rows).sum == 2L, s.dvFiles)
    assert(t.read().select("id", "v").as[(Long, Double)]
      .collect().sorted.toSeq ==
      Seq((1L, 100.0), (3L, 3.0), (4L, 4.0), (9L, 9.0)))
    // NOT MATCHED BY SOURCE clauses fire through vectors too
    t.mergeConditional(rows((1, "2024-01-01", 100.0)), Seq("id"),
      Seq(graft.catalog.MergeClause(Some(lit(false)),
        graft.catalog.MergeAction.UpdateAll)),
      Nil,
      Seq(graft.catalog.MergeClause(Some(col("t.id") === 4L),
        graft.catalog.MergeAction.Delete),
        graft.catalog.MergeClause(Some(col("t.id") === 9L),
          graft.catalog.MergeAction.UpdateSet(
            Seq("v" -> (col("t.v") + lit(0.5)))))))
    assert(t.currentSnapshot().operation == "merge-pos")
    assert(t.read().select("id", "v").as[(Long, Double)]
      .collect().sorted.toSeq ==
      Seq((1L, 100.0), (3L, 3.0), (9L, 9.5)))
    // the MoR results match what COW produces on the same scenario
    // (same data, same clauses, default mode)
    val c = SnapshotTable.create(spark, freshRoot(), eventsSchema, None)
    c.append(rows((1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0),
      (3, "2024-01-03", 3.0), (4, "2024-01-04", 4.0)))
    c.mergeConditional(src, Seq("id"), Seq(
      graft.catalog.MergeClause(Some(col("s.v") >= 100.0),
        graft.catalog.MergeAction.UpdateAll),
      graft.catalog.MergeClause(Some(col("t.id") === 2L),
        graft.catalog.MergeAction.Delete)))
    assert(c.read().select("id", "v").as[(Long, Double)]
      .collect().sorted.toSeq ==
      Seq((1L, 100.0), (3L, 3.0), (4L, 4.0), (9L, 9.0)))
  }

  test("MERGE schema evolution: a new source column grows the schema on COW and MoR; old rows read typed null") {
    for (mode <- Seq("copy-on-write", "merge-on-read")) {
      val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, None,
        properties = Map("graft.merge.mode" -> mode))
      t.append(rows((1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0),
        (3, "2024-01-03", 3.0)))
      val preFiles = t.currentSnapshot().files.map(_.path).toSet
      // id=2 updates, id=9 inserts; `tag` is new to the table
      val src = rows((2, "2024-01-02", 200.0), (9, "2024-01-09", 9.0))
        .withColumn("tag", concat(lit("k"), col("id").cast("string")))
      t.merge(src, Seq("id"))
      val cur = t.currentSnapshot()
      assert(cur.schema.fieldNames.toSeq == Seq("id", "ts", "v", "tag"),
        s"$mode must commit the evolved schema")
      // rows the merge never touched resolve the new column to NULL —
      // their physical files predate it (by field id, no rewrite)
      val got = t.read().select("id", "v", "tag")
        .as[(Long, Double, Option[String])].collect().sortBy(_._1).toSeq
      assert(got == Seq((1L, 1.0, None), (2L, 200.0, Some("k2")),
        (3L, 3.0, None), (9L, 9.0, Some("k9"))), mode)
      if (mode == "merge-on-read") {
        // evolution must not force a rewrite: old images hide under
        // vectors, only the new images carry the wider schema
        assert(cur.operation == "merge-pos")
        assert(preFiles.subsetOf(cur.files.map(_.path).toSet),
          "MoR evolve-merge must keep every pre-merge data file")
        assert(cur.dvFiles.nonEmpty)
      }
      // pre-merge snapshot keeps its narrow schema (time travel)
      assert(!t.history().find(_.operation == "append").get
        .schema.fieldNames.contains("tag"))
    }
  }

  test("rewriteDeleteVectors coalesces accumulated vectors into one generation") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, None,
      clock = tickClock())
    t.append((1L to 20L).map(i => (i, s"2024-01-${10 + i % 10}", i.toDouble))
      .map { case (i, m, v) => (i, Timestamp.valueOf(s"$m 00:00:00"), v) }
      .toDF("id", "ts", "v"))
    // k point-deletes → k vector files accumulate over the same data
    (1 to 4).foreach(k => t.deleteWithVectors(col("id") === k.toLong * 2L))
    val before = t.currentSnapshot()
    assert(before.dvFiles.size == 4, before.dvFiles.map(_.path))
    val expect = t.read().select("id").as[Long].collect().sorted.toSeq
    // coalesce: ONE generation (bitmap union), byte-identical data set
    val s = t.rewriteDeleteVectors()
    assert(s.operation == "rewrite-dv")
    assert(s.files.map(_.path).toSet == before.files.map(_.path).toSet)
    assert(s.dvFiles.size < before.dvFiles.size && s.dvFiles.nonEmpty)
    assert(s.dvFiles.map(_.rows).sum == 4L, "union of the 4 point deletes")
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == expect)
    // below the threshold it is a no-op (single live vector)
    assert(t.rewriteDeleteVectors().version == s.version)
    // expiry reclaims the retired vector files once unreferenced
    val retired = before.dvFiles.map(_.path).toSet
    t.expireSnapshots(keep = 1)
    val fsRoot = new org.apache.hadoop.fs.Path(t.root.toString)
    val fs = fsRoot.getFileSystem(spark.sessionState.newHadoopConf())
    retired.foreach(p => assert(
      !fs.exists(new org.apache.hadoop.fs.Path(fsRoot, p)),
      s"retired vector $p must be reclaimed"))
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == expect)
  }

  test("delete vectors on a branch survive fast-forward; rollback across a DV commit restores rows") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, None)
    // one multi-row file so the branch delete is partial → vectors
    // (a fully-matching file would metadata-drop instead)
    t.append(rows((1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0),
      (3, "2024-01-03", 3.0)).repartition(1))                 // v2
    // DELETE-on-branch via vectors, then fast-forward to main
    val b = t.createBranch("audit")
    b.deleteWithVectors(col("id") === 2L)
    assert(t.read().count() == 3L, "main unaffected before publish")
    t.fastForward("audit")
    val mainHead = t.currentSnapshot()
    assert(mainHead.dvFiles.nonEmpty, "vectors survive fast-forward")
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L))
    // rollback ACROSS the DV commit restores the pre-delete rows
    val rb = t.rollback(2)
    assert(rb.dvFiles.isEmpty, "rollback drops the vector reference")
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // ...and rolling forward again re-applies it (history preserved)
    val dvVersion = mainHead.version
    t.rollback(dvVersion)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L))
  }

  test("4 concurrent writers with mixed appends all commit exactly once") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec)
    val start = new CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        try {
          start.await()
          val tt = SnapshotTable.load(spark, t.root.toString)
          tt.append(rows((i.toLong, s"2024-0$i-05", i.toDouble)))
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent append failed: ${errs.peek()}")
    assert(t.currentVersion() == 5L, "4 appends = versions 2..5, none lost")
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
  }

  test("snapshot reads keep parquet filter pushdown and column pruning") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec)
    t.append(rows((1, "2024-01-05", 1.0), (2, "2024-02-06", 2.0)))
    val df = t.read().filter(col("id") === 1L).select("id")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(id,1"),
      s"filter must reach the parquet scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<id:bigint>"),
      s"projection must prune to the selected column:\n$plan")
  }

  test("manifest JSON round-trip is total over random snapshots (seeded property)") {
    val r = new scala.util.Random(42)
    val types: Vector[DataType] = Vector(StringType, IntegerType, LongType,
      FloatType, DoubleType, BooleanType, TimestampType, DateType,
      ArrayType(DoubleType), BinaryType,
      StructType(Seq(StructField("x", LongType), StructField("y", StringType))),
      MapType(StringType, LongType))
    def randString(): String = {
      val chars = "abz09 _-%/='\"\\\n\tπ☃"
      (0 until 1 + r.nextInt(12)).map(_ => chars(r.nextInt(chars.length))).mkString
    }
    for (_ <- 1 to 200) {
      val schema = StructType((0 until 1 + r.nextInt(6)).map(i =>
        StructField(s"c$i-${randString()}", types(r.nextInt(types.length)),
          nullable = r.nextBoolean())))
      def randStats(): Map[String, graft.catalog.ColStats] =
        (0 until r.nextInt(4)).map(_ => randString() ->
          graft.catalog.ColStats(
            if (r.nextBoolean()) Some(randString()) else None,
            if (r.nextBoolean()) Some(randString()) else None,
            r.nextLong().abs)).toMap
      def randPairs(): Seq[(String, Int)] =
        (0 until r.nextInt(4)).map(_ => randString() -> r.nextInt(1000))
      val files = (0 until r.nextInt(5)).map(i =>
        graft.catalog.DataFileEntry(s"data/$i/${randString()}.parquet",
          if (r.nextBoolean()) Some(randString()) else None,
          r.nextLong().abs, randStats(), randPairs(), r.nextInt(1000).toLong,
          randPairs(), bytes = r.nextInt(2).toLong * r.nextInt(1 << 20)))
      val deleteFiles = (0 until r.nextInt(3)).map(i =>
        graft.catalog.DeleteFileEntry(s"data/d$i/${randString()}.parquet",
          r.nextLong().abs, randPairs(), r.nextInt(1000).toLong))
      val s = Snapshot(
        version = 1 + r.nextInt(1000).toLong,
        parent = if (r.nextBoolean()) Some(r.nextInt(1000).toLong) else None,
        operation = randString(),
        timestampMs = r.nextLong().abs,
        schema = schema,
        spec = if (r.nextBoolean())
          Some(PartitionSpec(randString(),
            if (r.nextBoolean()) "month" else "identity")) else None,
        properties = (0 until r.nextInt(4))
          .map(_ => randString() -> randString()).toMap,
        files = files,
        fieldIds = (0 until r.nextInt(5)).map(_ => randString() -> r.nextInt(1000)),
        nextFieldId = r.nextInt(10000),
        deleteFiles = deleteFiles,
        specSince = r.nextInt(1000).toLong)
      assert(SnapshotLog.fromJson(SnapshotLog.toJson(s)) == s,
        s"round-trip failed for $s")
    }
  }

  test("manifest JSON round-trips snapshots exactly") {
    val s = Snapshot(7L, Some(6L), "append", 123456789L,
      eventsSchema, Some(PartitionSpec("ts", "month")),
      Map("k" -> "v'\"\\"),
      Seq(graft.catalog.DataFileEntry("data/x/a.parquet", Some("2024-01"), 10L,
        Map("id" -> graft.catalog.ColStats(Some("1"), Some("9"), 0L)), Seq.empty, 5L),
        graft.catalog.DataFileEntry("data/x/b.parquet", None, 0L)),
      deleteFiles = Seq(graft.catalog.DeleteFileEntry(
        "data/y/k.parquet", 3L, Seq("id" -> 0), 7L)),
      specSince = 4L)
    assert(SnapshotLog.fromJson(SnapshotLog.toJson(s)) == s)
  }

  // -------------------------------------------------------------------
  // File-level column stats + skipping, row-level delete, MERGE INTO
  // -------------------------------------------------------------------

  /** Unpartitioned table with 4 id-range-clustered files: ids 1..40,
    * file i holds one contiguous decade. v is NULL where id % 10 == 0.
    */
  private def rangeTable(): SnapshotTable = {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, None)
    val df = (1L to 40L).map(i =>
      (i, Timestamp.valueOf(f"2024-${(i - 1) / 10 + 1}%02d-01 00:00:00"),
        if (i % 10 == 0) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(i.toDouble)))
      .toDF("id", "ts", "v")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
    t.append(df.select(col("id"), col("ts"), col("v").cast("double")))
    t
  }

  test("manifest records per-file bounds and null counts in one pass") {
    val t = rangeTable()
    val files = t.currentSnapshot().files
    assert(files.size == 4)
    for (f <- files) {
      val id = f.stats("id")
      val (lo, hi) = (id.min.get.toLong, id.max.get.toLong)
      assert(hi - lo == 9, s"file should hold one decade: $id")
      assert(id.nullCount == 0)
      assert(f.stats("v").nullCount == 1, "one NULL v per decade")
      // timestamps are stored as epoch micros (TZ-free)
      assert(f.stats("ts").min.get.toLong > 1700000000000000L)
    }
  }

  test("string bounds: min truncates to a 64-char prefix, long max drops") {
    val t = SnapshotTable.create(spark, freshRoot(),
      StructType(Seq(StructField("k", LongType), StructField("s", StringType))), None)
    t.append(Seq((1L, "a" * 100), (2L, "zz")).toDF("k", "s").coalesce(1))
    val st = t.currentSnapshot().files.head.stats("s")
    assert(st.min.contains("a" * 64))
    assert(st.max.contains("zz"), "short max is exact")
    t.append(Seq((3L, "aa"), (4L, "z" * 100)).toDF("k", "s").coalesce(1))
    val st2 = t.currentSnapshot().files
      .find(_.stats("k").min.contains("3")).get.stats("s")
    assert(st2.max.isEmpty, "a >64-char max must DROP, not truncate")
    // and the dropped bound keeps pruning conservative: prefix search
    // beyond the min can never be ruled out
    assert(graft.catalog.StatsPruner.mayMatch(
      t.currentSnapshot().files.find(_.stats("k").min.contains("3")).get,
      t.schema, org.apache.spark.sql.sources.StringStartsWith("s", "zzz")))
  }

  test("readWhere skips files by manifest bounds and matches a full read") {
    val t = rangeTable()
    val pred = col("id") >= 15L && col("id") <= 17L
    assert(t.pruneFiles(pred).size == 1, "one decade file overlaps [15,17]")
    assert(t.readWhere(pred).select("id").as[Long].collect().sorted.toSeq ==
      Seq(15L, 16L, 17L))
    // int literal against bigint column: analyzer casts fold before
    // translation, pruning still fires
    assert(t.pruneFiles(col("id") === 33).size == 1)
    // timestamp range pruning via epoch-micros bounds
    val tsPred = col("ts") < lit(Timestamp.valueOf("2024-02-01 00:00:00"))
    assert(t.pruneFiles(tsPred).size == 1)
    assert(t.readWhere(tsPred).count() == t.read().filter(tsPred).count())
    // IsNull can't skip here (every file holds one NULL v)…
    assert(t.pruneFiles(col("v").isNull).size == 4)
    // …but a comparison skips nothing-to-offer files only via bounds;
    // an impossible range prunes everything
    assert(t.pruneFiles(col("id") > 1000L).isEmpty)
    // untranslatable predicates keep all files and stay correct
    val odd = col("id") % 2 === 1
    assert(t.pruneFiles(odd).size == 4)
    assert(t.readWhere(odd).count() == 20L)
  }

  test("delete rewrites only files holding matches; NULL predicate rows survive") {
    val t = rangeTable()
    val before = t.currentSnapshot().files.map(_.path).toSet
    t.delete(col("id").between(15L, 17L))
    val after = t.currentSnapshot().files.map(_.path).toSet
    assert((before -- after).size == 1, "exactly the one hit file is replaced")
    assert((before & after).size == 3, "untouched files keep their physical paths")
    assert(t.read().count() == 37L)
    assert(t.read().filter(col("id").between(15L, 17L)).count() == 0L)
    // v > 35 is NULL for id=40 (v NULL): those rows must SURVIVE a delete
    t.delete(col("v") > 35.0)
    val ids = t.read().select("id").as[Long].collect().sorted.toSeq
    assert(ids.contains(40L), "NULL-predicate rows are kept by SQL DELETE")
    assert(!ids.contains(36L) && !ids.contains(39L))
    // a no-match delete commits nothing
    val v = t.currentVersion()
    t.delete(col("id") === 9999L)
    assert(t.currentVersion() == v)
  }

  test("delete drops a file entirely when every row matches") {
    val t = rangeTable()
    t.delete(col("id") <= 10L)
    assert(t.currentSnapshot().files.size == 3, "fully-matched file vanishes")
    assert(t.read().count() == 30L)
  }

  test("merge UpdateAll: updates land, inserts append, only hit files rewrite") {
    val t = rangeTable()
    val before = t.currentSnapshot().files.map(_.path).toSet
    val source = Seq(
      (15L, Timestamp.valueOf("2024-02-01 00:00:00"), 1500.0),
      (41L, Timestamp.valueOf("2024-05-01 00:00:00"), 41.0))
      .toDF("id", "ts", "v")
    t.merge(source, Seq("id"))
    val after = t.currentSnapshot().files.map(_.path).toSet
    assert((before & after).size == 3, "only the matched decade is rewritten")
    val out = t.read().filter(col("id").isin(15L, 41L))
      .orderBy("id").select("v").as[Double].collect().toSeq
    assert(out == Seq(1500.0, 41.0))
    assert(t.read().count() == 41L)
  }

  test("merge Delete drops matched keys; insertNotMatched controls the rest") {
    val t = rangeTable()
    val source = Seq(
      (15L, Timestamp.valueOf("2024-02-01 00:00:00"), 0.0),
      (99L, Timestamp.valueOf("2024-05-01 00:00:00"), 99.0))
      .toDF("id", "ts", "v")
    t.merge(source, Seq("id"), graft.catalog.MergeAction.Delete,
      insertNotMatched = false)
    assert(t.read().count() == 39L)
    assert(t.read().filter(col("id").isin(15L, 99L)).count() == 0L)
    t.merge(source, Seq("id"), graft.catalog.MergeAction.Delete,
      insertNotMatched = true)
    // neither key matches now (15 was deleted above) → BOTH insert:
    // WHEN MATCHED DELETE + WHEN NOT MATCHED INSERT semantics
    assert(t.read().filter(col("id").isin(15L, 99L)).count() == 2L)
    assert(t.read().count() == 41L)
  }

  test("merge rejects duplicate source keys (MERGE cardinality rule)") {
    val t = rangeTable()
    val dup = Seq(
      (15L, Timestamp.valueOf("2024-02-01 00:00:00"), 1.0),
      (15L, Timestamp.valueOf("2024-02-02 00:00:00"), 2.0))
      .toDF("id", "ts", "v")
    val e = intercept[IllegalArgumentException] { t.merge(dup, Seq("id")) }
    assert(e.getMessage.contains("duplicate"))
  }

  test("per-file bloom filters skip equality probes on unsorted columns") {
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("tag", StringType), StructField("ts", TimestampType)))
    val t = SnapshotTable.create(spark, freshRoot(), schema, None,
      properties = Map("graft.bloom.columns" -> "k,tag,ts",
        "graft.bloom.bits" -> "4096"))
    def ts(i: Long) = new Timestamp(1700000000000L + i * 60000L)
    // two files with OVERLAPPING value ranges (min/max cannot decide)
    // but disjoint value SETS: evens vs odds
    t.append(Seq.range(0L, 100L, 2).map(i => (i, s"e$i", ts(i)))
      .toDF("k", "tag", "ts").coalesce(1))
    t.append(Seq.range(1L, 100L, 2).map(i => (i, s"o$i", ts(i)))
      .toDF("k", "tag", "ts").coalesce(1))
    assert(t.currentSnapshot().files.forall(_.stats("k").bloom.isDefined))
    assert(t.pruneFiles(col("k") === 42L).size == 1,
      "bloom must prune the odds file for an even probe")
    assert(t.pruneFiles(col("tag") === "e42").size == 1)
    assert(t.pruneFiles(col("ts") === lit(ts(42))).size == 1,
      "timestamp probe must replay the micros hash")
    assert(t.pruneFiles(col("k").isin(2L, 3L)).size == 2,
      "IN-list spanning both files keeps both")
    // absent everywhere: evens file lacks e41 (bloom), odds file is out
    // of string range (bounds)
    assert(t.pruneFiles(col("tag") === "e41").isEmpty)
    // correctness parity
    assert(t.readWhere(col("k") === 42L).count() == 1L)
    assert(t.readWhere(col("k") === 41L).count() == 1L)
    assert(t.readWhere(col("tag") === "e41").count() == 0L)
    // bloom keeps probing through a rename (id-translated stats)
    t.renameColumn("k", "kk")
    assert(t.pruneFiles(col("kk") === 42L).size == 1)
  }

  test("bloom probe stays correct across int->long / float->double widening") {
    val schema = StructType(Seq(StructField("k", IntegerType),
      StructField("x", FloatType)))
    val t = SnapshotTable.create(spark, freshRoot(), schema, None,
      properties = Map("graft.bloom.columns" -> "k,x",
        "graft.bloom.bits" -> "4096"))
    // pre-widening files: filters hash int/float representations
    t.append(Seq.range(0, 100, 2).map(i => (i, i.toFloat))
      .toDF("k", "x").coalesce(1))
    t.append(Seq.range(1, 100, 2).map(i => (i, i.toFloat))
      .toDF("k", "x").coalesce(1))
    // widen both columns (schema evolution, no data rewrite)
    t.append(Seq((1000000000000L, 1.5e300)).toDF("k", "x").coalesce(1))
    assert(t.currentSnapshot().schema("k").dataType == LongType)
    // the value 42 lives in the evens file, whose bloom hashed int 42;
    // hashing long 42 differs — pruning on the wide hash alone would
    // silently DROP the matching file (wrong results, not lost pruning)
    assert(t.readWhere(col("k") === 42L).count() == 1L,
      "pre-widening file must still be found through its narrow-hash bloom")
    assert(t.readWhere(col("x") === 43.0d).count() == 1L)
    // narrow probe keeps its pruning power for values absent everywhere
    assert(t.pruneFiles(col("k") === 41L).size <= 2,
      "even probe must still prune at least the out-of-range new file")
    // a value unrepresentable as int can only live in post-widening
    // files: wide hash is decisive there
    assert(t.readWhere(col("k") === 1000000000000L).count() == 1L)
  }

  test("bloom build/probe round-trip and conservative unknown-version") {
    import graft.functions.BloomAgg
    val words = new Array[Long](4096 / 64)
    val agg = new BloomAgg.BloomFilterAgg(4096, 7)
    val hashes = (1L to 200L).map(i => i * 0x9e3779b97f4a7c15L)
    hashes.foreach(h => agg.reduce(words, h))
    val b64 = java.util.Base64.getEncoder.encodeToString(agg.finish(words))
    assert(hashes.forall(h => BloomAgg.mightContain(b64, h)),
      "no false negatives ever")
    val absent = (1001L to 1200L).map(i => i * 0x9e3779b97f4a7c15L)
    val fp = absent.count(h => BloomAgg.mightContain(b64, h))
    assert(fp < 20, s"false-positive rate implausibly high: $fp/200")
    assert(BloomAgg.mightContain("not-base64!!", 1L), "garbage answers true")
    assert(BloomAgg.mightContain(
      java.util.Base64.getEncoder.encodeToString(Array[Byte](99, 7)), 1L),
      "unknown version answers true")
  }

  // -------------------------------------------------------------------
  // Field-id schema evolution: rename / drop / re-add
  // -------------------------------------------------------------------

  test("renameColumn is metadata-only and old files read through the id") {
    val t = rangeTable()
    val filesBefore = t.currentSnapshot().files.map(_.path).toSet
    val preRename = t.currentVersion()
    t.renameColumn("v", "score")
    assert(t.currentSnapshot().files.map(_.path).toSet == filesBefore,
      "rename must not touch a single data file")
    assert(t.schema.fieldNames.toSeq == Seq("id", "ts", "score"))
    // values written under the OLD physical name arrive under the new one
    assert(t.read().filter(col("id") === 3L)
      .select("score").as[Double].collect().toSeq == Seq(3.0))
    // time travel shows the contemporary (pre-rename) schema
    assert(t.readAt(preRename).columns.toSeq == Seq("id", "ts", "v"))
    // appends after the rename land under the new name and union cleanly
    t.append(Seq((50L, Timestamp.valueOf("2024-05-01 00:00:00"), 50.0))
      .toDF("id", "ts", "score"))
    assert(t.read().filter(col("id").isin(3L, 50L))
      .orderBy("id").select("score").as[Double].collect().toSeq == Seq(3.0, 50.0))
  }

  test("stats pruning keeps skipping across a rename") {
    val t = rangeTable()
    t.renameColumn("id", "event_key")
    assert(t.pruneFiles(col("event_key").between(15L, 17L)).size == 1,
      "bounds recorded under the old write name must prune via the field id")
    assert(t.readWhere(col("event_key") === 33L).count() == 1L)
  }

  test("drop + re-add: old values never resurrect (fresh field id)") {
    val t = rangeTable()
    t.dropColumn("v")
    assert(t.schema.fieldNames.toSeq == Seq("id", "ts"))
    assert(!t.read().columns.contains("v"))
    // re-add the SAME name: new id, so files still physically holding
    // the old `v` bytes must surface NULL, not stale data
    t.append(Seq((100L, Timestamp.valueOf("2024-05-01 00:00:00"), 9.5))
      .toDF("id", "ts", "v"))
    val old = t.read().filter(col("id") === 3L).select("v").collect().head
    assert(old.isNullAt(0), "dropped data must NOT resurrect under a re-added name")
    val fresh = t.read().filter(col("id") === 100L)
      .select("v").as[Double].collect().toSeq
    assert(fresh == Seq(9.5))
  }

  test("dropping the hidden-partition source or the last column is refused") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec)
    intercept[IllegalArgumentException] { t.dropColumn("ts") }
    val u = SnapshotTable.create(spark, freshRoot(),
      StructType(Seq(StructField("only", LongType))), None)
    intercept[IllegalArgumentException] { u.dropColumn("only") }
  }

  test("partition spec follows a renamed source column") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec)
    t.append(rows((1, "2024-01-05", 1.0), (2, "2024-02-06", 2.0)))
    t.renameColumn("ts", "event_time")
    assert(t.currentSnapshot().spec.map(_.source).contains("event_time"))
    // hidden-partition range read works on the renamed source
    val out = t.readTimestampRange(
      Instant.parse("2024-01-01T00:00:00Z"), Instant.parse("2024-02-01T00:00:00Z"))
    assert(out.select("id").as[Long].collect().toSeq == Seq(1L))
    // and a month append after the rename still partitions correctly
    t.append(Seq((3L, Timestamp.valueOf("2024-03-05 00:00:00"), 3.0))
      .toDF("id", "event_time", "v"))
    assert(t.currentSnapshot().partitions.flatten.toSet ==
      Set("2024-01", "2024-02", "2024-03"))
  }

  test("upsert, merge and compact operate on renamed columns") {
    val t = rangeTable()
    t.renameColumn("v", "score")
    t.merge(Seq((7L, Timestamp.valueOf("2024-01-01 00:00:00"), 700.0))
      .toDF("id", "ts", "score"), Seq("id"))
    assert(t.read().filter(col("id") === 7L)
      .select("score").as[Double].collect().toSeq == Seq(700.0))
    // compact rewrites old-name and new-name files into one write schema
    val res = t.compact(targetRowsPerFile = 1000L, minFiles = 1)
    assert(res.nonEmpty)
    assert(t.read().count() == 40L)
    assert(t.read().filter(col("id") === 7L)
      .select("score").as[Double].collect().toSeq == Seq(700.0))
    val colsNow = t.currentSnapshot().files.flatMap(_.cols.map(_._1)).toSet
    assert(colsNow == Set("id", "ts", "score"),
      "compacted files write the CURRENT names")
  }

  test("merge with all-new keys is a pure append; NULL keys insert") {
    val t = rangeTable()
    val before = t.currentSnapshot().files.map(_.path).toSet
    val source = Seq(
      (100L, Timestamp.valueOf("2024-06-01 00:00:00"), 100.0))
      .toDF("id", "ts", "v")
      .unionByName(Seq((null.asInstanceOf[java.lang.Long], Timestamp.valueOf(
        "2024-06-02 00:00:00"), 0.5)).toDF("id", "ts", "v")
        .select(col("id").cast("long"), col("ts"), col("v")))
    t.merge(source, Seq("id"))
    assert(t.currentSnapshot().files.map(_.path).toSet.intersect(before) == before,
      "no existing file is rewritten when nothing matches")
    assert(t.read().count() == 42L)
    assert(t.read().filter(col("id").isNull).count() == 1L)
  }

  test("graft data source: format reads, time travel options, SQL view, filter parity") {
    val t = rangeTable() // ids 1..40 in 4 decade files; v NULL at %10
    val root = t.root.toString
    val viaFormat = spark.read.format("graft").load(root)
    assert(viaFormat.columns.toSeq == Seq("id", "ts", "v"))
    assert(viaFormat.count() == 40L)
    // filters prune files at the manifest but Catalyst re-applies them
    // exactly (unhandledFilters = all): results incl. NULL semantics
    assert(viaFormat.filter(col("id").between(15, 17)).select("id")
      .as[Long].collect().sorted.toSeq == Seq(15L, 16L, 17L))
    assert(viaFormat.filter(col("v").isNull).count() == 4L)
    // merge-on-read deletes apply; versionAsOf and tag time-travel
    t.deleteByKeys(Seq(15L).toDF("id"), Seq("id"))
    val vNow = t.currentVersion()
    assert(spark.read.format("graft").load(root).count() == 39L)
    assert(spark.read.format("graft").option("versionAsOf", vNow - 1)
      .load(root).count() == 40L)
    t.tag("pre-change", vNow - 1)
    assert(spark.read.format("graft").option("tag", "pre-change")
      .load(root).count() == 40L)
    // the SQL-only surface
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW graft_ds_test " +
      s"USING graft OPTIONS (path '$root')")
    assert(spark.sql(
      "SELECT count(*) FROM graft_ds_test WHERE id BETWEEN 11 AND 20")
      .as[Long].head() == 9L)
    intercept[RuntimeException](spark.read.format("graft")
      .option("tag", "nope").load(root))
  }

  test("a blind append racing evolveSpec restages under the new spec and succeeds") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec)
    t.append(rows((1, "2024-01-05", 1.0)))
    // a second handle plays the concurrent spec-evolver; the hook fires
    // INSIDE append's stage→commit window — the exact race that
    // previously surfaced SpecEvolvedException to the caller
    val racer = SnapshotTable.load(spark, t.root.toString)
    var fired = 0
    t.onStagedHook = () => if (fired == 0) {
      fired += 1
      racer.evolveSpec(Some(PartitionSpec("id", "identity")))
    }
    try t.append(rows((5, "2024-03-01", 5.0)))
    finally t.onStagedHook = () => ()
    assert(fired == 1, "race injected exactly once")
    val s = t.currentSnapshot()
    // the append LANDED (no exception) and its file carries a partition
    // value computed under the NEW identity spec, not the old month one
    assert(s.spec.contains(PartitionSpec("id", "identity")))
    val newest = s.files.maxBy(_.seq)
    assert(newest.partition.contains("5"),
      s"restaged file must carry identity('5'), got ${newest.partition}")
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == Seq(1L, 5L))
    // the pathological case — a spec flip before EVERY attempt — still
    // fails loudly rather than looping forever
    var flip = true
    t.onStagedHook = () => {
      flip = !flip
      racer.evolveSpec(if (flip) Some(PartitionSpec("id", "identity")) else None)
    }
    try intercept[graft.catalog.SpecEvolvedException] {
      t.append(rows((6, "2024-04-01", 6.0)))
    } finally t.onStagedHook = () => ()
  }

  test("SQL DELETE / UPDATE / MERGE route to the snapshot row-level ops") {
    val t = rangeTable() // ids 1..40, v at id except NULL at %10
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW graft_dml " +
      s"USING graft OPTIONS (path '${t.root}')")
    // DELETE with predicate (NULL v rows are kept: pred NULL = keep)
    spark.sql("DELETE FROM graft_dml WHERE v > 35")
    assert(t.read().count() == 36L, "36..39 deleted; NULL-v rows kept")
    // UPDATE evaluates assignments against the ORIGINAL row
    spark.sql("UPDATE graft_dml SET v = v + 100 WHERE id <= 2")
    assert(t.read().filter(col("id") <= 2).select("v").as[Double]
      .collect().toSet == Set(101.0, 102.0))
    assert(t.currentSnapshot().operation == "update")
    // MERGE: conditional update + delete + insert through spark.sql
    Seq((1L, java.sql.Timestamp.valueOf("2024-06-01 00:00:00"), 1000.0),
        (3L, java.sql.Timestamp.valueOf("2024-06-02 00:00:00"), 3000.0),
        (99L, java.sql.Timestamp.valueOf("2024-06-03 00:00:00"), 9900.0))
      .toDF("id", "ts", "v").createOrReplaceTempView("graft_dml_src")
    spark.sql("""MERGE INTO graft_dml t USING graft_dml_src s
                |ON t.id = s.id
                |WHEN MATCHED AND s.v >= 2000 THEN DELETE
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = t.read().filter(col("id").isin(1L, 3L, 99L))
      .select("id", "v").as[(Long, Double)].collect().toMap
    assert(after == Map(1L -> 1000.0, 99L -> 9900.0), s"got $after")
    // column-list UPDATE SET with expressions over BOTH sides: matched
    // ids 1 and 99 double (v was replaced by the merge above); ts keeps
    // the target's value (unassigned)
    spark.sql("""MERGE INTO graft_dml t USING graft_dml_src s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET v = s.v + t.v""".stripMargin)
    val after2 = t.read().filter(col("id").isin(1L, 99L))
      .select("id", "v").as[(Long, Double)].collect().toMap
    assert(after2 == Map(1L -> 2000.0, 99L -> 19800.0), s"got $after2")
    // a non-equi ON plans through Spark's MERGE rewrite: every target
    // row below some source id is deleted
    spark.sql("""MERGE INTO graft_dml t USING graft_dml_src s ON t.id < s.id
                |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(t.read().select("id").as[Long].collect().toSeq == Seq(99L))
    // time-travel views refuse DML
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW graft_dml_v2 " +
      s"USING graft OPTIONS (path '${t.root}', versionAsOf '2')")
    val e3 = intercept[Exception](
      spark.sql("DELETE FROM graft_dml_v2 WHERE id = 1"))
    assert(e3.getMessage.contains("time-travel"), e3.getMessage)
  }

  test("SQL MERGE from a staging QUERY source, with mismatched column order") {
    // real pipelines merge from a staging SELECT, not a bare table —
    // the source plan is arbitrary and its column ORDER differs from
    // the target's; alignment is by NAME throughout
    val t = rangeTable() // ids 1..40
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW graft_merge_q " +
      s"USING graft OPTIONS (path '${t.root}')")
    Seq((5L, 500.0, "u"), (6L, 600.0, "u"), (77L, 7700.0, "i"),
        (88L, 8800.0, "skip"))
      .toDF("sid", "sv", "op").createOrReplaceTempView("staging_raw")
    // the subquery filters, renames, reorders, and COMPUTES columns:
    // (v, ts, id) vs the target's (id, ts, v)
    spark.sql(
      """MERGE INTO graft_merge_q t USING (
        |  SELECT sv * 2 AS v, TIMESTAMP '2024-07-01 00:00:00' AS ts, sid AS id
        |  FROM staging_raw WHERE op <> 'skip'
        |) s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = t.read().filter(col("id").isin(5L, 6L, 77L, 88L))
      .select("id", "v").as[(Long, Double)].collect().toMap
    assert(after == Map(5L -> 1000.0, 6L -> 1200.0, 77L -> 15400.0),
      s"got $after")
    // the 'skip' staging row must not have merged
    assert(t.read().filter(col("id") === 88L).count() == 0L)
    // the reordered INSERT * landed whole rows, not positional garbage
    assert(t.read().filter(col("id") === 77L).select("ts")
      .as[java.sql.Timestamp].collect().toSeq ==
      Seq(java.sql.Timestamp.valueOf("2024-07-01 00:00:00")))
  }

  test("SQL VERSION AS OF pins a version, a tag, and a timestamp natively via the catalog") {
    val t = rangeTable() // v1 create, v2 append ids 1..40
    t.tag("forty-rows")
    t.append(rows((41, "2024-05-01", 41.0))) // v3: 41 rows
    // native DSv2 time travel: TableCatalog.loadTable(ident, version) —
    // the catalog's path-identifier form addresses the fixture directly
    val fq = s"graft.`${t.root}`"
    def one(sql: String): Long =
      spark.sql(sql).as[Long].collect().head
    assert(one(s"SELECT count(*) FROM $fq") == 41L)
    assert(one(s"SELECT count(*) FROM $fq VERSION AS OF 2") == 40L)
    // a non-numeric VERSION resolves as a TAG (SQL's only ref syntax)
    assert(one(
      s"SELECT count(*) FROM $fq VERSION AS OF 'forty-rows'") == 40L)
    // TIMESTAMP AS OF: pin to v2's commit wall clock
    val v2At = java.time.Instant
      .ofEpochMilli(t.history().find(_.version == 2L).get.timestampMs)
    assert(one(s"SELECT count(*) FROM $fq TIMESTAMP AS OF " +
      s"'$v2At'") == 40L)
    // a non-graft relation with the clause keeps Spark's own error
    spark.range(3).createOrReplaceTempView("plain_view")
    val e = intercept[Exception](
      spark.sql("SELECT * FROM plain_view FOR VERSION AS OF 1").collect())
    assert(!e.getMessage.contains("graft"), e.getMessage)
    // all-digit tag names are refused at creation (SQL can't reach
    // them: VERSION AS OF routes digits to a version number)
    val numeric = intercept[IllegalArgumentException](t.tag("2024"))
    assert(numeric.getMessage.contains("all-digit"), numeric.getMessage)
    // a digit string too long for Long falls through to tag resolution
    // and fails with the tag-lookup error, not NumberFormatException
    val over = intercept[Exception](one(
      s"SELECT count(*) FROM $fq VERSION AS OF '99999999999999999999'"))
    assert(over.getMessage.contains("tag"), over.getMessage)
  }

  test("update(): COW file granularity, casts to column type, no-match no-op") {
    val t = rangeTable()
    val before = t.currentSnapshot().files.map(_.path).toSet
    val v0 = t.currentVersion()
    // no match: no commit at all
    t.update(Seq("v" -> lit(0.0)), col("id") === 999L)
    assert(t.currentVersion() == v0)
    // match in ONE file: only that file rewrites; assignment casts
    // int literal to the double column type
    t.update(Seq("v" -> lit(7)), col("id") === 7L)
    val s = t.currentSnapshot()
    assert(before.diff(s.files.map(_.path).toSet).size == 1,
      "exactly one file replaced")
    assert(t.read().filter(col("id") === 7L).select("v").as[Double]
      .collect().toSeq == Seq(7.0))
    intercept[IllegalArgumentException](
      t.update(Seq("nope" -> lit(1)), col("id") === 1L))
    intercept[IllegalArgumentException](
      t.update(Seq("v" -> lit(1), "v" -> lit(2)), col("id") === 1L))
  }

  test("changes: metadata path emits inserts and delete retractions, O(changed files)") {
    val t = rangeTable() // v2: ids 1..40 in 4 files
    val v0 = t.currentVersion()
    t.append(rows((41, "2024-05-01", 41.0), (42, "2024-05-02", 42.0))) // insert
    t.deleteByKeys(Seq(5L, 17L).toDF("id"), Seq("id"))                // MoR delete
    val vN = t.currentVersion()
    val got = t.changes(v0, vN)
      .select(col("_change_type"), col("id")).as[(String, Long)]
      .collect().toSet
    assert(got == Set(("insert", 41L), ("insert", 42L),
      ("delete", 5L), ("delete", 17L)))
    // range ops are append/delete-eq only → the metadata path serves it:
    // parity with the full multiset diff on the SAME version pair
    val sFrom = t.log.read(v0)
    val sTo = t.log.read(vN)
    val fast = t.changesFast(sFrom, sTo)
      .select(col("_change_type"), col("id")).as[(String, Long)].collect().toSet
    val diff = t.changesDiff(sFrom, sTo)
      .select(col("_change_type"), col("id")).as[(String, Long)].collect().toSet
    assert(fast == got && diff == got, "fast and diff paths agree")
  }

  test("changes: rewriting commits take the diff path; updates are delete+insert pairs") {
    val t = rangeTable()
    val v0 = t.currentVersion()
    // COW upsert rewrites files → diff path; net change is ONE row
    t.upsert(rows((7, "2024-01-01", 700.0)), Seq("id"))
    val vN = t.currentVersion()
    val got = t.changes(v0, vN)
      .select(col("_change_type"), col("id"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(("delete", 7L, 7.0), ("insert", 7L, 700.0)),
      s"rewritten-but-identical rows must NOT appear: $got")
    // compaction rewrites everything, changes nothing → empty changelog
    val vC0 = t.currentVersion()
    t.compact(targetRowsPerFile = 1000000L, minFiles = 1)
    if (t.currentVersion() > vC0)
      assert(t.changes(vC0, t.currentVersion()).count() == 0L,
        "compaction is not a logical change")
    // same-version window: empty, with the changelog schema
    val same = t.changes(vN, vN)
    assert(same.columns.head == "_change_type" && same.count() == 0L)
    // delete + re-append inside the window: retraction and re-insert
    val v1 = t.currentVersion()
    t.deleteByKeys(Seq(9L).toDF("id"), Seq("id"))
    t.append(rows((9, "2024-07-01", 900.0)))
    val both = t.changes(v1, t.currentVersion())
      .select(col("_change_type"), col("id"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(both == Set(("delete", 9L, 9.0), ("insert", 9L, 900.0)))
    // delete + IDENTICAL re-append nets to NOTHING on the fast path
    // too (the metadata path is multiset-netted to match the diff
    // contract) — and both paths agree
    val v2 = t.currentVersion()
    val row11 = t.read().filter(col("id") === 11L)
    t.deleteByKeys(Seq(11L).toDF("id"), Seq("id"))
    t.append(row11)
    val net = t.changes(v2, t.currentVersion())
    assert(net.count() == 0L, "identical re-append must emit no events")
    assert(t.changesDiff(t.log.read(v2), t.log.read(t.currentVersion()))
      .count() == 0L)
  }

  test("changes: pure-maintenance windows skip the diff when metadata proves net-zero") {
    // compact-only window over a clean table: provable, zero data scans
    val t = rangeTable() // 4 files
    t.append(rows((41, "2024-05-01", 41.0)))
    val v0 = t.currentVersion()
    t.compact(targetRowsPerFile = 1000000L, minFiles = 1)
    val vC = t.currentVersion()
    assert(vC > v0 && t.log.operationOf(vC).contains("compact"))
    assert(t.provablyNetZero(t.log.read(v0), t.log.read(vC)))
    val skipped = t.changes(v0, vC)
    assert(skipped.count() == 0L)
    // scan walk must EXPAND AQE wrappers (ADVICE r16: a raw collect
    // sees only the AdaptiveSparkPlanExec leaf and passes vacuously on
    // the diff path too). Calibrate the probe first: the FORCED diff
    // over the same window must show scans — if it doesn't, the probe
    // is blind and the skip assertion below proves nothing.
    val diffScans = graft.tools.PlanAudit.scanNodes(
      t.changesDiff(t.log.read(v0), t.log.read(vC))
        .queryExecution.executedPlan)
    assert(diffScans.nonEmpty,
      "probe calibration: the forced endpoint diff must plan data-file " +
        "scans — an empty result means the scan walk cannot see scans " +
        "and the skip assertion is vacuous")
    val scans = graft.tools.PlanAudit.scanNodes(
      skipped.queryExecution.executedPlan)
    assert(scans.isEmpty,
      s"net-zero window must plan zero data-file scans, got: $scans")

    // rewrite-dv-only window: files untouched, vectors merged — the
    // files-identical proof accepts even with multi-vector coverage
    val t2 = SnapshotTable.create(spark, freshRoot(), eventsSchema, None)
    t2.append((1L to 20L).map(i =>
      (i, Timestamp.valueOf("2024-01-05 00:00:00"), i.toDouble))
      .toDF("id", "ts", "v"))
    (1 to 3).foreach(k => t2.deleteWithVectors(col("id") === k.toLong * 2L))
    val w0 = t2.currentVersion()
    assert(t2.rewriteDeleteVectors().operation == "rewrite-dv")
    val w1 = t2.currentVersion()
    assert(w1 > w0)
    assert(t2.provablyNetZero(t2.log.read(w0), t2.log.read(w1)))
    assert(t2.changes(w0, w1).count() == 0L)

    // pending EQUALITY deletes: match counts are unknowable from
    // metadata — proof declines, exact diff still answers (0 rows)
    val t3 = rangeTable()
    t3.deleteByKeys(Seq(5L).toDF("id"), Seq("id"))
    val u0 = t3.currentVersion()
    t3.compact(targetRowsPerFile = 1000000L, minFiles = 1)
    val u1 = t3.currentVersion()
    assert(u1 > u0)
    assert(!t3.provablyNetZero(t3.log.read(u0), t3.log.read(u1)),
      "pending equality deletes must decline the metadata proof")
    assert(t3.changes(u0, u1).count() == 0L, "diff path still nets to zero")

    // a window containing an APPEND never consults the proof's skip:
    // real changes surface as usual
    val v1 = t.currentVersion()
    t.append(rows((42, "2024-05-02", 42.0)))
    t.compact(targetRowsPerFile = 1000000L, minFiles = 1)
    val mixed = t.changes(v1, t.currentVersion())
      .select(col("_change_type"), col("id")).as[(String, Long)]
      .collect().toSet
    assert(mixed == Set(("insert", 42L)))
  }

  test("changes supports map columns on both paths (JSON-encoded multiset arithmetic)") {
    // ADVICE r6: maps are first-class table types but Spark rejects
    // MapType in GROUP BY / EXCEPT ALL — changes() must encode them
    // around the diff/netting, not throw AnalysisException.
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("attrs", MapType(StringType, IntegerType))))
    val t = SnapshotTable.create(spark, freshRoot(), schema, None)
    def df(rs: (Long, Map[String, Int])*) = rs.toDF("id", "attrs")
    t.append(df(1L -> Map("a" -> 1), 2L -> Map("b" -> 2),
      3L -> Map.empty[String, Int]))
    val v0 = t.currentVersion()
    // fast path WITH netting (append + MoR delete in one window)
    t.append(df(4L -> Map("d" -> 4)))
    t.deleteByKeys(Seq(2L).toDF("id"), Seq("id"))
    def events(from: Long, to: Long) = t.changes(from, to)
      .select(col("_change_type"), col("id"), col("attrs"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getAs[scala.collection.Map[String, Int]]("attrs").toMap)).toSet
    assert(events(v0, t.currentVersion()) ==
      Set(("insert", 4L, Map("d" -> 4)), ("delete", 2L, Map("b" -> 2))))
    // diff path (COW upsert rewrite): map values decode back intact
    val v1 = t.currentVersion()
    t.upsert(df(1L -> Map("a" -> 10, "z" -> 0)), Seq("id"))
    assert(events(v1, t.currentVersion()) ==
      Set(("delete", 1L, Map("a" -> 1)), ("insert", 1L, Map("a" -> 10, "z" -> 0))))
    // schema round-trip: the changelog still reports the MAP type,
    // not the transient string encoding
    assert(t.changes(v1, t.currentVersion()).schema("attrs").dataType ==
      MapType(StringType, IntegerType))
  }

  test("changelog through the data source: options, SQL view, native plan") {
    val t = rangeTable()
    val v0 = t.currentVersion()
    t.append(rows((41, "2024-05-01", 41.0)))
    t.deleteByKeys(Seq(7L).toDF("id"), Seq("id"))
    val vN = t.currentVersion()
    val direct = t.changes(v0, vN)
      .select(col("_change_type"), col("id")).as[(String, Long)].collect().toSet
    val viaDs = spark.read.format("graft")
      .option("changesFrom", v0).option("changesTo", vN)
      .load(t.root.toString)
    assert(viaDs.columns.head == "_change_type")
    assert(viaDs.select(col("_change_type"), col("id")).as[(String, Long)]
      .collect().toSet == direct)
    // through a SQL view, filtered, planned natively (no RDD bridge)
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW graft_chg USING graft " +
      s"OPTIONS (path '${t.root}', changesFrom '$v0', changesTo '$vN')")
    val del = spark.sql(
      "SELECT id FROM graft_chg WHERE _change_type = 'delete'")
    assert(del.as[Long].collect().toSeq == Seq(7L))
    assert(!del.queryExecution.executedPlan.toString.contains("RowDataSourceScan"))
    // option hygiene
    intercept[RuntimeException](spark.read.format("graft")
      .option("changesFrom", v0).load(t.root.toString))
    intercept[RuntimeException](spark.read.format("graft")
      .option("changesFrom", v0).option("changesTo", vN)
      .option("versionAsOf", 2).load(t.root.toString))
    // bounds by TAG NAME: "changes since the tagged corpus vintage"
    t.tag("vintage", v0)
    t.tag("latest-audit", vN)
    val viaTags = spark.read.format("graft")
      .option("changesFrom", "vintage").option("changesTo", "latest-audit")
      .load(t.root.toString)
      .select(col("_change_type"), col("id")).as[(String, Long)]
      .collect().toSet
    assert(viaTags == direct)
    val badTag = intercept[RuntimeException](spark.read.format("graft")
      .option("changesFrom", "nope").option("changesTo", vN)
      .load(t.root.toString))
    assert(badTag.getMessage.contains("neither"), badTag.getMessage)
    // bounds by TIMESTAMP: resolve to the version as of the instant
    val t0Ms = t.history().find(_.version == v0).get.timestampMs
    val tNMs = t.history().find(_.version == vN).get.timestampMs
    val viaTs = spark.read.format("graft")
      .option("changesFromTimestamp", t0Ms)
      .option("changesToTimestamp",
        java.time.Instant.ofEpochMilli(tNMs).toString)
      .load(t.root.toString)
      .select(col("_change_type"), col("id")).as[(String, Long)]
      .collect().toSet
    assert(viaTs == direct)
    val both = intercept[Exception](spark.read.format("graft")
      .option("changesFrom", v0).option("changesFromTimestamp", t0Ms)
      .option("changesTo", vN).load(t.root.toString))
    assert(both.getMessage.contains("not both"), both.getMessage)
  }

  test("changes over expired intermediates and stream appends") {
    // stream-append commits are blind: eligible for the metadata path
    val t = rangeTable()
    val v0 = t.currentVersion()
    t.appendStreamBatch(rows((50, "2024-06-01", 50.0)), batchId = 1L)
    val got = t.changes(v0, t.currentVersion())
      .select(col("_change_type"), col("id")).as[(String, Long)]
      .collect().toSet
    assert(got == Set(("insert", 50L)))
    // a range spanning EXPIRED snapshots still answers via the
    // endpoint-only diff path instead of failing on the missing logs
    val t2 = SnapshotTable.create(spark, freshRoot(), eventsSchema, None,
      properties = Map("vacuum_min_snapshots_to_keep" -> "1"))
    t2.append(rows((1, "2024-01-01", 1.0)))  // v2
    t2.tag("start")                           // protect v2
    t2.append(rows((2, "2024-01-02", 2.0)))  // v3
    t2.upsert(rows((1, "2024-01-01", 10.0)), Seq("id")) // v4 (rewrite)
    t2.append(rows((3, "2024-01-03", 3.0)))  // v5
    t2.expireSnapshots() // v3, v4 expire (v2 tagged, v5 current)
    assert(!t2.log.versions().contains(3L))
    val chg = t2.changes(2, t2.currentVersion())
      .select(col("_change_type"), col("id"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(chg == Set(("insert", 2L, 2.0), ("insert", 3L, 3.0),
      ("delete", 1L, 1.0), ("insert", 1L, 10.0)))
  }

  /** Every native graft scan in an executed plan, adaptive stages
    * included.
    */
  private def graftScans(p: SparkPlan): Seq[GraftBatchScan] = p match {
    case a: AdaptiveSparkPlanExec => graftScans(a.executedPlan)
    case s: QueryStageExec => graftScans(s.plan)
    case b: BatchScanExec => b.scan match {
      case g: GraftBatchScan => Seq(g)
      case _ => Nil
    }
    case other => other.children.flatMap(graftScans)
  }

  private def v1Relations(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed.collect { case l: LogicalRelation => l }

  private def v2Relations(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed.collect { case r: DataSourceV2Relation => r }

  test("graft scans plan natively: vectorized parquet, no RDD bridge, manifest pruning in-plan") {
    val t = rangeTable() // ids 1..40 in 4 decade files with min/max stats
    val df = spark.read.format("graft").load(t.root.toString)
      .filter(col("id") === 17L).select("id", "v")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(17L))
    val plan = df.queryExecution.executedPlan.toString
    // a row bridge renders as RowDataSourceScan / Scan ExistingRDD; the
    // path read plans the native batch scan the catalog tables use
    assert(!plan.contains("RowDataSourceScan") && !plan.contains("ExistingRDD"),
      s"RDD bridge still in plan:\n$plan")
    assert(graftScans(df.queryExecution.executedPlan).nonEmpty,
      s"expected the native graft batch scan:\n$plan")
    // manifest pruning runs at PLANNING: a predicate outside every
    // file's bounds plans no input partition at all (pure metadata
    // skip — through SQL, not just the Scala readWhere path)
    val none = spark.read.format("graft").load(t.root.toString)
      .filter(col("id") === 999L)
    assert(none.count() == 0L)
    val noneScans = graftScans(none.queryExecution.executedPlan)
    assert(noneScans.nonEmpty &&
      noneScans.forall(_.toBatch.planInputPartitions().isEmpty),
      "all-files manifest skip should plan an empty scan")
    // aggregate over the SQL view stays on the native path too
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW graft_plan_test " +
      s"USING graft OPTIONS (path '${t.root}')")
    val agg = spark.sql(
      "SELECT count(*) AS n FROM graft_plan_test WHERE id BETWEEN 11 AND 20")
    assert(agg.as[Long].head() == 10L)
    assert(!agg.queryExecution.executedPlan.toString.contains("RowDataSourceScan"))
  }

  test("path reads resolve to the DSv2 tables: pins, branch, view, changes, metadata") {
    val t = rangeTable() // v1 create, v2 ids 1..40
    val root = t.root.toString
    val v2 = t.currentVersion()
    t.append(rows((41, "2024-05-01", 41.0)))
    val v3 = t.currentVersion()
    t.tag("two", v2)
    t.createBranch("side")
    t.branch("side").append(rows((42, "2024-05-02", 42.0)))
    // filtered reads plan BatchScanExec over GraftBatchScan; no V1
    // relation anywhere in the analyzed plan
    def native(df: org.apache.spark.sql.DataFrame, n: Int): Unit = {
      assert(df.collect().length == n)
      assert(v1Relations(df).isEmpty, df.queryExecution.analyzed)
      assert(graftScans(df.queryExecution.executedPlan).nonEmpty,
        df.queryExecution.executedPlan)
    }
    def read(opts: (String, String)*) = spark.read.format("graft")
      .options(opts.toMap).load(root).filter(col("id") > 0L)
    native(read(), 41)
    native(read("versionAsOf" -> v2.toString), 40)
    native(read("tag" -> "two"), 40)
    native(read("branch" -> "side"), 42)
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW graft_v2_path " +
      s"USING graft OPTIONS (path '$root')")
    native(spark.sql("SELECT * FROM graft_v2_path WHERE id > 0"), 41)
    // a changes window keeps its schema at changesTo across a later
    // ADD COLUMN, with the same rows as the Scala changelog
    t.addColumns(Seq(StructField("extra", StringType)))
    val chg = spark.read.format("graft").option("changesFrom", v2)
      .option("changesTo", v3).load(root)
    assert(chg.columns.toSeq == Seq("_change_type", "id", "ts", "v"))
    assert(v2Relations(chg).nonEmpty && v1Relations(chg).isEmpty)
    assert(chg.collect().toSet == t.changes(v2, v3).collect().toSet)
    assert(chg.select("_change_type", "id").as[(String, Long)].collect()
      .toSet == Set(("insert", 41L)))
    val hist = spark.read.format("graft").option("metadata", "history")
      .load(root)
    assert(v2Relations(hist).nonEmpty && v1Relations(hist).isEmpty)
    assert(hist.collect().toSet == t.historyDf().collect().toSet)
    // no table at the path: the read fails naming it
    val missing = freshRoot()
    val e = intercept[Exception](spark.read.format("graft").load(missing))
    assert(e.getMessage.contains(missing), e.getMessage)
  }

  test("temp-view DELETE on a merge-on-read table lowers onto delete vectors") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, None,
      properties = Map("graft.delete.mode" -> "merge-on-read"))
    // one file, so the DELETE matches part of it
    t.append(rows((1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0),
      (3, "2024-01-03", 3.0)).coalesce(1))
    val preFiles = t.currentSnapshot().files.map(_.path)
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW graft_mor_view " +
      s"USING graft OPTIONS (path '${t.root}')")
    // a predicate with a source-filter form: only the View node keeps
    // it from the native delete, which would refuse it
    spark.sql("DELETE FROM graft_mor_view WHERE id >= 2")
    assert(t.read().select("id").as[Long].collect().toSeq == Seq(1L))
    val s = t.currentSnapshot()
    assert(s.operation == "delete-pos" && s.dvFiles.nonEmpty &&
      s.files.map(_.path) == preFiles,
      "merge-on-read DELETE must commit a delete vector, not rewrite")
  }

  test("write.distribution-mode=hash yields one file per partition per batch") {
    def wideBatch = (1L to 1000L).map(i =>
      (i, Timestamp.valueOf(f"2024-${i % 4 + 1}%02d-01 00:00:00"), i * 1.0))
      .toDF("id", "ts", "v").repartition(16)
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec,
      properties = Map(SnapshotTable.DistributionModeProp -> "hash"))
    t.append(wideBatch)
    val byPart = t.currentSnapshot().files.groupBy(_.partition)
    assert(byPart.keySet.flatten == Set("2024-01", "2024-02", "2024-03", "2024-04"))
    assert(byPart.values.forall(_.size == 1),
      s"hash mode must write ONE file per partition: ${byPart.view.mapValues(_.size).toMap}")
    // default mode: task-parallel layout (files = tasks × partitions)
    val t2 = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec)
    t2.append(wideBatch)
    assert(t2.currentSnapshot().files.size > 4,
      "default keeps task-parallel files (compact() repairs layout)")
    // identical content either way
    assert(t.read().count() == 1000L && t2.read().count() == 1000L)
  }

  test("data source timestampAsOf resolves to the latest snapshot at or before") {
    val root = freshRoot()
    val t = SnapshotTable.create(spark, root, eventsSchema, None,
      clock = tickClock())
    t.append(rows((1, "2024-01-01", 1.0))) // v2
    t.append(rows((2, "2024-01-02", 2.0))) // v3
    val h = t.history()
    assert(spark.read.format("graft")
      .option("timestampAsOf", h(1).timestampMs).load(root).count() == 1L)
    // ISO-8601 form accepted too
    val iso = java.time.Instant.ofEpochMilli(h(1).timestampMs).toString
    assert(spark.read.format("graft")
      .option("timestampAsOf", iso).load(root).count() == 1L)
    intercept[RuntimeException](spark.read.format("graft")
      .option("timestampAsOf", h.head.timestampMs - 1).load(root))
    intercept[RuntimeException](spark.read.format("graft")
      .option("timestampAsOf", h(1).timestampMs)
      .option("versionAsOf", 2).load(root))
  }

  test("maintain() self-heals a partition spec evolution") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec)
    t.append(rows((1, "2024-01-05", 1.0), (2, "2024-02-06", 2.0)))
    t.evolveSpec(None)
    val before = t.currentSnapshot()
    assert(before.files.exists(_.seq < before.specSince), "legacy files present")
    t.maintain() // compact threshold not met; migrateSpec must still fold
    val s = t.currentSnapshot()
    assert(s.files.forall(_.seq >= s.specSince))
    assert(s.partitions == Seq(None), "all files unpartitioned now")
    assert(t.read().count() == 2L)
    // value-scoped ops unblocked without a manual migrateSpec()
    t.overwritePartitions(rows((3, "2024-03-07", 3.0)))
    assert(t.read().select("id").as[Long].collect().toSeq == Seq(3L))
  }

  test("graft data source write path: save modes, partition option, SQL INSERT") {
    val root = freshRoot()
    // an unknown transform fails BEFORE any table is created — not as a
    // MatchError on the first append after the bad spec persisted
    val bad = intercept[Exception](rows((1, "2024-01-05", 1.0))
      .write.format("graft").option("partition", "hour(ts)").save(root))
    assert(bad.getMessage.contains("unsupported partition transform"))
    assert(!SnapshotTable.exists(spark, root), "no half-created table")
    // a malformed bucket transform (missing N) also fails pre-create
    val badBucket = intercept[Exception](rows((1, "2024-01-05", 1.0))
      .write.format("graft").option("partition", "bucket(ts)").save(root))
    assert(badBucket.getMessage.contains("bucket(N, col)"))
    assert(!SnapshotTable.exists(spark, root), "no half-created table")
    // fresh save with a partition option creates + fills the table
    rows((1, "2024-01-05", 1.0), (2, "2024-02-06", 2.0))
      .write.format("graft").option("partition", "month(ts)").save(root)
    val t = SnapshotTable.load(spark, root)
    assert(t.currentSnapshot().spec.contains(PartitionSpec("ts", "month")))
    assert(t.read().count() == 2L)
    // append mode commits atomically; ErrorIfExists refuses; Ignore no-ops
    rows((3, "2024-03-07", 3.0)).write.format("graft")
      .mode("append").save(root)
    assert(t.read().count() == 3L)
    intercept[RuntimeException](
      rows((4, "2024-04-01", 4.0)).write.format("graft").save(root))
    rows((4, "2024-04-01", 4.0)).write.format("graft")
      .mode("ignore").save(root)
    assert(t.read().count() == 3L)
    // SQL INSERT INTO through the temp view (InsertableRelation)
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW graft_ds_w " +
      s"USING graft OPTIONS (path '$root')")
    spark.sql("INSERT INTO graft_ds_w " +
      "VALUES (5, TIMESTAMP '2024-05-01 00:00:00', 5.0)")
    assert(t.read().count() == 4L)
    assert(t.currentSnapshot().partitions.flatten.toSet.contains("2024-05"))
    // overwrite mode replaces the whole content in one commit
    rows((9, "2024-09-09", 9.0)).write.format("graft")
      .mode("overwrite").save(root)
    assert(t.read().select("id").as[Long].collect().toSeq == Seq(9L))
  }

  test("empty upsert batch is a clean no-op, not a full-table rewrite") {
    val t = rangeTable()
    val v = t.currentVersion()
    val files = t.currentSnapshot().files.map(_.path).toSet
    t.upsert(t.read().limit(0), Seq("id"))
    assert(t.currentVersion() == v, "no commit for an empty batch")
    assert(t.currentSnapshot().files.map(_.path).toSet == files)
  }

  test("partition spec evolution: metadata-only, conservative reads, migration rewrites only legacy files") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec)
    t.append(rows((1, "2024-01-05", 1.0), (2, "2024-02-06", 2.0))) // month files
    val before = t.currentSnapshot().files.map(_.path).toSet
    t.evolveSpec(None) // unpartition FUTURE writes, metadata-only
    val s1 = t.currentSnapshot()
    assert(s1.files.map(_.path).toSet == before, "no data file moves")
    assert(s1.spec.isEmpty && s1.specSince == s1.version)
    t.append(rows((3, "2024-01-07", 3.0))) // unpartitioned file
    // back to month partitioning: three spec generations now coexist
    t.evolveSpec(monthSpec)
    t.append(rows((4, "2024-02-08", 4.0))) // current-spec month file
    // range read month-prunes ONLY current-spec files; legacy ones are
    // kept conservatively and the residual filter restores exactness
    val jan = t.readTimestampRange(
      Instant.parse("2024-01-01T00:00:00Z"), Instant.parse("2024-02-01T00:00:00Z"))
    assert(jan.select("id").as[Long].collect().toSet == Set(1L, 3L))
    // value-scoped ops refuse while specs are mixed (namespace collision)
    intercept[IllegalArgumentException](
      t.upsert(rows((2, "2024-02-06", 20.0)), Seq("id")))
    intercept[IllegalArgumentException](
      t.overwritePartitions(rows((5, "2024-02-09", 5.0))))
    // ... including partition-value READS: a current-spec predicate
    // would silently drop legacy files' rows (no residual can restore)
    intercept[IllegalArgumentException](t.readPartitions(_ => true))
    // migration rewrites exactly the legacy files under the new spec
    val migrated = t.migrateSpec()
    assert(migrated.nonEmpty)
    val s2 = t.currentSnapshot()
    assert(s2.files.forall(_.seq >= s2.specSince))
    assert(s2.partitions.flatten.forall(_.matches("""\d{4}-\d{2}""")),
      "every manifest partition value is a month string after migration")
    assert(t.migrateSpec().isEmpty, "idempotent: nothing left to migrate")
    // and the scoped ops work again, content intact
    t.upsert(rows((2, "2024-02-06", 20.0)), Seq("id"))
    assert(t.read().count() == 4L)
    assert(t.read().filter(col("id") === 2L).select("v").as[Double]
      .collect().toSeq == Seq(20.0))
    // no-op evolve commits nothing
    val v = t.currentVersion()
    t.evolveSpec(monthSpec)
    assert(t.currentVersion() == v)
  }

  test("tags: named refs read back, protect from expiry, and drop cleanly") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, None,
      properties = Map("vacuum_min_snapshots_to_keep" -> "2"))
    t.append(rows((1, "2024-01-01", 1.0)))    // v2
    t.tag("corpus-v1.0")                      // → v2 (default: current)
    t.append(rows((2, "2024-01-02", 2.0)))    // v3
    t.overwrite(rows((9, "2024-03-01", 9.0))) // v4: v2's file leaves current
    // tags are immutable until dropped; names are filesystem-safe only
    intercept[IllegalArgumentException](t.tag("corpus-v1.0", 3))
    intercept[IllegalArgumentException](t.tag("bad/name"))
    assert(t.tags() == Map("corpus-v1.0" -> 2L))
    assert(t.readTag("corpus-v1.0").select("id").as[Long].collect().toSeq
      == Seq(1L))
    // expiry keeps the tagged version AND its data files
    t.expireSnapshots(keep = 1)
    assert(t.log.versions().contains(2L), "tagged snapshot is expiry-proof")
    assert(t.readTag("corpus-v1.0").count() == 1L)
    // dropping the tag releases it to the next expiry
    t.dropTag("corpus-v1.0")
    intercept[RuntimeException](t.readTag("corpus-v1.0"))
    t.expireSnapshots(keep = 1)
    assert(!t.log.versions().contains(2L))
    // tagging an expired version is refused with a clear error
    intercept[IllegalArgumentException](t.tag("too-late", 2))
    // a ref that raced expiry onto a dead version (simulated by writing
    // the ref file directly — tag() would refuse) is self-healed by the
    // next expiry run instead of permanently "protecting" nothing
    assert(t.log.trySetRef("dangler", 999L, 0L))
    t.expireSnapshots(keep = 1)
    assert(!t.tags().contains("dangler"), "dangling ref dropped")
  }

  test("deleteByKeys is merge-on-read: no data file rewritten, reads exclude, re-append revives") {
    val t = rangeTable() // ids 1..40 across 4 decade files
    val before = t.currentSnapshot().files.map(f => f.path -> f.seq).toMap
    t.deleteByKeys(Seq(5L, 17L, 23L).toDF("id"), Seq("id"))
    val s = t.currentSnapshot()
    assert(s.files.map(f => f.path -> f.seq).toMap == before,
      "equality delete must not rewrite or re-stamp any data file")
    assert(s.deleteFiles.nonEmpty && s.operation == "delete-eq")
    assert(s.deleteFiles.forall(_.seq == s.version))
    assert(t.read().count() == 37L)
    assert(t.read().filter(col("id").isin(5L, 17L, 23L)).count() == 0L)
    // time travel BEFORE the delete still sees the rows
    assert(t.readAt(s.version - 1).count() == 40L)
    // sequence semantics: re-appending a deleted key makes it visible
    t.append(rows((5, "2024-05-01", 55.0)))
    assert(t.read().filter(col("id") === 5L).count() == 1L)
    assert(t.read().count() == 38L)
    // NULL key components are ignored; an all-null key set is a no-op
    val v = t.currentVersion()
    t.deleteByKeys(Seq(Option.empty[Long]).toDF("id"), Seq("id"))
    assert(t.currentVersion() == v, "all-NULL key delete commits nothing")
    // readWhere composes with MoR deletes (stats prune + anti-join)
    assert(t.readWhere(col("id") <= 20L).filter(col("id") === 17L).count() == 0L)
  }

  test("compact folds equality deletes into the rewrite and retires them") {
    val t = rangeTable()
    t.deleteByKeys(Seq(5L, 17L).toDF("id"), Seq("id"))
    assert(t.currentSnapshot().deleteFiles.size == 1)
    t.compact(minFiles = 1)
    val s = t.currentSnapshot()
    assert(s.deleteFiles.isEmpty,
      "fully-applied delete files retire once no data file predates them")
    assert(t.read().count() == 38L)
    assert(t.read().filter(col("id").isin(5L, 17L)).count() == 0L)
  }

  test("CoW delete and merge after a pending MoR delete never resurrect rows") {
    val t = rangeTable()
    t.deleteByKeys(Seq(11L).toDF("id"), Seq("id"))
    // CoW delete rewrites the decade file holding 11..20: the MoR-
    // deleted row 11 must not come back in the rewritten file
    t.delete(col("id") === 12L)
    assert(t.read().filter(col("id").isin(11L, 12L)).count() == 0L)
    assert(t.read().count() == 38L)
    // merge over a file with a pending MoR delete: the deleted key is
    // NOT matched (it inserts as new) and survivors exclude it
    val t2 = rangeTable()
    t2.deleteByKeys(Seq(3L).toDF("id"), Seq("id"))
    t2.merge(Seq((3L, Timestamp.valueOf("2024-06-01 00:00:00"), 333.0))
      .toDF("id", "ts", "v"), Seq("id"))
    val threes = t2.read().filter(col("id") === 3L)
      .select("v").as[Double].collect().toSeq
    assert(threes == Seq(333.0), "deleted key re-inserts with source row only")
  }

  test("pending equality deletes survive a rename; drop of a keyed column is refused") {
    val t = rangeTable()
    t.deleteByKeys(Seq(7L).toDF("id"), Seq("id"))
    t.renameColumn("id", "ident")
    assert(t.read().filter(col("ident") === 7L).count() == 0L,
      "delete keys written pre-rename still apply through the field id")
    assert(t.read().count() == 39L)
    val ex = intercept[IllegalArgumentException](t.dropColumn("ident"))
    assert(ex.getMessage.contains("equality-delete"))
    t.compact(minFiles = 1) // folds the delete away
    t.dropColumn("v")       // now legal (never was keyed)
    assert(t.currentSnapshot().deleteFiles.isEmpty)
    assert(t.read().count() == 39L)
  }

  test("mergeConditional: first-match-wins clauses update, delete, and keep") {
    import graft.catalog.{MergeAction, MergeClause}
    val t = rangeTable() // ids 1..40, v = id.toDouble (NULL at multiples of 10)
    val source = (1L to 40L).filter(_ % 4 == 0).map(i =>
      (i, Timestamp.valueOf("2024-06-01 00:00:00"), i * 100.0))
      .toDF("id", "ts", "v")
    // clause 1: ids ≤ 16 update to the source row; clause 2: target v
    // NULL deletes; anything else (id > 16 with non-null v) keeps
    t.mergeConditional(source, Seq("id"), Seq(
      MergeClause(Some(col("s.id") <= 16L), MergeAction.UpdateAll),
      MergeClause(Some(col("t.v").isNull), MergeAction.Delete)),
      insertNotMatched = false)
    val out = t.read().select("id", "v").as[(Long, Option[Double])]
      .collect().toMap
    // ids 4,8,12,16 updated (v = id*100); 20,40 had NULL v → deleted;
    // 24,28,32,36 matched but satisfied no clause → kept unchanged
    assert(out(4L).contains(400.0) && out(16L).contains(1600.0))
    assert(!out.contains(20L) && !out.contains(40L))
    assert(out(24L).contains(24.0) && out(36L).contains(36.0))
    // non-matched rows untouched, incl. the other NULL-v rows (10, 30)
    assert(out(1L).contains(1.0) && out(10L).isEmpty && out(30L).isEmpty)
    assert(t.read().count() == 38L, "40 rows - 2 conditional deletes")
    // unconditional clause after a conditional one: catch-all update
    val t2 = rangeTable()
    t2.mergeConditional(source, Seq("id"), Seq(
      MergeClause(Some(col("t.v").isNull), MergeAction.Delete),
      MergeClause(None, MergeAction.UpdateAll)), insertNotMatched = true)
    val out2 = t2.read().select("id", "v").as[(Long, Option[Double])]
      .collect().toMap
    assert(!out2.contains(20L) && !out2.contains(40L))
    assert(out2(4L).contains(400.0) && out2(36L).contains(3600.0))
    assert(t2.read().count() == 38L)
  }

  test("mergeConditional UpdateSet: assigned columns rewrite from both sides, rest keep") {
    import graft.catalog.{InsertClause, MergeAction, MergeClause}
    val t = rangeTable() // ids 1..40, v = id.toDouble (NULL at multiples of 10)
    val source = (1L to 40L).filter(_ % 4 == 0).map(i =>
      (i, Timestamp.valueOf("2024-06-01 00:00:00"), i * 100.0))
      .toDF("id", "ts", "v")
    t.mergeConditional(source, Seq("id"), Seq(
      MergeClause(Some(col("s.id") <= 16L),
        MergeAction.UpdateSet(Seq("v" -> (col("t.v") + col("s.v")))))),
      notMatched = Nil, notMatchedBySource = Nil)
    val out = t.read().select("id", "v", "ts").collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)), r.getTimestamp(2))).toMap
    // v = t.v + s.v for matched ids ≤ 16; ts (unassigned) keeps the
    // ORIGINAL target value, not the source's 2024-06-01
    assert(out(4L)._1.contains(404.0) && out(16L)._1.contains(1616.0))
    assert(out(4L)._2.toString.startsWith("2024-01"))
    // matched id > 16: no clause fired, row unchanged
    assert(out(24L)._1.contains(24.0))
    // NULL + number = NULL propagates through the assignment
    assert(out(20L)._1.isEmpty)
    assert(t.read().count() == 40L)
  }

  test("mergeConditional insert clauses: first-match-wins, column-list NULLs rest") {
    import graft.catalog.{InsertClause, MergeAction, MergeClause}
    val t = rangeTable()
    // ids 41..44 are all NEW keys (pure inserts); 4 matches nothing
    val source = Seq(
      (41L, Timestamp.valueOf("2024-06-01 00:00:00"), 4100.0),
      (42L, Timestamp.valueOf("2024-06-02 00:00:00"), 4200.0),
      (43L, Timestamp.valueOf("2024-06-03 00:00:00"), 4300.0),
      (44L, Timestamp.valueOf("2024-06-04 00:00:00"), 4400.0))
      .toDF("id", "ts", "v")
    t.mergeConditional(source, Seq("id"),
      Seq(MergeClause(None, MergeAction.UpdateAll)),
      notMatched = Seq(
        // 42 hits the column-list clause first (id + v only, ts NULL)
        InsertClause(Some(col("s.id") % 2 === 0),
          Some(Seq("id" -> col("s.id"), "v" -> (col("s.v") + 0.5)))),
        // odd ids fall to the star clause; 41 only (43 filtered out)
        InsertClause(Some(col("s.id") =!= 43L), None)),
      notMatchedBySource = Nil)
    val out = t.read().filter(col("id") > 40L)
      .select("id", "ts", "v").collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(out.keySet == Set(41L, 42L, 44L), "43 satisfied no insert clause")
    assert(out(42L)._1.isEmpty && out(42L)._2.contains(4200.5),
      "column-list insert NULLs unassigned ts and evaluates expressions")
    assert(out(41L)._1.nonEmpty && out(41L)._2.contains(4100.0),
      "star insert keeps the whole source row")
    assert(out(44L)._1.isEmpty && out(44L)._2.contains(4400.5))
  }

  test("mergeConditional NOT MATCHED BY SOURCE: delete and update unmatched target rows") {
    import graft.catalog.{InsertClause, MergeAction, MergeClause}
    val t = rangeTable() // ids 1..40
    val source = (1L to 40L).filter(_ % 4 == 0).map(i =>
      (i, Timestamp.valueOf("2024-06-01 00:00:00"), i * 100.0))
      .toDF("id", "ts", "v")
    t.mergeConditional(source, Seq("id"),
      Seq(MergeClause(None, MergeAction.UpdateAll)),
      notMatched = Nil,
      notMatchedBySource = Seq(
        // first-match-wins: %10 deletes BEFORE %2's update can see it
        MergeClause(Some(col("t.id") % 10 === 0), MergeAction.Delete),
        MergeClause(Some(col("t.id") % 2 === 0),
          MergeAction.UpdateSet(Seq("v" -> (col("t.v") * 10.0))))))
    val out = t.read().select("id", "v").as[(Long, Option[Double])]
      .collect().toMap
    // matched (%4) rows updated to source
    assert(out(4L).contains(400.0) && out(40L).contains(4000.0))
    // unmatched %10 (10, 30) deleted — but 20, 40 are matched (%4) and kept
    assert(!out.contains(10L) && !out.contains(30L))
    // unmatched even non-%10 (2, 6, …) updated ×10
    assert(out(2L).contains(20.0) && out(6L).contains(60.0))
    // unmatched odd rows untouched
    assert(out(1L).contains(1.0) && out(39L).contains(39.0))
    assert(t.read().count() == 38L)
    // UpdateAll in a NOT MATCHED BY SOURCE clause is rejected loudly
    val ex = intercept[IllegalArgumentException] {
      t.mergeConditional(source, Seq("id"),
        Seq(MergeClause(None, MergeAction.UpdateAll)), Nil,
        Seq(MergeClause(None, MergeAction.UpdateAll)))
    }
    assert(ex.getMessage.contains("NOT MATCHED BY SOURCE"))
  }

  test("bucket[N] hidden partitioning: point lookups open only the keys' buckets") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema,
      Some(PartitionSpec("id", "bucket[4]")))
    t.append((1L to 80L).map(i =>
      (i, Timestamp.valueOf("2024-01-01 00:00:00"),
        if (i % 10 == 0) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(i.toDouble)))
      .toDF("id", "ts", "v"))
    val snap = t.currentSnapshot()
    // every file carries a bucket partition value in 0..3
    assert(snap.partitions.flatten.toSet.subsetOf(Set("0", "1", "2", "3")))
    assert(snap.partitions.flatten.toSet.size == 4, "80 ids hit all buckets")
    // the lookup reads exactly the right rows…
    val keys = Seq(7L, 23L, 54L)
    val got = t.readKeyIn(keys).select("id").as[Long].collect().sorted.toSeq
    assert(got == keys.sorted)
    // …and the write-side hash agrees with the driver-side mirror:
    // re-derive each key's bucket and check only those partitions could
    // have been read (the pruned set is a strict subset of all files)
    // wide ∪ narrow buckets: a long key also probes its pre-widening
    // int-hash bucket (the manifest can't tell which files predate a
    // widening), so ≤2 buckets per key may open
    val wanted = SnapshotTable.bucketsOf(LongType, keys, 4L).get
    val opened = snap.files.filter(_.partition.exists(wanted.contains))
    assert(opened.nonEmpty && opened.size < snap.files.size)
    // NULL keys are ignored (SQL equality semantics)
    assert(t.readKeyIn(Seq(7L, null)).count() == 1L)
    // a null-id row routes to the null partition and full reads keep it
    t.append(Seq((null.asInstanceOf[java.lang.Long], Timestamp.valueOf(
      "2024-01-01 00:00:00"), java.lang.Double.valueOf(0.0)))
      .toDF("id", "ts", "v"))
    assert(t.currentSnapshot().partitions.contains(None))
    assert(t.read().count() == 81L)
    // non-bucket tables refuse the point-lookup API loudly
    val ident = SnapshotTable.create(spark, freshRoot(), eventsSchema,
      Some(PartitionSpec("id", "identity")))
    val e = intercept[RuntimeException](ident.readKeyIn(Seq(1L)))
    assert(e.getMessage.contains("bucket"))
    // the filter-pushdown path bucket-prunes too: stats can't skip here
    // (every bucket spans the full id range after this many rows), but
    // partition values can — IN/equality on the source column opens a
    // strict subset of files, and results stay exact
    val inPruned = t.pruneFiles(col("id").isin(7L, 23L))
    assert(inPruned.size < t.currentSnapshot().files.size)
    assert(inPruned.map(_.partition).forall(_.exists(wanted.contains)))
    assert(t.readWhere(col("id").isin(7L, 23L)).count() == 2L)
    // equality with NULL matches nothing and prunes everything
    assert(t.pruneFiles(col("id") === lit(null).cast("long")).isEmpty)
  }

  test("bucket pruning survives implicit int→long widening of the bucket source") {
    // files written while id was INT carry partition values from
    // xxhash64-of-int; after an append widens id to LONG, point lookups
    // hash with the CURRENT type — the narrow-hash probe must keep the
    // pre-widening files reachable (regression: silently-missing rows)
    val intSchema = StructType(Seq(
      StructField("id", IntegerType), StructField("v", DoubleType)))
    val t = SnapshotTable.create(spark, freshRoot(), intSchema,
      Some(PartitionSpec("id", "bucket[4]")))
    t.append((1 to 40).map(i => (i, i.toDouble)).toDF("id", "v"))
    val preFiles = t.currentSnapshot().files.map(_.path).toSet
    // widening append: long ids, including values outside int range
    t.append(Seq((41L, 41.0), (5000000000L, 50.0)).toDF("id", "v"))
    assert(t.currentSnapshot().schema("id").dataType == LongType)
    assert(t.currentSnapshot().spec.exists(_.source == "id"))
    // self-check: the scenario is non-vacuous — at least one key's
    // int-hash bucket differs from its long-hash bucket
    def b(h: Long) = ((h % 4) + 4) % 4
    assert(Seq(7, 23, 34).exists(k =>
      b(graft.catalog.StatsPruner.hashOf(IntegerType, k).get) !=
        b(graft.catalog.StatsPruner.hashOf(LongType, k.toLong).get)))
    // point lookup for PRE-widening keys must find them all
    val got = t.readKeyIn(Seq(7L, 23L, 34L)).select("id").as[Long]
      .collect().sorted.toSeq
    assert(got == Seq(7L, 23L, 34L),
      s"pre-widening keys lost to bucket pruning: $got")
    // …and the filter-pushdown path agrees
    assert(t.readWhere(col("id").isin(7L, 23L, 34L)).count() == 3L)
    // post-widening keys (not int-representable) still resolve
    assert(t.readKeyIn(Seq(5000000000L)).select("v").as[Double]
      .collect().toSeq == Seq(50.0))
    // pruning still prunes: a lookup opens a strict subset of files
    // (≤2 buckets per key: wide ∪ narrow)
    val pruned = t.pruneFiles(col("id") === 7L)
    assert(pruned.nonEmpty && pruned.size < t.currentSnapshot().files.size)
    // the pre-widening file holding id=7 is in the pruned set
    val wanted = SnapshotTable.bucketsOf(LongType, Seq(7L), 4L).get
    assert(pruned.exists(f => preFiles.contains(f.path) &&
      f.partition.exists(wanted.contains)))
  }

  test("case-colliding column names fail fast at create, evolving append and rename") {
    val bad = StructType(Seq(StructField("id", LongType),
      StructField("Value", DoubleType), StructField("value", DoubleType)))
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable.create(spark, freshRoot(), bad, None)
    }
    assert(ex.getMessage.contains("collide"))
    val t = SnapshotTable.create(spark, freshRoot(), StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType))), None)
    t.append(Seq((1L, 1.0)).toDF("id", "v"))
    // an evolving batch whose NEW column collides case-insensitively
    // with an existing one must fail at the write, not misresolve in
    // the scan strategy's by-name attribute remap
    val ex2 = intercept[IllegalArgumentException] {
      t.append(Seq((2L, 2.0, 3.0)).toDF("id", "v", "V"))
    }
    assert(ex2.getMessage.contains("collide"))
    val ex3 = intercept[IllegalArgumentException] { t.renameColumn("v", "ID") }
    assert(ex3.getMessage.contains("collide"))
    assert(t.read().count() == 1L, "failed writes left no partial state")
  }

  test("bloom and stats agree on hostile long-string values (prune never drops a match)") {
    // values that stress the 64-char stat truncation boundary and the
    // UTF8String hash path: exactly-64, 65, multi-KB, multibyte unicode
    // crossing the boundary, backticks/quotes, and the empty string.
    // Stats store a truncated min / dropped max for the long ones while
    // the bloom hashes the FULL value — the two prune channels must
    // never contradict: a present value's file is always kept.
    val hostile = Seq(
      "a" * 64, "a" * 65, "a" * 63 + "é", "é" * 64,
      "z" * 5000, ("文" * 100) + "tail", "`quoted`\"'\\", "",
      "prefix" + (" " * 10) + "suffix", " leading and trailing ")
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType)))
    val t = SnapshotTable.create(spark, freshRoot(), schema, None,
      properties = Map("graft.bloom.columns" -> "s",
        "graft.bloom.bits" -> "4096"))
    // one file per value: every probe decision is file-scoped
    hostile.zipWithIndex.foreach { case (s, i) =>
      t.append(Seq((i.toLong, s)).toDF("k", "s").coalesce(1))
    }
    for (s <- hostile) {
      val kept = t.pruneFiles(col("s") === s)
      assert(kept.nonEmpty, s"present value pruned away: ${s.take(40)}…")
      assert(t.readWhere(col("s") === s).count() == 1L,
        s"readWhere lost a present hostile value: ${s.take(40)}…")
    }
    // absent variants that share the 64-char truncated PREFIX with a
    // present value: stats alone cannot rule them out, the bloom can —
    // and must never rule out the twin that IS present
    val absentSharedPrefix = Seq("a" * 66, "z" * 4999, "a" * 64 + "b")
    for (s <- absentSharedPrefix)
      assert(t.readWhere(col("s") === s).count() == 0L)
    // the bloom actually prunes: an absent probe opens fewer files than
    // the stats-only decision would (prefix-truncated bounds keep them)
    assert(t.pruneFiles(col("s") === ("a" * 66)).size <
      t.currentSnapshot().files.size)
  }

  test("cloneTo: deep clone ships a vintage as a standalone, independent table") {
    val t = rangeTable() // v2: ids 1..40 in 4 range-sorted files
    t.append(rows((41L, "2024-05-01", 41.0))) // v3
    val tgt = freshRoot()
    // clone v2 through SQL (native DSv2 CALL, path-addressed table)
    val r = spark.sql(
      s"CALL graft.system.clone(table => '${t.root}', target => '$tgt', " +
        "version => 2)")
      .collect().head
    assert(r.getString(0) == tgt && r.getLong(1) == 40L)
    val c = SnapshotTable.load(spark, tgt)
    // content identical to the source AT THAT VERSION
    assert(c.read().collect().toSet == t.readAt(2).collect().toSet)
    // stats pruning survives the clone (bounds carried in the manifest)
    assert(c.pruneFiles(col("id") === 5L).size <
      c.currentSnapshot().files.size)
    // independent evolution: the clone advances, the source does not
    c.append(rows((99L, "2024-06-01", 9.0)))
    assert(c.read().count() == 41L)
    assert(t.read().count() == 41L) // 40 + the v3 row, not the clone's
    assert(t.read().filter(col("id") === 99L).count() == 0L)
    // field-id history carries: rename on the clone is metadata-only
    c.renameColumn("v", "score")
    assert(c.read().filter(col("score") === 5.0).count() == 1L)
    // pending MoR deletes refuse with the compact remedy
    t.deleteByKeys(Seq(Tuple1(2L)).toDF("id"), Seq("id"))
    val e = intercept[Exception](t.cloneTo(freshRoot()))
    assert(e.getMessage.contains("compact"), e.getMessage)
    // a spec-evolved source with pre-evolution files refuses: their
    // partition values mean the OLD spec and would corrupt pruning in
    // the clone's fresh (uniform-spec) log
    val evo = SnapshotTable.create(spark, freshRoot(), eventsSchema,
      monthSpec)
    evo.append(rows((1L, "2024-01-05", 1.0)))
    evo.evolveSpec(Some(PartitionSpec("id", "identity")))
    val specErr = intercept[Exception](evo.cloneTo(freshRoot()))
    assert(specErr.getMessage.contains("migrateSpec"), specErr.getMessage)
    // after migration the clone proceeds and prunes under the new spec
    evo.migrateSpec()
    val evoClone = evo.cloneTo(freshRoot())
    assert(evoClone.read().count() == 1L)
    assert(evoClone.readPartitions(_ == Some("1")).count() == 1L)
  }

  test("write sort order + range distribution: appends land prunable, no compact needed") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", DoubleType)))
    val sorted = SnapshotTable.create(spark, freshRoot(), schema, None,
      properties = Map(SnapshotTable.SortByProp -> "id",
        SnapshotTable.DistributionModeProp -> "range",
        SnapshotTable.RangePartitionsProp -> "8"))
    val shuffled = new scala.util.Random(7).shuffle((1L to 4000L).toVector)
      .map(i => (i, i.toDouble)).toDF("id", "v").repartition(8)
    sorted.append(shuffled)
    val files = sorted.currentSnapshot().files
    assert(files.size > 1)
    // range distribution => DISJOINT id bounds across files
    val bounds = files.map(f => (f.stats("id").min.get.toLong,
      f.stats("id").max.get.toLong)).sortBy(_._1)
    bounds.sliding(2).foreach { case Seq(a, b) =>
      assert(a._2 < b._1, s"overlapping file bounds: $a vs $b")
    case _ => ()
    }
    // a point probe opens exactly one file, straight from the append
    assert(sorted.pruneFiles(col("id") === 1234L).size == 1)
    assert(sorted.readWhere(col("id") === 1234L).count() == 1L)
    // the same data appended WITHOUT the properties overlaps
    val plain = SnapshotTable.create(spark, freshRoot(), schema, None)
    plain.append(shuffled)
    assert(plain.pruneFiles(col("id") === 1234L).size ==
      plain.currentSnapshot().files.size)
    // range mode without a sort order is a named error
    val bad = SnapshotTable.create(spark, freshRoot(), schema, None,
      properties = Map(SnapshotTable.DistributionModeProp -> "range"))
    val e = intercept[Exception](bad.append(shuffled))
    assert(e.getMessage.contains("sort-by"), e.getMessage)
    // a sort column missing from the batch is skipped, not fatal
    val evolves = SnapshotTable.create(spark, freshRoot(), schema, None,
      properties = Map(SnapshotTable.SortByProp -> "id,later_col"))
    evolves.append(shuffled)
    assert(evolves.read().count() == 4000L)
    // an explicit compact(sortBy) OWNS its layout: the write-layout
    // properties must not re-sort/re-shuffle the compaction output
    sorted.compact(targetRowsPerFile = 1000L, sortBy = Seq("v"))
    val vb = sorted.currentSnapshot().files
      .map(f => (f.stats("v").min.get.toDouble,
        f.stats("v").max.get.toDouble)).sortBy(_._1)
    vb.sliding(2).foreach { case Seq(a, b) =>
      assert(a._2 <= b._1, s"compact(sortBy=v) bounds overlap: $a $b")
    case _ => ()
    }
  }

  test("expireOlderThan: age-based expiry keeps current, tagged and audit-base versions") {
    // injected clock: v1 at t0+1s, each commit +1s
    val clock = tickClock(1000000L)
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, None,
      clock = clock)
    t.append(rows((1L, "2024-01-01", 1.0)))  // v2
    t.append(rows((2L, "2024-01-02", 2.0)))  // v3
    t.tag("old-but-pinned", 2L)
    t.append(rows((3L, "2024-01-03", 3.0)))  // v4 (current)
    val cutoff = t.history().find(_.version == 4L).get.timestampMs
    val (snaps, _) = t.expireOlderThan(cutoff)
    // v1 and v3 expire; v2 (tagged) and v4 (current) survive
    assert(snaps == 2, s"expired $snaps")
    assert(t.history().map(_.version) == Seq(2L, 4L))
    assert(t.readAt(2).count() == 1L)
    assert(t.read().count() == 3L)
    // cutoff in the past expires nothing
    assert(t.expireOlderThan(0L)._1 == 0)
    // SQL route (native DSv2 CALL), and keep/older_than_ms are
    // mutually exclusive
    val r = spark.sql(s"CALL graft.system.expire_snapshots(" +
      s"table => '${t.root}', older_than_ms => ${Long.MaxValue})")
      .collect().head
    assert(r.getLong(0) == 0L) // only protected versions remain
    val both = intercept[Exception](spark.sql(
      s"CALL graft.system.expire_snapshots(table => '${t.root}', " +
        "keep => 1, older_than_ms => 5)").collect())
    assert(both.getMessage.contains("OR"), both.getMessage)
  }

  test("SQL aggregate pushdown: filterless COUNT/MIN/MAX collapse to the manifest answer") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val t = rangeTable() // ids 1..40, v null every 10th
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW graft_aggpd USING graft " +
      s"OPTIONS (path '${t.root}')")
    val q = spark.sql(
      "SELECT count(*) AS n, min(id) AS mn, max(id) AS mx, count(v) AS nv, " +
        "min(ts) AS mts FROM graft_aggpd")
    assert(q.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      s"expected manifest-answered LocalRelation:\n${q.queryExecution.optimizedPlan}")
    val r = q.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((40L, 1L, 40L, 36L)))
    assert(r.getTimestamp(4) == Timestamp.valueOf("2024-01-01 00:00:00"))
    // a WHERE clause landing on file boundaries now ALSO answers from
    // the manifest (r15 filtered aggregates — every file classifies
    // decisively); a straddling cut still takes the ordinary scan
    val filtered = spark.sql(
      "SELECT count(*) AS n FROM graft_aggpd WHERE id > 20")
    assert(filtered.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      s"boundary-aligned filter must stay metadata-only:\n${
        filtered.queryExecution.optimizedPlan}")
    assert(filtered.collect().head.getLong(0) == 20L)
    val straddle = spark.sql(
      "SELECT count(*) AS n FROM graft_aggpd WHERE id > 25")
    assert(!straddle.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(straddle.collect().head.getLong(0) == 15L)
    // pending MoR deletes veto the rewrite; the scan fallback is exact
    t.deleteByKeys(Seq(Tuple1(1L)).toDF("id"), Seq("id"))
    val afterDelete = spark.sql("SELECT count(*) AS n FROM graft_aggpd")
    assert(!afterDelete.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(afterDelete.collect().head.getLong(0) == 39L)
    // a time-travel pinned read rewrites too (r15): the answer comes
    // from the PINNED snapshot's manifest — version 2 predates the
    // eq-delete above, so its count is the pre-delete 40, not 39
    val pinned = spark.sql(
      s"SELECT count(*) AS n FROM graft.`${t.root}` VERSION AS OF 2")
    assert(pinned.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      s"pinned profile must be metadata-only:\n${
        pinned.queryExecution.optimizedPlan}")
    assert(pinned.collect().head.getLong(0) == 40L)
  }

  test("importParquet adopts files in place: zero copy, stats pruning, evolution, refusals") {
    val base = java.nio.file.Files.createTempDirectory("graft-import-unit")
    // two source files with DISJOINT id ranges (so stats pruning is
    // provable on the adopted files)
    val srcA = base.resolve("srcA").toString
    val srcB = base.resolve("srcB").toString
    (1L to 10L).map(i => (i, s"a$i")).toDF("id", "s")
      .coalesce(1).write.parquet(srcA)
    (100L to 110L).map(i => (i, s"b$i")).toDF("id", "s")
      .coalesce(1).write.parquet(srcB)
    val t = SnapshotTable.create(spark, freshRoot(),
      spark.read.parquet(srcA).schema)
    t.importParquet(srcA)
    t.importParquet(srcB)
    // zero copy: entries reference the source files by absolute path
    assert(t.currentSnapshot().files.forall(f =>
      f.path.startsWith(srcA) || f.path.startsWith(srcB)))
    assert(t.read().count() == 21L)
    // manifest stats computed at import prune the disjoint file
    assert(t.pruneFiles(col("id") <= 10L).size == 1)
    assert(t.readWhere(col("id") <= 10L).count() == 10L)
    // re-import of an already-referenced path is refused
    val dup = intercept[IllegalArgumentException](t.importParquet(srcA))
    assert(dup.getMessage.contains("already referenced"), dup.getMessage)
    // schema evolution on import: a source with an EXTRA column evolves
    // the table; old imported files surface NULL for it
    val srcC = base.resolve("srcC").toString
    Seq((200L, "c", 1.5)).toDF("id", "s", "v").coalesce(1).write.parquet(srcC)
    t.importParquet(srcC)
    assert(t.schema.fieldNames.toSeq == Seq("id", "s", "v"))
    assert(t.read().filter(col("v").isNotNull).count() == 1L)
    // int source under a long table column reads via the promotion…
    val srcD = base.resolve("srcD").toString
    Seq((300, "d")).toDF("id", "s")
      .select(col("id").cast("int").as("id"), col("s"))
      .coalesce(1).write.parquet(srcD)
    t.importParquet(srcD)
    assert(t.readWhere(col("id") === 300L).count() == 1L)
    // …but a physically-unreadable mismatch is refused up front
    val srcE = base.resolve("srcE").toString
    Seq(("x", "e")).toDF("id", "s").coalesce(1).write.parquet(srcE)
    val bad = intercept[IllegalArgumentException](t.importParquet(srcE))
    assert(bad.getMessage.contains("no promotion"), bad.getMessage)
    // partitioned tables refuse adoption (no hidden-partition values)
    val pt = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec)
    val part = intercept[IllegalArgumentException](pt.importParquet(srcA))
    assert(part.getMessage.contains("unpartitioned"), part.getMessage)
    // a Hive-partitioned SOURCE directory is refused: its partition
    // columns exist only in directory names — leaf-file reads would
    // surface them as all-NULL, silently losing the partition values
    val srcP = base.resolve("srcP").toString
    Seq((400L, "p", "k1"), (401L, "q", "k2")).toDF("id", "s", "k")
      .write.partitionBy("k").parquet(srcP)
    val hive = intercept[IllegalArgumentException](t.importParquet(srcP))
    assert(hive.getMessage.contains("directory-derived"), hive.getMessage)
  }

  test("importParquet adopts only files Spark's listing shows") {
    val base = java.nio.file.Files.createTempDirectory("graft-import-hidden")
    val src = base.resolve("src").toString
    (1L to 5L).map(i => (i, s"v$i")).toDF("id", "s")
      .coalesce(1).write.parquet(src)
    // a half-committed job's leftovers: a task attempt under
    // _temporary/ and a staging copy under .staging/
    Seq("_temporary/0", ".staging").foreach { hidden =>
      (900L to 902L).map(i => (i, s"x$i")).toDF("id", "s")
        .coalesce(1).write.parquet(s"$src/$hidden/tmp")
      val d = new java.io.File(s"$src/$hidden/tmp")
      d.listFiles().filter(_.getName.endsWith(".parquet")).foreach(f =>
        assert(f.renameTo(new java.io.File(s"$src/$hidden/part-0.parquet"))))
      d.listFiles().foreach(_.delete())
      assert(d.delete())
    }
    val t = SnapshotTable.create(spark, freshRoot(),
      spark.read.parquet(src).schema)
    t.importParquet(src)
    assert(t.currentSnapshot().files.size == 1)
    assert(t.currentSnapshot().files.forall(f =>
      !f.path.contains("_temporary") && !f.path.contains(".staging")))
    assert(t.read().count() == 5L)
    assert(spark.read.parquet(src).count() == 5L,
      "Spark's own listing skips the same files")
  }

  test("importParquet takes partition directories from Spark's discovery") {
    val base = java.nio.file.Files.createTempDirectory("graft-import-disc")
    // `b=2` is a partition directory, `sub` ends discovery above it, so
    // `a=1` names no column; `b` is in the data, so nothing is refused
    val src = base.resolve("a=1/sub/b=2").toString
    (1L to 3L).map(i => (i, 2)).toDF("id", "b").coalesce(1).write.parquet(src)
    val t = SnapshotTable.create(spark, freshRoot(),
      spark.read.parquet(src).schema)
    t.importParquet(base.toString)
    assert(t.read().count() == 3L)
    // a single file under a `k=v` directory adopts with no directory
    // columns: the file's own directory is the base
    val leaf = new java.io.File(src).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val u = SnapshotTable.create(spark, freshRoot(),
      spark.read.parquet(src).schema)
    u.importParquet(leaf.getPath)
    assert(u.read().count() == 3L)
  }

  test("grouped aggregate pushdown: GROUP BY the identity-partition key answers from the manifest") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("k", StringType), StructField("v", DoubleType)))
    val t = SnapshotTable.create(spark, freshRoot(), schema,
      Some(PartitionSpec("k", "identity")))
    t.append(Seq((1L, "a", Option(1.0)), (2L, "b", Option(2.0)),
      (3L, "a", None: Option[Double]), (4L, null: String, Option(4.0)))
      .toDF("id", "k", "v"))
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW grp_pd USING graft " +
      s"OPTIONS (path '${t.root}')")
    val q = spark.sql("SELECT k, count(*) AS n, count(v) AS nv, " +
      "min(id) AS mn, max(id) AS mx FROM grp_pd GROUP BY k")
    assert(q.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      s"expected manifest answer:\n${q.queryExecution.optimizedPlan}")
    val rowsByK = q.collect().map(r => Option(r.getString(0)) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rowsByK(Some("a")) == ((2L, 1L, 1L, 3L)))
    assert(rowsByK(Some("b")) == ((1L, 1L, 2L, 2L)))
    assert(rowsByK(None) == ((1L, 1L, 4L, 4L))) // null partition row
    // grouping by a NON-partition column: ordinary scan, still correct
    val q2 = spark.sql(
      "SELECT id, count(*) AS n FROM grp_pd GROUP BY id")
    assert(!q2.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(q2.count() == 4L)
    // group value order of SELECT list is free: alias + reorder works
    val q3 = spark.sql(
      "SELECT count(*) AS n, k AS grp FROM grp_pd GROUP BY k")
    assert(q3.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(q3.collect().map(_.getLong(0)).sum == 4L)
    // pending MoR deletes veto the rewrite; the scan fallback is exact
    t.deleteByKeys(Seq(Tuple1(1L)).toDF("id"), Seq("id"))
    val q4 = spark.sql("SELECT k, count(*) AS n FROM grp_pd GROUP BY k")
    assert(!q4.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(q4.collect().map(_.getLong(1)).sum == 3L)
  }

  test("write-audit-publish: staged commits invisible until publish; abort rolls back") {
    val t = rangeTable() // v1 create, v2 append: 40 rows
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW graft_wap USING graft " +
      s"OPTIONS (path '${t.root}')")
    val base = spark.sql(
      s"CALL graft.system.begin_audit(table => '${t.root}')")
      .collect().head.getLong(0)
    assert(base == 2L)
    t.append(rows((100L, "2024-06-01", 1.0)))
    t.append(rows((101L, "2024-06-02", 2.0)))
    // every reader entry point stays pinned at the base…
    assert(t.read().count() == 40L)
    assert(spark.sql("SELECT count(*) FROM graft_wap").as[Long]
      .collect().head == 40L)
    assert(t.readWhere(col("id") >= 100L).count() == 0L)
    assert(t.metadataAggregate(Seq(SnapshotTable.MetaAgg("count_star", "", "n")))
      .get.collect().head.getLong(0) == 40L)
    assert(t.filesDf().collect().map(_.getAs[Long]("rows")).sum == 40L)
    // …while the audit sees the staged head
    assert(t.readAudit().count() == 42L)
    intercept[IllegalArgumentException](t.beginAudit())
    // aggressive expiry never takes the pinned base from open readers
    t.expireSnapshots(keep = 1)
    assert(t.read().count() == 40L)
    // publish: staged history becomes visible atomically, everywhere
    spark.sql(s"CALL graft.system.publish(table => '${t.root}')").collect()
    assert(!t.inAudit)
    assert(t.read().count() == 42L)
    assert(spark.sql("SELECT count(*) FROM graft_wap").as[Long]
      .collect().head == 42L)
    // abort path: staged junk never becomes visible
    t.beginAudit()
    t.append(rows((200L, "2024-07-01", 9.0)))
    assert(t.read().count() == 42L)
    // a schema-evolving staged commit stays invisible too: readers
    // (and the declared schema) keep the base shape until publish
    t.append(rows((201L, "2024-07-02", 3.0))
      .withColumn("extra", lit(7L)))
    assert(t.schema.fieldNames.toSeq == Seq("id", "ts", "v"))
    assert(spark.sql("SELECT * FROM graft_wap").columns.toSeq ==
      Seq("id", "ts", "v"))
    t.abortAudit()
    assert(!t.inAudit)
    assert(t.read().count() == 42L)
    intercept[IllegalArgumentException](t.publish())
  }

  test("metadata tables: filesDf/tagsDf and the SQL metadata option stay current") {
    val t = rangeTable()
    t.tag("ref-a", 2L)
    val files = t.filesDf().collect()
    assert(files.length == t.currentSnapshot().files.size)
    assert(files.map(_.getAs[Long]("rows")).sum == 40L)
    assert(files.forall(_.getAs[Int]("n_stat_cols") > 0))
    assert(t.tagsDf().collect().map(r =>
      r.getString(0) -> r.getLong(1)).toMap == Map("ref-a" -> 2L))
    // SQL route, and the view must track LATER commits (fresh resolve)
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW meta_hist USING graft " +
      s"OPTIONS (path '${t.root}', metadata 'history')")
    val before = spark.sql("SELECT count(*) FROM meta_hist").as[Long]
      .collect().head
    t.append(rows((41L, "2024-05-01", 1.0)))
    val after = spark.sql("SELECT count(*) FROM meta_hist").as[Long]
      .collect().head
    assert(after == before + 1)
    val bad = intercept[Exception] {
      spark.sql("CREATE OR REPLACE TEMPORARY VIEW meta_bad USING graft " +
        s"OPTIONS (path '${t.root}', metadata 'nope')")
      spark.sql("SELECT * FROM meta_bad").collect()
    }
    assert(bad.getMessage.contains("metadata table"), bad.getMessage)
  }

  test("CALL graft.system.* maintenance procedures run natively and report outcomes") {
    val t = rangeTable() // v1 create, v2 append ids 1..40 (4 files)
    t.append(rows((41L, "2024-05-01", 41.0))) // v3
    t.append(rows((42L, "2024-05-02", 42.0))) // v4
    val arg = s"table => '${t.root}'"
    // tag: pins v2 by name, returns (name, version)
    val tagged = spark.sql(
      s"CALL graft.system.tag($arg, name => 'keep_v2', version => 2)")
      .collect().head
    assert(tagged.getString(0) == "keep_v2" && tagged.getLong(1) == 2L)
    // compact: 6 files (4+1+1) bin-pack into fewer, sorted by id
    val c = spark.sql(s"CALL graft.system.compact($arg, sort_by => 'id')")
      .collect().head
    assert(c.getLong(1) == 6L && c.getLong(2) < 6L, c.toString)
    assert(t.read().count() == 42L)
    // rollback: content returns to v2, as a NEW version
    val r = spark.sql(s"CALL graft.system.rollback($arg, version => 2)")
      .collect().head
    assert(r.getLong(0) > 4L)
    assert(t.read().count() == 40L)
    // expire: keep => 1, but the tagged v2 is expiry-proof
    val e = spark.sql(
      s"CALL graft.system.expire_snapshots($arg, keep => 1)").collect().head
    assert(e.getLong(0) > 0L)
    assert(t.readAt(2).count() == 40L)
    // orphan cleanup runs (fresh table: nothing unreferenced)
    val o = spark.sql(
      s"CALL graft.system.remove_orphan_files($arg, older_than_ms => 0)")
      .collect().head
    assert(o.getLong(0) >= 0L)
    // maintain: property-driven compact + expiry in one call
    val m = spark.sql(s"CALL graft.system.maintain($arg)").collect().head
    assert(m.getLong(0) >= 1L && m.getLong(1) >= 1L)
    // drop_tag releases the ref (expiry-proofing ends with it)
    assert(spark.sql(s"CALL graft.system.drop_tag($arg, name => 'keep_v2')")
      .collect().head.getString(0) == "keep_v2")
    assert(t.tags().isEmpty)
    // positional args bind too (Spark's own binder, same as named)
    val t2 = spark.sql(s"CALL graft.system.tag('${t.root}', 'pos_v2', 2)")
      .collect().head
    assert(t2.getString(0) == "pos_v2" && t2.getLong(1) == 2L)
    t.dropTag("pos_v2")
    // partition-scoped compact: only the named hidden partition rewrites
    val pt = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec)
    pt.append(rows((1L, "2024-01-05", 1.0), (2L, "2024-02-05", 2.0)))
    pt.append(rows((3L, "2024-01-06", 3.0)))
    val pc = spark.sql(
      s"CALL graft.system.compact(table => '${pt.root}', " +
        "partition => '2024-01')")
      .collect().head
    assert((pc.getLong(0), pc.getLong(1), pc.getLong(2)) == ((1L, 2L, 1L)), pc)
    assert(pt.read().count() == 3L)
    assert(pt.partitionsDf().where(col("partition") === "2024-02")
      .collect().head.getAs[Long]("file_count") == 1L) // untouched
    // partition scoping has NO in-band sentinels: 'null' is a LITERAL
    // value (absent here → 0 rewritten), the null partition is its own
    // flag, and passing both is refused
    val litNull = spark.sql(s"CALL graft.system.compact(" +
      s"table => '${pt.root}', partition => 'null')").collect().head
    assert(litNull.getLong(0) == 0L, litNull)
    val nullPart = spark.sql(s"CALL graft.system.compact(" +
      s"table => '${pt.root}', null_partition => true)").collect().head
    assert(nullPart.getLong(0) == 0L, nullPart)
    val bothScopes = intercept[Exception](spark.sql(
      s"CALL graft.system.compact(table => '${pt.root}', " +
        "partition => '2024-01', null_partition => true)").collect())
    assert(bothScopes.getMessage.contains("not both"), bothScopes.getMessage)
    // an explicit partition => '' is refused loudly ("omitted" is SQL
    // NULL, so '' no longer silently means all-partitions; the storage
    // layer folds empty identity values into the null partition, which
    // null_partition => true reaches)
    val et = SnapshotTable.create(spark, freshRoot(), StructType(Seq(
      StructField("k", StringType), StructField("v", LongType))),
      Some(PartitionSpec("k", "identity")))
    et.append(Seq(("", 1L), ("", 2L)).toDF("k", "v"))
    et.append(Seq(("", 3L), ("x", 4L)).toDF("k", "v"))
    val emptyScope = intercept[Exception](spark.sql(
      s"CALL graft.system.compact(table => '${et.root}', " +
        "partition => '')").collect())
    assert(emptyScope.getMessage.contains("null_partition"),
      emptyScope.getMessage)
    // empty-string values landed in the null partition; the flag
    // compacts exactly them (2 files holding '' rows → 1)
    val np = spark.sql(s"CALL graft.system.compact(" +
      s"table => '${et.root}', null_partition => true)").collect().head
    assert(np.getLong(0) == 1L && np.getLong(1) >= 2L &&
      np.getLong(2) == 1L, np)
    assert(et.read().count() == 4L)
    // misuse fails with named errors, not Spark parse noise
    val unknown = intercept[Exception](
      spark.sql(s"CALL graft.system.nope($arg)"))
    // Spark wraps loadProcedure failures in FAILED_TO_LOAD_ROUTINE with
    // the routine name; the catalog's "available: …" detail rides as
    // the cause
    assert(unknown.getMessage.contains("nope"), unknown.getMessage)
    val badArg = intercept[Exception](
      spark.sql(s"CALL graft.system.compact($arg, bogus => 1)").collect())
    assert(badArg.getMessage.toLowerCase.contains("bogus"),
      badArg.getMessage)
    val notATable = intercept[Exception](
      spark.sql("CALL graft.system.compact(table => '/tmp/not-a-graft-table')")
        .collect())
    assert(notATable.getMessage.contains("graft"), notATable.getMessage)
  }

  test("named branches: isolated writes, fast-forward publish, divergence refused") {
    val t = rangeTable() // v1 create, v2 append ids 1..40
    // two CONCURRENT staging lines from the same base
    val exp = t.createBranch("experiment")
    val fix = t.createBranch("hotfix")
    assert(t.branches().keySet == Set("experiment", "hotfix"))
    exp.append(rows((101L, "2024-06-01", 1.0)))
    exp.append(rows((102L, "2024-06-02", 2.0)))
    fix.append(rows((201L, "2024-07-01", 9.0)))
    // branch writes are invisible to main AND to each other
    assert(t.read().count() == 40L)
    assert(exp.read().count() == 42L)
    assert(fix.read().count() == 41L)
    assert(exp.read().filter(col("id") === 201L).count() == 0L)
    // time travel WITHIN a branch sees its own lineage
    assert(exp.readAt(2).count() == 40L)
    // fast-forward: main absorbs the branch history verbatim
    val head = t.fastForward("experiment")
    assert(head.version == exp.currentVersion())
    assert(t.read().count() == 42L)
    assert(t.read().filter(col("id").isin(101L, 102L)).count() == 2L)
    // replayed commits keep their operations in main's history
    assert(t.history().count(_.operation == "append") >= 3)
    // the OTHER branch diverged (main advanced past its base): refused
    // with the re-branch remedy
    val div = intercept[Exception](t.fastForward("hotfix"))
    assert(div.getMessage.contains("advanced past"), div.getMessage)
    // fast-forward is idempotent once main == branch head
    assert(t.fastForward("experiment").version == head.version)
    // expiry on main keeps files the un-merged branch still references
    t.append(rows((300L, "2024-08-01", 3.0)))
    t.expireSnapshots(keep = 1)
    assert(fix.read().count() == 41L) // base files survived
    assert(fix.read().filter(col("id") === 201L).count() == 1L)
    // aggressive orphan sweep never takes a live branch's staged files
    t.removeOrphanFiles(olderThanMs = 0L)
    assert(fix.read().count() == 41L)
    // drop: the branch disappears; its exclusive files become orphans
    // and the age-guarded sweep reclaims them
    t.dropBranch("hotfix")
    assert(t.branches().keySet == Set("experiment"))
    intercept[Exception](t.branch("hotfix"))
    assert(t.removeOrphanFiles(olderThanMs = 0L) >= 1)
    assert(t.read().count() == 43L) // main untouched by the sweep
    // a branch handle cannot branch again
    intercept[IllegalArgumentException](exp.createBranch("nested"))
    // a files-unchanged divergence (equality delete on main, any
    // commit on the branch at the same version number) is REFUSED —
    // replaying the branch would silently resurrect deleted rows
    val dv = SnapshotTable.create(spark, freshRoot(), eventsSchema, None)
    dv.append(rows((1L, "2024-01-01", 1.0), (2L, "2024-01-02", 2.0)))
    val dvb = dv.createBranch("risky")
    dv.deleteByKeys(rows((1L, "2024-01-01", 1.0)).select("id"), Seq("id"))
    dvb.setProperties(Map("k" -> "v")) // branch's own v3, files unchanged
    dvb.append(rows((9L, "2024-01-09", 9.0)))
    val res = intercept[IllegalArgumentException](dv.fastForward("risky"))
    assert(res.getMessage.contains("diverged"), res.getMessage)
    assert(dv.read().count() == 1L) // the delete survived
    // per-branch retention: expiry ON the branch handle trims ITS
    // history only and never deletes files main still references
    val exp2 = t.branch("experiment")
    exp2.append(rows((401L, "2024-09-01", 1.0)))
    exp2.append(rows((402L, "2024-09-02", 2.0)))
    val (expired, _) = exp2.expireSnapshots(keep = 1)
    assert(expired > 0)
    assert(t.read().count() == 43L) // main rows all intact
    // branch holds its ff'd base (42) + its two new rows; main's later
    // append (id 300) is not on the branch
    assert(exp2.read().count() == 44L)
  }

  test("partitionsDf reports per-partition file and row counts, null partition included") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, monthSpec)
    t.append(rows((1L, "2024-01-05", 1.0), (2L, "2024-02-05", 2.0)))
    t.append(rows((3L, "2024-01-06", 3.0)))
    // a NULL partition-source row lands in the null partition
    t.append(Seq((4L, null: Timestamp, 4.0)).toDF("id", "ts", "v"))
    val parts = t.partitionsDf().collect()
      .map(r => Option(r.getString(0)) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(parts(Some("2024-01")) == (2L, 2L)) // two batches => two files
    assert(parts(Some("2024-02")) == (1L, 1L))
    assert(parts(None) == (1L, 1L))
  }

  test("metadataAggregate answers from manifests, falls back exactly when it cannot") {
    import SnapshotTable.MetaAgg
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType), StructField("v", DoubleType),
      StructField("allnull", StringType)))
    val t = SnapshotTable.create(spark, freshRoot(), schema, None)
    t.append(Seq((3L, "beta", 1.5, null: String),
      (1L, "alpha", -2.25, null: String)).toDF("id", "s", "v", "allnull"))
    t.append(Seq((7L, "gamma", null: String)).toDF("id", "s", "allnull")
      .withColumn("v", lit(null).cast("double"))
      .select("id", "s", "v", "allnull"))
    val specs = Seq(MetaAgg("count_star", "", "n"),
      MetaAgg("count", "v", "n_v"), MetaAgg("null_count", "v", "nulls_v"),
      MetaAgg("min", "id", "min_id"), MetaAgg("max", "id", "max_id"),
      MetaAgg("min", "s", "min_s"), MetaAgg("max", "s", "max_s"),
      MetaAgg("min", "v", "min_v"), MetaAgg("max", "v", "max_v"),
      MetaAgg("min", "allnull", "min_a"))
    val meta = t.metadataAggregate(specs)
    assert(meta.isDefined, "clean table must answer from metadata")
    val viaMeta = meta.get.collect().head
    // the scan fallback computes the identical row (force it by asking
    // through aggregate on a table state metadata CANNOT answer, then
    // compare against a direct scan aggregate here)
    val viaScan = t.read().agg(count(lit(1)).as("n"),
      count(col("v")).as("n_v"),
      sum(col("v").isNull.cast("long")).as("nulls_v"),
      min("id").as("min_id"), max("id").as("max_id"),
      min("s").as("min_s"), max("s").as("max_s"),
      min("v").as("min_v"), max("v").as("max_v"),
      min("allnull").as("min_a")).collect().head
    assert(viaMeta == viaScan, s"meta=$viaMeta scan=$viaScan")
    assert(viaMeta.getAs[Long]("n") == 3L)
    assert(viaMeta.getAs[Double]("min_v") == -2.25)
    assert(viaMeta.isNullAt(viaMeta.fieldIndex("min_a")))
    // a >=64-char string makes min possibly-truncated and max dropped
    t.append(Seq((9L, "x" * 80, 0.0, null: String)).toDF("id", "s", "v", "allnull"))
    assert(t.metadataAggregate(Seq(MetaAgg("min", "s", "m"))).isEmpty)
    assert(t.metadataAggregate(Seq(MetaAgg("max", "s", "m"))).isEmpty)
    // but counts and other columns still answer
    assert(t.metadataAggregate(Seq(MetaAgg("count_star", "", "n"),
      MetaAgg("max", "id", "m"))).isDefined)
    // pending MoR deletes poison ALL metadata answers; aggregate()
    // falls back to the scan and stays exact
    t.deleteByKeys(Seq(Tuple1(3L)).toDF("id"), Seq("id"))
    assert(t.metadataAggregate(Seq(MetaAgg("count_star", "", "n"))).isEmpty)
    val fb = t.aggregate(Seq(MetaAgg("count_star", "", "n"),
      MetaAgg("min", "id", "min_id"))).collect().head
    assert(fb.getAs[Long]("n") == 3L && fb.getAs[Long]("min_id") == 1L)
  }

  test("changes route: append-only windows across ADD DEFAULT + RENAME stay fast") {
    val t = SnapshotTable.create(spark, freshRoot(), eventsSchema, None)
    t.append(rows((1, "2024-01-05", 1.0), (2, "2024-02-06", 2.0))) // v2
    val v2 = t.currentVersion()
    // metadata-only evolution: ADD with an initial default + RENAME
    t.addColumnWithDefault(StructField("src", StringType), "legacy") // v3
    t.renameColumn("v", "score")                                     // v4
    // post-evolution append under the new shape
    t.append(Seq((3L, Timestamp.valueOf("2024-03-07 00:00:00"), 3.0, "live"))
      .toDF("id", "ts", "score", "src"))                             // v5
    val v5 = t.currentVersion()
    // VERDICT r17 #8: the window must elect the O(appended data) fast
    // path, not the endpoint diff — evolution commits are blind
    assert(t.changesRoute(v2, v5) == "fast",
      s"append-only window across evolution degraded: ${t.changesRoute(v2, v5)}")
    val got = t.changes(v2, v5)
      .select(col("_change_type"), col("id"), col("score"), col("src"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getString(3)))
    assert(got.toSeq == Seq(("insert", 3L, 3.0, "live")),
      s"only the appended row, under the END schema: ${got.mkString("; ")}")
    // calibration: the route probe can fail — a row-changing commit in
    // the window must elect the diff
    t.delete(col("id") === 1L) // v6, copy-on-write delete
    assert(t.changesRoute(v2, t.currentVersion()) == "diff")
    // and a maintenance-only window proves net-zero without reading
    t.setProperties(Map("k" -> "v"))
    assert(t.changesRoute(t.currentVersion() - 1, t.currentVersion())
      == "netzero")
    // path OPTIONS parity for the labeled feed: a copy-on-write update
    // window read with updateImages 'true' serves CDF labels (the
    // relabeled netted diff — everything in an `update` commit IS an
    // update image) to a SQL-only consumer
    t.update(Seq("score" -> (col("score") + lit(1.0d))), col("id") === 2L)
    val v = t.currentVersion()
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW graft_cdf_sql " +
      s"USING graft OPTIONS (path '${t.root}', changesFrom '${v - 1}', " +
      s"changesTo '$v', updateImages 'true')")
    val lbl = spark.sql(
        "SELECT _change_type, id, score FROM graft_cdf_sql")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(lbl.sorted.toSeq == Seq(
      ("update_postimage", 2L, 3.0), ("update_preimage", 2L, 2.0)),
      s"path updateImages labels: ${lbl.mkString("; ")}")
  }
}
