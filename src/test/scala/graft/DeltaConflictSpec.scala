package graft.catalog

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSparkSession

/** Pins [[SnapshotTable.commitDelta]]'s snapshot-isolation contract:
  * a native-DML delta commit REBASES onto the current head and
  * conflicts only when an intervening commit invalidates its write
  * set — a disjoint concurrent append (or a DML over OTHER files)
  * lands, while a rewrite of a covered file, a second vector over the
  * same file, or a schema/spec change still raises
  * [[SnapshotConflictException]]. `graft.write.isolation-level=
  * serializable` restores the strict any-concurrent-commit conflict.
  *
  * The tests drive `commitDelta` directly with real staged roaring
  * vectors (the same on-disk [[SnapshotTable.DvSchema]] parquet the
  * DSv2 delta writers produce), so the post-commit reads exercise the
  * full DV-apply path, not a mock.
  */
class DeltaConflictSpec extends AnyFunSuite {

  private lazy val spark = TestSparkSession.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def freshRoot(): String =
    Files.createTempDirectory("deltaconf").resolve("t").toString

  /** Two single-file batches: file A holds ids 1,2,3 (write order =
    * row ordinals 0,1,2), file B holds ids 10,11.
    */
  private def mkTable(): SnapshotTable = {
    val t = SnapshotTable.create(spark, freshRoot(), schema)
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1))
    t.append(Seq((10L, "x"), (11L, "y")).toDF("id", "v").coalesce(1))
    t
  }

  /** Stage a real serialized roaring vector covering `positions` of
    * manifest-relative data file `dataPath`, exactly as the delta
    * writers do; returns the (staged rel path, rows, covered paths)
    * tuple [[SnapshotTable.commitDelta]] takes (op per the r18 CDC
    * provenance field; tests default to "delete").
    */
  private def stageDv(t: SnapshotTable, dataPath: String,
      positions: Seq[Int],
      op: String = "delete"): (String, Long, Seq[String], String) = {
    val bm = new org.roaringbitmap.RoaringBitmap()
    positions.foreach(bm.add)
    bm.runOptimize()
    val buf = new Array[Byte](bm.serializedSizeInBytes())
    bm.serialize(java.nio.ByteBuffer.wrap(buf))
    val batch = java.util.UUID.randomUUID().toString.replace("-", "").take(16)
    val rel = s"${SnapshotLog.DataDirName}/$batch"
    val dir = new Path(t.root, rel)
    spark.createDataFrame(
        java.util.Collections.singletonList(
          Row(dataPath, buf, positions.size.toLong)),
        SnapshotTable.DvSchema)
      .coalesce(1).write.parquet(dir.toString)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val name = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).head
    (s"$rel/$name", positions.size.toLong, Seq(dataPath), op)
  }

  test("snapshot isolation: a disjoint concurrent append and the delta both land") {
    val t = mkTable()
    val base = t.currentVersion()
    val fileA = t.currentSnapshot().files.head.path
    // concurrent blind append lands AFTER the delta's scan
    t.append(Seq((20L, "z")).toDF("id", "v").coalesce(1))
    // delete row ordinal 0 of file A (id=1), scanned at `base`
    val snap = t.commitDelta(base, "delete-pos", Nil,
      Seq(stageDv(t, fileA, Seq(0))))
    assert(snap.version > base + 1, "delta rebased onto the appended head")
    val ids = t.read().select("id").as[Long].collect().toSet
    assert(ids == Set(2L, 3L, 10L, 11L, 20L),
      "append visible, deleted row gone, nothing else disturbed")
  }

  test("snapshot isolation: a concurrent DML over OTHER files lands") {
    val t = mkTable()
    val Seq(fileA, fileB) = t.currentSnapshot().files.map(_.path).toSeq
    val base = t.currentVersion()
    // first statement: vector over file B, commits at head
    t.commitDelta(t.currentVersion(), "delete-pos", Nil,
      Seq(stageDv(t, fileB, Seq(0)))) // id=10
    // second statement scanned BEFORE the first committed, touches A only
    t.commitDelta(base, "delete-pos", Nil,
      Seq(stageDv(t, fileA, Seq(2)))) // id=3
    assert(t.read().select("id").as[Long].collect().toSet ==
      Set(1L, 2L, 11L))
  }

  test("a concurrent vector over the SAME file still conflicts") {
    val t = mkTable()
    val fileA = t.currentSnapshot().files.head.path
    val base = t.currentVersion()
    t.commitDelta(t.currentVersion(), "delete-pos", Nil,
      Seq(stageDv(t, fileA, Seq(0))))
    val e = intercept[SnapshotConflictException] {
      t.commitDelta(base, "update-pos", Nil,
        Seq(stageDv(t, fileA, Seq(1))))
    }
    assert(e.getMessage.contains("delete vectors"))
  }

  test("a concurrent compaction of a covered file still conflicts") {
    val t = mkTable()
    val fileA = t.currentSnapshot().files.head.path
    val base = t.currentVersion()
    // compaction rewrites both single-file batches into one file
    assert(t.compact(minFiles = 2).nonEmpty)
    val e = intercept[SnapshotConflictException] {
      t.commitDelta(base, "delete-pos", Nil,
        Seq(stageDv(t, fileA, Seq(0))))
    }
    assert(e.getMessage.contains("rewrote/removed"))
    assert(t.read().count() == 5L)
  }

  test("a concurrent schema evolution still conflicts") {
    val t = mkTable()
    val fileA = t.currentSnapshot().files.head.path
    val base = t.currentVersion()
    t.addColumns(Seq(StructField("w", IntegerType)))
    val e = intercept[SnapshotConflictException] {
      t.commitDelta(base, "delete-pos", Nil,
        Seq(stageDv(t, fileA, Seq(0))))
    }
    assert(e.getMessage.contains("schema"))
  }

  /** Stage one data file holding `rows` under a fresh batch dir —
    * exactly what the delta writers' update-image path produces —
    * returning (rel dir, rel file); [[StatsReadBack]] builds its
    * manifest entry for [[SnapshotTable.commitDelta]].
    */
  private def stageData(t: SnapshotTable,
      rows: Seq[(Long, String)]): (String, String) = {
    val batch = java.util.UUID.randomUUID().toString.replace("-", "").take(16)
    val rel = s"${SnapshotLog.DataDirName}/$batch"
    val dir = new Path(t.root, rel)
    rows.toDF("id", "v").coalesce(1).write.parquet(dir.toString)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val name = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).head
    (rel, s"$rel/$name")
  }

  test("a concurrent EQUALITY delete conflicts with staged update images") {
    // ADVICE r14 (high): an UPDATE/MERGE's new row images carry seq =
    // commit version > a raced delete-eq's seq, so sequence-number
    // scoping exempts them — without validation the deleted key
    // silently resurrects. The rebase must conflict instead.
    val t = mkTable()
    val fileA = t.currentSnapshot().files.head.path
    val base = t.currentVersion()
    // concurrent equality delete of id=2 lands after the scan
    t.deleteByKeys(Seq(2L).toDF("id"), Seq("id"))
    // UPDATE-shaped delta scanned at `base`: mark ordinal 1 (id=2)
    // deleted in file A and stage its updated image
    val (rel, file) = stageData(t, Seq((2L, "B-updated")))
    val scanned = t.snapshotAt(base)
    val images = StatsReadBack.statsForStaged(t, rel, scanned.schema,
      scanned.spec, scanned.properties, onlyFiles = Some(Seq(file)))
    assert(images.map(_.path) == Seq(file))
    val e = intercept[SnapshotConflictException] {
      t.commitDelta(base, "update-pos", images,
        Seq(stageDv(t, fileA, Seq(1))))
    }
    assert(e.getMessage.contains("equality deletes"))
    // the equality delete's outcome is intact
    assert(t.read().select("id").as[Long].collect().toSet ==
      Set(1L, 3L, 10L, 11L))
  }

  test("a pure-vector DELETE delta commutes with a concurrent equality delete") {
    // two deletes cannot resurrect anything — the rebase lands them both
    val t = mkTable()
    val fileA = t.currentSnapshot().files.head.path
    val base = t.currentVersion()
    t.deleteByKeys(Seq(10L).toDF("id"), Seq("id"))
    t.commitDelta(base, "delete-pos", Nil,
      Seq(stageDv(t, fileA, Seq(0)))) // id=1
    assert(t.read().select("id").as[Long].collect().toSet ==
      Set(2L, 3L, 11L))
  }

  test("isolation-level=serializable restores the strict conflict") {
    val t = mkTable()
    t.setProperties(Map("graft.write.isolation-level" -> "serializable"))
    val fileA = t.currentSnapshot().files.head.path
    val base = t.currentVersion()
    t.append(Seq((20L, "z")).toDF("id", "v").coalesce(1))
    val e = intercept[SnapshotConflictException] {
      t.commitDelta(base, "delete-pos", Nil,
        Seq(stageDv(t, fileA, Seq(0))))
    }
    assert(e.getMessage.contains("serializable"))
  }
}
