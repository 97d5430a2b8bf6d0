package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** `spark.readStream.table("graft.db.t")` — the DSv2 appends-only
  * micro-batch tail of a snapshot catalog table (GraftTableStream):
  * version offsets, metadata-planned batches, structural append
  * detection, exactly-once across restarts via checkpointed offsets.
  */
class GraftTableStreamSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSparkSession.spark

  private def mkTable(name: String): String = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.probe")
    spark.sql(s"DROP TABLE IF EXISTS graft.probe.$name")
    spark.sql(s"CREATE TABLE graft.probe.$name (id BIGINT, v DOUBLE)")
    s"graft.probe.$name"
  }

  private def insert(t: String, ids: Range): Unit =
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, " +
      s"CAST(id AS DOUBLE) FROM range(${ids.start}, ${ids.end})")

  private def drain(t: String, ckpt: String,
      sink: ArrayBuffer[Long], opts: Map[String, String] = Map.empty) = {
    val reader = spark.readStream
    opts.foreach { case (k, v) => reader.option(k, v) }
    reader.table(t)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val got = df.select(col("id")).collect().map(_.getLong(0))
        sink.synchronized { sink ++= got }
        ()
      }
      .start()
  }

  test("tails appends incrementally; restart resumes exactly-once") {
    val t = mkTable("st_tail")
    insert(t, 0 until 10) // pre-stream history: not delivered by default
    val ckpt = Files.createTempDirectory("st-tail-ckpt").toString
    val sink = ArrayBuffer.empty[Long]
    val q = drain(t, ckpt, sink)
    try {
      q.processAllAvailable()
      sink.synchronized(sink.toList) shouldBe empty
      insert(t, 10 until 20)
      q.processAllAvailable()
      sink.synchronized(sink.sorted.toList) shouldBe (10L until 20L).toList
      insert(t, 20 until 25)
      q.processAllAvailable()
      sink.synchronized(sink.sorted.toList) shouldBe (10L until 25L).toList
    } finally q.stop()
    // commits made while the stream was DOWN arrive once on restart
    insert(t, 25 until 30)
    sink.synchronized(sink.clear())
    val q2 = drain(t, ckpt, sink)
    try {
      q2.processAllAvailable()
      sink.synchronized(sink.sorted.toList) shouldBe (25L until 30L).toList
    } finally q2.stop()
  }

  test("streamFrom=earliest replays the full backlog; a version pins the start") {
    val t = mkTable("st_backlog")
    insert(t, 0 until 5)   // v2
    insert(t, 5 until 9)   // v3
    val sink = ArrayBuffer.empty[Long]
    val q = drain(t, Files.createTempDirectory("st-bl-ckpt").toString,
      sink, Map("streamFrom" -> "earliest"))
    try {
      q.processAllAvailable()
      sink.synchronized(sink.sorted.toList) shouldBe (0L until 9L).toList
    } finally q.stop()
    val sink2 = ArrayBuffer.empty[Long]
    val q2 = drain(t, Files.createTempDirectory("st-bl-ckpt2").toString,
      sink2, Map("streamFrom" -> "3"))
    try {
      q2.processAllAvailable()
      sink2.synchronized(sink2.sorted.toList) shouldBe (5L until 9L).toList
    } finally q2.stop()
  }

  test("a row-changing commit fails the stream; skipNonAppends skips it wholesale") {
    val t = mkTable("st_rowchg")
    val ckpt = Files.createTempDirectory("st-rc-ckpt").toString
    val sink = ArrayBuffer.empty[Long]
    val q = drain(t, ckpt, sink)
    try {
      q.processAllAvailable()
      insert(t, 0 until 10)
      spark.sql(s"DELETE FROM $t WHERE id < 3")
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(err.getMessage.contains("row-changing") ||
        Option(err.getCause).exists(_.getMessage.contains("row-changing")),
        s"unexpected failure: ${err.getMessage}")
    } finally q.stop()
    // skipNonAppends: the delete version is skipped WHOLESALE (its
    // staged files are rewrites — emitting them would duplicate), the
    // appends around it flow
    insert(t, 10 until 15)
    val sink2 = ArrayBuffer.empty[Long]
    val q2 = drain(t, Files.createTempDirectory("st-rc-ckpt2").toString,
      sink2, Map("streamFrom" -> "earliest", "skipNonAppends" -> "true"))
    try {
      q2.processAllAvailable()
      sink2.synchronized(sink2.sorted.toList) shouldBe (0L until 15L).toList
    } finally q2.stop()
  }

  test("schema evolution mid-stream: the pinned columns keep flowing by field id") {
    val t = mkTable("st_evolve")
    val sink = ArrayBuffer.empty[Long]
    val q = drain(t, Files.createTempDirectory("st-ev-ckpt").toString, sink)
    try {
      q.processAllAvailable()
      insert(t, 0 until 5) // pre-evolution
      spark.sql(s"ALTER TABLE $t ADD COLUMN extra STRING")
      spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS DOUBLE), 'x' " +
        "FROM range(5, 10)")
      // the added column is ignored until restart (fixed-schema-per-run
      // — the CDC source's contract); pinned columns stream through
      q.processAllAvailable()
      sink.synchronized(sink.sorted.toList) shouldBe (0L until 10L).toList
      // a RENAME mid-stream keeps flowing too: the pinned name follows
      // the field id to the file's write-time name
      spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO volts")
      spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS DOUBLE), 'y' " +
        "FROM range(10, 15)")
      q.processAllAvailable()
      sink.synchronized(sink.sorted.toList) shouldBe (0L until 15L).toList
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains a capped backlog fully and terminates") {
    val t = mkTable("st_avail")
    (0 until 4).foreach(i => insert(t, i * 10 until (i + 1) * 10)) // 4 files
    val sink = ArrayBuffer.empty[Long]
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream
      .option("streamFrom", "earliest")
      .option("maxFilesPerTrigger", "1")
      .table(t)
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("st-an-ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val got = df.select(col("id")).collect().map(_.getLong(0))
        sink.synchronized { sink ++= got }
        batches.incrementAndGet()
        ()
      }
      .start()
    assert(q.awaitTermination(120000), "AvailableNow must self-terminate")
    // the whole backlog arrived, in one-file batches (4 appends → 4
    // non-empty batches), not just the first capped batch
    sink.synchronized(sink.sorted.toList) shouldBe (0L until 40L).toList
    assert(batches.get() >= 4, s"expected >=4 capped batches, got ${batches.get()}")
  }

  test("maxVersionsPerTrigger bounds each batch; one oversized commit still progresses") {
    val t = mkTable("st_cap")
    (0 until 4).foreach(i => insert(t, i * 10 until (i + 1) * 10))
    val sink = ArrayBuffer.empty[Long]
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream
      .option("streamFrom", "earliest")
      .option("maxVersionsPerTrigger", "2")
      .table(t)
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("st-cap-ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val got = df.select(col("id")).collect().map(_.getLong(0))
        sink.synchronized { sink ++= got }
        if (got.nonEmpty) batches.incrementAndGet()
        ()
      }
      .start()
    assert(q.awaitTermination(120000))
    sink.synchronized(sink.sorted.toList) shouldBe (0L until 40L).toList
    // 5 versions (the zero-file CREATE + 4 appends) at 2 per trigger =
    // 3 non-empty batches: (create+a1), (a2+a3), (a4)
    assert(batches.get() == 3, s"5 versions at 2/trigger = 3 " +
      s"non-empty batches, got ${batches.get()}")
  }

  test("a filtered stream stays correct (stats prune is skip-only)") {
    val t = mkTable("st_filter")
    val sink = ArrayBuffer.empty[Long]
    val ckpt = Files.createTempDirectory("st-f-ckpt").toString
    val reader = spark.readStream.table(t).where(col("id") >= 100L)
    val q = reader.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val got = df.select(col("id")).collect().map(_.getLong(0))
        sink.synchronized { sink ++= got }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      insert(t, 0 until 50)    // entirely below the filter
      insert(t, 95 until 105)  // straddles it
      q.processAllAvailable()
      sink.synchronized(sink.sorted.toList) shouldBe (100L until 105L).toList
    } finally q.stop()
  }

  private def chainHas(t: Throwable, s: String): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains(s)))

  test("maxFilesPerTrigger above Int range is rejected, not wrapped") {
    val t = mkTable("st_ovf")
    insert(t, 0 until 5)
    val sink = ArrayBuffer.empty[Long]
    val q = drain(t, Files.createTempDirectory("st-ovf-ckpt").toString,
      sink, Map("streamFrom" -> "earliest",
        "maxFilesPerTrigger" -> "3000000000"))
    try {
      val err = intercept[Exception] { q.processAllAvailable() }
      assert(chainHas(err, "must fit in an Int"),
        s"unexpected failure: ${err.getMessage}")
    } finally q.stop()
  }

  test("a backfill crossing a schema evolution streams pre-evolution files null-filled") {
    val t = mkTable("st_hist")
    insert(t, 0 until 5) // pre-evolution commit (old schema)
    spark.sql(s"ALTER TABLE $t ADD COLUMN extra STRING")
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS DOUBLE), 'x' " +
      "FROM range(5, 8)")
    val rows = ArrayBuffer.empty[(Long, Option[String])]
    val q = spark.readStream.option("streamFrom", "earliest").table(t)
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("st-hist-ckpt").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val got = df.select(col("id"), col("extra")).collect()
          .map(r => (r.getLong(0), Option(r.getString(1))))
        rows.synchronized { rows ++= got }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      val byId = rows.synchronized(rows.toMap)
      byId.keySet shouldBe (0L until 8L).toSet
      // pre-evolution rows null-fill the added column; post carry 'x'
      (0L until 5L).foreach(i => byId(i) shouldBe None)
      (5L until 8L).foreach(i => byId(i) shouldBe Some("x"))
    } finally q.stop()
  }

  test("a backfill crossing an initial-DEFAULTED column substitutes the default") {
    val t = mkTable("st_histdef")
    insert(t, 0 until 5)
    spark.sql(s"ALTER TABLE $t ADD COLUMN tag STRING DEFAULT 'legacy'")
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS DOUBLE), 'new' " +
      "FROM range(5, 8)")
    val rows = ArrayBuffer.empty[(Long, String)]
    val q = spark.readStream.option("streamFrom", "earliest").table(t)
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("st-hd-ckpt").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val got = df.select(col("id"), col("tag")).collect()
          .map(r => (r.getLong(0), r.getString(1)))
        rows.synchronized { rows ++= got }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      val byId = rows.synchronized(rows.toMap)
      byId.keySet shouldBe (0L until 8L).toSet
      // pre-evolution rows surface the recorded DEFAULT (null-fill
      // would lie — Iceberg v3 initial-default semantics)
      (0L until 5L).foreach(i => byId(i) shouldBe "legacy")
      (5L until 8L).foreach(i => byId(i) shouldBe "new")
    } finally q.stop()
  }

  test("#changes serves blind-append ranges across ADD+RENAME directly, no staging") {
    val t = mkTable("st_cfevo")
    insert(t, 0 until 5) // pre-evolution append (old shape)
    spark.sql(s"ALTER TABLE $t ADD COLUMN tag STRING DEFAULT 'legacy'")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO volts")
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS DOUBLE), 'new' " +
      "FROM range(5, 8)")
    val ckpt = Files.createTempDirectory("st-cfevo-ckpt").toString
    val rows = ArrayBuffer.empty[(String, Long, Double, String)]
    def drainChanges(): Unit = {
      val q = spark.readStream
        .option("changesFrom", "earliest")
        .table("graft.probe.`st_cfevo#changes`")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val got = df.select(col("_change_type"), col("id"),
              col("volts"), col("tag")).collect()
            .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
              r.getString(3)))
          rows.synchronized { rows ++= got }
          ()
        }
        .start()
      assert(q.awaitTermination(120000))
    }
    drainChanges()
    val byId = rows.synchronized(rows.map(r => r._2 -> r).toMap)
    byId.keySet shouldBe (0L until 8L).toSet
    rows.synchronized(rows.forall(_._1 == "insert")) shouldBe true
    // pre-evolution rows: renamed column resolves by field id, the
    // added column surfaces its recorded initial DEFAULT (null would
    // lie); post-evolution rows carry their written values
    (0L until 5L).foreach { i =>
      byId(i)._3 shouldBe i.toDouble
      byId(i)._4 shouldBe "legacy"
    }
    (5L until 8L).foreach(i => byId(i)._4 shouldBe "new")
    // the point of the feature: NOTHING staged — every range (both
    // appends AND the two evolve versions) served directly from table
    // files. The stage root (under the engine-assigned source
    // checkpoint dir, <ckpt>/sources/N/) materializes only on the
    // staged path.
    def stageDirs(): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
      try s.filter(p => p.getFileName.toString == "graft-changes-stage")
        .iterator().asScala.toList
      finally s.close()
    }
    assert(stageDirs().isEmpty,
      s"blind-append ranges across the evolution must serve directly; " +
        s"staged under: ${stageDirs()}")
    // restart: nothing re-delivers; a new append flows once (and stays
    // direct)
    drainChanges()
    rows.synchronized(rows.size) shouldBe 8
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS DOUBLE), 'late' " +
      "FROM range(8, 10)")
    drainChanges()
    rows.synchronized(rows.size) shouldBe 10
    assert(stageDirs().isEmpty)
    // probe calibration: a ROW-CHANGING commit must stage — proving the
    // no-staging assertion above can genuinely fail. Staged batch dirs
    // are GC'd after commit, but the stage ROOT the write created
    // remains — its existence is the staged path's footprint.
    spark.sql(s"DELETE FROM $t WHERE id = 0")
    drainChanges()
    rows.synchronized(rows.count(_._1 == "delete")) shouldBe 1
    assert(stageDirs().nonEmpty,
      "a row-changing range must take the staged path")
  }

  test("#changes streams row-changing commits as change rows; restart exactly-once") {
    val t = mkTable("st_chfeed")
    val ckpt = Files.createTempDirectory("st-cf-ckpt").toString
    val rows = ArrayBuffer.empty[(String, Long)]
    def drainChanges(): Unit = {
      val q = spark.readStream
        .option("changesFrom", "earliest")
        .table("graft.probe.`st_chfeed#changes`")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val got = df.select(col("_change_type"), col("id")).collect()
            .map(r => (r.getString(0), r.getLong(1)))
          rows.synchronized { rows ++= got }
          ()
        }
        .start()
      assert(q.awaitTermination(120000))
    }
    insert(t, 0 until 10)                       // v2: blind append
    spark.sql(s"DELETE FROM $t WHERE id < 3")   // v3: row-changing
    drainChanges()
    val expected = (0L until 10L).map(("insert", _)) ++
      (0L until 3L).map(("delete", _))
    rows.synchronized(rows.sorted.toList) shouldBe expected.sorted.toList
    // restart with the same checkpoint: nothing re-delivers
    drainChanges()
    rows.synchronized(rows.size) shouldBe expected.size
    // new commits flow once
    insert(t, 10 until 12)
    drainChanges()
    rows.synchronized(rows.sorted.toList) shouldBe
      (expected ++ Seq(("insert", 10L), ("insert", 11L))).sorted.toList
    // the BATCH surface of the same table: the whole-history NET diff
    // (deleted ids 0..2 cancel against their inserts)
    val batch = spark.sql(
        "SELECT _change_type, id FROM graft.probe.`st_chfeed#changes`")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toList
    batch shouldBe (3L until 12L).map(("insert", _)).toList
    // V1-source bound parity: changesFrom accepts a TAG name (and the
    // Timestamp variant resolves via versionAsOf) — changes after the
    // delete (v3) are just the last insert batch
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    graft.catalog.SnapshotTable.load(spark, s"$wh/probe/st_chfeed")
      .tag("post-delete", 3L)
    val tagged = spark.read.option("changesFrom", "post-delete")
      .table("graft.probe.`st_chfeed#changes`")
      .select(col("_change_type"), col("id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toList
    tagged shouldBe Seq(("insert", 10L), ("insert", 11L))
  }

  test("#changes updateImages streams labeled update pairs; restart exactly-once") {
    val t = mkTable("st_cdfupd")
    val ckpt = Files.createTempDirectory("st-cdfu-ckpt").toString
    val rows = ArrayBuffer.empty[(String, Long, Double)]
    def drainCdf(): Unit = {
      val q = spark.readStream
        .option("changesFrom", "earliest")
        .option("updateImages", "true")
        .table("graft.probe.`st_cdfupd#changes`")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val got = df.select(col("_change_type"), col("id"), col("v"))
            .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
          rows.synchronized { rows ++= got }
          ()
        }
        .start()
      assert(q.awaitTermination(120000))
    }
    insert(t, 0 until 6)                                // v2: blind append
    spark.sql(s"UPDATE $t SET v = v + 100 WHERE id < 2") // v3: update-pos
    drainCdf()
    val expected =
      (0L until 6L).map(i => ("insert", i, i.toDouble)) ++
        (0L until 2L).map(i => ("update_preimage", i, i.toDouble)) ++
        (0L until 2L).map(i => ("update_postimage", i, i + 100.0))
    rows.synchronized(rows.sorted.toList) shouldBe expected.sorted.toList
    // restart on the same checkpoint: staged labels replay nowhere —
    // nothing re-delivers (exactly-once across the labeled path)
    drainCdf()
    rows.synchronized(rows.size) shouldBe expected.size
    // a post-restart update flows once, still labeled
    spark.sql(s"UPDATE $t SET v = v + 100 WHERE id = 5")
    drainCdf()
    rows.synchronized(rows.sorted.toList) shouldBe
      (expected ++ Seq(("update_preimage", 5L, 5.0),
        ("update_postimage", 5L, 105.0))).sorted.toList
    // the BATCH surface honors the same option per-commit (no netting)
    val batch = spark.read.option("updateImages", "true")
      .table("graft.probe.`st_cdfupd#changes`")
      .select(col("_change_type"), col("id"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    batch.sorted.toList shouldBe
      (expected ++ Seq(("update_preimage", 5L, 5.0),
        ("update_postimage", 5L, 105.0))).sorted.toList
    // table property `graft.cdc.update-images` defaults it for SQL-only
    // consumers (no reader option anywhere)
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    graft.catalog.SnapshotTable.load(spark, s"$wh/probe/st_cdfupd")
      .setProperties(Map("graft.cdc.update-images" -> "true"))
    val viaProp = spark.sql(
        s"SELECT _change_type, count(*) AS n FROM graft.probe.`st_cdfupd#changes` " +
          "GROUP BY 1")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toList
    viaProp shouldBe List(("insert", 6L), ("update_postimage", 3L),
      ("update_preimage", 3L))
  }

  /** Every row a stream over `table` delivers from `earliest` (the
    * start option is `startKey`), drained by an AvailableNow query,
    * projected to `cols` and ordered by the first (a BIGINT id).
    */
  private def streamed(table: String, startKey: String,
      cols: String*): List[Seq[Any]] = {
    val rows = ArrayBuffer.empty[Seq[Any]]
    val q = spark.readStream.option(startKey, "earliest").table(table)
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("st-all-ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val got = df.selectExpr(cols: _*).collect().map(_.toSeq)
        rows.synchronized { rows ++= got }
        ()
      }
      .start()
    assert(q.awaitTermination(120000))
    rows.synchronized(rows.toList).sortBy(_.head.asInstanceOf[Long])
  }

  private def selected(query: String): List[Seq[Any]] =
    spark.sql(query).collect().map(_.toSeq).toList
      .sortBy(_.head.asInstanceOf[Long])

  test("a dropped and re-added column never surfaces the dropped column's values") {
    val t = mkTable("st_readd")
    insert(t, 1 until 5)
    // a tail pinned BEFORE the drop: the re-added v is another field,
    // so the new rows read NULL under the pinned (dropped) v
    val early = ArrayBuffer.empty[Seq[Any]]
    val q = spark.readStream.option("streamFrom", "earliest").table(t)
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("st-readd-ckpt").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val got = df.select(col("id"), col("v")).collect().map(_.toSeq)
        early.synchronized { early ++= got }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      spark.sql(s"ALTER TABLE $t DROP COLUMN v")
      spark.sql(s"ALTER TABLE $t ADD COLUMN v DOUBLE")
      spark.sql(s"INSERT INTO $t VALUES (5, 500.0), (6, 600.0)")
      q.processAllAvailable()
    } finally q.stop()
    early.synchronized(early.toList).sortBy(_.head.asInstanceOf[Long]) shouldBe
      (1L to 4L).map(i => Seq[Any](i, i.toDouble)) ++
        Seq(Seq[Any](5L, null), Seq[Any](6L, null))
    // pinned AFTER the re-add, the tail agrees with the batch read and
    // the change feed: the old rows never held the new v
    val current = (1L to 4L).map(i => Seq[Any](i, null)) ++
      Seq(Seq[Any](5L, 500.0), Seq[Any](6L, 600.0))
    selected(s"SELECT id, v FROM $t") shouldBe current
    streamed(t, "streamFrom", "id", "v") shouldBe current
    streamed("graft.probe.`st_readd#changes`", "changesFrom",
      "id", "v", "_change_type") shouldBe current.map(_ :+ "insert")
  }

  test("a column recorded non-nullable reads NULL where an older file predates it") {
    import spark.implicits._
    val t = mkTable("st_nonnull")
    (1 until 5).foreach(i => insert(t, i until i + 1))
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val root = s"$wh/probe/st_nonnull"
    val st = graft.catalog.SnapshotTable.load(spark, root)
    st.dropColumn("v")
    // re-added from a Scala Double: the snapshot records v non-nullable
    st.append(Seq((5L, 5.0)).toDF("id", "v"))
    assert(!st.currentSnapshot().schema("v").nullable)
    val expected = (1L to 4L).map(i => Seq[Any](i, null)) :+ Seq[Any](5L, 5.0)
    selected(s"SELECT id, v FROM $t") shouldBe expected
    selected(s"SELECT id, v FROM $t WHERE id = 3") shouldBe List(Seq[Any](3L, null))
    spark.read.format("graft").load(root).filter(col("id") === 3L)
      .select("v").collect().map(_.get(0)).toList shouldBe List(null)
    streamed(t, "streamFrom", "id", "v") shouldBe expected
  }

  test("nested struct evolution streams through the tail and #changes as the batch read renders it") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.probe")
    spark.sql("DROP TABLE IF EXISTS graft.probe.st_nest")
    val t = "graft.probe.st_nest"
    spark.sql(s"CREATE TABLE $t (id BIGINT, meta STRUCT<kind: STRING, score: BIGINT>)")
    spark.sql(s"INSERT INTO $t SELECT id, named_struct('kind', 'a', " +
      "'score', id) FROM range(0, 3)")
    // rename one struct field, then drop and re-add another between
    // appends: each file resolves through its own nested ids
    spark.sql(s"ALTER TABLE $t RENAME COLUMN meta.score TO points")
    spark.sql(s"INSERT INTO $t SELECT id, named_struct('kind', 'b', " +
      "'points', id * 10) FROM range(3, 6)")
    spark.sql(s"ALTER TABLE $t DROP COLUMN meta.kind")
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (meta.kind STRING)")
    spark.sql(s"INSERT INTO $t SELECT id, named_struct('points', id * 10, " +
      "'kind', 'c') FROM range(6, 9)")
    val batch = selected(s"SELECT id, meta.points, meta.kind FROM $t")
    batch shouldBe (0L until 3L).map(i => Seq[Any](i, i, null)) ++
      (3L until 6L).map(i => Seq[Any](i, i * 10, null)) ++
      (6L until 9L).map(i => Seq[Any](i, i * 10, "c"))
    streamed(t, "streamFrom", "id", "meta.points", "meta.kind") shouldBe batch
    streamed("graft.probe.`st_nest#changes`", "changesFrom", "id",
      "meta.points", "meta.kind", "_change_type") shouldBe
      batch.map(_ :+ "insert")
  }
}
