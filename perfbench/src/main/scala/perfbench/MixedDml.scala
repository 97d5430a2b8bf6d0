package perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.catalog.SnapshotTable
import graft.ingest.CsvIngest

/** mixed_dml: reads beside writes on one merge-on-read table. The bench
  * keeps its own model of `customer_id -> (first, last, index)` and the
  * live row count and `index` sum of every retained version; every read
  * is checked against it.
  */
final class MixedDml(ctx: Ctx) extends TableWorkload(ctx) {
  private val setupBatches = 2
  private val keep = 12
  private var rep = 0
  private def tableName = s"mixed_$rep"
  private def ref = s"graft.db.$tableName"
  private var drift: Drift = _
  private var table: SnapshotTable = _
  private var nextBatch = 0
  private val model = mutable.LinkedHashMap.empty[String, (String, String, Int)]
  private val live = mutable.ArrayBuffer.empty[String]
  private val gone = mutable.ArrayBuffer.empty[String]
  private val versions = mutable.LinkedHashMap.empty[Long, (Long, Long)]
  private var rnd: Random = _
  private var csvBytes = 0L
  private var merges = 0
  private var startVersion = 0L

  def setupReps: Int = 3

  /** Each rep builds a table of its own from a fresh generator and
    * model; the last rep's table serves the timed phase.
    */
  def setup(r: Int): Unit = {
    rep = r
    drift = new Drift(ctx.seed, files = 2, minRows = 40, maxRows = 60)
    table = null
    nextBatch = 0
    model.clear(); live.clear(); gone.clear(); versions.clear()
    rnd = new Random(ctx.seed + 7)
    csvBytes = 0; merges = 0
    (0 until setupBatches).foreach { _ =>
      val b = newBatch()
      val df = CsvIngest.ingest(spark, b.dir.toString, b.clock)
      if (table == null) table = createTable(tableName, df.schema, Map(
        "graft.delete.mode" -> "merge-on-read",
        "graft.update.mode" -> "merge-on-read"))
      table.append(df)
      added(b)
    }
    startVersion = table.currentVersion()
    // warm-up: one op of every kind, checked like the timed ones
    Seq("update", "delete", "merge", "read_point", "read_version",
      "append", "compact", "expire").foreach { k =>
      val op = opOf(k, -1)
      op.run()
      op.after()
    }
  }

  override def beforeTimed(): Unit = watch(table)

  private def newBatch(): Drift.Batch = {
    val n = nextBatch
    nextBatch += 1
    drift.batch(ctx.work.resolve(f"r$rep-batch-$n%05d"), n, clockOf(n))
  }

  private def added(b: Drift.Batch): Unit = {
    b.files.flatMap(_.people).foreach { p =>
      model(p.id) = (p.first, p.last, p.index)
      live += p.id
    }
    csvBytes += b.bytes
    committed()
  }

  private def committed(): Unit =
    versions(table.currentVersion()) =
      (model.size.toLong, model.valuesIterator.map(_._3.toLong).sum)

  private def pickLive(): String = live(rnd.nextInt(live.size))

  private def remove(id: String): Unit = {
    model.remove(id)
    live -= id
    gone += id
  }

  /** One cycle of the op schedule. The seed picks keys and versions,
    * never the mix, so every seed runs the same share of each kind. Point
    * read, time-travel read, UPDATE and DELETE come three times in the
    * first 15 ops, so a run has at least three samples of each; both
    * maintenance calls come within the first 16.
    */
  private val cycle = Vector("read_point", "update", "read_version",
    "delete", "append", "merge", "read_point", "update", "read_version",
    "delete", "compact", "read_point", "update", "read_version", "delete",
    "expire", "append", "read_point", "merge", "update")

  def next(i: Int): Op = opOf(cycle(i % cycle.size), i)

  /** Compact and expire come once a cycle, three or four times a run:
    * too few for a median per run, so they stay out of op_latency_s
    * (they still count in ops_per_s and cpu_s_per_op). Every other kind
    * comes at least twice a cycle.
    */
  override def latencyKind(name: String): Boolean = cycle.count(_ == name) >= 2

  private def opOf(kind: String, i: Int): Op = kind match {
    case "append" =>
      val b = newBatch()
      Op("write", kind, () => {
        append(table, ingest(b))
        OpOut(csvRows = b.rows, csvBytes = b.bytes)
      }, after = () => added(b))
    case "update" =>
      val id = pickLive()
      val name = s"Upd$i"
      Op("write", kind, () => {
        commit(table, "catalog", "dml.update")(spark.sql(
          s"UPDATE $ref SET first_name = '$name' WHERE customer_id = '$id'"))
        OpOut()
      }, after = () => {
        val (_, l, ix) = model(id)
        model(id) = (name, l, ix)
        committed()
      })
    case "delete" =>
      val id = pickLive()
      Op("write", kind, () => {
        commit(table, "catalog", "dml.delete")(spark.sql(
          s"DELETE FROM $ref WHERE customer_id = '$id'"))
        OpOut()
      }, after = () => {
        remove(id)
        committed()
      })
    case "merge" =>
      merges += 1
      val fixes = Seq.fill(3)(pickLive()).distinct
      val fresh = (0 until 2).map(k => s"m${ctx.seed}-$merges-$k")
      val ts = Timestamp.from(clockOf(nextBatch))
      val rows = fixes.map(id => Row(id, model(id)._1, s"Fix$merges", model(id)._3, ts)) ++
        fresh.zipWithIndex.map { case (id, k) => Row(id, "New", s"Fix$merges", 900000 + k, ts) }
      Op("write", kind, () => {
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), MixedDml.srcSchema)
          .createOrReplaceTempView("perfbench_src")
        commit(table, "catalog", "dml.merge")(spark.sql(
          s"""MERGE INTO $ref t USING perfbench_src s
             |ON t.customer_id = s.customer_id
             |WHEN MATCHED THEN UPDATE SET last_name = s.last_name
             |WHEN NOT MATCHED THEN INSERT (customer_id, first_name, last_name, `index`, created_at)
             |VALUES (s.customer_id, s.first_name, s.last_name, s.`index`, s.created_at)""".stripMargin))
        OpOut()
      }, after = () => {
        rows.foreach { r =>
          val id = r.getString(0)
          if (!model.contains(id)) live += id
          model(id) = (r.getString(1), r.getString(2), r.getInt(3))
        }
        committed()
      })
    case "read_point" =>
      val id = if (gone.nonEmpty && rnd.nextInt(4) == 0) gone(rnd.nextInt(gone.size))
        else pickLive()
      Op("read", kind, () => {
        val got = sql(kind,
          s"SELECT first_name, last_name, `index` FROM $ref WHERE customer_id = '$id'")
          ._2.map(r => (r.getString(0), r.getString(1), r.getInt(2)))
        OpOut(rows = got.size, check = Some(got == model.get(id).toSeq))
      })
    case "read_version" =>
      val vs = versions.keys.toIndexedSeq
      val v = vs(rnd.nextInt(vs.size))
      // the sum keeps every version a scan: a bare count(*) is answered
      // from the manifest only while the version has no delete file, and
      // the share of such picks would set the kind's median
      Op("read", kind, () => {
        val r = sql(kind,
          s"SELECT count(*), coalesce(sum(`index`), 0) FROM $ref VERSION AS OF $v")
          ._2.head
        OpOut(rows = 1, check = Some((r.getLong(0), r.getLong(1)) == versions(v)))
      })
    case "compact" =>
      Op("write", kind, () => {
        commit(table, "catalog", "maint.compact")(spark.sql(
          s"CALL graft.system.compact(table => 'db.$tableName')").collect())
        OpOut()
      }, after = () => committed())
    case "expire" =>
      Op("write", kind, () => {
        commit(table, "catalog", "maint.expire")(spark.sql(
          s"CALL graft.system.expire_snapshots(table => 'db.$tableName', keep => $keep)").collect())
        OpOut()
      }, after = () => {
        val retained = table.history().map(_.version).toSet
        versions.filterInPlace((v, _) => retained(v))
      })
  }

  /** The whole table against the model, once, after the timed phase. */
  def verify(): Seq[Check] = {
    val rows = spark.sql(s"SELECT customer_id, first_name, last_name, `index` FROM $ref")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2), r.getInt(3)))
    val got = rows.toMap
    Seq(
      Check("rows_match_model", rows.length == model.size && got == model.toMap,
        s"table=${rows.length} model=${model.size}"))
  }

  def state(): Map[String, Double] =
    schemaState(table, startVersion) ++ tableState(table) +
      ("input.csv_bytes" -> csvBytes.toDouble)
}

object MixedDml {
  val srcSchema: StructType = StructType(Seq(
    StructField("customer_id", StringType), StructField("first_name", StringType),
    StructField("last_name", StringType), StructField("index", IntegerType),
    StructField("created_at", TimestampType)))
}
