package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.time.Instant
import java.time.temporal.ChronoUnit

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}

import graft.catalog.{EvolvingWriter, PartitionSpec, ScanEvents, Snapshot, SnapshotTable}
import graft.config.GraftConfig
import graft.ingest.CsvIngest

/** Helpers shared by the workloads that drive a snapshot table: every
  * public call goes through the tracer so a traced run charges it to
  * its layer and records the counts it produced.
  */
abstract class TableWorkload(ctx: Ctx) extends Workload(ctx) {
  protected val spark = ctx.spark
  protected def tracer: Tracer = ctx.tracer

  protected def tableRoot(name: String): String = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    s"${GraftConfig.catalogWarehouse}/db/$name"
  }

  protected def createTable(name: String, schema: StructType,
      props: Map[String, String] = Map.empty): SnapshotTable =
    SnapshotTable.create(spark, tableRoot(name), schema,
      spec = Some(PartitionSpec("created_at", "month")),
      properties = EvolvingWriter.DefaultTableProps ++ props)

  protected def ingest(b: Drift.Batch): DataFrame =
    tracer.call("ingest", "CsvIngest.ingest")(
      CsvIngest.ingest(spark, b.dir.toString, b.clock))(_ =>
      Map("files" -> b.files.size.toDouble, "input_bytes" -> b.bytes.toDouble))

  /** Last observed (snapshot, log bytes) of each table, by root. */
  private val observed = mutable.Map.empty[String, (Snapshot, Long)]

  private def observe(t: SnapshotTable): (Snapshot, Long) = {
    val s = (t.currentSnapshot(), dirBytes(logDir(t)))
    observed(t.root.toString) = s
    s
  }

  /** In a traced run, read the state the first commit to `t` is
    * compared with. Call it from `beforeTimed`.
    */
  protected def watch(t: SnapshotTable): Unit =
    if (tracer.enabled) observe(t)

  /** A committing call. Its counts compare the table state after it
    * with the state after the previous commit; both are read when the
    * tracer settles, outside the op.
    */
  protected def commit(t: SnapshotTable, layer: String, name: String)
      (f: => Any): Unit =
    tracer.call(layer, name)(f) { _ =>
      val (before, logBefore) = observed(t.root.toString)
      val (after, logAfter) = observe(t)
      Stats.commitDiff(before, after) +
        ("log_bytes_added" -> (logAfter - logBefore).toDouble)
    }

  protected def append(t: SnapshotTable, df: DataFrame): Unit =
    commit(t, "catalog", "append")(t.append(df))

  /** A SQL read collected on the driver, with the manifest scans it
    * planned: its column names and rows.
    */
  protected def sql(name: String, q: String): (Seq[String], Seq[Row]) =
    tracer.call("sql", name) {
      ScanEvents.capture {
        val df = spark.sql(q)
        (df.columns.toSeq, df.collect().toSeq)
      }
    } { case ((_, rows), scans) => Stats.scanAttrs(rows.size, scans) }._1

  protected def logDir(t: SnapshotTable): Path =
    Paths.get(t.root.toUri.getPath).resolve("_graft_log")

  protected def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p)) { s =>
      s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    }

  /** Bytes under the table root (data, delete vectors and log). */
  protected def storedBytes(t: SnapshotTable): Long =
    dirBytes(Paths.get(t.root.toUri.getPath))

  protected def clockOf(b: Int): Instant =
    Instant.parse("2025-01-03T00:00:00Z").plus(10L * b, ChronoUnit.DAYS)

  /** Schema counts over the snapshots committed after `fromVersion`. */
  protected def schemaState(t: SnapshotTable, fromVersion: Long): Map[String, Double] = {
    val hist = t.history()
    val pairs = hist.zip(hist.drop(1)).filter(_._2.version > fromVersion)
    val added = pairs.map { case (a, b) =>
      b.schema.fieldNames.count(n => !a.schema.fieldNames.contains(n)) }.sum
    val widened = pairs.map { case (a, b) =>
      b.schema.fields.count(f => a.schema.fields.exists(o =>
        o.name == f.name && o.dataType == IntegerType && f.dataType == LongType))
    }.sum
    Map("schema.columns" -> t.currentSnapshot().schema.size.toDouble,
      "schema.columns_added" -> added.toDouble,
      "schema.widenings" -> widened.toDouble)
  }

  protected def tableState(t: SnapshotTable): Map[String, Double] = {
    val s = t.currentSnapshot()
    val rows = s.files.map(_.rows).sum
    Map("catalog.files_live" -> s.files.size.toDouble,
      "catalog.rows_per_file" -> (if (s.files.isEmpty) 0.0 else rows.toDouble / s.files.size),
      "catalog.versions" -> t.history().size.toDouble,
      "catalog.delete_files_live" -> (s.dvFiles.size + s.deleteFiles.size).toDouble,
      "catalog.stored_bytes" -> storedBytes(t).toDouble)
  }
}

object Stats {
  def commitDiff(b: Snapshot, a: Snapshot): Map[String, Double] = {
    val bp = b.files.map(_.path).toSet
    val ap = a.files.map(_.path).toSet
    val added = a.files.filterNot(f => bp(f.path))
    val removed = b.files.filterNot(f => ap(f.path))
    Map("files_added" -> added.size.toDouble,
      "files_removed" -> removed.size.toDouble,
      "bytes_added" -> added.map(_.bytes).sum.toDouble,
      "files_before" -> b.files.size.toDouble,
      "files_after" -> a.files.size.toDouble,
      "delete_files_live" -> (a.dvFiles.size + a.deleteFiles.size).toDouble)
  }

  def scanAttrs(rows: Int, scans: Seq[ScanEvents.Event]): Map[String, Double] =
    Map("result_rows" -> rows.toDouble,
      "scans" -> scans.size.toDouble,
      "scan_files_total" -> scans.map(_.total).sum.toDouble,
      "scan_files_kept" -> scans.map(_.kept).sum.toDouble)

  /** Order-free rendering of a result: each row as sorted name=value
    * pairs, rows sorted.
    */
  def canonical(cols: Seq[String], rows: Seq[Row]): Seq[String] =
    rows.map(r => cols.indices.sortBy(cols(_)).map(i =>
      s"${cols(i).toLowerCase}=${render(r.get(i))}").mkString("|")).sorted

  private def render(v: Any): String = v match {
    case null => "null"
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case other => other.toString
  }
}

// ---------------------------------------------------------------------
// ingest_drift: batch directory -> CsvIngest.ingest -> SnapshotTable.append
// ---------------------------------------------------------------------

final class IngestDrift(ctx: Ctx) extends TableWorkload(ctx) {
  private var drift: Drift = _
  private var rep = 0
  private var table: SnapshotTable = _
  private var tableName = ""
  private var startVersion = 0L
  private var nextBatch = 0
  private val headers = mutable.Set.empty[String]
  private val widened = mutable.Set.empty[String]
  private var csvRows = 0L
  private var csvBytes = 0L

  def setupReps: Int = 3

  def setup(r: Int): Unit = {
    rep = r
    drift = new Drift(ctx.seed, files = 6, minRows = 80, maxRows = 90)
    nextBatch = 0
    val b = newBatch()
    val df = CsvIngest.ingest(spark, b.dir.toString, b.clock)
    tableName = s"ingest_$rep"
    table = createTable(tableName, df.schema)
    headers.clear(); widened.clear(); csvRows = 0; csvBytes = 0
    table.append(df)
    account(b)
    startVersion = table.currentVersion()
  }

  override def beforeTimed(): Unit = watch(table)

  private def newBatch(): Drift.Batch = {
    val n = nextBatch
    nextBatch += 1
    drift.batch(ctx.work.resolve(f"r$rep-batch-$n%05d"), n, clockOf(n))
  }

  private def account(b: Drift.Batch): Unit = {
    headers ++= b.columns
    widened ++= b.widened
    csvRows += b.rows
    csvBytes += b.bytes
  }

  def next(i: Int): Op = {
    val b = newBatch()
    Op("write", "ingest_append", () => {
      append(table, ingest(b))
      OpOut(csvRows = b.rows, csvBytes = b.bytes)
    }, after = () => account(b))
  }

  def verify(): Seq[Check] = {
    val n = spark.sql(s"SELECT count(*) FROM graft.db.$tableName")
      .collect().head.getLong(0)
    val cols = table.schema.fieldNames.toSet
    val want = headers.toSet + "created_at"
    val wide = widened.filterNot(c => table.schema(c).dataType == LongType)
    Seq(
      Check("committed_rows", n == csvRows, s"table=$n csv=$csvRows"),
      Check("columns", cols == want,
        s"missing=${want -- cols} extra=${cols -- want}"),
      Check("widened_bigint", wide.isEmpty, s"not widened: $wide"))
  }

  def state(): Map[String, Double] =
    schemaState(table, startVersion) ++ tableState(table) +
      ("input.csv_bytes" -> csvBytes.toDouble)
}

// ---------------------------------------------------------------------
// serve_evolved: a seeded SQL query mix over an evolved table
// ---------------------------------------------------------------------

final class ServeEvolved(ctx: Ctx) extends TableWorkload(ctx) {
  private val batches = 4
  private val drift = new Drift(ctx.seed, files = 4, minRows = 100,
    maxRows = 200, slide = 4)
  private var table: SnapshotTable = _
  private var built = Seq.empty[Drift.Batch]
  private var queries = IndexedSeq.empty[(String, String)]
  private val results = mutable.Map.empty[Int, Seq[String]]
  private val mismatched = mutable.Set.empty[Int]

  def setupReps: Int = 1

  def setup(rep: Int): Unit = {
    built = (0 until batches).map(b =>
      drift.batch(ctx.work.resolve(f"r$rep-batch-$b%03d"), b, clockOf(b)))
    val first = CsvIngest.ingest(spark, built.head.dir.toString, built.head.clock)
    tableRef = s"graft.db.serve_$rep"
    table = createTable(s"serve_$rep", first.schema)
    table.append(first)
    built.tail.foreach(b =>
      table.append(CsvIngest.ingest(spark, b.dir.toString, b.clock)))
    queries = mix(new Random(ctx.seed))
    // warm-up: every query shape once
    queries.take(6).foreach { case (_, q) =>
      spark.sql(q.replace("{T}", tableRef)).collect() }
  }

  private var tableRef = ""

  /** Six query shapes, three seeded variants each. */
  private def mix(r: Random): IndexedSeq[(String, String)] = {
    val people = built.flatMap(_.files.flatMap(_.people))
    val schema = table.schema
    // low-cardinality string columns of the optional universe
    val enums = Seq("company", "city", "country", "industry", "state",
      "job_title", "language", "time_zone", "user_agent", "department",
      "product_category", "referral_source", "membership_level",
      "account_status", "gender", "device_type", "browser")
    val evolved = schema.fields.filter(f => f.dataType == StringType &&
      enums.exists(e => f.name == e || f.name.startsWith(e + "_"))).map(_.name)
      .toIndexedSeq
    require(evolved.nonEmpty, "no evolved enum column in the table")
    val months = built.map(_.clock).map(c => c.toString.take(7)).distinct
    (0 until 3).flatMap { v =>
      val id = people(r.nextInt(people.size)).id
      val m = r.nextInt(math.max(1, months.size - 1))
      val from = s"${months(m)}-01 00:00:00"
      val until = s"${months(math.min(m + 1, months.size - 1))}-01 00:00:00"
      val c = evolved(r.nextInt(evolved.size))
      val lo = r.nextInt(people.map(_.index).max)
      Seq(
        "point_lookup" -> s"SELECT customer_id, first_name, last_name, `index`, created_at FROM {T} WHERE customer_id = '$id'",
        "month_range_agg" -> s"SELECT count(*) AS n, sum(`index`) AS s, count(DISTINCT first_name) AS d FROM {T} WHERE created_at >= TIMESTAMP'$from' AND created_at < TIMESTAMP'$until'",
        "meta_agg" -> s"SELECT count(*) AS n, count(`$c`) AS nc, min(`index`) AS lo, max(`index`) AS hi, max(created_at) AS latest FROM {T}",
        "group_evolved" -> s"SELECT `$c` AS k, count(*) AS n, sum(`index`) AS s FROM {T} GROUP BY `$c`",
        "topn_recent" -> s"SELECT created_at, customer_id FROM {T} ORDER BY created_at DESC, customer_id LIMIT ${10 + 10 * v}",
        "wide_projection" -> s"SELECT * FROM {T} WHERE `index` BETWEEN $lo AND ${lo + 9}")
    }.toIndexedSeq
  }

  /** Queries run in a fixed cycle: the seed picks their parameters,
    * never the mix.
    */
  def next(i: Int): Op = {
    val qi = i % queries.size
    val (name, q) = queries(qi)
    var result: (Seq[String], Seq[Row]) = null
    Op("read", name, () => {
      result = sql(name, q.replace("{T}", tableRef))
      OpOut(rows = result._2.size)
    }, after = () => {
      val got = Stats.canonical(result._1, result._2)
      results.get(qi) match {
        case None => results(qi) = got
        case Some(prev) => if (prev != got) mismatched += qi
      }
    })
  }

  /** The same queries, once, by plain Spark over a parquet copy built
    * straight from the CSVs: no graft table or operator in the path.
    */
  def verify(): Seq[Check] = {
    val plainDir = ctx.work.resolve("plain").toString
    built.map { b =>
      b.files.map { f =>
        val df = spark.read.option("header", "true")
          .option("inferSchema", "true").csv(f.path.toString)
        df.toDF(df.columns.map(Drift.normalize).toIndexedSeq: _*)
      }.reduce(_.unionByName(_, allowMissingColumns = true))
        .withColumn("created_at", lit(Timestamp.from(b.clock)))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
      .write.mode("overwrite").parquet(plainDir)
    spark.read.parquet(plainDir).createOrReplaceTempView("perfbench_plain")
    val checks = results.toSeq.sortBy(_._1).map { case (qi, got) =>
      val (name, q) = queries(qi)
      val d = spark.sql(q.replace("{T}", "perfbench_plain"))
      val want = Stats.canonical(d.columns.toSeq, d.collect().toSeq)
      Check(s"$name#$qi", want == got && !mismatched(qi),
        if (want == got) "" else s"want ${want.take(2)} got ${got.take(2)}")
    }
    checks
  }

  def state(): Map[String, Double] =
    schemaState(table, 0L) ++ tableState(table) +
      ("input.csv_bytes" -> built.map(_.bytes).sum.toDouble)
}
