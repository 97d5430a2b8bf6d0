package graft

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.functions.{col, count, date_format}
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{PartitionSpec, SnapshotTable}
import graft.gen.FakeData
import graft.ingest.CsvIngest

/** End-to-end: generated drift CSVs → ingest pipeline → evolving
  * graft table → re-read (SURVEY §7.2 steps 3-4; the reference's
  * core demo, its `README.md:3-7`).
  */
class IngestWriterSpec extends AnyFunSuite {
  lazy val spark = TestSparkSession.spark
  val clock: Instant = Instant.parse("2026-01-01T00:00:00Z")

  test("discover errors on empty dir (reference job.py:29-37)") {
    val empty = Files.createTempDirectory("graft-empty").toString
    intercept[IllegalArgumentException] { CsvIngest.discover(empty) }
  }

  test("ingest: drift CSVs union with normalized names, created_at first") {
    val dir = Files.createTempDirectory("graft-csv").toString
    FakeData.generate(dir, start = 1, end = 5, records = 10, seed = 42L,
      maxOptional = 8)
    val out = CsvIngest.ingest(spark, dir, clock)
    assert(out.columns.head == "created_at")
    // mandatory columns always present, normalized
    for (c <- Seq("index", "customer_id", "first_name", "last_name",
        "subscription_date"))
      assert(out.columns.contains(c), s"missing $c in ${out.columns.toSeq}")
    // all names normalized (no uppercase/space/hyphen/parens)
    assert(out.columns.forall(c => c == c.toLowerCase &&
      !c.exists(" -()".contains(_))))
    assert(out.count() >= 5) // >=1 row per file
    // deterministic: same seed → same data
    assert(out.count() == CsvIngest.ingest(spark, dir, clock).count())
  }

  test("withQuarantined splits malformed rows into the quarantine, keeps good rows, releases cache") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-quarantine")
    val f = dir.resolve("bad.csv")
    Files.write(f, java.util.List.of(
      "id,qty", "1,2", "x,notanint", "3,4"))
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("qty", IntegerType)))
    val before = spark.sparkContext.getPersistentRDDs.size
    CsvIngest.withQuarantined(spark, f.toString, schema) { (good, bad) =>
      assert(good.collect().map(r => (r.getInt(0), r.getInt(1))).toSet ==
        Set((1, 2), (3, 4)))
      assert(!good.columns.contains("_corrupt_record"))
      val lines = bad.collect().map(_.getString(0))
      assert(lines.toSeq == Seq("x,notanint")) // raw line preserved intact
    }
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "parsed-input cache must be released when the bracket returns")
  }

  test("evolving writer: second batch with new columns grows the table, old rows read null") {
    val csvA = Files.createTempDirectory("graft-batchA").toString
    val csvB = Files.createTempDirectory("graft-batchB").toString
    // batch A: few optional columns; batch B: different seed → different drift
    FakeData.generate(csvA, start = 1, end = 3, records = 5, seed = 1L, maxOptional = 3)
    FakeData.generate(csvB, start = 1, end = 3, records = 5, seed = 99L, maxOptional = 12)

    val dfA = CsvIngest.ingest(spark, csvA, clock)
    val t = SnapshotTable.create(spark,
      Files.createTempDirectory("graft-evo").resolve("t").toString, dfA.schema,
      Some(PartitionSpec("created_at", "month")))
    t.append(dfA)
    val schemaA = t.schema
    val countA = t.read().count()
    assert(countA == dfA.count())

    val dfB = CsvIngest.ingest(spark, csvB,
      Instant.parse("2026-02-01T00:00:00Z"))
    val newCols = dfB.columns.filterNot(schemaA.fieldNames.contains).toSeq
    assert(newCols.nonEmpty, "batch B must drift from batch A")
    t.append(dfB)

    // the new columns grow the schema; the old ones keep their order
    val evolved = t.schema.fieldNames.toSeq
    assert(evolved == schemaA.fieldNames.toSeq ++ newCols)
    assert(t.read().count() == countA + dfB.count())
    // old rows read NULL in every added column
    val oldRows = t.read().filter(date_format(col("created_at"), "yyyy-MM") === "2026-01")
    assert(oldRows.count() == countA)
    val nonNull = oldRows.select(newCols.map(c => count(col(s"`$c`"))): _*).head()
    assert(newCols.indices.forall(nonNull.getLong(_) == 0L),
      s"old rows must read null in ${newCols.mkString(",")}")
    // hidden partitioning: the manifest holds the batches' months
    assert(t.currentSnapshot().partitions.toSet == Set(Some("2026-01"), Some("2026-02")))
  }
}
