package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.catalog.{EvolvingWriter, PartitionSpec, SnapshotTable}
import graft.gen.FakeData
import graft.ingest.CsvIngest

/** Dev smoke main replaying the driver's t1 check: `SparkEntry.entry`
  * must return rows > 0 on sf0.001. Prints the count and the schema,
  * then runs the drift pipeline (two drifting CSV batches appended to
  * one month-partitioned graft table) and exits non-zero if the table
  * does not hold both batches under the evolved schema.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    println(s"[smoke] entry schema: ${df.schema.simpleString}")
    println(s"[smoke] entry rows: ${df.count()}")

    // Drive the reference-shaped pipeline end-to-end through the public
    // API: drift CSVs -> ingest -> evolving graft table -> re-read.
    val work = Files.createTempDirectory("graft-smoke")
    try {
      FakeData.generate(work.resolve("csv1").toString, start = 1, end = 4,
        records = 8, seed = 42L, maxOptional = 6)
      val batch = CsvIngest.ingest(spark, work.resolve("csv1").toString,
        Queries.FixedClock)
      val t = SnapshotTable.create(spark, work.resolve("customers").toString,
        batch.schema, spec = Some(PartitionSpec("created_at", "month")),
        properties = EvolvingWriter.DefaultTableProps)
      t.append(batch)
      FakeData.generate(work.resolve("csv2").toString, start = 1, end = 4,
        records = 8, seed = 77L, maxOptional = 20)
      val batch2 = CsvIngest.ingest(spark, work.resolve("csv2").toString,
        java.time.Instant.parse("2026-02-01T00:00:00Z"))
      val before = t.schema.fieldNames.toSet
      t.append(batch2)
      val added = t.schema.fieldNames.filterNot(before).toSeq
      val back = t.read()
      val rows = back.count()
      println(s"[smoke] evolved table rows: $rows cols: ${back.columns.length} " +
        s"added-by-evolution: ${added.mkString(",")}")
      val expectedRows = batch.count() + batch2.count()
      require(rows == expectedRows,
        s"evolved table holds $rows rows, the two batches $expectedRows")
      val expectedAdded = batch2.columns.filterNot(batch.columns.contains).toSet
      require(added.toSet == expectedAdded,
        s"evolution added ${added.mkString(",")}, the schema difference is " +
          expectedAdded.mkString(","))
    } finally {
      Files.walk(work).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
    spark.stop()
  }
}
