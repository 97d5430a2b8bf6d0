package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Parquet source for the driver's testdata tables (A5 in SURVEY §2;
  * TESTDATA.md). One quirk: `events.ts` is written as parquet
  * TIMESTAMP(NANOS), which Spark's vectorized reader rejects
  * ([PARQUET_TYPE_ILLEGAL]). We read it via
  * `spark.sql.legacy.parquet.nanosAsLong` and convert nanos → a proper
  * TimestampType column with integer division (micros fit a long;
  * double division would lose precision above 2^53).
  * Verified lossless: the testdata carries microsecond precision only.
  */
object Tables {

  val All: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred parquet SCHEMA per file path, cached for the JVM's
    * lifetime (r20, guide §1.2 step 2 / VERDICT r19 #4): a bare
    * `spark.read.parquet(path)` runs a schema-inference JOB (footer
    * read) at every query CONSTRUCTION — ~2 jobs × ~70 ms per bench
    * row, hundreds of no-op jobs per sweep, all inside the timed
    * region. The testdata files are immutable inputs; a real
    * deployment's catalog (Iceberg/metastore — and this repo's own
    * snapshot tables) carries the schema as metadata and never pays
    * per-query inference. Metadata only — every query still computes
    * its RESULT from the parquet bytes; plans are bit-identical
    * (the scan's ReadSchema is unchanged).
    *
    * Assumes IMMUTABLE inputs: entries are keyed by path alone and
    * never invalidated. A file rewritten in place under a live JVM
    * keeps serving its first-seen schema, and a schema inferred under
    * one session's parquet conf (events' nanos-as-long flag) is served
    * to every later session. Regenerate testdata only between JVMs.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]()

  private def read(spark: SparkSession, path: String): DataFrame = {
    val sch = schemaCache.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    spark.read.schema(sch).parquet(path)
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, dir)
      case _        => read(spark, s"$dir/$name.parquet")
    }

  /** events with `ts` restored to TimestampType (µs). The nanos-as-long
    * flag is set once per session (idempotent check rather than an
    * unconditional write — a library should not race on session conf
    * from concurrent loads).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    if (!spark.conf.getOption(key).contains("true"))
      spark.conf.set(key, "true")
    val raw = read(spark, s"$dir/events.parquet")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw
  }
}
