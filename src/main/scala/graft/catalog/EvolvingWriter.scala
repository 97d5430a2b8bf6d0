package graft.catalog

/** Default table properties for graft snapshot tables. Every evolving
  * write goes through [[SnapshotTable]] or the `graft` catalog, which
  * evolve the schema by field id; this object only holds the properties
  * their tables are created with. It keeps the name of the
  * session-catalog writer it once was because callers outside the main
  * sources (the benchmark harness) import it from here.
  */
object EvolvingWriter {

  /** Reference TBLPROPERTIES (`spark_utils.py:165-172`). The
    * compaction and vacuum thresholds are executed by
    * [[SnapshotTable.maintain]] and [[SnapshotTable.expireSnapshots]].
    * `write_compression` is inert: no graft write reads it, and graft
    * writes compress with the session's
    * `spark.sql.parquet.compression.codec`.
    */
  val DefaultTableProps: Map[String, String] = Map(
    "format" -> "parquet",
    "write_compression" -> "ZSTD",
    "optimize_rewrite_data_file_threshold" -> "5",
    "optimize_rewrite_delete_file_threshold" -> "2",
    "vacuum_min_snapshots_to_keep" -> "5")
}
