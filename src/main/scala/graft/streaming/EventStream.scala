package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events stream (extension
  * surface — the reference has no streaming at all, SURVEY §1.1; this
  * is the `readStream → transform → writeStream` shape its ingest
  * pipeline would take for continuous loads).
  *
  * Batch/stream parity: both transforms are plain DataFrame/Dataset
  * programs, so the same function serves `spark.read` (backfill) and
  * `spark.readStream` (live) — the Kappa-architecture property Spark
  * gives for free.
  */
object EventStream {

  /** Event row shape (events testdata table, µs timestamps). */
  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  /** One closed session per user: bounded by an inactivity gap. */
  case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, sum_value: Double)

  // field names chosen to avoid clashes with methods Catalyst's
  // generated code resolves on the state object (e.g. `sum`)
  case class SessionState(startMs: Long, lastMs: Long,
      nEvents: Long, sumValue: Double)

  /** Streaming watermarks REQUIRE TimestampType event time — Spark
    * fails analysis with [EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE] on a
    * TIMESTAMP_NTZ column, and the events testdata has shipped as both
    * encodings. Each watermark-using operator normalizes its event-time
    * column in and casts derived event-time outputs back to the input's
    * type, so callers keep their encoding (the library's UTC sessions
    * make both directions value-preserving).
    */
  private def asEventTime(df: DataFrame, c: String): DataFrame =
    if (df.schema(c).dataType ==
        org.apache.spark.sql.types.TimestampType) df
    else df.withColumn(c, col(c).cast("timestamp"))

  /** Watermarked tumbling-window aggregation: events per
    * (event_type, window), late data beyond `watermark` dropped.
    * Works identically on a batch frame (watermark is a no-op there).
    */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame = {
    val outT = events.schema("ts").dataType
    asEventTime(events, "ts")
      .withWatermark("ts", watermark)
      .groupBy(col("event_type"), window(col("ts"), windowLen))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(10,2)")).cast("double").as("sum_value"))
      .select(col("event_type"),
        col("window.start").cast(outT).as("window_start"),
        col("n"), col("sum_value"))
  }

  /** Stateful sessionization with `flatMapGroupsWithState`: per user,
    * events within `gapMs` of each other belong to one session; a
    * session closes when the gap passes (event-time driven here via
    * sorted-within-group processing for the batch-test path, timeout
    * driven in a live stream).
    */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          // within one trigger the group's events arrive unordered
          val sorted = it.toSeq.sortBy(_.ts.getTime)
          val out = scala.collection.mutable.ArrayBuffer[Session]()
          var st = state.getOption.orNull
          for (e <- sorted) {
            val t = e.ts.getTime
            if (st == null) {
              st = SessionState(t, t, 1L, e.value)
            } else if (t - st.lastMs > gapMs) {
              out += Session(userId, new Timestamp(st.startMs),
                new Timestamp(st.lastMs), st.nEvents, st.sumValue)
              st = SessionState(t, t, 1L, e.value)
            } else {
              st = SessionState(st.startMs, t, st.nEvents + 1, st.sumValue + e.value)
            }
          }
          if (st != null) state.update(st) else state.remove()
          out.iterator
      }
  }

  /** Flush any open sessions (batch-path epilogue: a live stream would
    * instead emit them on state timeout).
    */
  def closedAndOpenSessions(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroups { (userId: Long, it: Iterator[Event]) =>
        val sorted = it.toSeq.sortBy(_.ts.getTime)
        val out = scala.collection.mutable.ArrayBuffer[Session]()
        var st: SessionState = null
        for (e <- sorted) {
          val t = e.ts.getTime
          if (st == null) st = SessionState(t, t, 1L, e.value)
          else if (t - st.lastMs > gapMs) {
            out += Session(userId, new Timestamp(st.startMs),
              new Timestamp(st.lastMs), st.nEvents, st.sumValue)
            st = SessionState(t, t, 1L, e.value)
          } else st = SessionState(st.startMs, t, st.nEvents + 1, st.sumValue + e.value)
        }
        if (st != null)
          out += Session(userId, new Timestamp(st.startMs),
            new Timestamp(st.lastMs), st.nEvents, st.sumValue)
        out.iterator
      }
  }

  /** Micros-precision event row for the oracle-checked batch
    * sessionization path: `events.ts` carries microsecond precision and
    * `java.sql.Timestamp.getTime` truncates to milliseconds, which could
    * flip a gap comparison right at the boundary — so the registry path
    * sessionizes on epoch-micros longs end to end.
    */
  case class MicroEvent(user_id: Long, ts_us: Long)

  case class MicroSession(user_id: Long, session_start_us: Long,
      session_end_us: Long, n_events: Long)

  /** Batch gap-sessionization over epoch-micros events: per user, a gap
    * strictly greater than `gapUs` closes the session (same rule as
    * [[sessionize]]); open tails are emitted too, so the output is the
    * complete deterministic session inventory — directly comparable to a
    * SQL `lag`-based oracle.
    *
    * Scale note: groupByKey shuffles by user; each group sorts in
    * memory, bounded by that user's event count — the same contract as
    * `flatMapGroupsWithState` in a live stream (state per key).
    */
  def sessionizeBatch(events: Dataset[MicroEvent], gapUs: Long): Dataset[MicroSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroups { (userId: Long, it: Iterator[MicroEvent]) =>
        val sorted = it.map(_.ts_us).toArray
        java.util.Arrays.sort(sorted)
        val out = scala.collection.mutable.ArrayBuffer[MicroSession]()
        var start = 0L
        var last = 0L
        var n = 0L
        for (t <- sorted) {
          if (n == 0L) { start = t; last = t; n = 1L }
          else if (t - last > gapUs) {
            out += MicroSession(userId, start, last, n)
            start = t; last = t; n = 1L
          } else { last = t; n += 1L }
        }
        if (n > 0L) out += MicroSession(userId, start, last, n)
        out.iterator
      }
  }

  /** Streaming exact dedup: keep the FIRST arrival of each `event_id`,
    * dropping re-deliveries that arrive within the watermark horizon —
    * the at-least-once → effectively-once repair every ingest pipeline
    * needs. State is bounded: ids older than the watermark are evicted,
    * so memory is O(events per horizon), not O(stream length) — the
    * property that makes this run forever on a real cluster.
    *
    * STREAMING ONLY: Spark rejects `dropDuplicatesWithinWatermark` on
    * batch frames (`UnsupportedOperationChecker`). The batch-parity
    * formulation the registry oracle checks is the deterministic
    * groupBy in `Queries.stream_dedup_events`.
    */
  def dedupEvents(events: DataFrame, watermark: String = "10 minutes"): DataFrame = {
    val outT = events.schema("ts").dataType
    asEventTime(events, "ts")
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .withColumn("ts", col("ts").cast(outT))
  }

  /** Stream-stream interval join (click attribution): each click pairs
    * with the same user's views from the preceding `horizonMin`
    * minutes. Both sides are watermarked and the join carries an
    * explicit event-time bound — that bound is what lets Spark EXPIRE
    * buffered join state, so state stays O(events per horizon) instead
    * of growing with the stream. The same function runs in batch
    * (watermarks are no-ops) — the registry's oracle-checked path.
    */
  def clickAttribution(views: DataFrame, clicks: DataFrame,
      watermark: String = "10 minutes", horizonMin: Int = 10): DataFrame = {
    val outT = views.schema("ts").dataType
    val v = views.select(col("user_id"),
      col("ts").cast("timestamp").as("view_ts"),
      col("event_id").as("view_id")).withWatermark("view_ts", watermark)
    val c = clicks.select(col("user_id").as("c_user_id"),
      col("ts").cast("timestamp").as("click_ts"),
      col("event_id").as("click_id"))
      .withWatermark("click_ts", watermark)
    v.join(c, col("user_id") === col("c_user_id") &&
        col("click_ts") > col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL $horizonMin MINUTES"))
      .select(col("user_id"), col("view_id"), col("click_id"),
        col("view_ts").cast(outT).as("view_ts"),
        col("click_ts").cast(outT).as("click_ts"))
  }

  /** Continuous ingest into the evolving catalog table: the reference's
    * batch pipeline (align → evolve → append, `EvolvingWriter`) run as
    * a stream via `foreachBatch`. Each micro-batch appends through the
    * same schema-evolution path the batch job uses — one code path for
    * backfill and live (the Kappa property), and the writer's
    * ALTER-then-append handles a schema change between deployments.
    * Exactly-once note: `foreachBatch` gives at-least-once delivery;
    * the downstream exact-dedup ([[dedupEvents]] /
    * `Queries.stream_dedup_events`) is the standard repair.
    *
    * @return the started query (caller awaits/stops it)
    */
  def writeToTable(stream: DataFrame, table: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.catalog.EvolvingWriter.appendWithEvolution(
          batch.sparkSession, batch, table)
        ()
      }
      .start()

  /** CDC-style continuous ingest: like [[writeToTable]] but each
    * micro-batch UPSERTS on `keyCols` — a late correction for a key
    * replaces the earlier row instead of appending a duplicate. This is
    * the streaming face of `EvolvingWriter.upsert`, so all its
    * guarantees carry over (touched-partition-bounded rewrite, schema
    * evolution, null-partition fallback). Micro-batch replays after a
    * crash re-apply the same upserts idempotently — upsert-by-key makes
    * foreachBatch's at-least-once effectively exactly-once for keyed
    * data (the standard Structured Streaming idempotent-sink recipe).
    */
  def upsertToTable(stream: DataFrame, table: String, keyCols: Seq[String],
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.catalog.EvolvingWriter.upsert(
          batch.sparkSession, batch, table, keyCols)
        ()
      }
      .start()

  /** CDC replication consumer — the downstream half of the changelog:
    * apply a graft change stream (`_change_type` ∈ insert/delete plus
    * the table columns, i.e. `readStream.format("graft")
    * .option("changesFrom", …)`) onto a SECOND snapshot table so it
    * CONVERGES to the source's state. Per micro-batch: delete
    * retractions remove their keys first (merge-on-read equality
    * delete — O(batch) metadata, files rewritten only at compaction),
    * then inserts upsert by key — within one netted batch window a key
    * carrying both a retraction (old value) and an insert (new value)
    * lands on the new value, and a pure delete stays deleted. Replay
    * idempotence (foreachBatch is at-least-once): re-deleting absent
    * keys and re-upserting identical rows both leave the table state
    * unchanged, so a post-crash batch replay converges to the same
    * place. At 100 TB this is the standard replication-consumer shape:
    * per-batch work is O(changed rows), never O(table).
    */
  def applyChangesToSnapshotTable(changes: DataFrame, tableRoot: String,
      keyCols: Seq[String],
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val tbl = graft.catalog.SnapshotTable
          .load(batch.sparkSession, tableRoot)
        val cached = batch.cache()
        try {
          val dels = cached
            .filter(org.apache.spark.sql.functions.col("_change_type") === "delete")
            .select(keyCols.map(org.apache.spark.sql.functions.col): _*)
          if (!dels.isEmpty) tbl.deleteByKeys(dels, keyCols)
          val ins = cached
            .filter(org.apache.spark.sql.functions.col("_change_type") === "insert")
            .drop("_change_type")
          if (!ins.isEmpty) tbl.upsert(ins, keyCols)
        } finally { cached.unpersist(); () }
        ()
      }
      .start()

  /** Open the events table as a file stream (one-file-per-trigger so
    * tests exercise multi-batch behavior).
    */
  def readEventStream(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
}
