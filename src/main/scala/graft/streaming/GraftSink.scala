package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.graftbridge.StreamingBridge

import graft.catalog.SnapshotTable

/** DSv1 streaming SINK for [[graft.catalog.SnapshotTable]] — the
  * `writeStream.format("graft")` face of the table, completing the
  * SQL-only streaming surface the changelog source opened:
  *
  * {{{
  *   df.writeStream.format("graft")
  *     .option("checkpointLocation", ckpt)
  *     .start("/warehouse/events")                    // exactly-once append
  *
  *   df.writeStream.format("graft")
  *     .option("keys", "event_id")                    // keyed CDC upsert
  *     .outputMode("update")
  *     .start("/warehouse/events")
  * }}}
  *
  * Append mode is EXACTLY-ONCE, not just idempotent-by-key: each
  * micro-batch commits atomically with its batch id recorded in the
  * snapshot ([[SnapshotTable.appendStreamBatch]]), so a post-crash
  * replay of an already-committed batch is skipped — the reference's
  * append-only ingest (`job.py`'s loop) as a continuous query. Keyed
  * mode routes per the table's `graft.merge.mode`: `merge-on-read`
  * commits each batch as a MoR MERGE (vectors + appended images,
  * O(changed rows) — the 100 TB CDC shape), default as the
  * partition-bounded keyed upsert. A post-crash replay of a keyed
  * batch re-applies the same upsert, which is idempotent, so keyed
  * mode is effectively exactly-once for keyed data; readers never see
  * a half-applied batch (each is one commit). A concurrent external
  * writer surfaces as a [[graft.catalog.SnapshotConflictException]]
  * that stops the query; on restart the batch replays against the new
  * table state. Empty keyed batches are no-ops.
  * Schema evolution per micro-batch carries over from the underlying
  * write verbs on both routes.
  */
final class GraftSink(root: String, keys: Option[Seq[String]])
    extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the incoming DataFrame is the stream's incremental execution —
    // consume it through its InternalRow RDD, never by re-planning
    val df = StreamingBridge.asBatch(data)
    val tbl = SnapshotTable.load(df.sparkSession, root)
    keys match {
      case None => tbl.appendStreamBatch(df, batchId)
      case Some(k) =>
        if (tbl.currentSnapshot().properties
            .get("graft.merge.mode").contains("merge-on-read")) {
          if (!df.isEmpty) tbl.merge(df, k)
        } else tbl.upsert(df, k)
    }
    ()
  }

  override def toString: String =
    s"GraftSink[$root${keys.map(k => s", keys=${k.mkString(",")}").getOrElse("")}]"
}
