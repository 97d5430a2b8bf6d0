package graft.catalog

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s._
import org.json4s.jackson.JsonMethods

import org.apache.spark.sql.types.{DataType, StructType}

/** Per-file, per-column statistics recorded in the manifest at write
  * time — the Iceberg data-file stats (`lower_bounds` / `upper_bounds`
  * / `null_value_counts`) that make FILE skipping work on any column,
  * not just the partition value. Values are stored as strings in a
  * type-dependent canonical form (see [[FileStats]]): numerics render
  * decimally, timestamps as epoch micros (time-zone-free), dates as
  * `yyyy-MM-dd`, strings as themselves with `min` truncated to a
  * 64-char PREFIX (a prefix is still a valid lower bound) and `max`
  * dropped entirely when longer than 64 chars (`None` = unbounded —
  * never an invalid truncated upper bound). `min`/`max` are `None` when
  * every value in the file is NULL or the bound was dropped; pruning
  * treats a missing bound as ±∞.
  */
/** `ndv` is a base64 HLL sketch of the column's distinct values in
  * the file (see [[NdvSpec]]) — mergeable across files, so any file
  * subset's distinct count is a driver-side union.
  */
/** `sum` is the EXACT per-file column total as a decimal rendering —
  * recorded for integral and decimal columns only (float sums are
  * order-dependent, so no exact metadata answer exists for them) and
  * absent in manifests written before the field (callers refuse, never
  * guess). NULL when every value in the file is NULL, mirroring SQL
  * `SUM` semantics.
  */
final case class ColStats(min: Option[String], max: Option[String],
    nullCount: Long, bloom: Option[String] = None,
    ndv: Option[String] = None, sum: Option[String] = None)

/** One immutable data file referenced by a snapshot. `path` is relative
  * to the table root (the table directory is relocatable as a unit);
  * `partition` is the hidden-partition value the file belongs to
  * (`None` for unpartitioned tables AND for the null partition — rows
  * whose partition source column is NULL); `rows` is the file's row
  * count, collected at write time for compaction planning and commit
  * summaries; `stats` holds per-column bounds for stats-eligible
  * columns (empty for manifests written before the stats format — a
  * missing entry simply disables skipping for that file); `cols` is the
  * file's WRITE SCHEMA as ordered (column-name-as-written, field-id)
  * pairs — the Iceberg field-id indirection that makes column RENAME
  * and DROP metadata-only: the read path matches files to the current
  * schema by id, never by name (empty = legacy entry, names map
  * positionally to the snapshot schema). `stats` keys are write-time
  * names; pruning translates them through `cols`. `upd` marks the file
  * as holding UPDATE/MERGE-matched row images (Delta-CDF
  * `update_postimage` provenance, r18) — reads ignore it; only the
  * labeled change feed ([[SnapshotTable.changesCdf]]) consumes it.
  */
final case class DataFileEntry(path: String, partition: Option[String],
    rows: Long, stats: Map[String, ColStats] = Map.empty,
    cols: Seq[(String, Int)] = Seq.empty, seq: Long = 0L,
    nested: Seq[(String, Int)] = Seq.empty, bytes: Long = 0L,
    upd: Boolean = false)

/** One equality-delete file (merge-on-read — Iceberg v2 delete files):
  * a parquet file of DISTINCT key tuples whose matching data rows are
  * masked at READ time by the scan, so a point delete commits
  * O(deleted keys) bytes instead of rewriting data files. `cols` are
  * the key columns as (write-time name, field id) pairs — reads match
  * through the ids, so renames don't break pending deletes; `seq` is
  * the commit version that added the delete, and it applies only to
  * data files with a STRICTLY SMALLER `seq` (a later re-append of the
  * same key is not affected — Iceberg sequence-number semantics).
  * Compaction rewrites carry a fresh seq, which retires fully-applied
  * delete files (dropped once no data file predates them).
  */
final case class DeleteFileEntry(path: String, rows: Long,
    cols: Seq[(String, Int)], seq: Long)

/** One positional-delete-vector file (Iceberg v3 deletion vectors /
  * Delta DVs): a parquet file holding, per covered data file, a
  * serialized roaring bitmap of DELETED ROW ORDINALS within that file.
  * Deleting one row from a 1 GB data file commits a KB-sized vector
  * instead of rewriting the file — the 100 TB lever for UPDATE/MERGE-
  * heavy tables. `path` is the staged vector parquet (schema
  * `path string, dv binary, rows bigint` — one row per covered data
  * file); `rows` is the total deleted-position count; `dataPaths`
  * lists the covered data files' manifest paths so retirement never
  * opens the vector (an entry dies when NONE of its covered paths is
  * live — a rewrite gives survivors fresh paths, folding the vector
  * in); `seq` is the committing version (a data file re-staged later
  * carries a new path, so path-exact coverage already gives
  * sequence-number semantics; `seq` guards pathological path reuse).
  * Unlike equality deletes, vectors are position-based and therefore
  * column-independent: schema evolution never strands them. `op`
  * records WHY the positions died — `"delete"` (a DELETE or the
  * delete action of a MERGE) or `"update"` (positions superseded by
  * UPDATE/MERGE-matched row images) — every read path masks both
  * identically; only the labeled change feed distinguishes them
  * (`update_preimage` provenance, r18).
  */
final case class DvFileEntry(path: String, rows: Long,
    dataPaths: Seq[String], seq: Long, op: String = "delete")

/** One manifest file in a snapshot's manifest list: log-relative path
  * plus its entry count (recorded so list-bounding decisions never
  * need to open the manifest).
  */
final case class ManifestRef(path: String, fileCount: Int)

/** Hidden-partition spec, Iceberg-style (the reference's
  * `month(created_at)`, `/root/reference/src/jobs/job.py:125` +
  * `spark_utils.py:163`): the partition value is DERIVED from a source
  * data column at write time and recorded in the manifest per file — it
  * is never a data column, so the logical schema matches the
  * reference's Iceberg table exactly (closing SURVEY §7.0's visible
  * derived-column substitution for tables managed through this layer).
  *
  * Transforms: `month` (yyyy-MM of a timestamp column), `identity`,
  * and `bucket[N]` (seed-42 xxhash64 of the typed value mod N —
  * Iceberg's bucket transform; see [[SnapshotTable.readKeyIn]]).
  */
final case class PartitionSpec(source: String, transform: String) {
  require(transform == "month" || transform == "identity" ||
    transform.matches(raw"bucket\[[0-9]+\]"),
    s"unsupported partition transform: $transform")
}

/** One committed table version: the full file list plus the schema that
  * was current when it committed (so time travel reads old data with
  * its contemporary schema). `parent` forms the history chain;
  * `properties` are the reference's TBLPROPERTIES carried forward
  * (`vacuum_min_snapshots_to_keep` et al. are OPERATIONAL here — see
  * [[SnapshotTable.maintain]] — not inert like the Hive-catalog path).
  */
final case class Snapshot(
    version: Long,
    parent: Option[Long],
    operation: String,
    timestampMs: Long,
    schema: StructType,
    spec: Option[PartitionSpec],
    properties: Map[String, String],
    files: Seq[DataFileEntry],
    fieldIds: Seq[(String, Int)] = Seq.empty,
    nextFieldId: Int = 0,
    deleteFiles: Seq[DeleteFileEntry] = Seq.empty,
    specSince: Long = 0L,
    dvFiles: Seq[DvFileEntry] = Seq.empty,
    nestedIds: Seq[(String, Int)] = Seq.empty) {

  /** Distinct partition values present (None = null/unpartitioned). */
  def partitions: Seq[Option[String]] = files.map(_.partition).distinct

  /** Current (column name, stable field id) pairs, schema-ordered.
    * Field ids are the rename/drop indirection: a column keeps its id
    * across renames, and a DROPPED name re-added later gets a FRESH id,
    * so old files' same-named data never resurrects (Iceberg schema-
    * evolution semantics). Legacy manifests (no recorded ids) map
    * positionally.
    */
  def ids: Seq[(String, Int)] =
    if (fieldIds.nonEmpty || schema.isEmpty) fieldIds
    else schema.fieldNames.toIndexedSeq.zipWithIndex

  /** The next free field id (allocator is monotonic per table). */
  def nextIds: Int =
    math.max(nextFieldId, ids.map(_._2).foldLeft(-1)(math.max) + 1)

  /** Delete vectors indexed by covered data path — built lazily ONCE
    * per snapshot so per-file coverage lookups
    * ([[SnapshotTable.dvsOf]]) are O(vectors covering that file), not
    * O(all dvFiles). Split planning and TopN pruning call the lookup
    * per data file; without the index a steady-state MoR table pays
    * O(files × dvFiles) driver work per scan plan. Derived state —
    * excluded from case-class equality by construction (lazy val), and
    * transient because snapshots are driver-side planning objects.
    */
  @transient lazy val dvByPath: Map[String, Seq[DvFileEntry]] =
    if (dvFiles.isEmpty) Map.empty
    else dvFiles.flatMap(d => d.dataPaths.map(_ -> d))
      .groupBy(_._1).map { case (p, es) => p -> es.map(_._2) }

  /** Columnar per-file stats view ([[StatsIndex]]): primitive bound
    * arrays built lazily once per snapshot instance and reused by every
    * prune of it — the flat-array walk that keeps the 10⁶-file prune
    * from chasing a boxed stats Map per file (VERDICT r16 #4). Derived
    * state, same discipline as [[dvByPath]].
    */
  @transient lazy val statsIndex: StatsIndex = new StatsIndex(this)
}

/** A concurrent writer won the race for the version this commit was
  * based on, and the operation cannot be rebased safely (read-modify-
  * write ops like upsert validate against their read snapshot — the
  * caller must re-run on the new current state).
  */
class SnapshotConflictException(msg: String)
  extends RuntimeException(msg)

/** The partition spec evolved between staging and commit: the staged
  * files carry partition VALUES computed under the old spec, so the
  * write cannot rebase as-is — but it CAN restage under the current
  * spec and succeed, which the rebasable paths (append / overwrite /
  * overwritePartitions / stream append) do automatically (bounded
  * attempts). Read-modify-write paths still surface the conflict.
  */
final class SpecEvolvedException(msg: String)
  extends SnapshotConflictException(msg)

/** Version-file snapshot log — the atomic-commit primitive the
  * reference gets from Iceberg (`table_type=ICEBERG`,
  * `/root/reference/src/utils/spark/spark_utils.py:153-173`), rebuilt
  * on plain filesystem semantics in the style of Iceberg's Hadoop
  * tables: the log directory `<root>/_graft_log/` holds one JSON
  * snapshot per committed version (`snap-%011d.json`), and COMMITTING
  * version v+1 is a single create-exclusive of that one file. Readers
  * list the log directory and take the highest committed version;
  * writers that lose the create-exclusive race get a clean conflict
  * signal and rebase or abort.
  *
  * SHARDED METADATA (format v2 — Iceberg's manifest-list design): the
  * snapshot file no longer embeds the table's full file list. It holds
  * a MANIFEST LIST — relative paths of immutable per-commit manifest
  * files (`_graft_log/manifests/m-*.json`), each carrying the
  * [[DataFileEntry]]s one commit staged. A commit writes ONLY its own
  * batch's manifest (plus rewritten manifests whose members it
  * removed) and re-points at the parent's untouched manifests, so
  * commit I/O is O(batch), not O(table) — at 10⁵–10⁶ data files the
  * v1 whole-file-list rewrite is a multi-GB driver-side JSON per
  * commit, the one structural scale-killer of the inline design.
  * Bloom payloads (~8 KiB/file/column) are stripped out of manifests
  * into per-batch SIDECAR files (`_graft_log/blooms/bl-*.json`) and
  * referenced by `ref:` tokens, loaded lazily only when an equality
  * probe actually consults them — planning never pays their bytes.
  * The manifest-list length is bounded ([[SnapshotLog.MaxManifests]],
  * table property `graft.manifest.max`): when exceeded, the smallest
  * manifests fold into the commit's new manifest (amortized-bounded
  * manifest compaction, so reads never degrade to unbounded tiny-file
  * listings). Format-v1 snapshots (inline `files`) remain readable
  * forever — migration is on first commit, which simply finds no
  * parent manifests to reuse.
  *
  * Atomicity: on `file://` the create goes through NIO
  * `CREATE_NEW` (O_CREAT|O_EXCL — kernel-atomic); on HDFS,
  * `FileSystem.create(path, overwrite=false)` is atomic in the
  * NameNode. Object stores without atomic create-if-absent (plain S3)
  * need a catalog lock service for the pointer, exactly as Iceberg's
  * HadoopTables documentation states — the log format itself is
  * unchanged, only `tryCommit` would swap in a conditional-put.
  */
final class SnapshotLog(val root: Path, conf: Configuration) {

  private val fs: FileSystem = root.getFileSystem(conf)
  private val logDir = new Path(root, SnapshotLog.LogDirName)

  /** Manifest / sidecar content is immutable once written (uuid names,
    * never rewritten in place), so these caches are trivially coherent
    * for the life of the process; entries are small relative to the
    * data they describe (stats only — bloom payloads live in the
    * sidecar cache and are loaded per probe, not per plan).
    */
  private val manifestCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[DataFileEntry]]
  private val sidecarCache = scala.collection.concurrent.TrieMap
    .empty[String, Map[String, Map[String, String]]]

  /** Columnar stats indexes shared ACROSS snapshot reloads (SURVEY
    * §20.7 #1): [[Snapshot.statsIndex]] is lazy per INSTANCE, and every
    * `publishedSnapshot()` assembles a fresh instance — without this, a
    * many-queries-per-second planner over a 10⁵+-file table would
    * rebuild the primitive arrays per read. Version files are never
    * rewritten in place (same coherence argument as [[manifestCache]]);
    * the key carries an order-sensitive fingerprint of the FULL file
    * list (ADVICE r17: count + first path let a synthetic/reordered
    * same-version snapshot poach another's positional masks and
    * mis-prune), cheap because manifest entries are shared via
    * [[manifestCache]] and `String` caches its hashCode, plus the
    * schema and field ids the index resolves names through (a read
    * view of a version may render it under another snapshot's
    * columns). Eviction is
    * LRU (access-order `LinkedHashMap`), not clear-all — the
    * hot current-version index survives a burst of historical reads,
    * and the pinned count bounds driver memory with the oldest, not
    * the hottest, paying.
    */
  private val statsIndexCache =
    new java.util.LinkedHashMap[(Long, Int, Int), StatsIndex](
      32, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Long, Int, Int), StatsIndex]): Boolean =
        size() > 8
    }

  def statsIndexOf(s: Snapshot): StatsIndex = {
    val fp = scala.util.hashing.MurmurHash3.orderedHash(
      s.files.iterator.map(_.path.hashCode) ++
        Iterator(s.schema.hashCode, s.ids.hashCode))
    val key = (s.version, s.files.length, fp)
    val hit = statsIndexCache.synchronized(statsIndexCache.get(key))
    if (hit != null) hit
    else {
      val built = s.statsIndex // build outside the lock (can be seconds)
      statsIndexCache.synchronized {
        val raced = statsIndexCache.get(key)
        if (raced != null) raced
        else { statsIndexCache.put(key, built); built }
      }
    }
  }

  private def snapPath(v: Long): Path =
    new Path(logDir, f"snap-$v%011d.json")

  def exists(): Boolean = fs.exists(logDir)

  /** Highest committed version, or None for a not-yet-created table.
    * One directory listing — no pointer file to keep consistent, so a
    * crashed writer can never leave the pointer behind the log.
    */
  def currentVersion(): Option[Long] = {
    if (!fs.exists(logDir)) return None
    val vs = fs.listStatus(logDir).iterator.map(_.getPath.getName).collect {
      case SnapshotLog.SnapName(v) => v.toLong
    }.toSeq
    if (vs.isEmpty) None else Some(vs.max)
  }

  private def readBytes(p: Path): String = {
    val in = fs.open(p)
    val bytes =
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        out.toByteArray
      } finally in.close()
    new String(bytes, "UTF-8")
  }

  def read(version: Long): Snapshot = {
    val (snap, manifests) = SnapshotLog.fromJsonSharded(readBytes(snapPath(version)))
    if (manifests.isEmpty) snap // format v1: inline file list
    else snap.copy(files = loadManifests(manifests))
  }

  /** All shards of a manifest list, global file order preserved.
    * Shards parse in PARALLEL over driver cores (r17): json4s builds a
    * boxed AST per entry, so a 10⁶-entry list is seconds of
    * driver-side parse — write-time sharding caps the unit and this
    * fans the units out. Cache-hot shards skip the pool entirely.
    */
  private def loadManifests(manifests: Seq[ManifestRef]): Seq[DataFileEntry] = {
    val ms = manifests.toIndexedSeq
    // warm the cache in parallel for the missing shards (distinct —
    // TrieMap getOrElseUpdate is not compute-once, so duplicates would
    // parse the same shard twice), then assemble in list order
    val miss = ms.map(_.path).distinct
      .filter(p => !manifestCache.contains(p)).toIndexedSeq
    SnapshotLog.ioParallel(miss.length)(i => { loadManifest(miss(i)); () })
    ms.flatMap(m => loadManifest(m.path))
  }

  /** The manifest list of `version` — empty for format-v1 snapshots. */
  def manifestList(version: Long): Seq[ManifestRef] =
    SnapshotLog.fromJsonSharded(readBytes(snapPath(version)))._2

  /** Operation string of `version` WITHOUT loading its manifests — the
    * cheap classification read batch-planning wants (changelog range
    * splitting, [[SnapshotTable.changes]] fast-path election). None =
    * expired or unreadable, which callers treat as unclassifiable.
    */
  def operationOf(version: Long): Option[String] =
    scala.util.Try(
      SnapshotLog.fromJsonSharded(readBytes(snapPath(version)))._1.operation
    ).toOption

  /** Schema of `version` WITHOUT loading its manifests — the cheap
    * shape probe for callers that classify history without reading it.
    */
  def schemaOf(version: Long)
      : Option[org.apache.spark.sql.types.StructType] =
    scala.util.Try(
      SnapshotLog.fromJsonSharded(readBytes(snapPath(version)))._1.schema
    ).toOption

  /** One parse serving both halves: the resolved snapshot AND its
    * manifest list — maintenance passes ([[SnapshotTable
    * .expireSnapshots]] / `removeOrphanFiles`) need both per version
    * and should not read the snapshot file twice.
    */
  def readWithManifests(version: Long): (Snapshot, Seq[ManifestRef]) = {
    val (snap, manifests) =
      SnapshotLog.fromJsonSharded(readBytes(snapPath(version)))
    if (manifests.isEmpty) (snap, manifests)
    else (snap.copy(files = loadManifests(manifests)), manifests)
  }

  /** Entries of one immutable manifest file (cached). */
  def loadManifest(rel: String): Seq[DataFileEntry] =
    manifestCache.getOrElseUpdate(rel,
      SnapshotLog.manifestFromJson(readBytes(new Path(logDir, rel))))

  /** Distinct bloom-sidecar paths a manifest's entries reference. */
  def sidecarsOf(rel: String): Seq[String] =
    loadManifest(rel).flatMap(_.stats.valuesIterator
      .flatMap(_.bloom).filter(_.startsWith(SnapshotLog.RefPrefix))
      .map(t => t.stripPrefix(SnapshotLog.RefPrefix).takeWhile(_ != '#')))
      .distinct

  /** Resolve a `ref:<sidecar>#<writeCol>` bloom token to its base64
    * payload: lazy, cached, and conservative — any failure to load
    * yields None, which the pruner treats as "may contain" (keep the
    * file). `filePath` keys the sidecar's per-file map; the write-time
    * column name rides IN the token so probes keep working after a
    * rename re-keys the stats to current names.
    */
  def resolveBloom(token: String, filePath: String): Option[String] = {
    val body = token.stripPrefix(SnapshotLog.RefPrefix)
    val (rel, col) = body.span(_ != '#')
    if (col.isEmpty) return None
    scala.util.Try(sidecarCache.getOrElseUpdate(rel,
      SnapshotLog.sidecarFromJson(readBytes(new Path(logDir, rel)))))
      .toOption.flatMap(_.get(filePath)).flatMap(_.get(col.drop(1)))
  }

  def current(): Option[Snapshot] = currentVersion().map(read)

  /** All committed versions, ascending (expired ones are gone). */
  def versions(): Seq[Long] = {
    if (!fs.exists(logDir)) return Seq.empty
    fs.listStatus(logDir).iterator.map(_.getPath.getName).collect {
      case SnapshotLog.SnapName(v) => v.toLong
    }.toSeq.sorted
  }

  /** Atomically commit `s` as version `s.version`. Returns false when a
    * concurrent writer committed that version first (caller rebases);
    * write errors PROPAGATE (they are failures, not lost races).
    *
    * The manifest content is fully written to a temp file FIRST and
    * only then published under the version name, so a crash or write
    * error can never leave a partial `snap-*.json` as the highest
    * committed version (the log is never observed half-written):
    *   - local fs: `Files.createLink` — link(2) is kernel-atomic and
    *     fails with FileAlreadyExistsException when the loser of a race
    *     tries to publish (a plain rename would silently REPLACE the
    *     winner's manifest on POSIX);
    *   - HDFS: `fs.rename` — atomic in the NameNode, returns false when
    *     the target exists.
    * Routing is by the FILESYSTEM's scheme, not the path's: a
    * scheme-less root on a cluster with `fs.defaultFS=hdfs://…` must
    * commit through HDFS, not the driver's local disk. A crashed
    * writer can leave only an orphaned temp file (`.tmp-*`, never
    * matching the snapshot-name pattern), cleaned age-guarded by
    * `SnapshotTable.removeOrphanFiles`.
    */
  def tryCommit(s: Snapshot): Boolean = {
    if (!fs.exists(logDir)) fs.mkdirs(logDir)
    val target = snapPath(s.version)
    val json = shard(s).getBytes("UTF-8")
    if (fs.getScheme == "file") {
      val dirPath = Paths.get(fs.makeQualified(logDir).toUri.getPath)
      val tmp = Files.createTempFile(dirPath, s".tmp-${s.version}-", ".json")
      try {
        Files.write(tmp, json)
        try {
          Files.createLink(
            Paths.get(fs.makeQualified(target).toUri.getPath), tmp)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } finally { Files.deleteIfExists(tmp); () }
    } else {
      val tmp = new Path(logDir,
        s".tmp-${s.version}-${java.util.UUID.randomUUID().toString.take(8)}.json")
      val os = fs.create(tmp, false)
      try os.write(json) finally os.close()
      try {
        val published = fs.rename(tmp, target)
        if (!published) fs.delete(tmp, false)
        published
      } catch {
        case NonFatal(e) => fs.delete(tmp, false); throw e
      }
    }
  }

  /** Shard `s` for commit: reuse every parent manifest whose members
    * all survive unchanged in `s.files`, write ONE new manifest for the
    * remainder (the commit's batch), and strip that batch's inline
    * Bloom payloads into one sidecar. Returns the (small) snapshot
    * JSON; aux files are durably written before the caller publishes
    * the snapshot name, so a reader can never see a snapshot whose
    * manifests are missing. A lost commit race strands the aux files as
    * orphans (uuid names — never clobbered), cleaned age-guarded by
    * [[SnapshotTable.removeOrphanFiles]].
    */
  private def shard(s: Snapshot): String = {
    import scala.util.Try
    val parentMans = s.parent.toSeq
      .flatMap(v => Try(manifestList(v)).getOrElse(Nil))
    val byPath = s.files.iterator.map(f => f.path -> f).toMap
    val reusable = parentMans.filter(m =>
      Try(loadManifest(m.path)).toOption.exists(es =>
        es.nonEmpty && es.forall(e => byPath.get(e.path).contains(e))))
    val covered = reusable.iterator
      .flatMap(m => loadManifest(m.path).iterator.map(_.path)).toSet
    var newEntries = s.files.filterNot(f => covered.contains(f.path))
    var kept = reusable
    // bound the manifest list: fold the SMALLEST reused manifests into
    // this commit's new manifests (amortized manifest compaction — read
    // fan-out stays bounded without ever rewriting the whole table)
    val max = math.max(2, s.properties.get("graft.manifest.max")
      .flatMap(v => Try(v.toInt).toOption).getOrElse(SnapshotLog.MaxManifests))
    val shardRows = math.max(1, s.properties.get("graft.manifest.shard_rows")
      .flatMap(v => Try(v.toInt).toOption)
      .getOrElse(SnapshotLog.ManifestShardRows))
    // the batch writes ceil(n/shardRows) SHARDS, not one manifest —
    // the fold must budget the real count (folding grows the batch, so
    // the target recomputes as manifests fold in). Unsatisfiable only
    // past shardRows×max total entries; then everything folds and the
    // bound is best-effort.
    def shardsOf(n: Int): Int = if (n == 0) 0 else 1 + (n - 1) / shardRows
    if (kept.size + shardsOf(newEntries.size) > max) {
      val bySize = scala.collection.mutable.Queue(kept.sortBy(_.fileCount): _*)
      var keptN = kept.size
      var batchN = newEntries.size
      val folded = Set.newBuilder[String]
      while (bySize.nonEmpty && keptN + shardsOf(batchN) > max) {
        val m = bySize.dequeue()
        folded += m.path
        keptN -= 1
        batchN += m.fileCount
      }
      val fold = folded.result()
      if (fold.nonEmpty) {
        newEntries = newEntries ++ kept.filter(m => fold.contains(m.path))
          .flatMap(m => loadManifest(m.path))
        kept = kept.filterNot(m => fold.contains(m.path))
      }
    }
    val uuid = java.util.UUID.randomUUID().toString.replace("-", "").take(16)
    val inline = newEntries.flatMap(e => e.stats.toSeq.collect {
      case (c, st) if st.bloom.exists(!_.startsWith(SnapshotLog.RefPrefix)) =>
        (e.path, c, st.bloom.get)
    })
    val batch =
      if (inline.isEmpty) newEntries
      else {
        val sidecarRel = s"${SnapshotLog.BloomDirName}/bl-$uuid.json"
        val perFile = inline.groupBy(_._1).map { case (p, xs) =>
          p -> xs.map(x => x._2 -> x._3).toMap }
        writeAux(sidecarRel, SnapshotLog.sidecarToJson(perFile))
        sidecarCache.put(sidecarRel, perFile)
        newEntries.map(e => e.copy(stats = e.stats.map { case (c, st) =>
          c -> (st.bloom match {
            case Some(b) if !b.startsWith(SnapshotLog.RefPrefix) =>
              st.copy(bloom =
                Some(s"${SnapshotLog.RefPrefix}$sidecarRel#$c"))
            case _ => st
          })
        }))
      }
    // large batches split into FIXED-SIZE manifest shards (r17): one
    // mega-manifest made the table-load parse single-threaded (12-23 s
    // at 10⁶ entries) and any one-file change rewrote the whole list;
    // shards cap the parse unit (loaded in parallel — [[read]]) and a
    // later row-level commit rewrites only the touched shard while the
    // rest are reused verbatim (Iceberg's many-manifests posture).
    // shards render+write in parallel (json4s rendering is CPU-bound —
    // the commit's dominant cost at 10⁶ entries); the manifest-list
    // ORDER stays the deterministic grouped order regardless
    val groups = batch.grouped(shardRows).toIndexedSeq
    val newMans = new Array[ManifestRef](groups.length)
    val write: java.util.function.IntConsumer = { (i: Int) =>
      val grp = groups(i)
      val manRel = s"${SnapshotLog.ManifestDirName}/m-$uuid-$i.json"
      writeAux(manRel, SnapshotLog.manifestToJson(grp))
      manifestCache.put(manRel, grp)
      newMans(i) = ManifestRef(manRel, grp.size)
    }
    SnapshotLog.ioParallel(groups.length)(write.accept)
    val manifests = kept ++ newMans.toSeq
    SnapshotLog.toJsonSharded(s, manifests)
  }

  private def writeAux(rel: String, json: String): Unit = {
    val p = new Path(logDir, rel)
    if (!fs.exists(p.getParent)) fs.mkdirs(p.getParent)
    val os = fs.create(p, false)
    try os.write(json.getBytes("UTF-8")) finally os.close()
  }

  // ------------------------------------------------------------------
  // Refs (tags): named pointers to committed versions — Iceberg tag
  // semantics. One JSON file per ref under `_graft_log/refs/`; creating
  // a ref is create-exclusive (the same atomic primitive as commits),
  // so two writers cannot silently both "own" a tag name.
  // ------------------------------------------------------------------

  private def refPath(name: String): Path = {
    require(SnapshotLog.RefName.matches(name),
      s"ref name must match ${SnapshotLog.RefName}: '$name'")
    new Path(new Path(logDir, SnapshotLog.RefDirName), s"$name.json")
  }

  /** Create ref `name` → `version`. False ONLY when the name already
    * exists (caller decides whether that is an error or a retag-after-
    * drop); real write failures PROPAGATE. The content is fully staged
    * to a temp file and published atomically (hard-link on file://,
    * rename on HDFS — the same discipline as [[tryCommit]]), so a
    * crashed or failed tagger can never leave a truncated ref file
    * squatting the name.
    */
  def trySetRef(name: String, version: Long, createdMs: Long): Boolean = {
    val p = refPath(name)
    if (!fs.exists(p.getParent)) fs.mkdirs(p.getParent)
    if (fs.exists(p)) return false
    val json = JsonMethods.compact(JsonMethods.render(JObject(List(
      "version" -> (JLong(version): JValue),
      "createdMs" -> (JLong(createdMs): JValue))))).getBytes("UTF-8")
    if (fs.getScheme == "file") {
      val dirPath = Paths.get(fs.makeQualified(p.getParent).toUri.getPath)
      val tmp = Files.createTempFile(dirPath, s".tmp-ref-$name-", ".json")
      try {
        Files.write(tmp, json)
        try {
          Files.createLink(Paths.get(fs.makeQualified(p).toUri.getPath), tmp)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } finally { Files.deleteIfExists(tmp); () }
    } else {
      val tmp = new Path(p.getParent,
        s".tmp-ref-${java.util.UUID.randomUUID().toString.take(8)}.json")
      val os = fs.create(tmp, false)
      try os.write(json) finally os.close()
      try {
        val published = fs.rename(tmp, p)
        if (!published) fs.delete(tmp, false)
        published
      } catch {
        case NonFatal(e) => fs.delete(tmp, false); throw e
      }
    }
  }

  /** All refs: name → version. STRICT: an unreadable or unparseable ref
    * file throws instead of being skipped — [[SnapshotTable
    * .expireSnapshots]] derives its expiry-proof set from this map, and
    * failing open there would delete a tagged snapshot's data. Atomic
    * publication above means a truncated ref can only be a foreign
    * artifact, which deserves the loud failure.
    */
  def refs(): Map[String, Long] = {
    val dir = new Path(logDir, SnapshotLog.RefDirName)
    if (!fs.exists(dir)) return Map.empty
    fs.listStatus(dir).iterator.flatMap { st =>
      val n = st.getPath.getName
      if (!n.endsWith(".json") || n.startsWith(".tmp-")) None
      else Some(n.stripSuffix(".json") ->
        (JsonMethods.parse(readBytes(st.getPath)) \ "version" match {
          case JLong(l) => l
          case JInt(i) => i.toLong
          case other => sys.error(s"bad ref file $n: version = $other")
        }))
    }.toMap
  }

  def deleteRef(name: String): Boolean = fs.delete(refPath(name), false)

  /** Delete the snapshot file of an expired version (data files and
    * now-unreferenced manifests/sidecars are handled by
    * [[SnapshotTable.expireSnapshots]]).
    */
  def delete(version: Long): Unit = { fs.delete(snapPath(version), false); () }

  /** Delete an aux (manifest/sidecar) file by log-relative path. */
  def deleteAux(rel: String): Unit = {
    fs.delete(new Path(logDir, rel), false)
    manifestCache.remove(rel)
    sidecarCache.remove(rel)
    ()
  }

  /** Copy one immutable aux (manifest / Bloom sidecar) file from
    * another log of the SAME table into this one, if absent — how
    * [[SnapshotTable.fastForward]] ships a branch's sidecars so Bloom
    * pruning keeps working after the branch history lands on main.
    * Uuid-named and immutable, so an existing copy is already correct.
    */
  def copyAuxFrom(other: SnapshotLog, rel: String): Unit = {
    val dst = new Path(logDir, rel)
    val src = new Path(other.logDir, rel)
    if (!fs.exists(dst) && other.fs.exists(src))
      writeAux(rel, other.readBytes(src))
  }
}

object SnapshotLog {

  /** Dedicated bounded pool for BLOCKING manifest I/O (ADVICE r17):
    * shard parses at load and shard writes at commit used the JVM
    * common ForkJoinPool, which the CPU-bound StatsIndex build also
    * shares — a slow-I/O table load could starve concurrent planning
    * work driver-wide (and vice versa). Daemon threads, capped at
    * min(cores, 16): enough to saturate a filesystem, never enough to
    * oversubscribe the driver.
    */
  private lazy val ioPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(1, Runtime.getRuntime.availableProcessors())),
      (r: Runnable) => {
        val t = new Thread(r, "graft-manifest-io")
        t.setDaemon(true)
        t
      })

  /** Run `body(0..n-1)` on [[ioPool]], rethrowing the first failure
    * unwrapped. Falls back to inline execution when called FROM an
    * ioPool thread (nested fan-out must not deadlock a bounded pool).
    */
  private[catalog] def ioParallel(n: Int)(body: Int => Unit): Unit = {
    if (n <= 0) return
    if (n == 1 || Thread.currentThread().getName.startsWith("graft-manifest-io")) {
      (0 until n).foreach(body); return
    }
    val futs = (0 until n).map { i =>
      ioPool.submit(new Runnable { def run(): Unit = body(i) })
    }
    futs.foreach { f =>
      try f.get()
      catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      }
    }
  }

  val LogDirName = "_graft_log"
  val DataDirName = "data"
  val ManifestDirName = "manifests"
  val BloomDirName = "blooms"
  val RefDirName = "refs"

  /** Legal ref (tag) names: filesystem-safe, no path separators. */
  val RefName: scala.util.matching.Regex = "[A-Za-z0-9][A-Za-z0-9._-]{0,99}".r

  /** Prefix marking a ColStats.bloom value as a sidecar reference
    * (`ref:<log-relative sidecar path>#<write-time column name>`)
    * rather than an inline base64 payload.
    */
  val RefPrefix = "ref:"

  /** Default manifest-list length bound (override per table with the
    * `graft.manifest.max` property).
    */
  val MaxManifests = 100

  /** Default max entries per manifest SHARD (override per table with
    * the `graft.manifest.shard_rows` property): caps the JSON-parse
    * unit a table load pays (shards parse in parallel) and the rewrite
    * unit a row-level commit pays. 100k entries ≈ 17 MB ≈ ~1 s parse —
    * a 10⁶-file table loads as 10 parallel shards instead of one
    * 170 MB single-threaded parse. With [[MaxManifests]] = 100 the
    * soft ceiling is ~10⁷ files per table before fold pressure.
    */
  val ManifestShardRows = 100000

  private val SnapName = raw"snap-(\d+)\.json".r

  private def fileToJValue(f: DataFileEntry): JValue = {
    val base = List(
      "path" -> (JString(f.path): JValue),
      "partition" -> (f.partition.map(JString(_)).getOrElse(JNull): JValue),
      "rows" -> (JLong(f.rows): JValue)) ++
      // optional: legacy manifests (and entries from legacy writers)
      // simply omit it, readers fall back to a filesystem stat
      (if (f.bytes > 0) List("bytes" -> (JLong(f.bytes): JValue)) else Nil)
    val stats =
      if (f.stats.isEmpty) Nil
      else List("stats" -> (JObject(f.stats.toList.sortBy(_._1).map {
        case (c, st) => c -> (JObject(List(
          "min" -> (st.min.map(JString(_)).getOrElse(JNull): JValue),
          "max" -> (st.max.map(JString(_)).getOrElse(JNull): JValue),
          "nulls" -> (JLong(st.nullCount): JValue)) ++
          st.bloom.map(b => "bloom" -> (JString(b): JValue)).toList ++
          st.ndv.map(n => "ndv" -> (JString(n): JValue)).toList ++
          st.sum.map(s => "sum" -> (JString(s): JValue)).toList): JValue)
      }): JValue))
    val cols =
      if (f.cols.isEmpty) Nil
      else List("cols" -> (JArray(f.cols.toList.map { case (n, id) =>
        JArray(List(JString(n), JInt(id))) }): JValue))
    val seq =
      if (f.seq == 0L) Nil // legacy-compatible: 0 is the default
      else List("seq" -> (JLong(f.seq): JValue))
    // nested struct-field write ids ("<parentFieldId>.<writeName>" ->
    // id), omitted when the file has no tracked struct fields
    val nested =
      if (f.nested.isEmpty) Nil
      else List("nested" -> (JArray(f.nested.toList.map { case (n, id) =>
        JArray(List(JString(n), JInt(id))) }): JValue))
    // omitted when false (the legacy value), so pre-CDF manifests and
    // fixtures stay byte-stable
    val upd =
      if (!f.upd) Nil
      else List("upd" -> (JBool(true): JValue))
    JObject(base ++ stats ++ cols ++ seq ++ nested ++ upd)
  }

  private def deleteFileToJValue(d: DeleteFileEntry): JValue =
    JObject(List(
      "path" -> (JString(d.path): JValue),
      "rows" -> (JLong(d.rows): JValue),
      "cols" -> (JArray(d.cols.toList.map { case (n, id) =>
        JArray(List(JString(n), JInt(id))) }): JValue),
      "seq" -> (JLong(d.seq): JValue)))

  private def deleteFilesJson(s: Snapshot): List[(String, JValue)] =
    if (s.deleteFiles.isEmpty) Nil
    else List("deleteFiles" ->
      (JArray(s.deleteFiles.toList.map(deleteFileToJValue)): JValue))

  // omitted when empty, so pre-DV logs and fixtures stay byte-stable
  private def dvFilesJson(s: Snapshot): List[(String, JValue)] =
    if (s.dvFiles.isEmpty) Nil
    else {
      def one(d: DvFileEntry): JValue = JObject(List(
        "path" -> (JString(d.path): JValue),
        "rows" -> (JLong(d.rows): JValue),
        "dataPaths" -> (JArray(d.dataPaths.toList.map(JString(_))): JValue),
        "seq" -> (JLong(d.seq): JValue)) ++
        // omitted for "delete" (the legacy value) — pre-CDF logs stable
        (if (d.op == "delete") Nil
         else List("op" -> (JString(d.op): JValue))))
      List("dvFiles" -> (JArray(s.dvFiles.toList.map(one)): JValue))
    }

  // omitted when empty, so pre-nested logs and fixtures stay byte-stable
  private def nestedIdsJson(s: Snapshot): List[(String, JValue)] =
    if (s.nestedIds.isEmpty) Nil
    else List("nestedIds" -> (JArray(s.nestedIds.toList.map {
      case (n, id) => JArray(List(JString(n), JInt(id))) }): JValue))

  private def dvFilesFromJValue(v: JValue): Seq[DvFileEntry] = v match {
    case JArray(items) => items.map(d => DvFileEntry(
      jStr(d \ "path"), jLng(d \ "rows"),
      (d \ "dataPaths") match {
        case JArray(ps) => ps.map(jStr)
        case _ => Seq.empty
      }, jLng(d \ "seq"), jOptStr(d \ "op").getOrElse("delete")))
    case _ => Seq.empty
  }

  // omitted when 0 (the legacy value), so pre-evolution logs and
  // fixtures stay byte-stable
  private def specSinceJson(s: Snapshot): List[(String, JValue)] =
    if (s.specSince == 0L) Nil
    else List("specSince" -> (JLong(s.specSince): JValue))

  /** Manifest codec — json4s AST in/out (jackson backend from Spark's
    * own jars), schema embedded as Spark's canonical `StructType.json`.
    * Manual field extraction: no reflective `Extraction` (fragile
    * across json4s versions), every field explicit.
    */
  def toJson(s: Snapshot): String = {
    val files = JArray(s.files.toList.map(fileToJValue))
    val spec = s.spec match {
      case Some(p) => JObject(List("source" -> JString(p.source),
        "transform" -> JString(p.transform)))
      case None => JNull
    }
    val obj = JObject(List(
      "formatVersion" -> JInt(1),
      "version" -> JLong(s.version),
      "parent" -> s.parent.map(JLong(_)).getOrElse(JNull),
      "operation" -> JString(s.operation),
      "timestampMs" -> JLong(s.timestampMs),
      "schema" -> JString(s.schema.json),
      "partitionSpec" -> spec,
      "properties" -> JObject(s.properties.toList.map {
        case (k, v) => k -> (JString(v): JValue)
      }),
      "fieldIds" -> JArray(s.fieldIds.toList.map { case (n, id) =>
        JArray(List(JString(n), JInt(id))) }),
      "nextFieldId" -> JInt(s.nextFieldId),
      "files" -> files) ++ deleteFilesJson(s) ++ specSinceJson(s) ++
      dvFilesJson(s) ++ nestedIdsJson(s))
    JsonMethods.compact(JsonMethods.render(obj))
  }

  private def jStr(v: JValue): String = v match {
    case JString(s) => s
    case other => sys.error(s"expected string, got $other")
  }

  private def jLng(v: JValue): Long = v match {
    case JLong(l) => l
    case JInt(i) => i.toLong
    case other => sys.error(s"expected long, got $other")
  }

  private def jOptLong(v: JValue): Option[Long] = v match {
    case JNull | JNothing => None
    case other => Some(jLng(other))
  }

  private def jOptStr(v: JValue): Option[String] = v match {
    case JNull | JNothing => None
    case other => Some(jStr(other))
  }

  private def jPairs(v: JValue): Seq[(String, Int)] = v match {
    case JArray(items) => items.map {
      case JArray(List(n, id)) => (jStr(n), jLng(id).toInt)
      case other => sys.error(s"expected [name, id] pair, got $other")
    }
    case _ => Seq.empty
  }

  private def fileFromJValue(f: JValue): DataFileEntry = {
    val stats = (f \ "stats") match {
      case JObject(kvs) => kvs.map { case (c, st) =>
        c -> ColStats(jOptStr(st \ "min"), jOptStr(st \ "max"),
          jLng(st \ "nulls"), jOptStr(st \ "bloom"), jOptStr(st \ "ndv"),
          jOptStr(st \ "sum"))
      }.toMap
      case _ => Map.empty[String, ColStats]
    }
    DataFileEntry(jStr(f \ "path"), jOptStr(f \ "partition"),
      jLng(f \ "rows"), stats, jPairs(f \ "cols"),
      jOptLong(f \ "seq").getOrElse(0L), jPairs(f \ "nested"),
      jOptLong(f \ "bytes").getOrElse(0L),
      (f \ "upd") match { case JBool(b) => b; case _ => false })
  }

  private def deleteFilesFromJValue(v: JValue): Seq[DeleteFileEntry] =
    v match {
      case JArray(items) => items.map(d => DeleteFileEntry(
        jStr(d \ "path"), jLng(d \ "rows"), jPairs(d \ "cols"),
        jLng(d \ "seq")))
      case _ => Seq.empty
    }

  def fromJson(json: String): Snapshot = fromJsonSharded(json)._1

  /** Parse a snapshot of EITHER format: v1 yields inline files and an
    * empty manifest list; v2 yields an empty file list plus the
    * manifest refs for the caller to load.
    */
  def fromJsonSharded(json: String): (Snapshot, Seq[ManifestRef]) = {
    val j = JsonMethods.parse(json)
    def field(name: String): JValue = j \ name
    val spec = field("partitionSpec") match {
      case JNull | JNothing => None
      case o => Some(PartitionSpec(jStr(o \ "source"), jStr(o \ "transform")))
    }
    val props = field("properties") match {
      case JObject(kvs) => kvs.map { case (k, v) => k -> jStr(v) }.toMap
      case _ => Map.empty[String, String]
    }
    val files = field("files") match {
      case JArray(items) => items.map(fileFromJValue)
      case _ => Seq.empty
    }
    val manifests = field("manifests") match {
      case JArray(items) => items.map(m =>
        ManifestRef(jStr(m \ "path"), jLng(m \ "fileCount").toInt))
      case _ => Seq.empty
    }
    val snap = Snapshot(
      version = jLng(field("version")),
      parent = jOptLong(field("parent")),
      operation = jStr(field("operation")),
      timestampMs = jLng(field("timestampMs")),
      schema = DataType.fromJson(jStr(field("schema"))).asInstanceOf[StructType],
      spec = spec,
      properties = props,
      files = files,
      fieldIds = jPairs(field("fieldIds")),
      nextFieldId = field("nextFieldId") match {
        case JNull | JNothing => 0
        case v => jLng(v).toInt
      },
      deleteFiles = deleteFilesFromJValue(field("deleteFiles")),
      specSince = jOptLong(field("specSince")).getOrElse(0L),
      dvFiles = dvFilesFromJValue(field("dvFiles")),
      nestedIds = jPairs(field("nestedIds")))
    (snap, manifests)
  }

  /** Format-v2 snapshot: the file list is replaced by a manifest list;
    * everything else matches v1 field-for-field.
    */
  def toJsonSharded(s: Snapshot, manifests: Seq[ManifestRef]): String = {
    val spec = s.spec match {
      case Some(p) => JObject(List("source" -> JString(p.source),
        "transform" -> JString(p.transform)))
      case None => JNull
    }
    val obj = JObject(List(
      "formatVersion" -> JInt(2),
      "version" -> JLong(s.version),
      "parent" -> s.parent.map(JLong(_)).getOrElse(JNull),
      "operation" -> JString(s.operation),
      "timestampMs" -> JLong(s.timestampMs),
      "schema" -> JString(s.schema.json),
      "partitionSpec" -> spec,
      "properties" -> JObject(s.properties.toList.map {
        case (k, v) => k -> (JString(v): JValue)
      }),
      "fieldIds" -> JArray(s.fieldIds.toList.map { case (n, id) =>
        JArray(List(JString(n), JInt(id))) }),
      "nextFieldId" -> JInt(s.nextFieldId),
      // delete files stay INLINE in the snapshot (not sharded into
      // manifests): the live set is small by design — compaction
      // retires fully-applied entries — and reads need them up front
      "manifests" -> JArray(manifests.toList.map(m => JObject(List(
        "path" -> (JString(m.path): JValue),
        "fileCount" -> (JInt(m.fileCount): JValue))))))
      ++ deleteFilesJson(s) ++ specSinceJson(s) ++ dvFilesJson(s)
      ++ nestedIdsJson(s))
    JsonMethods.compact(JsonMethods.render(obj))
  }

  /** Manifest shard serialization — a STREAMING writer, not the
    * json4s AST (VERDICT r18 #5 / SURVEY §20.7 #3): at 10⁷ files the
    * commit's dominant cost was building millions of boxed JValue
    * nodes per shard before rendering them; appending fields straight
    * into one StringBuilder per shard cuts the constant several-fold
    * while producing BYTE-IDENTICAL output (same field order, same
    * omit-defaults, jackson-compatible string escaping — the parity
    * spec compares against [[manifestToJsonAst]] character-for-
    * character, and existing read-back specs parse it with the
    * unchanged [[manifestFromJson]]).
    */
  def manifestToJson(entries: Seq[DataFileEntry]): String = {
    val sb = new java.lang.StringBuilder(
      math.min(Int.MaxValue.toLong, 64L + entries.size.toLong * 160L).toInt)
    sb.append("{\"formatVersion\":1,\"files\":[")
    var i = 0
    while (i < entries.size) {
      if (i > 0) sb.append(',')
      appendFileJson(sb, entries(i))
      i += 1
    }
    sb.append("]}")
    sb.toString
  }

  /** The pre-streaming json4s formulation, kept as the executable
    * REFERENCE the byte-parity spec pins [[manifestToJson]] against.
    */
  private[graft] def manifestToJsonAst(entries: Seq[DataFileEntry]): String =
    JsonMethods.compact(JsonMethods.render(JObject(List(
      "formatVersion" -> JInt(1),
      "files" -> JArray(entries.toList.map(fileToJValue))))))

  /** Jackson-compatible JSON string escaping (what json4s's compact
    * rendering emits): named escapes, uppercase-hex \u00XX for other
    * control chars, nothing else touched.
    */
  private def appendEscaped(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case _ if c < ' ' =>
          sb.append("\\u00")
          sb.append("0123456789ABCDEF".charAt((c >> 4) & 0xF))
          sb.append("0123456789ABCDEF".charAt(c & 0xF))
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  private def appendPairs(sb: java.lang.StringBuilder,
      pairs: Seq[(String, Int)]): Unit = {
    sb.append('[')
    var i = 0
    while (i < pairs.size) {
      if (i > 0) sb.append(',')
      val (n, id) = pairs(i)
      sb.append('[')
      appendEscaped(sb, n)
      sb.append(',').append(id).append(']')
      i += 1
    }
    sb.append(']')
  }

  /** One file entry, field-for-field the shape [[fileToJValue]]
    * produces (optional fields omitted at their defaults, stats
    * columns sorted by name).
    */
  private def appendFileJson(sb: java.lang.StringBuilder,
      f: DataFileEntry): Unit = {
    sb.append("{\"path\":")
    appendEscaped(sb, f.path)
    sb.append(",\"partition\":")
    f.partition match {
      case Some(p) => appendEscaped(sb, p)
      case None => sb.append("null")
    }
    sb.append(",\"rows\":").append(f.rows)
    if (f.bytes > 0) sb.append(",\"bytes\":").append(f.bytes)
    if (f.stats.nonEmpty) {
      sb.append(",\"stats\":{")
      val cols = f.stats.toIndexedSeq.sortBy(_._1)
      var i = 0
      while (i < cols.size) {
        if (i > 0) sb.append(',')
        val (c, st) = cols(i)
        appendEscaped(sb, c)
        sb.append(":{\"min\":")
        st.min match {
          case Some(v) => appendEscaped(sb, v); case None => sb.append("null")
        }
        sb.append(",\"max\":")
        st.max match {
          case Some(v) => appendEscaped(sb, v); case None => sb.append("null")
        }
        sb.append(",\"nulls\":").append(st.nullCount)
        st.bloom.foreach { b => sb.append(",\"bloom\":"); appendEscaped(sb, b) }
        st.ndv.foreach { n => sb.append(",\"ndv\":"); appendEscaped(sb, n) }
        st.sum.foreach { s => sb.append(",\"sum\":"); appendEscaped(sb, s) }
        sb.append('}')
        i += 1
      }
      sb.append('}')
    }
    if (f.cols.nonEmpty) { sb.append(",\"cols\":"); appendPairs(sb, f.cols) }
    if (f.seq != 0L) sb.append(",\"seq\":").append(f.seq)
    if (f.nested.nonEmpty) {
      sb.append(",\"nested\":"); appendPairs(sb, f.nested)
    }
    if (f.upd) sb.append(",\"upd\":true")
    sb.append('}')
  }

  /** Manifest shard parse — jackson STREAMING tokens straight into
    * [[DataFileEntry]]s, the read-side twin of the streaming writer:
    * at 10⁷ files table load was dominated by materializing the
    * json4s AST per shard before extraction. Field-order agnostic
    * (any writer ordering parses), unknown fields skipped — the same
    * tolerance the AST reference has. Parity spec compares both
    * parsers entry-for-entry over the full optional-field matrix.
    */
  def manifestFromJson(json: String): Seq[DataFileEntry] = {
    import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
    val p = jsonFactory.createParser(json)
    try {
      def bad(msg: String): Nothing =
        sys.error(s"manifest parse: $msg at ${p.currentLocation()}")
      def optText(): Option[String] =
        if (p.nextToken() == JsonToken.VALUE_NULL) None else Some(p.getText)
      def pairs(): Seq[(String, Int)] = {
        if (p.nextToken() != JsonToken.START_ARRAY) bad("expected pairs array")
        val b = Seq.newBuilder[(String, Int)]
        while (p.nextToken() == JsonToken.START_ARRAY) {
          p.nextToken(); val n = p.getText
          p.nextToken(); val id = p.getIntValue
          if (p.nextToken() != JsonToken.END_ARRAY) bad("pair arity != 2")
          b += (n -> id)
        }
        b.result()
      }
      def colStats(): ColStats = {
        var min, max, bloom, ndv, sum: Option[String] = None
        var nulls = 0L
        if (p.currentToken() != JsonToken.START_OBJECT) bad("expected stats object")
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          p.currentName match {
            case "min"   => min = optText()
            case "max"   => max = optText()
            case "nulls" => p.nextToken(); nulls = p.getLongValue
            case "bloom" => bloom = optText()
            case "ndv"   => ndv = optText()
            case "sum"   => sum = optText()
            case _ => p.nextToken(); p.skipChildren()
          }
        }
        ColStats(min, max, nulls, bloom, ndv, sum)
      }
      def file(): DataFileEntry = {
        var path: String = null
        var partition: Option[String] = None
        var rows = 0L; var bytes = 0L; var seq = 0L; var upd = false
        var stats = Map.empty[String, ColStats]
        var cols, nested = Seq.empty[(String, Int)]
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          p.currentName match {
            case "path" => p.nextToken(); path = p.getText
            case "partition" => partition = optText()
            case "rows"  => p.nextToken(); rows = p.getLongValue
            case "bytes" => p.nextToken(); bytes = p.getLongValue
            case "seq"   => p.nextToken(); seq = p.getLongValue
            case "upd"   => p.nextToken(); upd = p.getBooleanValue
            case "cols"  => cols = pairs()
            case "nested" => nested = pairs()
            case "stats" =>
              if (p.nextToken() != JsonToken.START_OBJECT) bad("expected stats map")
              val b = Map.newBuilder[String, ColStats]
              while (p.nextToken() == JsonToken.FIELD_NAME) {
                val c = p.currentName
                p.nextToken()
                b += (c -> colStats())
              }
              stats = b.result()
            case _ => p.nextToken(); p.skipChildren()
          }
        }
        if (path == null) bad("file entry without path")
        DataFileEntry(path, partition, rows, stats, cols, seq, nested,
          bytes, upd)
      }
      if (p.nextToken() != JsonToken.START_OBJECT) bad("expected object")
      var files: Seq[DataFileEntry] = null
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        p.currentName match {
          case "files" =>
            if (p.nextToken() != JsonToken.START_ARRAY) bad("expected files array")
            val b = Vector.newBuilder[DataFileEntry]
            while (p.nextToken() == JsonToken.START_OBJECT) b += file()
            files = b.result()
          case _ => p.nextToken(); p.skipChildren()
        }
      }
      if (files == null) sys.error("manifest without files array")
      files
    } finally p.close()
  }

  private val jsonFactory = new com.fasterxml.jackson.core.JsonFactory()

  /** The pre-streaming json4s parse, kept as the executable REFERENCE
    * the parser-parity spec pins [[manifestFromJson]] against.
    */
  private[graft] def manifestFromJsonAst(json: String): Seq[DataFileEntry] =
    (JsonMethods.parse(json) \ "files") match {
      case JArray(items) => items.map(fileFromJValue)
      case other => sys.error(s"manifest without files array: $other")
    }

  /** Sidecar codec: file path → write-time column name → base64. */
  def sidecarToJson(blooms: Map[String, Map[String, String]]): String =
    JsonMethods.compact(JsonMethods.render(JObject(List(
      "formatVersion" -> JInt(1),
      "blooms" -> JObject(blooms.toList.sortBy(_._1).map { case (p, cols) =>
        p -> (JObject(cols.toList.sortBy(_._1).map { case (c, b) =>
          c -> (JString(b): JValue) }): JValue)
      })))))

  def sidecarFromJson(json: String): Map[String, Map[String, String]] =
    (JsonMethods.parse(json) \ "blooms") match {
      case JObject(kvs) => kvs.map { case (p, cols) =>
        p -> (cols match {
          case JObject(cs) => cs.map { case (c, b) => c -> jStr(b) }.toMap
          case other => sys.error(s"expected bloom object, got $other")
        })
      }.toMap
      case other => sys.error(s"sidecar without blooms object: $other")
    }
}
