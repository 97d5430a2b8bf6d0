package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.{GraftChangesV2Table, GraftMetadataV2Table, GraftV2Table, SnapshotTable}

/** Spark SQL data source for [[graft.catalog.SnapshotTable]] — the
  * integration that makes the snapshot layer consumable WITHOUT the
  * Scala API or a catalog, exactly how a SQL-only user reaches a
  * path-based Iceberg table:
  *
  * {{{
  *   spark.read.format("graft").load("/warehouse/events")
  *   spark.read.format("graft")
  *     .option("versionAsOf", 3).load("/warehouse/events")   // time travel
  *   spark.read.format("graft")
  *     .option("tag", "corpus-v1.0").load("/warehouse/events")
  *
  *   CREATE TEMPORARY VIEW events_snap
  *   USING graft OPTIONS (path '/warehouse/events')
  * }}}
  *
  * Batch reads are DSv2: [[getTable]] maps the path options onto the
  * tables the catalog serves — [[GraftV2Table]] for the table, a pin
  * or a branch, [[GraftChangesV2Table]] for a changes window,
  * [[GraftMetadataV2Table]] for `metadata` — so a path read prunes,
  * sizes, plans and guards schema drift exactly like `graft.db.t`.
  * Those tables advertise neither batch writes nor streaming, so Spark
  * takes this provider's V1 paths for the rest: `write...save` (which
  * also creates a missing table), `readStream` (the changelog stream)
  * and `writeStream` (the exactly-once sink).
  */
final class GraftDataSource extends TableProvider
    with CreatableRelationProvider with DataSourceRegister
    with StreamSourceProvider with StreamSinkProvider {

  override def shortName(): String = "graft"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      sys.error("the graft data source requires a path: " +
        ".load(root) / .save(root) or OPTIONS (path '...')"))

  /** Spark asks this before every [[getTable]] only to hand the answer
    * back; the table derives its schema from the snapshot log itself.
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = null

  /** Path options → the table that serves them. Spark calls this for
    * stream reads and saves as well, so nothing here may refuse what
    * only a batch read rejects: a missing table (a save creates it) or
    * a changes window with one bound (a stream has no end) resolve to
    * an [[Unreadable]] table, which fails only when read in batch.
    */
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    def opt(key: String): Option[String] = Option(options.get(key))
    val path = pathOf(options.asScala.toMap)
    val spark = SparkSession.active
    if (!SnapshotTable.exists(spark, path))
      return new Unreadable(path, s"no graft table at $path")
    val table = SnapshotTable.load(spark, path)
    // metadata tables (Iceberg `table.files` / `partitions` / `history`
    // / `refs`): OPTIONS (path '…', metadata 'partitions') reads the
    // manifest-derived introspection DataFrames — SQL-only users get
    // the same ops views the Scala API exposes, zero data-file I/O
    opt("metadata").foreach { kind =>
      // CaseInsensitiveStringMap keys are lower-case
      require(options.keySet.asScala.forall(Set("path", "metadata", "paths")),
        "metadata tables take no other options (they describe the " +
          "CURRENT snapshot; time travel does not apply)")
      return new GraftMetadataV2Table(table, path, kind.toLowerCase)
    }
    val pins = Seq("versionAsOf", "tag", "timestampAsOf")
    // CDC changelog surface: changesFrom/changesTo expose
    // SnapshotTable.changes(from, to) to SQL-only consumers; bounds as
    // in GraftV2Table.changesBound
    def bounded(key: String): Boolean =
      options.containsKey(key) || options.containsKey(key + "Timestamp")
    (bounded("changesFrom"), bounded("changesTo")) match {
      case (true, true) =>
        require(pins.forall(k => !options.containsKey(k)),
          "changesFrom/changesTo cannot combine with versionAsOf/tag/timestampAsOf")
        def bound(key: String) =
          GraftV2Table.changesBound(table, options, key).get
        return new GraftChangesV2Table(table, path,
          Some((bound("changesFrom"), bound("changesTo"))))
      case (false, false) => ()
      // a stream read names only changesFrom; its V1 source resolves it
      case _ => return new Unreadable(path,
        "pass BOTH changesFrom and changesTo (or neither)")
    }
    val version = opt("versionAsOf").map { v =>
      v.toLongOption.getOrElse(
        sys.error(s"versionAsOf must be a version number, got '$v'"))
    }
    // timestampAsOf: the latest snapshot committed at or before it
    // (readAsOf semantics)
    val ts = opt("timestampAsOf").map(GraftV2Table.epochMillis("timestampAsOf", _))
    require(pins.count(options.containsKey) <= 1,
      "pass at most one of versionAsOf, tag, timestampAsOf")
    // branch 'name': the view IS the branch — reads see the branch
    // head, INSERT/DML through the view land on the branch line
    val branch = opt("branch")
    require(branch.isEmpty || pins.forall(k => !options.containsKey(k)),
      "branch cannot combine with versionAsOf/tag/timestampAsOf " +
        "(time travel WITHIN a branch: read the branch handle's history)")
    val pinned = (opt("tag"), ts) match {
      case (Some(t), _) => Some(table.tags().getOrElse(t,
        sys.error(s"no tag '$t' at $path; tags: ${table.tags().keys.mkString(", ")}")))
      case (None, Some(ms)) => Some(table.versionAsOf(ms))
      case _ => version
    }
    new GraftV2Table(branch.map(table.branch).getOrElse(table), path, pinned,
      streaming = false)
  }

  /** Write side: `df.write.format("graft").mode(...).save(root)`.
    * Append and Overwrite map to the table's atomic commits (schema
    * evolution applies); a missing table is created first, with an
    * optional hidden-partition spec from `partition` — `'month(ts)'`
    * or `'identity(col)'` — honored only at creation.
    * ErrorIfExists/Ignore follow their SaveMode contracts against
    * table EXISTENCE. The returned relation only carries the written
    * table's schema: reads go through [[getTable]].
    */
  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode._
    val ctx = sqlContext
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    // branch 'name' on the WRITE side too: the commit lands on the
    // branch line (a silently-ignored option here would publish
    // staged-for-review data straight to main readers)
    val branch = parameters.get("branch")
    val exists = SnapshotTable.exists(spark, path)
    require(branch.isEmpty || exists,
      s"cannot write to branch '${branch.getOrElse("")}' of a table " +
        s"that does not exist yet at $path — create the table and the " +
        "branch first")
    if (exists && mode == ErrorIfExists)
      sys.error(s"graft table already exists at $path (SaveMode.ErrorIfExists)")
    val table =
      if (!exists) SnapshotTable.create(spark, path, data.schema,
        spec = parameters.get("partition").map(parseSpec))
      else {
        val base = SnapshotTable.load(spark, path)
        branch.map(base.branch).getOrElse(base)
      }
    mode match {
      case Overwrite => table.overwrite(data)
      case _ if !exists => table.append(data) // fresh table: content
      case Append => table.append(data)
      case _ => () // Ignore on an existing table: no write
    }
    new BaseRelation {
      override val sqlContext: SQLContext = ctx
      override val schema: StructType = table.schemaAt(None)
    }
  }

  /** Streaming read: `spark.readStream.format("graft")
    * .option("changesFrom", v).load(root)` — the CDC changelog as a
    * micro-batch stream, one offset per table version
    * ([[graft.streaming.GraftChangesSource]]). `changesFrom` omitted =
    * stream only commits after the query starts.
    */
  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "the graft streaming source derives its schema from the table — " +
        "drop .schema(...)")
    val table = SnapshotTable.load(sqlContext.sparkSession, pathOf(parameters))
    (shortName(),
      graft.streaming.GraftChangesSource.changeSchema(table.schemaAt(None)))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    // version number or tag name — a stream resuming "since the tagged
    // corpus vintage" is the natural consumer shape; the timestamp
    // variant resolves via readAsOf semantics
    val from = GraftV2Table.changesBound(
      SnapshotTable.load(sqlContext.sparkSession, pathOf(parameters)),
      new CaseInsensitiveStringMap(parameters.asJava), "changesFrom")
    require(!parameters.contains("changesto"),
      "a streaming changelog read is unbounded — changesTo only applies " +
        "to batch reads (spark.read)")
    new graft.streaming.GraftChangesSource(sqlContext, pathOf(parameters),
      from, metadataPath, GraftV2Table.positiveOption(
        "maxVersionsPerTrigger", parameters.get("maxversionspertrigger")))
  }

  /** `writeStream.format("graft").start(root)` — exactly-once append
    * into an existing snapshot table (batch id recorded in the commit;
    * replays skip), or keyed CDC upsert with `.option("keys",
    * "k1,k2")` + `outputMode("update")`, routed MoR/COW by the table's
    * `graft.merge.mode`. Partitioning comes from the table's own spec.
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "the graft sink takes partitioning from the table's own spec — " +
        "drop partitionBy(...)")
    val keys = parameters.get("keys").map(
      _.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    require(keys.forall(_.nonEmpty), "keys must name at least one column")
    import org.apache.spark.sql.streaming.OutputMode
    if (outputMode == OutputMode.Complete()) sys.error(
      "the graft sink does not support Complete mode — a snapshot " +
        "table is the accumulated state; use Append or keyed Update")
    if (outputMode == OutputMode.Update() && keys.isEmpty) sys.error(
      "Update mode needs .option(\"keys\", ...) — without keys an " +
        "updated row cannot replace its previous image")
    // the converse too (ADVICE r14, low): keys under Append would
    // silently switch the sink to keyed upsert — dropping Append's
    // batch-id exactly-once dedup and its append-only contract — for
    // a user who set keys but forgot outputMode("update"). Refuse.
    if (outputMode != OutputMode.Update() && keys.nonEmpty) sys.error(
      "the keys option is a keyed-upsert contract and is only honored " +
        "in Update mode — add .outputMode(\"update\") or drop " +
        ".option(\"keys\", ...)")
    // the table must exist: schema/spec/properties govern the write
    SnapshotTable.load(sqlContext.sparkSession, pathOf(parameters))
    new graft.streaming.GraftSink(pathOf(parameters), keys)
  }

  /** `month(col)` / `identity(col)` / `bucket(N, col)` / bare `col`
    * (= identity). The bare form refuses parentheses so a malformed
    * transform (unclosed paren, stray text) fails HERE with the real
    * problem rather than creating a table partitioned on a garbage
    * column name.
    */
  private def parseSpec(s: String): graft.catalog.PartitionSpec = {
    val Xform = raw"(\w+)\(([^)]+)\)".r
    val BucketArgs = raw"\s*(\d+)\s*,\s*([^,\s]+)\s*".r
    s.trim match {
      case Xform("bucket", args) => args match {
        case BucketArgs(n, c) =>
          require(n.toLong >= 1, s"bucket count must be >= 1, got $n")
          graft.catalog.PartitionSpec(c, s"bucket[$n]")
        case other => sys.error(s"unparseable bucket transform args " +
          s"'$other' (expected 'bucket(N, col)')")
      }
      case Xform(t, c) =>
        // validate the transform BEFORE the table is created: an
        // unknown transform would otherwise persist a spec that only
        // fails (MatchError in partitionExpr) on the first append —
        // after the bad table already exists on disk
        require(t == "month" || t == "identity",
          s"unsupported partition transform '$t' " +
            "(supported: month, identity, bucket)")
        graft.catalog.PartitionSpec(c.trim, t)
      case bare if bare.nonEmpty && !bare.exists("()".contains(_)) =>
        graft.catalog.PartitionSpec(bare, "identity")
      case other => sys.error(s"unparseable partition option: '$other' " +
        "(expected 'month(col)', 'identity(col)', 'bucket(N, col)', " +
        "or a bare column name)")
    }
  }
}

/** What a path read that cannot be served resolves to: a missing
  * table, or a changes window with one bound. Saves and streams never
  * read its schema — they take the provider's V1 paths, which create
  * the table or stream from the bound — so only a batch read fails,
  * with `reason`, while Spark builds the relation.
  */
private final class Unreadable(path: String, reason: String) extends Table
    with SupportsRead {
  override def name(): String = path
  override def schema(): StructType = throw new IllegalArgumentException(reason)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    throw new IllegalArgumentException(reason)
}
