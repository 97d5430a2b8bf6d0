package graft.catalog

import java.util.{Set => JSet}

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext}
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDelete, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.catalog.constraints.Constraint
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsDynamicOverwrite, SupportsOverwrite, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{AlwaysTrue, BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The DSv2 `Table` for one graft snapshot table — what
  * [[GraftCatalog.loadTable]] hands Spark, making `graft.db.t` a
  * native catalog table, and what the `graft` data source's
  * `getTable` returns for a path read ([[graft.sources
  * .GraftDataSource]]): scans plan through Spark's own v2 pushdown
  * (manifest pruning via the same skip-only translation as every
  * other read path), `INSERT INTO` / `INSERT OVERWRITE` /
  * `df.writeTo(...)` route to the table's atomic commits, `DELETE
  * FROM` with pushable predicates runs as a native v2 metadata/COW
  * delete, and `TRUNCATE TABLE` is an atomic overwrite-to-empty.
  * Time travel (`VERSION AS OF` / `TIMESTAMP AS OF`, or the path
  * options `versionAsOf` / `tag` / `timestampAsOf`) arrives as a
  * `pinned` version resolved by the caller — a pinned table refuses
  * writes. `streaming = false` (the path surface) drops the streaming
  * capabilities and `BATCH_WRITE`, so `readStream` /
  * `writeStream.format("graft")` / `write.save` keep the data source's
  * changelog source, sink and save.
  *
  * A `view` is a snapshot the snapshot layer reads itself
  * ([[SnapshotTable]]'s own frames: a file subset, a render schema,
  * or no deletes at all): the table scans exactly that snapshot,
  * refuses every write, and is no DML or metadata-aggregate target.
  *
  * Every read, batch or micro-batch, is one [[GraftBatchScan]]. SQL
  * DELETE / UPDATE / MERGE are Spark row-level plans chosen by the
  * table's `graft.<command>.mode`; a dynamic partition overwrite is a
  * native batch write; the other writes bridge through `V1Write` to the
  * snapshot layer's commits.
  */
final class GraftV2Table(
    val table: SnapshotTable,
    ident: String,
    val pinned: Option[Long],
    private[catalog] val streaming: Boolean = true,
    private[graft] val view: Option[Snapshot] = None) extends Table
    with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsRowLevelOperations with SupportsMetadataColumns {

  override def name(): String = ident

  private val declared: StructType =
    view.map(_.schema).getOrElse(table.schemaAt(pinned))

  /** Every column nullable, as in the read view: a file that predates
    * a column null-fills it, whatever nullability the snapshot records.
    */
  override val schema: StructType =
    SnapshotTable.nullableType(declared).asInstanceOf[StructType]

  /** The snapshot's non-nullable columns as enforced CHECK constraints:
    * [[schema]] reads every column nullable, so Spark's write analysis
    * refuses a NULL in INSERT, UPDATE and MERGE through these instead.
    */
  override def constraints(): Array[Constraint] =
    declared.fields.filterNot(_.nullable).map(f =>
      Constraint.check(s"${f.name}_not_null")
        .predicateSql(s"${SnapshotTable.quoted(f.name)} IS NOT NULL")
        .enforced(true).build(): Constraint)

  override def partitioning(): Array[Transform] =
    table.publishedSnapshot().spec.toArray.map { ps =>
      ps.transform match {
        case "identity" => Expressions.identity(ps.source)
        case "month" => Expressions.months(ps.source)
        case SnapshotTable.BucketXform(n) =>
          Expressions.bucket(n.toInt, ps.source)
        case other => sys.error(s"unknown partition transform $other")
      }
    }

  override def properties(): java.util.Map[String, String] =
    table.publishedSnapshot().properties.asJava

  override def capabilities(): JSet[TableCapability] = {
    val all = Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.TRUNCATE,
      // `spark.readStream.table("graft.db.t")` — appends-only
      // micro-batch tail of the table ([[graft.streaming
      // .GraftTableStream]]); the CDC source stays the
      // retraction-aware surface
      TableCapability.MICRO_BATCH_READ,
      // `df.writeStream.toTable("graft.db.t")` — executor-parallel
      // exactly-once epoch appends ([[GraftStreamingWrite]])
      TableCapability.STREAMING_WRITE,
      // MERGE INTO … WITH SCHEMA EVOLUTION: Spark's
      // ResolveMergeIntoSchemaEvolution diffs the source schema
      // against ours, applies the AddColumn/UpdateColumnType changes
      // through GraftCatalog.alterTable (the same diff+evolve commit
      // the Scala merge path performs), and re-resolves the target —
      // so the native SQL MERGE grows the schema in-statement exactly
      // like SnapshotTable.merge does
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    // BATCH_WRITE serves only the dynamic overwrite: V1_BATCH_WRITE
    // keeps every other batch write on the V1 bridge
    (if (streaming) all + TableCapability.BATCH_WRITE
    else all -- Set(TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)).asJava
  }

  /** A table loaded before a schema-evolving commit must not serve rows
    * disagreeing with the analyzed schema: the snapshot a scan reads
    * must carry the analyzed (name, type) columns.
    */
  private def guardSchemaDrift(snap: Snapshot): Unit =
    require(SnapshotTable.sameColumns(snap.schema, schema),
      s"snapshot table ${table.root} evolved its schema since this " +
        "statement was analyzed — re-run the statement (or re-create " +
        "the view / re-run spark.read) to pick up the new schema")

  /** A row-level operation's scan of version `snap`: every data column
    * it projects must be there at the analyzed type.
    */
  private def requireProjected(snap: Snapshot, required: StructType): Unit =
    required.fieldNames.filterNot(GraftV2Table.MetaCols.contains).foreach {
      n =>
        val t = schema(n).dataType
        require(snap.schema.fields.exists(f => f.name == n &&
            SnapshotTable.nullableType(f.dataType) == t),
          s"snapshot table ${table.root}: column $n is not ${t.sql} at " +
            s"version ${snap.version}, which this row-level operation " +
            "reads — publish() or abortAudit() the staged schema change, " +
            "or re-run the statement")
    }

  private[graft] def requireWritable(op: String): Unit = {
    require(view.isEmpty, s"cannot $op a snapshot read of ${table.root}")
    require(pinned.isEmpty,
      s"cannot $op a time-travel (VERSION/TIMESTAMP AS OF) table")
  }

  // ---------------------------------------------------------------- read

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    scanBuilderAt(pinned, options)

  /** Scan builder pinned to `version` (None = published head): the
    * default read path passes the table's own pin; a row-level
    * operation passes ITS captured base version so scan and commit can
    * never observe different file sets. A copy-on-write rewrite
    * ([[GraftCopyOnWriteOperation]]) passes `rewrite`, which receives
    * the built scan: its files are the ones the commit replaces.
    */
  private[catalog] def scanBuilderAt(version: Option[Long],
      options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
      rewrite: Option[GraftBatchScan => Unit] = None): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters
        with SupportsPushDownRequiredColumns
        with org.apache.spark.sql.connector.read.SupportsPushDownLimit
        with org.apache.spark.sql.connector.read.SupportsPushDownTopN {
      private var filters: Array[Filter] = Array.empty
      private var required: StructType = schema
      private var limit: Option[Int] = None
      private var topn: Option[GraftTopN] = None

      /** Skip-only pruning: every filter is also returned as residual
        * so Catalyst re-applies it exactly — manifest pruning can never
        * change results, only skip files.
        */
      override def pushFilters(fs: Array[Filter]): Array[Filter] = {
        filters = fs; fs
      }
      override def pushedFilters(): Array[Filter] = filters

      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema

      /** LIMIT reaches the scan as a planning hint: the native batch
        * scan keeps only a prefix of files guaranteed to hold `l` live
        * rows ([[GraftBatchScan]] — a 100 TB `LIMIT 100` plans one
        * split instead of the whole table). Partial contract
        * (`isPartiallyPushed` stays true): Spark re-applies the limit
        * above, so over-planning is the only allowed error direction.
        */
      override def pushLimit(l: Int): Boolean = { limit = Some(l); true }

      /** ORDER BY + LIMIT reaches the scan as a planning hint too: the
        * native batch scan drops files that cannot hold a top-k row by
        * a manifest min/max threshold argument
        * ([[GraftBatchScan.topnPrune]] — a 100 TB `ORDER BY ts DESC
        * LIMIT 100` over a time-clustered table plans one file).
        * Pruning keys on the FIRST sort key only, which is sound for
        * any suffix; accepted only when that key is a bare top-level
        * column of a threshold-orderable type. Partial contract:
        * Spark keeps its Sort+Limit above, so over-planning is the
        * only allowed error direction.
        */
      override def pushTopN(
          orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
          l: Int): Boolean = {
        import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection}
        val t = orders.headOption.flatMap { o =>
          o.expression() match {
            case nr: NamedReference if nr.fieldNames().length == 1 =>
              val n = nr.fieldNames()(0)
              schema.fields.find(_.name == n)
                .filter(f => GraftBatchScan.topnOrderable(f.dataType))
                .map(f => GraftTopN(n, f.dataType,
                  o.direction() == SortDirection.DESCENDING,
                  o.nullOrdering() == NullOrdering.NULLS_FIRST, l))
            case _ => None
          }
        }
        t.foreach(v => topn = Some(v))
        t.isDefined
      }
      override def isPartiallyPushed(): Boolean = true

      override def build(): Scan = {
        val snap = view.getOrElse(version.map(table.snapshotAt)
          .getOrElse(table.publishedSnapshot()))
        // a row-level operation's scan reads its base version, the
        // head, which an open audit window may have evolved past the
        // published schema the statement was analyzed against; a delta
        // commit checks that drift, so its scan needs only the columns
        // it projects at their analyzed types. A rewrite carries every
        // column into the files it replaces, so it needs them all. A
        // view is its own schema.
        if (view.isEmpty) {
          if (version == pinned) guardSchemaDrift(snap)
          else if (rewrite.isDefined)
            require(SnapshotTable.sameColumns(snap.schema, schema),
              s"snapshot table ${table.root}: version ${snap.version}, " +
                "whose files this copy-on-write statement rewrites, does " +
                "not have the analyzed columns — publish() or " +
                "abortAudit() the staged schema change, or re-run the " +
                "statement")
          else requireProjected(snap, required)
        }
        val scan = new GraftBatchScan(table, snap, required, filters,
          GraftBatchScan.spjKey(table, snap), limit, topn,
          () => microBatchStream(), fileGroups = rewrite.isDefined)
        rewrite.foreach(_(scan))
        scan
      }

      /** `spark.readStream.table(…)` lands here through the scan's
        * `toMicroBatchStream`: an appends-only micro-batch tail of the
        * table, planned from the manifests ([[graft.streaming
        * .GraftTableStream]]). It reads only files APPENDED after the
        * stream starts.
        */
      private def microBatchStream()
          : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
        require(version.isEmpty,
          "cannot stream a time-travel (VERSION/TIMESTAMP AS OF) table")
        // the Delta-CDF option spelling, redirected: a scan option
        // cannot widen THIS table's analyzed schema with _change_type,
        // so the change feed lives on its own table ident
        require(!options.getBoolean("readChangeFeed", false),
          "readChangeFeed cannot add _change_type to this table's " +
            "analyzed schema — read the change-feed TABLE instead: " +
            s"spark.readStream.table(\"${GraftV2Table.changesName(ident)}\")")
        val from = Option(options.get("streamFrom")).map {
          case "earliest" => 1L
          case v => scala.util.Try(v.toLong).getOrElse(sys.error(
            s"streamFrom must be a version number or 'earliest', got '$v'"))
        }
        def posLong(key: String): Option[Long] =
          GraftV2Table.positiveOption(key, Option(options.get(key)))
        new graft.streaming.GraftTableStream(table, schema, required, from,
          options.getBoolean("skipNonAppends", false),
          posLong("maxVersionsPerTrigger"),
          posLong("maxFilesPerTrigger").map { n =>
            // .toInt on a > Int.MaxValue value would wrap negative and
            // silently degrade admission to one version per trigger
            require(n <= Int.MaxValue,
              s"maxFilesPerTrigger must fit in an Int, got $n")
            n.toInt
          })
      }
    }

  // ---------------------------------------------- row-level operations

  /** Row identity for the native delta operations and the snapshot
    * layer's own position reads: the data file's MANIFEST path (the key
    * delete vectors carry, so no path is ever decoded) and the row
    * ordinal within the file. Non-nullable by construction — Spark
    * refuses nullable row IDs.
    */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name: String = GraftV2Table.MetaFileCol
      override def dataType: DataType = StringType
      override def isNullable: Boolean = false
      override def comment: String =
        "manifest path of the row's data file (graft row-level operations)"
    },
    new MetadataColumn {
      override def name: String = GraftV2Table.MetaPosCol
      override def dataType: DataType = LongType
      override def isNullable: Boolean = false
      override def comment: String = "row ordinal within the data file"
    })

  /** Native `SupportsRowLevelOperations`: Spark's analyzer rewrites
    * DELETE/UPDATE/MERGE over this table onto the operation the
    * table's `graft.<command>.mode` names ([[SnapshotTable
    * .mergeOnRead]]) — the DELTA operation under merge-on-read
    * ([[GraftRowLevelOperation]]: delete vectors plus appended row
    * images), the group-based rewrite under copy-on-write, the default
    * ([[GraftCopyOnWriteOperation]]). A DELETE that [[canDeleteWhere]]
    * admits still shortcuts through [[deleteWhere]] (the optimizer's
    * metadata-delete rule).
    */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    requireWritable(s"${info.command} on")
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        if (SnapshotTable.mergeOnRead(table.currentSnapshot().properties,
            info.command.toString.toLowerCase(java.util.Locale.ROOT)))
          new GraftRowLevelOperation(GraftV2Table.this, info.command)
        else new GraftCopyOnWriteOperation(GraftV2Table.this, info.command)
    }
  }

  // --------------------------------------------------------------- write

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate with SupportsOverwrite
        with SupportsDynamicOverwrite {
      requireWritable("write to")
      // append | overwrite | dynamic | where
      private var mode: String = "append"
      private var cond: Option[org.apache.spark.sql.Column] = None

      override def truncate(): WriteBuilder = { mode = "overwrite"; this }

      /** Filter overwrite (SQL `INSERT INTO … REPLACE WHERE pred` /
        * `df.writeTo(t).overwrite(cond)`): an empty/always-true filter
        * set is the whole-table overwrite; anything else becomes ONE
        * atomic delete-matching-plus-append commit
        * ([[SnapshotTable.overwriteWhere]]). Conditions must reference
        * top-level columns — v1 filters render nested struct fields as
        * dotted names that would bind to nonexistent flat columns.
        */
      override def overwrite(fs: Array[Filter]): WriteBuilder = {
        if (fs.isEmpty || fs.forall(_.isInstanceOf[AlwaysTrue])) {
          mode = "overwrite"
        } else {
          val cols = fs.toIndexedSeq.map { f =>
            require(f.references.forall(schema.fieldNames.contains),
              s"REPLACE WHERE condition $f must reference top-level " +
                "columns only")
            GraftV2Table.filterToColumn(f).getOrElse(sys.error(
              s"REPLACE WHERE condition $f has no column form"))
          }
          cond = Some(cols.reduce(_ && _))
          mode = "where"
        }
        this
      }

      override def overwriteDynamicPartitions(): WriteBuilder = {
        mode = "dynamic"; this
      }

      override def build(): Write =
        if (mode == "dynamic") dynamicOverwrite(info) else bridged

      private def bridged: Write = new V1Write {
        override def toInsertableRelation(): InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              mode match {
                case "overwrite" => table.overwrite(data)
                case "where" => table.overwriteWhere(cond.get, data)
                case _ => table.append(data)
              }
              ()
            }
          }

        /** `df.writeStream.toTable(…)` — executor-parallel exactly-
          * once epoch appends ([[GraftStreamingWrite]]); Append mode
          * only (keyed upserts are the format sink's `keys` option,
          * and Complete would be a per-epoch overwrite).
          */
        override def toStreaming: org.apache.spark.sql.connector.write
            .streaming.StreamingWrite = {
          require(mode == "append",
            "streaming writes into a graft table append — use " +
              "outputMode(Append); keyed CDC upserts go through " +
              "writeStream.format(\"graft\").option(\"keys\", …)")
          new GraftStreamingWrite(table, info.schema(), info.queryId(),
            GraftV2Table.positiveOption("maintainEvery",
              Option(info.options().get("maintainEvery"))))
        }
      }
    }

  /** Dynamic partition overwrite (SQL `INSERT OVERWRITE` under
    * `partitionOverwriteMode=dynamic`, `writeTo(…).overwritePartitions()`)
    * as a native batch write — Spark has no V1 fallback for it. The
    * rows stage through the copy-on-write writer ([[GraftFileWrite]])
    * laid out by the head they were planned against, and one commit
    * replaces the partitions the staged files name
    * ([[SnapshotTable.commitPartitionOverwrite]]).
    */
  private def dynamicOverwrite(info: LogicalWriteInfo): Write = {
    val planned = table.currentSnapshot()
    table.requireUniformSpec(planned, "overwritePartitions")
    if (!SnapshotTable.sameColumns(info.schema(), planned.schema))
      throw new SnapshotConflictException(
        s"table at ${table.root} evolved its schema between analysis " +
          "and write planning — re-run the statement")
    new GraftFileWrite(table, planned, info.schema(),
      entries => { table.commitPartitionOverwrite(planned, entries); () })
  }

  // -------------------------------------------------------------- delete

  /** Which SQL `DELETE FROM` shapes take the metadata path
    * ([[deleteWhere]]) instead of Spark's row-level rewrite. Spark asks
    * after `RewriteDeleteFromTable` has planned the row-level delete
    * (`OptimizeMetadataOnlyDeleteFromTable`): true swaps that plan for
    * [[deleteWhere]], false keeps the `WriteDelta` through
    * [[GraftRowLevelOperation]] — the path UPDATE and MERGE take, with
    * vectors built in the task and commit metadata carried inline.
    * Iceberg's `SparkTable.canDeleteWhere` rule, per
    * `graft.delete.mode`:
    *
    *  - `copy-on-write` (default): every predicate with a column form —
    *    [[SnapshotTable.delete]] rewrites matched files for ANY
    *    predicate;
    *  - `merge-on-read`: only a metadata-only delete — no candidate
    *    file, or every candidate's stats prove all its rows match
    *    ([[SnapshotTable.deleteIsMetadataOnly]]), so files drop from the
    *    manifest unopened;
    *  - `equality`: a key-shaped predicate ([[GraftV2Table
    *    .equalityDeleteKeys]], committed as an equality-delete file
    *    without a scan) or a metadata-only delete.
    *
    * Every other merge-on-read delete is a row-level write, and so is
    * every shape with no top-level `sources.Filter` column form, in
    * either mode.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => GraftV2Table.filterToColumn(f).isDefined &&
      // v1 filters render nested struct fields as DOTTED names, which
      // filterToColumn would backtick into a (nonexistent) flat column
      // — refuse those here; the row-level plan keeps the real nested
      // references
      f.references.forall(schema.fieldNames.contains)) && {
      def metadataOnly = table.deleteIsMetadataOnly(predicateOf(filters))
      table.publishedSnapshot().properties.get("graft.delete.mode") match {
        case Some("merge-on-read") => metadataOnly
        case Some("equality") =>
          GraftV2Table.equalityDeleteKeys(schema, filters).isDefined ||
            metadataOnly
        case _ => true
      }
    }

  private def predicateOf(filters: Array[Filter]): Column =
    filters.toIndexedSeq
      .flatMap(f => GraftV2Table.filterToColumn(f))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))

  /** The deletes [[canDeleteWhere]] admits, by `graft.delete.mode`:
    * under `copy-on-write` (default) [[SnapshotTable.delete]] rewrites
    * hit files; under `equality` (VERDICT r14 #7) a KEY-predicate
    * DELETE commits an Iceberg-v2 equality-delete file of the key
    * tuples — O(keys) bytes with ZERO scan of the target at any table
    * size. The metadata-only deletes of both merge-on-read modes go
    * through [[SnapshotTable.deleteRouted]], which drops the fully
    * matched files without opening one.
    */
  override def deleteWhere(filters: Array[Filter]): Unit = {
    requireWritable("DELETE FROM")
    if (table.publishedSnapshot().properties
        .get("graft.delete.mode").contains("equality")) {
      GraftV2Table.equalityDeleteKeys(schema, filters) match {
        case Some((cols, tuples)) =>
          val spark = table.session
          val keySchema = org.apache.spark.sql.types.StructType(
            cols.map(c => schema(c)))
          val rows = new java.util.ArrayList[Row](tuples.size)
          tuples.foreach(t => rows.add(Row.fromSeq(t)))
          table.deleteByKeys(spark.createDataFrame(rows, keySchema), cols)
          return
        case None => () // not key-shaped: positional fallback below
      }
    }
    table.deleteRouted(predicateOf(filters))
    ()
  }

  override def truncateTable(): Boolean = {
    requireWritable("TRUNCATE")
    table.overwrite(table.session.createDataFrame(
      new java.util.ArrayList[Row](), table.schemaAt(None)))
    true
  }
}

/** One metadata table (`graft.db.\`t#history\`` / `#partitions` /
  * `#files` / `#tags`, or the path option `metadata`) as a read-only
  * v2 table — the frame is rebuilt per scan so it always describes the
  * CURRENT snapshot, even through a long-lived temp view that holds
  * this instance; metadata-sized by construction.
  */
final class GraftMetadataV2Table(
    table: SnapshotTable,
    ident: String,
    kind: String) extends Table with SupportsRead {

  private def frame(): DataFrame = kind match {
    case "history" => table.historyDf()
    case "partitions" => table.partitionsDf()
    case "files" => table.filesDf()
    case "tags" | "refs" => table.tagsDf()
    case "branches" => table.branchesDf()
    case other => sys.error(s"unknown graft metadata table '$other' — " +
      "one of: history, partitions, files, tags, branches, changes")
  }

  override def name(): String = ident
  // the shape is fixed per kind: resolved once, while schema() is
  // called repeatedly during analysis
  override lazy val schema: StructType = frame().schema
  override def partitioning(): Array[Transform] = Array.empty
  override def properties(): java.util.Map[String, String] =
    java.util.Collections.emptyMap()
  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = schema
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override val sqlContext: SQLContext = context
            override def schema: StructType = GraftMetadataV2Table.this.schema
            override def buildScan(): RDD[Row] = frame().rdd
          }.asInstanceOf[T]
      }
    }
}

/** The CDC change feed as a catalog table (`graft.db.\`t#changes\``):
  * `_change_type ∈ {insert, delete}` plus the table columns (updates
  * surface as delete+insert pairs — the Delta CDF shape the V1
  * `changesFrom` source serves). With `.option("updateImages",
  * "true")` — or table property `graft.cdc.update-images=true` for
  * SQL-only consumers — the feed is served PER-COMMIT with
  * UPDATE/MERGE-matched rewrites labeled `update_preimage` /
  * `update_postimage` ([[SnapshotTable.changesCdf]]). Readable BOTH
  * ways:
  *
  *  - batch: the net changelog over `(changesFrom, changesTo]` —
  *    defaults to the FULL history (earliest → current);
  *  - streaming (`spark.readStream.table`): a micro-batch change feed
  *    ([[graft.streaming.GraftChangesTableStream]]) — row-changing
  *    commits stream as change rows where the appends-only tail
  *    fails. Default streams changes committed AFTER query start;
  *    `.option("changesFrom", v | "earliest")` backfills.
  *
  * This is where the r15 tail's `skipNonAppends` dilemma resolves:
  * skip loses retractions, fail stops the pipeline — the change feed
  * represents them.
  *
  * A `window` fixes `(changesFrom, changesTo]` up front — the path
  * read `format("graft").option("changesFrom", …).option("changesTo",
  * …)` resolves its bounds in the data source: the columns are the
  * table's at `changesTo`, and the table is batch-only (a changelog
  * stream over a path keeps the data source's V1 source).
  */
final class GraftChangesV2Table(
    table: SnapshotTable,
    ident: String,
    window: Option[(Long, Long)] = None) extends Table with SupportsRead {

  override def name(): String = ident

  override val schema: StructType = graft.streaming.GraftChangesSource
    .changeSchema(SnapshotTable.nullableType(table.schemaAt(window.map(_._2)))
      .asInstanceOf[StructType])

  override def partitioning(): Array[Transform] = Array.empty
  override def properties(): java.util.Map[String, String] =
    java.util.Collections.emptyMap()
  override def capabilities(): JSet[TableCapability] =
    (if (window.isDefined) Set(TableCapability.BATCH_READ)
    else Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ))
      .asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = schema

      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema

      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = required

        override def toMicroBatchStream(checkpointLocation: String)
            : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
          new graft.streaming.GraftChangesTableStream(table, schema,
            required, checkpointLocation,
            GraftV2Table.changesBound(table, options, "changesFrom"),
            GraftV2Table.positiveOption("maxVersionsPerTrigger",
              Option(options.get("maxVersionsPerTrigger"))),
            updateImages = Option(options.get("updateImages"))
              .orElse(table.publishedSnapshot().properties
                .get("graft.cdc.update-images"))
              .exists(_.equalsIgnoreCase("true")))
        }

        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override val sqlContext: SQLContext = context
            override def schema: StructType = required
            override def buildScan(): RDD[Row] = {
              val (from, to) = window.getOrElse((
                GraftV2Table.changesBound(table, options, "changesFrom")
                  .getOrElse(table.log.versions().head),
                GraftV2Table.changesBound(table, options, "changesTo")
                  .getOrElse(table.currentVersion())))
              // opt-in per-commit labeled feed (update_preimage /
              // update_postimage): read option wins; the table
              // property sets a default for SQL-only consumers
              val cdf = Option(options.get("updateImages"))
                .orElse(table.publishedSnapshot().properties
                  .get("graft.cdc.update-images"))
                .exists(_.equalsIgnoreCase("true"))
              val changes =
                if (cdf) table.changesCdf(from, to)
                else table.changes(from, to)
              changes.select(required.fieldNames.toIndexedSeq.map(c =>
                org.apache.spark.sql.functions.col(
                  SnapshotTable.quoted(c))): _*).rdd
            }
          }.asInstanceOf[T]
      }
    }
}

object GraftV2Table {

  /** A `changesFrom`/`changesTo` bound — one parser for the catalog
    * change feed, the path changes window and the path changelog
    * stream: a version number, `earliest`, or a TAG name (all-digit
    * tag names are refused at tag() creation, so the routing is
    * total), or under `<key>Timestamp` the latest version committed at
    * or before an instant (epoch millis or ISO-8601).
    */
  private[graft] def changesBound(table: SnapshotTable,
      options: CaseInsensitiveStringMap, key: String): Option[Long] = {
    require(!(options.containsKey(key) &&
        options.containsKey(key + "Timestamp")),
      s"pass $key OR ${key}Timestamp, not both")
    Option(options.get(key)).map {
      case "earliest" => table.log.versions().head
      case v => v.toLongOption.getOrElse(table.tags().getOrElse(v,
        sys.error(s"$key: '$v' is neither a version number, 'earliest', " +
          s"nor a tag at ${table.root}; tags: " +
          table.tags().keys.mkString(", "))))
    }.orElse(Option(options.get(key + "Timestamp")).map(v =>
      table.versionAsOf(epochMillis(key + "Timestamp", v))))
  }

  /** A `key` option that must be a whole number >= 1 (trigger caps,
    * maintenance cadence); None when unset.
    */
  private[graft] def positiveOption(key: String,
      value: Option[String]): Option[Long] =
    value.map { v =>
      val n = scala.util.Try(v.toLong).getOrElse(
        sys.error(s"$key must be a positive number, got '$v'"))
      require(n >= 1, s"$key must be >= 1, got $n")
      n
    }

  /** An instant option: epoch millis or ISO-8601. */
  private[graft] def epochMillis(key: String, v: String): Long =
    v.toLongOption.orElse(scala.util.Try(
      java.time.Instant.parse(v).toEpochMilli).toOption).getOrElse(
      sys.error(s"$key must be epoch millis or ISO-8601, got '$v'"))

  /** `graft.db.t` → ``graft.db.`t#changes` `` (error-message helper). */
  private[catalog] def changesName(ident: String): String =
    ident.split('.').toSeq match {
      case parts :+ last => (parts :+ s"`$last#changes`").mkString(".")
      case _ => s"`$ident#changes`"
    }

  /** Row-identity metadata columns the native row-level operations key
    * on (Iceberg's `_file`/`_pos` equivalents — prefixed to dodge user
    * column collisions; `SupportsMetadataColumns` hides shadowed names
    * anyway).
    */
  private[catalog] val MetaFileCol = "_graft_file"
  private[catalog] val MetaPosCol = "_graft_pos"
  private[catalog] val MetaCols: Set[String] = Set(MetaFileCol, MetaPosCol)

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.sources._

  /** Key extraction for `graft.delete.mode=equality`: a DELETE whose
    * conjuncts are single-column equalities / IN lists over DISTINCT
    * top-level columns of simple types defines its deleted keys
    * entirely in the predicate — the key set is the conjuncts' cross
    * product, capped (10k tuples) to keep the delete file key-sized.
    * Values must be the external JVM renderings `createDataFrame`
    * accepts for the column's type (numerics/strings/booleans — ids,
    * in practice); NULLs never match `=`/`IN`, so a null value defeats
    * the shortcut rather than silently deleting the null key.
    * None = not key-shaped, caller falls back to positional vectors.
    */
  private[catalog] def equalityDeleteKeys(schema: StructType,
      filters: Array[Filter]): Option[(Seq[String], Seq[Seq[Any]])] = {
    import org.apache.spark.sql.types._
    def simple(c: String): Boolean =
      schema.fields.find(_.name == c).map(_.dataType).exists {
        case ByteType | ShortType | IntegerType | LongType | FloatType |
             DoubleType | StringType | BooleanType => true
        case _: DecimalType => true
        case _ => false
      }
    val parts: Seq[Option[(String, Seq[Any])]] = filters.toSeq.map {
      case EqualTo(c, v) if v != null && simple(c) => Some((c, Seq(v)))
      case In(c, vs) if vs.nonEmpty && !vs.contains(null) && simple(c) =>
        Some((c, vs.toSeq))
      case _ => None
    }
    if (parts.isEmpty || parts.exists(_.isEmpty)) return None
    val byCol = parts.flatten
    val cols = byCol.map(_._1)
    if (cols.distinct.size != cols.size) return None
    if (byCol.map(_._2.size.toLong).product > 10000L) return None
    val tuples = byCol.foldLeft(Seq(Seq.empty[Any])) {
      case (acc, (_, vs)) => acc.flatMap(t => vs.map(v => t :+ v))
    }
    Some((cols, tuples))
  }

  /** `sources.Filter` → `Column`, the inverse of the pushdown
    * translation, for lowering v2 `deleteWhere` filters onto the
    * snapshot layer's predicate API. None = no column form (caller
    * reports the delete unsupported and Spark falls back).
    */
  private[graft] def filterToColumn(f: Filter): Option[Column] = {
    def c(n: String) = col(SnapshotTable.quoted(n))
    f match {
      case EqualTo(a, v) => Some(c(a) === lit(v))
      case EqualNullSafe(a, v) => Some(c(a) <=> lit(v))
      case GreaterThan(a, v) => Some(c(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(c(a) >= lit(v))
      case LessThan(a, v) => Some(c(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(c(a) <= lit(v))
      case In(a, vs) => Some(c(a).isInCollection(vs.toIndexedSeq))
      case IsNull(a) => Some(c(a).isNull)
      case IsNotNull(a) => Some(c(a).isNotNull)
      case StringStartsWith(a, v) => Some(c(a).startsWith(v))
      case StringEndsWith(a, v) => Some(c(a).endsWith(v))
      case StringContains(a, v) => Some(c(a).contains(v))
      case And(l, r) =>
        for { lc <- filterToColumn(l); rc <- filterToColumn(r) } yield lc && rc
      case Or(l, r) =>
        for { lc <- filterToColumn(l); rc <- filterToColumn(r) } yield lc || rc
      case Not(x) => filterToColumn(x).map(!_)
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }
}
