package graft.catalog

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NonEmptyNamespaceException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, NamespaceChange, ProcedureCatalog, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 catalog plugin for graft snapshot tables — the shape Iceberg
  * ships as (`spark.sql.catalog.<name>=…`), making every catalog path
  * NATIVE Spark SQL with no parser or resolution seam:
  *
  * {{{
  *   spark.sql.catalog.graft           graft.catalog.GraftCatalog
  *   spark.sql.catalog.graft.warehouse /warehouse
  *
  *   CREATE NAMESPACE graft.db
  *   CREATE TABLE graft.db.events (ts TIMESTAMP, v BIGINT)
  *     PARTITIONED BY (month(ts)) TBLPROPERTIES (...)
  *   INSERT INTO graft.db.events SELECT ...
  *   SELECT * FROM graft.db.events VERSION AS OF 3          -- or a tag
  *   SELECT * FROM graft.db.events TIMESTAMP AS OF '...'
  *   DELETE FROM graft.db.events WHERE ts < '...'
  *   ALTER TABLE graft.db.events ADD COLUMNS (score DOUBLE)
  *   CALL graft.system.compact(table => 'db.events', sort_by => 'v')
  *   SELECT * FROM graft.db.`events#history`                -- metadata
  * }}}
  *
  * Layout: `<warehouse>/<namespace…>/<table>` — a table is any
  * directory with a snapshot log; a namespace is any directory
  * without one. A table name of the form `t#meta` (history /
  * partitions / files / tags) loads the manifest-derived metadata
  * table, mirroring Iceberg's `db.table.history` addressing in the
  * one-identifier form Spark's grammar gives a custom catalog.
  *
  * Time travel: `VERSION AS OF n` resolves digits to a version and
  * anything else to a TAG (the same routing as the reader options);
  * `TIMESTAMP AS OF` arrives in microseconds and resolves through
  * [[SnapshotTable.versionAsOf]] — both land on a pinned
  * [[GraftV2Table]], which refuses writes.
  *
  * MERGE, UPDATE and DELETE plan NATIVELY: [[GraftV2Table]]
  * implements `SupportsRowLevelOperations`, so Spark's own analyzer
  * rewrites plan them — full SQL surface including subqueries and
  * arbitrary ON conditions, with Spark's built-in MERGE cardinality
  * check — as the operation the table's `graft.<command>.mode` names:
  * a copy-on-write file rewrite ([[GraftCopyOnWriteOperation]], the
  * default) or merge-on-read delete vectors plus appended row images
  * ([[GraftRowLevelOperation]]). DELETEs [[GraftV2Table.canDeleteWhere]]
  * admits shortcut through the optimizer's metadata-delete rule onto
  * [[SnapshotTable.deleteRouted]], which drops the files the whole
  * predicate's stats cover unopened and plans the rest as the same
  * row-level operation. Temp views of a graft table plan the same way
  * ([[graft.plans.GraftViewDml]]), and so do the Scala API's DELETE,
  * UPDATE and MERGE: one engine, one conflict rule, on every surface.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with FunctionCatalog {

  private var catalogName: String = "graft"
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active

  private def warehousePath: Path = new Path(warehouse)

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).map(_.trim)
      .filter(_.nonEmpty)
      .getOrElse(sys.error(
        s"the graft catalog needs a warehouse root: set " +
          s"spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  // ---------------------------------------------------------- functions

  /** v2 `FunctionCatalog`: the hidden-partition transforms (`months`,
    * `bucket`) as loadable scalar functions — what lets Spark resolve
    * the delta write's transform-clustered distribution
    * ([[GraftDeltaWrite]] `RequiresDistributionAndOrdering`) and, for
    * SQL users, call the transforms directly
    * (`SELECT graft.months(ts)`).
    */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    // functions live at the catalog ROOT (graft.months, graft.bucket) —
    // an existing database namespace holds none, an unknown one is a
    // proper NoSuchNamespaceException (FunctionCatalog contract, the
    // same shape Iceberg's SparkCatalog keeps)
    if (namespace.isEmpty) GraftFunctions.list
    else if (namespaceExists(namespace)) Array.empty
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchNamespaceException(name() +: namespace.toSeq)

  override def loadFunction(ident: Identifier): UnboundFunction = {
    def missing = new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(name(), ident.toString)
    if (ident.namespace.isEmpty)
      GraftFunctions.load(ident).getOrElse(throw missing)
    else if (namespaceExists(ident.namespace)) throw missing
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchNamespaceException(name() +: ident.namespace.toSeq)
  }

  /** `ALTER TABLE … ADD COLUMNS (c T DEFAULT v)` needs the catalog to
    * opt in; defaults land as Iceberg-v3-style initial/write defaults
    * in the snapshot field metadata.
    */
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    Set(org.apache.spark.sql.connector.catalog.TableCatalogCapability
      .SUPPORT_COLUMN_DEFAULT_VALUE).asJava

  // ------------------------------------------------------------ helpers

  private def fs =
    warehousePath.getFileSystem(spark.sessionState.newHadoopConf())

  /** `graft.db.t` → `<warehouse>/db/t`; a single backquoted absolute
    * identifier (`graft.`/warehouse/events``) addresses a path-based
    * table directly — the same catalog-name / path duality Iceberg's
    * Hadoop tables expose.
    */
  private def tablePath(ident: Identifier): Path = {
    val (base, _) = splitMeta(ident.name)
    if (ident.namespace.isEmpty && base.startsWith("/")) new Path(base)
    else (ident.namespace :+ base)
      .foldLeft(warehousePath)((p, s) => new Path(p, s))
  }

  private def isTable(p: Path): Boolean =
    SnapshotTable.exists(spark, p.toString)

  /** `events#history` → (events, Some(history)). */
  private def splitMeta(name: String): (String, Option[String]) =
    name.split("#", 2) match {
      case Array(t, m) => (t, Some(m.toLowerCase))
      case _ => (name, None)
    }

  // ------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = namespace.foldLeft(warehousePath)((p, s) => new Path(p, s))
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).iterator.filter(_.isDirectory)
      .map(_.getPath).filter(isTable)
      .map(p => Identifier.of(namespace, p.getName)).toArray
  }

  override def loadTable(ident: Identifier): Table = loadWith(ident, None)

  /** Metadata-suffixed names are valid ONLY for plain reads — a
    * time-travel, drop or rename that silently resolved `t#history`
    * to the base table would at best confuse and at worst DESTROY it.
    */
  private def refuseMeta(ident: Identifier, op: String): Unit =
    require(!ident.name.contains("#"),
      s"$op does not apply to metadata tables: ${fullName(ident)} " +
        "(address the base table instead)")

  /** `VERSION AS OF` — digits mean a version, `'branch:<name>'` pins
    * the branch's current head (a consistent read of the staging
    * line), anything else a tag.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    refuseMeta(ident, "time travel")
    val t = tableAt(ident)
    if (version.startsWith("branch:")) {
      val b = t.branch(version.stripPrefix("branch:"))
      return new GraftV2Table(b, fullName(ident), Some(b.currentVersion()))
    }
    val v = version.toLongOption.getOrElse(
      t.tags().getOrElse(version, sys.error(
        s"${ident.name}: '$version' is neither a version number nor a " +
          s"tag; tags: ${t.tags().keys.mkString(", ")}")))
    new GraftV2Table(t, fullName(ident), Some(v))
  }

  /** `TIMESTAMP AS OF` — Spark passes MICROseconds. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    refuseMeta(ident, "time travel")
    val t = tableAt(ident)
    new GraftV2Table(t, fullName(ident),
      Some(t.versionAsOf(timestampMicros / 1000L)))
  }

  private def fullName(ident: Identifier): String =
    (catalogName +: (ident.namespace :+ ident.name)).mkString(".")

  private def tableAt(ident: Identifier): SnapshotTable = {
    val p = tablePath(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    SnapshotTable.load(spark, p.toString)
  }

  private def loadWith(ident: Identifier, pinned: Option[Long]): Table = {
    val (base, meta) = splitMeta(ident.name)
    meta match {
      case Some("changes") =>
        // the CDC change feed as a table — batch changelog AND
        // readStream.table change feed (see GraftChangesV2Table)
        val t = tableAt(Identifier.of(ident.namespace, base))
        new GraftChangesV2Table(t, fullName(ident))
      case Some(kind) =>
        val t = tableAt(Identifier.of(ident.namespace, base))
        new GraftMetadataV2Table(t, fullName(ident), kind)
      case None => new GraftV2Table(tableAt(ident), fullName(ident), pinned)
    }
  }

  override def tableExists(ident: Identifier): Boolean =
    isTable(tablePath(ident))

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(
      fullName(ident) + " already exists")
    require(!ident.name.contains("#"),
      s"'#' is reserved for metadata-table addressing: ${ident.name}")
    val ns = ident.namespace
    if (ns.nonEmpty && !namespaceExists(ns))
      throw new NoSuchNamespaceException(ns)
    // Spark adds bookkeeping properties (provider/location/owner…) that
    // are not table state; everything the user wrote in TBLPROPERTIES
    // passes through to the snapshot properties
    val reserved = Set(TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL,
      TableCatalog.PROP_COMMENT, TableCatalog.PROP_IS_MANAGED_LOCATION,
      TableCatalog.PROP_TABLE_TYPE, TableCatalog.PROP_COLLATION)
    val props = properties.asScala.toMap.view
      .filterKeys(k => !reserved.contains(k) &&
        !k.startsWith(TableCatalog.OPTION_PREFIX)).toMap
    val t = SnapshotTable.create(spark, tablePath(ident).toString, schema,
      spec = GraftCatalog.toSpec(partitions),
      properties = EvolvingWriter.DefaultTableProps ++ props)
    new GraftV2Table(t, fullName(ident), None)
  }

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    // same metadata-name hazard as DROP/RENAME: ALTER graft.db.`t#history`
    // would resolve through tablePath/splitMeta to the BASE table and
    // silently apply (possibly destructive) changes to it
    refuseMeta(ident, "ALTER TABLE")
    val t = tableAt(ident)
    // pre-validate EVERY change against a simulated schema before
    // applying ANY: each change is its own snapshot commit, so a
    // failure on change N would otherwise leave changes 1..N-1
    // permanently applied from one half-failed ALTER statement. (A
    // concurrent-writer conflict mid-sequence can still interleave —
    // same as running the changes as separate statements — but the
    // self-inflicted partial-DDL case is caught here.)
    changes.foldLeft(t.schemaAt(None)) { (sch, c) =>
      import org.apache.spark.sql.types.{StructField, StructType}
      def has(n: String) = sch.fieldNames.contains(n)
      def structOf(n: String): StructType = sch.fields.find(_.name == n)
        .map(_.dataType).collect { case t: StructType => t }
        .getOrElse(throw new IllegalArgumentException(
          s"ALTER pre-check: $n is not a struct column"))
      def withStruct(n: String, t: StructType): StructType =
        StructType(sch.fields.map(f =>
          if (f.name == n) f.copy(dataType = t) else f))
      c match {
        // nested (struct-field) changes: one level deep, same shape as
        // the Scala addStructField/renameStructField/dropStructField
        case add: TableChange.AddColumn if add.fieldNames.length == 2 =>
          val Array(parent, nf) = add.fieldNames
          val st = structOf(parent)
          require(!st.fieldNames.contains(nf) && add.position == null,
            s"ALTER pre-check: cannot add $parent.$nf")
          withStruct(parent, StructType(st.fields :+
            StructField(nf, add.dataType, add.isNullable)))
        case rn: TableChange.RenameColumn if rn.fieldNames.length == 2 =>
          val Array(parent, from) = rn.fieldNames
          val st = structOf(parent)
          require(st.fieldNames.contains(from) &&
            !st.fieldNames.contains(rn.newName),
            s"ALTER pre-check: cannot rename $parent.$from to ${rn.newName}")
          withStruct(parent, StructType(st.fields.map(f =>
            if (f.name == from) f.copy(name = rn.newName) else f)))
        case del: TableChange.DeleteColumn if del.fieldNames.length == 2 =>
          val Array(parent, nf) = del.fieldNames
          val st = structOf(parent)
          require(del.ifExists || st.fieldNames.contains(nf),
            s"ALTER pre-check: no field $parent.$nf")
          val remaining = StructType(st.fields.filterNot(_.name == nf))
          // mirror dropStructField's last-field refusal: without it a
          // multi-change DROP COLUMNS (s.a, s.b) on a two-field struct
          // passes pre-check, commits the first drop, then fails on the
          // second — exactly the partial-DDL state this simulation
          // exists to prevent
          require(remaining.fields.nonEmpty || !st.fieldNames.contains(nf),
            s"ALTER pre-check: cannot drop the last field $parent.$nf — " +
              "drop the struct column itself")
          withStruct(parent, remaining)
        case add: TableChange.AddColumn =>
          require(add.fieldNames.length == 1 && !has(add.fieldNames.head),
            s"ALTER pre-check: cannot add ${add.fieldNames.mkString(".")}")
          // the apply phase refuses FIRST/AFTER — simulate the SAME
          // refusal here, or a multi-change ALTER whose later AddColumn
          // carries a position would commit its earlier changes first
          require(add.position == null,
            "ALTER pre-check: ADD COLUMN ... FIRST/AFTER is not supported")
          StructType(sch.fields :+ StructField(add.fieldNames.head,
            add.dataType, add.isNullable))
        case rn: TableChange.RenameColumn =>
          require(rn.fieldNames.length == 1 && has(rn.fieldNames.head) &&
            !has(rn.newName),
            s"ALTER pre-check: cannot rename ${rn.fieldNames.mkString(".")}" +
              s" to ${rn.newName}")
          StructType(sch.fields.map(f =>
            if (f.name == rn.fieldNames.head) f.copy(name = rn.newName)
            else f))
        case del: TableChange.DeleteColumn =>
          require(del.fieldNames.length == 1 &&
            (del.ifExists || has(del.fieldNames.head)),
            s"ALTER pre-check: no column ${del.fieldNames.mkString(".")}")
          StructType(sch.fields.filterNot(_.name == del.fieldNames.head))
        case up: TableChange.UpdateColumnType =>
          require(up.fieldNames.length == 1 && has(up.fieldNames.head),
            s"ALTER pre-check: no column ${up.fieldNames.mkString(".")}")
          // mirror widenColumn's int->long / float->double rule: an
          // unconditional type replacement here would let a narrowing
          // change pass pre-check and fail mid-sequence at apply time
          val cur = sch.fields.find(_.name == up.fieldNames.head).get.dataType
          import org.apache.spark.sql.types.{IntegerType, LongType, FloatType, DoubleType}
          val widens = cur == up.newDataType || ((cur, up.newDataType) match {
            case (IntegerType, LongType) | (FloatType, DoubleType) => true
            case _ => false
          })
          require(widens, s"ALTER pre-check: cannot change " +
            s"${up.fieldNames.head} from ${cur.simpleString} to " +
            s"${up.newDataType.simpleString} — only int->bigint and " +
            "float->double widen losslessly without a data rewrite")
          StructType(sch.fields.map(f =>
            if (f.name == up.fieldNames.head) f.copy(dataType = up.newDataType)
            else f))
        case _ => sch // property changes don't touch the schema
      }
    }
    changes.foreach {
      case add: TableChange.AddColumn if add.fieldNames.length == 2 =>
        t.addStructField(add.fieldNames.head,
          org.apache.spark.sql.types.StructField(
            add.fieldNames()(1), add.dataType, add.isNullable))
      case rn: TableChange.RenameColumn if rn.fieldNames.length == 2 =>
        t.renameStructField(rn.fieldNames.head, rn.fieldNames()(1), rn.newName)
      case del: TableChange.DeleteColumn if del.fieldNames.length == 2 =>
        val parent = del.fieldNames.head
        val exists = t.schemaAt(None).fields.find(_.name == parent)
          .map(_.dataType).collect {
            case st: org.apache.spark.sql.types.StructType =>
              st.fieldNames.contains(del.fieldNames()(1))
          }.getOrElse(false)
        if (!del.ifExists || exists)
          t.dropStructField(parent, del.fieldNames()(1))
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "ADD COLUMN supports top-level columns and parent.field " +
            s"(one struct level): ${add.fieldNames.mkString(".")}")
        require(add.position == null,
          "ADD COLUMN ... FIRST/AFTER is not supported (columns append; " +
            "projection order is a query concern)")
        val f = org.apache.spark.sql.types.StructField(
          add.fieldNames.head, add.dataType, add.isNullable)
        Option(add.defaultValue()).flatMap(d => Option(d.getValue)) match {
          case Some(litv) =>
            // connector Literal carries the CATALYST value — convert to
            // the external form renderDefault expects
            val v = org.apache.spark.sql.catalyst.CatalystTypeConverters
              .createToScalaConverter(litv.dataType)(litv.value)
            t.addColumnWithDefault(f, v)
          case None => t.addColumns(Seq(f))
        }
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames.length == 1,
          "RENAME supports top-level columns and parent.field " +
            s"(one struct level): ${rn.fieldNames.mkString(".")}")
        t.renameColumn(rn.fieldNames.head, rn.newName)
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          "DROP COLUMN supports top-level columns and parent.field " +
            s"(one struct level): ${del.fieldNames.mkString(".")}")
        if (!del.ifExists ||
            t.schemaAt(None).fieldNames.contains(del.fieldNames.head))
          t.dropColumn(del.fieldNames.head)
      case up: TableChange.UpdateColumnType =>
        require(up.fieldNames.length == 1, "nested columns not supported")
        t.widenColumn(up.fieldNames.head, up.newDataType)
      case set: TableChange.SetProperty =>
        t.setProperties(Map(set.property -> set.value))
      case rm: TableChange.RemoveProperty =>
        t.removeProperties(Seq(rm.property))
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE change not supported by the graft catalog: $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    refuseMeta(ident, "DROP TABLE")
    val p = tablePath(ident)
    if (!isTable(p)) false
    else fs.delete(p, true)
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    refuseMeta(oldIdent, "RENAME TABLE")
    refuseMeta(newIdent, "RENAME TABLE")
    val from = tablePath(oldIdent)
    val to = tablePath(newIdent)
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    if (fs.exists(to)) throw new TableAlreadyExistsException(
      fullName(newIdent) + " already exists")
    if (newIdent.namespace.nonEmpty && !namespaceExists(newIdent.namespace))
      throw new NoSuchNamespaceException(newIdent.namespace)
    require(fs.rename(from, to),
      s"rename $from -> $to failed (filesystem refused)")
  }

  // --------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] = {
    if (!fs.exists(warehousePath)) return Array.empty
    fs.listStatus(warehousePath).iterator.filter(_.isDirectory)
      .map(_.getPath).filterNot(isTable)
      .map(p => Array(p.getName)).toArray
  }

  override def listNamespaces(
      namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = namespace.foldLeft(warehousePath)((p, s) => new Path(p, s))
    if (!fs.exists(dir) || isTable(dir))
      throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).iterator.filter(_.isDirectory)
      .map(_.getPath).filterNot(isTable)
      .map(p => namespace :+ p.getName).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val dir = namespace.foldLeft(warehousePath)((p, s) => new Path(p, s))
    fs.exists(dir) && !isTable(dir)
  }

  override def loadNamespaceMetadata(
      namespace: Array[String]): JMap[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    Map(SupportsNamespaces.PROP_LOCATION ->
      namespace.foldLeft(warehousePath)((p, s) => new Path(p, s)).toString)
      .asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit = {
    if (namespaceExists(namespace))
      throw new NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(namespace.foldLeft(warehousePath)((p, s) => new Path(p, s)))
    ()
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces are plain directories and carry no metadata")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    val dir = namespace.foldLeft(warehousePath)((p, s) => new Path(p, s))
    if (!cascade && fs.listStatus(dir).nonEmpty)
      throw new NonEmptyNamespaceException(namespace,
        "drop the tables first or use CASCADE", None)
    fs.delete(dir, true)
  }

  // --------------------------------------------------------- procedures

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace.isEmpty ||
      ident.namespace.sameElements(Array("system")),
      s"graft procedures live under the 'system' namespace: " +
        s"CALL $catalogName.system.${ident.name}(...)")
    GraftCatalogProcedures.load(this, ident.name).getOrElse(
      sys.error(s"unknown graft procedure '${ident.name}' — available: " +
        GraftCatalogProcedures.names.mkString(", ")))
  }

  override def listProcedures(
      namespace: Array[String]): Array[Identifier] =
    GraftCatalogProcedures.names
      .map(n => Identifier.of(Array("system"), n)).toArray

  /** Resolve a procedure's `table` argument: `db.t` catalog-relative,
    * or an absolute `/path` for path-based tables.
    */
  private[catalog] def resolveTableArg(ref: String): SnapshotTable = {
    val p =
      if (ref.startsWith("/")) new Path(ref)
      else ref.split("\\.").foldLeft(warehousePath)((p, s) => new Path(p, s))
    require(SnapshotTable.exists(spark, p.toString),
      s"no graft table at $p (from table => '$ref')")
    SnapshotTable.load(spark, p.toString)
  }
}

object GraftCatalog {

  /** DSv2 `Transform`s → the snapshot layer's single-transform spec. */
  private[catalog] def toSpec(
      transforms: Array[Transform]): Option[PartitionSpec] = {
    if (transforms.isEmpty) return None
    require(transforms.length == 1,
      "graft tables take ONE partition transform (hidden partitioning " +
        s"has a single spec); got ${transforms.mkString(", ")}")
    val t = transforms.head
    def ref: String = {
      val refs = t.references
      require(refs.length == 1 && refs.head.fieldNames.length == 1,
        s"partition transform must reference one top-level column: $t")
      refs.head.fieldNames.head
    }
    t.name.toLowerCase match {
      case "identity" => Some(PartitionSpec(ref, "identity"))
      case "month" | "months" => Some(PartitionSpec(ref, "month"))
      case "bucket" =>
        val n = t.arguments.collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value.toString.toInt
        }.getOrElse(sys.error(s"bucket transform needs a count: $t"))
        require(n >= 1, s"bucket count must be >= 1, got $n")
        Some(PartitionSpec(ref, s"bucket[$n]"))
      case other => sys.error(
        s"unsupported partition transform '$other' " +
          "(supported: identity, month(s), bucket)")
    }
  }
}
