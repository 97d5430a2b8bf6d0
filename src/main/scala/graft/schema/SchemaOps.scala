package graft.schema

import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Difference between an incoming frame's schema and a target schema
  * (reference `compare_schemas`, `src/utils/spark/spark_utils.py:59-79`).
  * Graft tables evolve by field id in `SnapshotTable.evolve`, so no
  * write path calls [[SchemaOps.diff]].
  *
  * @param missingInSource target fields absent from the source
  * @param extraInSource   source fields absent from the target
  *                        (these drive schema evolution: they become new
  *                        table columns)
  * @param typeMismatches  (name, sourceType, targetType) for common fields
  *                        whose types differ
  */
case class SchemaDiff(
    missingInSource: Seq[StructField],
    extraInSource: Seq[StructField],
    typeMismatches: Seq[(String, DataType, DataType)]) {
  def isEmpty: Boolean =
    missingInSource.isEmpty && extraInSource.isEmpty && typeMismatches.isEmpty
}

/** The schema-evolution operator core — the reference's actual "query
  * engine" (SURVEY §2.E). Every operator is a pure
  * `(DataFrame, StructType) => DataFrame` built from a single `select`
  * projection so Catalyst sees one `Project` node per operator (column
  * pruning + codegen friendly; the reference builds the same results via
  * per-column `withColumn` loops which stack O(cols) projections).
  *
  * Operators and their reference counterparts:
  *  - alignTo            ← `align_schema`            (`spark_utils.py:81-111`)
  *  - diff               ← `compare_schemas`         (`spark_utils.py:59-79`)
  *  - castTo             ← `ensure_schema_types_match` (`spark_utils.py:194-210`)
  *  - conformOrder       ← `ensure_iceberg_schema_order_and_types`
  *                                                    (`spark_utils.py:212-235`)
  *  - normalizeNames     ← rename loop               (`job.py:64-72`)
  *  - stampCreatedAt     ← created_at stamp + reorder (`job.py:75-81`)
  *  - withDefaults       ← dormant null-default loop (`job.py:88-101`)
  *  - datesToTimestamps  ← `convert_datetime_columns` (`type_utils.py:11-28`)
  *  - unionByNameAll     ← reduce(unionByName)       (`job.py:57-59`)
  */
object SchemaOps {

  /** Glue/Iceberg-compatible column-name normalization
    * (reference `job.py:64-72`): lowercase; space and hyphen → `_`;
    * parentheses stripped.
    */
  def normalizeName(name: String): String =
    name.toLowerCase
      .replace(" ", "_")
      .replace("-", "_")
      .replace("(", "")
      .replace(")", "")

  /** C1 — rename every column via [[normalizeName]]. */
  def normalizeNames(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(normalizeName).toIndexedSeq: _*)

  /** E2 — structural diff of two schemas, by name (case-sensitive, as in
    * the reference).
    */
  def diff(source: StructType, target: StructType): SchemaDiff = {
    val srcByName = source.fields.map(f => f.name -> f).toMap
    val tgtByName = target.fields.map(f => f.name -> f).toMap
    SchemaDiff(
      missingInSource = target.fields.toIndexedSeq.filterNot(f => srcByName.contains(f.name)),
      extraInSource = source.fields.toIndexedSeq.filterNot(f => tgtByName.contains(f.name)),
      typeMismatches = source.fields.toIndexedSeq.collect {
        case f if tgtByName.contains(f.name) && tgtByName(f.name).dataType != f.dataType =>
          (f.name, f.dataType, tgtByName(f.name).dataType)
      })
  }

  /** E1 — project `df` onto `target`: for each target field, cast the
    * existing column to the target type, or synthesize a typed null;
    * then append df-only extra columns unchanged. Target order first,
    * extras last (reference `align_schema`, `spark_utils.py:81-111`).
    */
  def alignTo(df: DataFrame, target: StructType): DataFrame = {
    val present = df.columns.toSet
    val targetCols: Seq[Column] = target.fields.toIndexedSeq.map { f =>
      if (present.contains(f.name))
        castIfNeeded(col(f.name), df.schema(f.name).dataType, f.dataType)
          .as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    val targetNames = target.fieldNames.toSet
    val extras: Seq[Column] =
      df.columns.toIndexedSeq.filterNot(targetNames.contains).map(col)
    df.select(targetCols ++ extras: _*)
  }

  /** E3/C6 — cast each df column that exists in `target` to the target
    * type; leave others untouched. Unlike [[alignTo]] it adds no columns
    * and keeps df order (reference `ensure_schema_types_match`,
    * `spark_utils.py:194-210`; its `lit(df[field])` identity-cast bug is
    * not reproduced — SURVEY §7.4 risk 6).
    */
  def castTo(df: DataFrame, target: StructType): DataFrame = {
    val tgtByName = target.fields.map(f => f.name -> f.dataType).toMap
    df.select(df.columns.toIndexedSeq.map { c =>
      tgtByName.get(c) match {
        case Some(t) => castIfNeeded(col(c), df.schema(c).dataType, t).as(c)
        case None    => col(c)
      }
    }: _*)
  }

  /** Cast only on a REAL type change: Spark refuses a Cast between
    * types that differ solely in nested nullability (an array column
    * whose `containsNull` flipped fails analysis with "cannot cast
    * ARRAY<FLOAT> to ARRAY<FLOAT>"), and a nullability-only difference
    * needs no value conversion — comparing the rendered SQL type (which
    * omits nullability at every nesting level) catches exactly that
    * case.
    */
  private def castIfNeeded(c: Column, from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Column =
    if (from.sql == to.sql) c
    else (from, to) match {
      // struct columns conform BY NAME, one level at a time: Spark's
      // Cast matches struct fields POSITIONALLY and refuses entirely
      // when the field counts differ — exactly the shape nested schema
      // evolution produces (a batch written before ADD of a struct
      // field must align under the grown struct, missing fields
      // null-filled, and a NULL struct must stay NULL, not become a
      // struct of nulls)
      case (f: StructType, t: StructType) =>
        when(c.isNull, lit(null).cast(t)).otherwise(
          struct(t.fields.toIndexedSeq.map { tf =>
            f.fields.find(_.name == tf.name) match {
              case Some(ff) =>
                castIfNeeded(c.getField(tf.name), ff.dataType, tf.dataType)
                  .as(tf.name)
              case None => lit(null).cast(tf.dataType).as(tf.name)
            }
          }: _*))
      case _ => c.cast(to)
    }

  /** E4 — add target columns missing from df as typed nulls, reorder to
    * target order, append df-only extras after. Does NOT cast existing
    * columns (that is E1/E3's job — the reference keeps the same division
    * of labor, `spark_utils.py:212-235`).
    */
  def conformOrder(df: DataFrame, target: StructType): DataFrame = {
    val present = df.columns.toSet
    val targetCols: Seq[Column] = target.fields.toIndexedSeq.map { f =>
      if (present.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    val targetNames = target.fieldNames.toSet
    val extras: Seq[Column] =
      df.columns.toIndexedSeq.filterNot(targetNames.contains).map(col)
    df.select(targetCols ++ extras: _*)
  }

  /** E1+E3 in one projection: conform `df` to `target` — cast common
    * columns, null-fill missing ones, keep extras at the end. The single
    * operator the reference composes from three (SURVEY §2.E4 note).
    */
  def conformTo(df: DataFrame, target: StructType): DataFrame =
    alignTo(df, target)

  /** C2+C3 — stamp a `created_at` ingestion timestamp from an injected
    * instant and move it first (reference `job.py:75-81`; the reference
    * uses driver-side `datetime.now()` — non-deterministic, SURVEY §7.4
    * risk 3 — so the clock is a parameter here).
    */
  def stampCreatedAt(df: DataFrame, at: Instant): DataFrame = {
    val stamped = df.withColumn(
      "created_at", lit(java.sql.Timestamp.from(at)).cast(TimestampType))
    val rest = df.columns.toIndexedSeq.filterNot(_ == "created_at").map(col)
    stamped.select(col("created_at") +: rest: _*)
  }

  /** C5 — null-defaulting: `"Unknown"` for strings, `false` for booleans,
    * `0` for int/bigint (reference's dormant loop, `job.py:88-101`).
    */
  def withDefaults(df: DataFrame): DataFrame = {
    val stringCols = df.schema.fields.collect { case f if f.dataType == StringType => f.name }
    val boolCols   = df.schema.fields.collect { case f if f.dataType == BooleanType => f.name }
    val intCols    = df.schema.fields.collect {
      case f if f.dataType == IntegerType || f.dataType == LongType => f.name
    }
    df.na.fill("Unknown", stringCols)
      .na.fill(false, boolCols)
      .na.fill(0, intCols)
  }

  /** C7 — cast every Date column to Timestamp (reference
    * `convert_datetime_columns`, `type_utils.py:11-28`; there it string-
    * matches dtype names, here it matches the type itself).
    */
  def datesToTimestamps(df: DataFrame): DataFrame = {
    val dateCols = df.schema.fields.collect {
      case f if f.dataType == DateType => f.name
    }.toSet
    if (dateCols.isEmpty) df
    else df.select(df.columns.toIndexedSeq.map { c =>
      if (dateCols.contains(c)) col(c).cast(TimestampType).as(c) else col(c)
    }: _*)
  }

  /** D1 — n-ary union by name with missing columns null-filled
    * (reference `job.py:57-59`). Spark resolves this by name, null-widens
    * missing branches, and keeps the plan a flat `Union` — zero shuffles.
    */
  def unionByNameAll(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "unionByNameAll of empty sequence")
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))
  }
}
