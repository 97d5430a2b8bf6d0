package graft.schema

import org.apache.spark.sql.types._

/** Closed type universe + Spark type rendering.
  *
  * Re-expresses the reference's `TypeUtils.datatype_to_str`
  * (reference `src/utils/spark/type_utils.py:31-77`): the reference maps
  * each Spark type to its Athena/Iceberg DDL string by hand; in Spark the
  * same rendering is `DataType.catalogString`, so this object keeps only
  * the closed-universe validation (anything outside the table is an
  * error, `type_utils.py:75-76`), which `SnapshotTable.addColumns` and
  * `addStructField` run before a column joins a table. The reference's
  * nested-type rendering crashes on a missing import
  * (`type_utils.py:63,66,72`); here nested types are first-class
  * (SURVEY §7.4 risk 6 — deliberate divergence/fix).
  */
object TypeMapping {

  /** Types the reference supports (SURVEY §1.2). Nested types recurse. */
  def isSupported(dt: DataType): Boolean = dt match {
    case _: StringType | _: IntegerType | _: LongType | _: FloatType |
        _: DoubleType | _: BooleanType | _: TimestampType |
        _: TimestampNTZType | _: DateType | _: DecimalType |
        _: BinaryType => true
    case ArrayType(e, _)       => isSupported(e)
    case MapType(k, v, _)      => isSupported(k) && isSupported(v)
    case StructType(fields)    => fields.forall(f => isSupported(f.dataType))
    case _                     => false
  }

  /** Spark type → catalog DDL string (`int`, `bigint`, `decimal(p,s)`,
    * `array<…>`, …). Throws on types outside the reference's universe,
    * preserving `type_utils.py:75-76` semantics.
    */
  def render(dt: DataType): String = {
    require(isSupported(dt), s"Unsupported data type: $dt")
    dt.catalogString
  }
}
