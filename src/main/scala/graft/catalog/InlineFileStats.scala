package graft.catalog

import java.util.Base64

import org.apache.datasketches.hll.{HllSketch, TgtHllType, Union}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, DateFormatClass, GenericInternalRow, Literal, XxHash64Function}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-file column statistics computed INLINE while a writer streams
  * rows into one parquet file — the Iceberg writer-metrics design
  * (guide §1.2 step 1: a commit must not RE-READ the bytes it just
  * wrote to learn their bounds; at 100 TB a read-back job would be a
  * second full pass over every committed byte). This is the ONE
  * implementation of manifest stats: the staged batch write
  * ([[StagedWrite]]), the delta and streaming writers
  * ([[GraftDeltaWriter]]) and [[SnapshotTable.importParquet]] all feed
  * their rows through it.
  *
  * Exactness contract: the emitted [[ColStats]] are BYTE-IDENTICAL to
  * what a SQL aggregate over the same file produces (min/max/null
  * count per column, `sum` through decimal(38), `hll_sketch_agg`,
  * `BloomAgg`) — the manifest feeds metadata-only aggregates and file
  * pruning, so the rendering, ordering and sketch semantics must match
  * the SQL path exactly:
  *
  *  - min/max use Spark's own comparison semantics (NaN greatest,
  *    `SQLOrderingUtil` float/double compare, UTF8String binary order,
  *    strictly-less/greater replacement so ties keep the first value —
  *    `least`/`greatest` buffer semantics);
  *  - renderings go through the SAME Catalyst expressions the
  *    aggregate pass used (`Cast(_, StringType)` / `date_format`), not
  *    a hand-rolled formatter; timestamps render as `unix_micros`
  *    (identity on the catalyst micros value);
  *  - string bounds truncate exactly like
  *    `substring(min, 1, MaxStringBound)` /
  *    `when(length(max) <= MaxStringBound, max)`;
  *  - exact sums accumulate as decimal(38, scale) like
  *    `sum(cast(c as decimal(38, s)))` (overflow past 38 digits throws,
  *    mirroring the ANSI SQL sum the read-back would run);
  *  - NDV sketches replay `hll_sketch_agg(xxhash64(c), lgk)` —
  *    same update stream (xxhash64 seed 42 of the typed value, nulls
  *    skipped), same HLL_8 target, same final `Union` normalization
  *    and `toUpdatableByteArray` serialization;
  *  - Bloom filters replay `BloomAgg` (including the xxhash64-of-NULL
  *    = seed behavior of the un-guarded hash column).
  *
  * `InlineStatsSpec` pins the equivalence against that aggregate,
  * kept in test scope as the reference read-back, on adversarial data
  * (NaN, signed zero, 64/65-char strings, unicode, all-null columns,
  * decimals, NTZ).
  *
  * One collector instance per open file; not thread-safe.
  */
final class InlineFileStats(schema: StructType, bloom: BloomSpec,
    ndv: NdvSpec, zoneId: String) {

  private val fields: Array[StructField] =
    FileStats.eligibleFields(schema).toArray
  private val n = fields.length
  private val rowIdx: Array[Int] = fields.map(f => schema.fieldIndex(f.name))
  private val dts: Array[DataType] = fields.map(_.dataType)

  private val nulls = new Array[Long](n)
  private val mins = new Array[Any](n)
  private val maxs = new Array[Any](n)
  private var rowCount = 0L

  // sum accumulators (summable columns only; null = no non-null value
  // seen yet, mirroring SQL SUM's null-on-empty)
  private val sumScale: Array[Int] = dts.map {
    case d: DecimalType => d.scale
    case _ => 0
  }
  private val sums: Array[java.math.BigDecimal] = new Array(n)
  private val isSummable: Array[Boolean] = dts.map(FileStats.summable)

  private val hlls: Array[HllSketch] =
    if (!ndv.enabled) null
    else Array.fill(n)(new HllSketch(ndv.lgk, TgtHllType.HLL_8))

  private val bloomWords: Array[Array[Long]] = fields.map { f =>
    if (bloom.columns.contains(f.name)) new Array[Long](bloom.bits / 64)
    else null
  }

  /** compare(candidate, incumbent) in the column's SQL ordering —
    * exactly the comparisons Min/Max codegen emits per type.
    */
  private def cmp(i: Int, a: Any, b: Any): Int = dts(i) match {
    case ByteType => java.lang.Byte.compare(a.asInstanceOf[Byte], b.asInstanceOf[Byte])
    case ShortType => java.lang.Short.compare(a.asInstanceOf[Short], b.asInstanceOf[Short])
    case IntegerType | DateType =>
      java.lang.Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case LongType | TimestampType | TimestampNTZType =>
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case FloatType =>
      SQLOrderingUtil.compareFloats(a.asInstanceOf[Float], b.asInstanceOf[Float])
    case DoubleType =>
      SQLOrderingUtil.compareDoubles(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case StringType =>
      a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
    case BooleanType =>
      java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
    case _: DecimalType =>
      a.asInstanceOf[Decimal].compare(b.asInstanceOf[Decimal])
    case other => sys.error(s"not stats-eligible: $other")
  }

  /** Retained values must not alias the caller's reused row buffer. */
  private def owned(v: Any): Any = v match {
    case u: UTF8String => u.clone()
    case other => other
  }

  def update(row: InternalRow): Unit = {
    rowCount += 1
    var i = 0
    while (i < n) {
      val idx = rowIdx(i)
      if (row.isNullAt(idx)) {
        nulls(i) += 1
        // the bloom hash column is un-guarded xxhash64(c): a NULL input
        // leaves the hash at its seed (42) and that value IS inserted
        if (bloomWords(i) != null) bloomAdd(i, 42L)
      } else {
        val v = row.get(idx, dts(i))
        if (mins(i) == null) { mins(i) = owned(v); maxs(i) = mins(i) }
        else {
          if (cmp(i, v, mins(i)) < 0) mins(i) = owned(v)
          if (cmp(i, v, maxs(i)) > 0) maxs(i) = owned(v)
        }
        if (isSummable(i)) {
          val add = dts(i) match {
            case _: DecimalType => v.asInstanceOf[Decimal].toJavaBigDecimal
            case ByteType => java.math.BigDecimal.valueOf(v.asInstanceOf[Byte].toLong)
            case ShortType => java.math.BigDecimal.valueOf(v.asInstanceOf[Short].toLong)
            case IntegerType => java.math.BigDecimal.valueOf(v.asInstanceOf[Int].toLong)
            case LongType => java.math.BigDecimal.valueOf(v.asInstanceOf[Long])
            case other => sys.error(s"not summable: $other")
          }
          val acc =
            if (sums(i) == null)
              java.math.BigDecimal.ZERO.setScale(sumScale(i))
            else sums(i)
          val next = acc.add(add)
          if (next.precision > DecimalType.MAX_PRECISION)
            throw new ArithmeticException(
              s"sum of ${fields(i).name} overflows decimal(38,${sumScale(i)})")
          sums(i) = next
        }
        if (hlls != null || bloomWords(i) != null) {
          val h = XxHash64Function.hash(v, dts(i), 42L)
          if (hlls != null) hlls(i).update(h)
          if (bloomWords(i) != null) bloomAdd(i, h)
        }
      }
      i += 1
    }
  }

  private def bloomAdd(i: Int, h: Long): Unit = {
    val ps = graft.functions.BloomAgg.positions(h, bloom.bits, bloom.hashes)
    val words = bloomWords(i)
    var j = 0
    while (j < ps.length) {
      words(ps(j) >> 6) |= 1L << (ps(j) & 63)
      j += 1
    }
  }

  def rows: Long = rowCount

  /** Render one bound with the SAME expression the aggregate pass used
    * (parity by construction, not by re-implementation).
    */
  private def render(i: Int, v: Any, isMin: Boolean): Option[String] =
    dts(i) match {
      case TimestampType =>
        // unix_micros(x).cast(string): identity on the catalyst micros
        Some(v.asInstanceOf[Long].toString)
      case TimestampNTZType =>
        // the same expression date_format resolves to, with the session
        // zone the aggregate pass would have carried (NTZ formatting is
        // wall-clock and zone-free, but the expression requires one)
        val e = DateFormatClass(
          BoundReference(0, TimestampNTZType, nullable = false),
          Literal(FileStats.NtzPattern), Some(zoneId))
        Some(e.eval(new GenericInternalRow(Array[Any](v)))
          .asInstanceOf[UTF8String].toString)
      case StringType =>
        val u = v.asInstanceOf[UTF8String]
        if (isMin)
          Some(u.substringSQL(1, FileStats.MaxStringBound).toString)
        else if (u.numChars() <= FileStats.MaxStringBound) Some(u.toString)
        else None // a truncated UPPER bound would be invalid — dropped
      case dt =>
        val e = Cast(BoundReference(0, dt, nullable = false), StringType)
        Some(e.eval(new GenericInternalRow(Array[Any](v)))
          .asInstanceOf[UTF8String].toString)
    }

  /** The manifest stats map: one [[ColStats]] per stats-eligible
    * column, keyed by column name.
    */
  def finish(): Map[String, ColStats] = {
    val b64 = Base64.getEncoder
    (0 until n).map { i =>
      val ndvBytes =
        if (hlls == null) None
        else {
          // replay HllSketchAgg's final-merge normalization: the final
          // aggregation merges the partial sketch into a fresh buffer
          // through Union before serializing
          val u = new Union(ndv.lgk)
          u.update(hlls(i))
          Some(b64.encodeToString(
            u.getResult(TgtHllType.HLL_8).toUpdatableByteArray))
        }
      val bloomBytes =
        if (bloomWords(i) == null) None
        else Some(b64.encodeToString(
          graft.functions.BloomAgg.serialize(bloomWords(i), bloom.hashes)))
      val sum =
        if (!isSummable(i) || sums(i) == null) None
        else Some(sums(i).toString)
      fields(i).name -> ColStats(
        if (mins(i) == null) None else render(i, mins(i), isMin = true),
        if (maxs(i) == null) None else render(i, maxs(i), isMin = false),
        nulls(i), bloomBytes, ndvBytes, sum)
    }.toMap
  }
}
