package graft.catalog

import java.time.Instant

import scala.util.Try

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
import org.apache.spark.sql.graftbridge.FilterBridge
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Per-file column statistics: their shape (which columns get bounds,
  * sums and sketches; [[InlineFileStats]] collects them as writers
  * stream rows) and predicate evaluation for manifest-level FILE
  * SKIPPING — the Iceberg data-file stats
  * capability (`lower_bounds`/`upper_bounds`/`null_value_counts`,
  * which the reference's Iceberg tables get from the format and Athena
  * uses to skip files). Combined with [[SnapshotTable.compact]]'s
  * `sortBy`/`zOrderBy` rewrite, a range predicate on a sort column
  * opens only the files whose bounds overlap — the lever that turns a
  * 100 TB scan into a few-file read without touching any data file to
  * decide.
  *
  * Correctness never depends on pruning: [[StatsPruner.mayMatch]] is
  * conservative (missing stats, unparseable bounds, NaN renderings and
  * untranslatable predicates all keep the file), and the caller always
  * re-applies the FULL predicate to the surviving rows.
  */
/** Opt-in per-file Bloom filter configuration, read from the table
  * properties: `graft.bloom.columns` (comma list), `graft.bloom.bits`
  * (filter size, default 65536 = 8 KiB serialized), and
  * `graft.bloom.hashes`.
  */
final case class BloomSpec(columns: Set[String], bits: Int, hashes: Int)

object BloomSpec {
  import graft.functions.BloomAgg

  val Off: BloomSpec = BloomSpec(Set.empty, BloomAgg.DefaultBits,
    BloomAgg.DefaultHashes)

  def fromProperties(props: Map[String, String]): BloomSpec = BloomSpec(
    props.get("graft.bloom.columns").toSeq.flatMap(_.split(","))
      .map(_.trim).filter(_.nonEmpty).toSet,
    props.get("graft.bloom.bits").flatMap(b => Try(b.toInt).toOption)
      .getOrElse(BloomAgg.DefaultBits),
    props.get("graft.bloom.hashes").flatMap(h => Try(h.toInt).toOption)
      .getOrElse(BloomAgg.DefaultHashes))
}

/** Per-file NDV sketch configuration (`graft.stats.ndv` = `on`
  * (default) | `off`; `graft.stats.ndv.lgk` = HLL lgConfigK, default
  * 8). Every eligible column gets a ~100-byte HLL sketch per file in
  * the manifest; sketches are MERGEABLE, so the table- (or
  * pruned-scan-) level distinct count is a driver-side union of the
  * kept files' sketches — never a data read. This is the Iceberg
  * puffin-theta-sketch capability: it feeds
  * `SupportsReportStatistics.columnStats` and with it CBO join
  * reordering on snapshot tables (VERDICT r14 #4). lgk=8 gives ~6%
  * relative error — CBO-grade — at ~1% of a default lgk=12 sketch's
  * manifest weight.
  */
final case class NdvSpec(enabled: Boolean, lgk: Int)

object NdvSpec {
  val DefaultLgk = 8
  val Default: NdvSpec = NdvSpec(enabled = true, DefaultLgk)
  val Off: NdvSpec = NdvSpec(enabled = false, DefaultLgk)

  def fromProperties(props: Map[String, String]): NdvSpec = NdvSpec(
    props.getOrElse("graft.stats.ndv", "on") != "off",
    props.get("graft.stats.ndv.lgk").flatMap(k => Try(k.toInt).toOption)
      .getOrElse(DefaultLgk))
}

object FileStats {

  /** Max stored length for string bounds. A longer `min` is truncated
    * to this PREFIX (still a valid lower bound); a longer `max` is
    * dropped (a truncated upper bound would be invalid).
    */
  val MaxStringBound = 64

  /** Columns that get manifest bounds. Nested/array/map/binary columns
    * do not (same as Iceberg's default metrics for opaque types).
    */
  def eligible(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | StringType | BooleanType | DateType |
         TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Fixed-width wall-clock rendering for TIMESTAMP_NTZ bounds:
    * zero-padded to microseconds so lexicographic order IS
    * chronological order and equal instants render identically on the
    * write (date_format) and prune (DateTimeFormatter) sides. NTZ has
    * no instant, so epoch micros would smuggle a session time zone into
    * the manifest; the wall clock itself is the TZ-free encoding.
    */
  private[catalog] val NtzPattern = "yyyy-MM-dd HH:mm:ss.SSSSSS"
  private[catalog] val NtzFormatter =
    java.time.format.DateTimeFormatter.ofPattern(NtzPattern)

  /** Columns whose per-file exact sum is recorded (the SUM-pushdown
    * eligibility set): integral and decimal types.
    */
  def summable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _: DecimalType => true
    case _ => false
  }

  def eligibleFields(schema: StructType): Seq[StructField] =
    schema.fields.toIndexedSeq.filter(f => eligible(f.dataType))

  /** Driver-side union of per-file NDV sketches → the distinct-value
    * estimate over exactly those files. None when any kept file lacks
    * a sketch for the column (a partial union would undercount).
    */
  def ndvEstimate(sketches: Seq[Option[String]]): Option[Long] =
    if (sketches.isEmpty || sketches.exists(_.isEmpty)) None
    else Try {
      val u = new org.apache.datasketches.hll.Union()
      sketches.flatten.foreach { b64 =>
        u.update(org.apache.datasketches.hll.HllSketch.heapify(
          java.util.Base64.getDecoder.decode(b64)))
      }
      math.max(1L, math.round(u.getEstimate))
    }.toOption
}

/** Driver-side evaluation of `sources.Filter` predicates against
  * manifest [[ColStats]] — decides from metadata alone whether a file
  * MAY contain matching rows. All judgments are conservative: `true`
  * means "cannot rule the file out".
  */
object StatsPruner {

  /** Resolves a sidecar bloom reference (`ref:…` token, file path) to
    * its base64 payload — [[SnapshotLog.resolveBloom]] in production.
    * `NoRefs` (the default) answers None, which keeps the file: inline
    * payloads still probe, sidecar-backed ones just stop pruning.
    */
  type BloomResolver = (String, String) => Option[String]

  val NoRefs: BloomResolver = (_, _) => None

  /** Resolve `pred` against `schema` and translate it into source
    * filters (conjuncts that failed translation are simply not used for
    * pruning). Foldable subexpressions are constant-folded first so
    * casts the analyzer wrapped around literals (`col("x") > 5` on a
    * bigint column) still translate.
    */
  def translate(spark: SparkSession, schema: StructType,
      pred: Column): Seq[Filter] = {
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val analyzed = empty.filter(pred).queryExecution.analyzed
    val conditions = analyzed.collect { case f: LFilter => f.condition }
    conditions.flatMap { cond =>
      val folded = cond.transformUp {
        case e: Expression if e.foldable && !e.isInstanceOf[Literal] &&
            Try(e.eval(InternalRow.empty)).isSuccess =>
          Literal.create(e.eval(InternalRow.empty), e.dataType)
      }
      splitConjuncts(folded).flatMap(FilterBridge.translate)
    }
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case CAnd(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** [[translate]]'s strict twin: the filters, or None unless EVERY
    * conjunct of the analyzed, constant-folded predicate translated.
    * The may-match prune tolerates lost conjuncts (the residual
    * re-applies them); a MUST-match proof cannot — a lost conjunct
    * would prove a strictly weaker predicate.
    */
  def translateExact(spark: SparkSession, schema: StructType,
      pred: Column): Option[Seq[Filter]] = {
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val analyzed = empty.filter(pred).queryExecution.analyzed
    val conditions = analyzed.collect { case f: LFilter => f.condition }
    val conjuncts = conditions.flatMap { cond =>
      val folded = cond.transformUp {
        case e: Expression if e.foldable && !e.isInstanceOf[Literal] &&
            Try(e.eval(InternalRow.empty)).isSuccess =>
          Literal.create(e.eval(InternalRow.empty), e.dataType)
      }
      splitConjuncts(folded)
    }
    val translated = conjuncts.map(FilterBridge.translate)
    if (translated.exists(_.isEmpty)) None else Some(translated.flatten)
  }

  /** Can `file` contain a row matching every filter in `filters`? */
  def mayMatchAll(file: DataFileEntry, schema: StructType,
      filters: Seq[Filter], resolver: BloomResolver = NoRefs): Boolean =
    filters.forall(f => mayMatch(file, schema, f, resolver))

  def mayMatch(file: DataFileEntry, schema: StructType,
      filter: Filter, resolver: BloomResolver = NoRefs): Boolean =
      filter match {
    case And(l, r) =>
      mayMatch(file, schema, l, resolver) && mayMatch(file, schema, r, resolver)
    case Or(l, r) =>
      mayMatch(file, schema, l, resolver) || mayMatch(file, schema, r, resolver)
    case EqualTo(a, v) => mayCompare(file, schema, a, v,
      lo => lo <= 0, hi => hi >= 0) &&
      bloomMayContain(file, schema, a, v, resolver)
    case EqualNullSafe(a, null) => mayBeNull(file, a)
    case EqualNullSafe(a, v) => mayCompare(file, schema, a, v,
      lo => lo <= 0, hi => hi >= 0) &&
      bloomMayContain(file, schema, a, v, resolver)
    case GreaterThan(a, v) => mayCompare(file, schema, a, v,
      _ => true, hi => hi > 0)
    case GreaterThanOrEqual(a, v) => mayCompare(file, schema, a, v,
      _ => true, hi => hi >= 0)
    case LessThan(a, v) => mayCompare(file, schema, a, v,
      lo => lo < 0, _ => true)
    case LessThanOrEqual(a, v) => mayCompare(file, schema, a, v,
      lo => lo <= 0, _ => true)
    case In(a, vs) =>
      vs.exists(v => v != null && mayCompare(file, schema, a, v,
        lo => lo <= 0, hi => hi >= 0) &&
        bloomMayContain(file, schema, a, v, resolver))
    case IsNull(a) => mayBeNull(file, a)
    case IsNotNull(a) =>
      file.stats.get(a).forall(_.nullCount < file.rows)
    case StringStartsWith(a, p) =>
      file.stats.get(a) match {
        case Some(st) if st.nullCount == file.rows => false
        case Some(st) =>
          // ∃ s ∈ [min,max] with prefix p ⟺ p ≤ max and
          // (p ≥ min or min itself starts with p)
          st.max.forall(mx => p <= mx || mx.startsWith(p)) &&
            st.min.forall(mn => p >= mn || mn.startsWith(p))
        case None => true
      }
    case Not(EqualTo(a, v)) =>
      // prunable only when the file holds exactly one value == v
      file.stats.get(a) match {
        case Some(st) if st.nullCount == 0 =>
          val single = (for {
            mn <- st.min; mx <- st.max
            dt <- fieldType(schema, a)
            c1 <- compare(dt, mn, v); c2 <- compare(dt, mx, v)
          } yield c1 == 0 && c2 == 0).getOrElse(false)
          !single
        case _ => true
      }
    case _ => true
  }

  /** Does `file` PROVABLY satisfy every filter on EVERY live row? The
    * strict dual of [[mayMatchAll]] — the metadata-only DELETE test
    * ([[SnapshotTable.delete]]): true only when manifest bounds prove
    * the predicate evaluates TRUE (never FALSE or NULL — SQL DELETE
    * keeps NULL-predicate rows) for every row the file holds, so the
    * file can be dropped from the manifest without being opened.
    * Everything unprovable answers false and the file scans normally.
    * MoR-deleted rows only shrink the live set, so a proof over the
    * manifest's superset holds for it. Requires the COMPLETE predicate
    * ([[translateExact]]) — proving a weaker subset proves nothing.
    */
  def mustMatchAll(file: DataFileEntry, schema: StructType,
      filters: Seq[Filter]): Boolean =
    filters.nonEmpty && filters.forall(f => mustMatch(file, schema, f))

  private def mustMatch(file: DataFileEntry, schema: StructType,
      filter: Filter): Boolean = filter match {
    case And(l, r) =>
      mustMatch(file, schema, l) && mustMatch(file, schema, r)
    // proving one branch TRUE proves the OR even if the other is NULL
    case Or(l, r) =>
      mustMatch(file, schema, l) || mustMatch(file, schema, r)
    case IsNull(a) => file.stats.get(a).exists(_.nullCount == file.rows)
    case IsNotNull(a) => provablyNoNulls(file, a)
    // min is a sound LOWER bound even prefix-truncated (a prefix only
    // weakens it); max is dropped at write time rather than truncated
    case GreaterThan(a, v) =>
      mustCompare(file, schema, a, v, useMin = true, _ > 0)
    case GreaterThanOrEqual(a, v) =>
      mustCompare(file, schema, a, v, useMin = true, _ >= 0)
    case LessThan(a, v) =>
      mustCompare(file, schema, a, v, useMin = false, _ < 0)
    case LessThanOrEqual(a, v) =>
      mustCompare(file, schema, a, v, useMin = false, _ <= 0)
    case EqualTo(a, v) => v != null && mustEqual(file, schema, a, v)
    case EqualNullSafe(a, null) =>
      file.stats.get(a).exists(_.nullCount == file.rows)
    case EqualNullSafe(a, v) => mustEqual(file, schema, a, v)
    case In(a, vs) => vs.exists(v => v != null && mustEqual(file, schema, a, v))
    // if min and max share the prefix, every value between them does
    // (the first |p| chars are bounded by p on both sides). Prefix
    // tests are encoding-safe (no ordering involved); a truncated min
    // is itself a prefix of the true min, so startsWith holds for the
    // true bound whenever p fits inside the stored one — the
    // `LIKE 's3://old-bucket/%'` retention-delete shape.
    case StringStartsWith(a, p) =>
      provablyNoNulls(file, a) &&
        fieldType(schema, a).contains(StringType) &&
        file.stats.get(a).exists(st =>
          st.min.exists(mn => mn.length >= p.length && mn.startsWith(p)) &&
          st.max.exists(_.startsWith(p)))
    case _ => false
  }

  /** No live row can be NULL in `a` — required by every value proof
    * (a NULL makes the comparison NULL, which DELETE must keep).
    */
  private def provablyNoNulls(file: DataFileEntry, a: String): Boolean =
    file.stats.get(a).exists(_.nullCount == 0)

  /** Ordering proofs on string bounds hold only when both sides are
    * ASCII: the stored order is UTF-8 byte order (Spark/parquet), Java
    * compares UTF-16 code units — they agree exactly on ASCII.
    */
  private def orderProvable(dt: DataType, bound: String, v: Any): Boolean =
    dt != StringType || (bound.forall(_ < 0x80) && (v match {
      case s: String => s.forall(_ < 0x80)
      case _ => false
    }))

  private def mustCompare(file: DataFileEntry, schema: StructType,
      a: String, v: Any, useMin: Boolean, ok: Int => Boolean): Boolean =
    provablyNoNulls(file, a) && (for {
      st <- file.stats.get(a)
      dt <- fieldType(schema, a)
      b <- if (useMin) st.min else st.max
      if orderProvable(dt, b, v)
      c <- compare(dt, b, v)
    } yield ok(c)).getOrElse(false)

  /** min == max == v proves every row equals `v` — string equality is
    * encoding-independent, but a truncated min prefix could collide
    * with a longer true value, so the min must be untruncated.
    */
  private def mustEqual(file: DataFileEntry, schema: StructType,
      a: String, v: Any): Boolean =
    provablyNoNulls(file, a) && (for {
      st <- file.stats.get(a)
      dt <- fieldType(schema, a)
      mn <- st.min
      mx <- st.max
      if dt != StringType || mn.length < FileStats.MaxStringBound
      c1 <- compare(dt, mn, v)
      c2 <- compare(dt, mx, v)
    } yield c1 == 0 && c2 == 0).getOrElse(false)

  /** Per-file Bloom probe for equality filters: definitely-absent
    * prunes, everything else (no filter recorded, unknown value form,
    * possible membership) keeps the file. The probe replays the exact
    * write-side hash (`xxhash64`, seed 42) on the filter value;
    * DecimalType is deliberately NOT probed (its internal
    * representation is precision-dependent — a mismatched hash would
    * prune wrongly).
    *
    * Type widening (int→long / float→double, [[SnapshotTable.evolve]]):
    * a file written BEFORE the widening carries a filter built from the
    * narrower type's xxhash64, which differs from the widened type's
    * hash for the same value. The manifest does not record write-time
    * types, so a file is pruned only when BOTH the wide and (when the
    * value is representable) the narrowed hash say definitely-absent.
    * A value NOT representable in the narrow type cannot occur in a
    * pre-widening file at all, so the wide probe alone is decisive.
    */
  private def bloomMayContain(file: DataFileEntry, schema: StructType,
      a: String, v: Any, resolver: BloomResolver = NoRefs): Boolean =
    (for {
      st <- file.stats.get(a)
      token <- st.bloom
      // sidecar-backed payloads (format v2) load lazily, ONLY when an
      // equality probe reaches this file — planning never pays them
      b <- if (token.startsWith(SnapshotLog.RefPrefix))
        resolver(token, file.path) else Some(token)
      dt <- fieldType(schema, a)
      h <- hashOf(dt, v)
    } yield graft.functions.BloomAgg.mightContain(b, h) ||
      narrowHashOf(dt, v).exists(graft.functions.BloomAgg.mightContain(b, _))
    ).getOrElse(true)

  /** The filter value's hash under the type a widened column had BEFORE
    * evolution, when the value is representable there; None when `dt`
    * is not a widening target or the value cannot be a narrow-typed
    * file's content.
    */
  private[graft] def narrowHashOf(dt: DataType, v: Any): Option[Long] = dt match {
    case LongType =>
      Try(v.asInstanceOf[Number].longValue()).toOption
        .filter(l => l >= Int.MinValue && l <= Int.MaxValue)
        .flatMap(l => hashOf(IntegerType, l.toInt))
    case DoubleType =>
      Try(v.asInstanceOf[Number].doubleValue()).toOption
        .filter(d => d.isNaN || d.toFloat.toDouble == d)
        .flatMap(d => hashOf(FloatType, d.toFloat))
    case _ => None
  }

  private[graft] def hashOf(dt: DataType, v: Any): Option[Long] = {
    val catalystV: Option[Any] = dt match {
      case StringType => v match {
        case s: String =>
          Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
        case _ => None
      }
      case TimestampType => v match {
        case t: java.sql.Timestamp => Some(micros(t.toInstant))
        case i: Instant => Some(micros(i))
        case _ => None
      }
      case TimestampNTZType => v match {
        // catalyst NTZ = micros of the wall clock pinned at UTC
        case l: java.time.LocalDateTime =>
          Some(micros(l.toInstant(java.time.ZoneOffset.UTC)))
        case _ => None
      }
      case DateType => v match {
        case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toInt)
        case d: java.time.LocalDate => Some(d.toEpochDay.toInt)
        case _ => None
      }
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | BooleanType => Some(v)
      case _ => None
    }
    catalystV.flatMap(cv => Try(
      org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(cv, dt, 42L)).toOption)
  }

  private def mayBeNull(file: DataFileEntry, a: String): Boolean =
    file.stats.get(a).forall(_.nullCount > 0)

  /** Comparison-family evaluation: false (prune) only when stats PROVE
    * no non-null value can satisfy the bound tests. `loOk` receives
    * compare(min, v), `hiOk` receives compare(max, v); a missing bound
    * or failed parse passes its test.
    */
  private def mayCompare(file: DataFileEntry, schema: StructType,
      a: String, v: Any, loOk: Int => Boolean,
      hiOk: Int => Boolean): Boolean =
    file.stats.get(a) match {
      case Some(st) if st.nullCount == file.rows =>
        false // no non-null values: no comparison can match
      case Some(st) =>
        fieldType(schema, a) match {
          case Some(dt) =>
            val lo = st.min.flatMap(mn => compare(dt, mn, v)).forall(loOk)
            val hi = st.max.flatMap(mx => compare(dt, mx, v)).forall(hiOk)
            lo && hi
          case None => true
        }
      case None => true
    }

  private def fieldType(schema: StructType, name: String): Option[DataType] =
    schema.fields.find(_.name == name).map(_.dataType)

  /** compare(stored-bound, filter-value) in the column's order; None =
    * not comparable (unparseable bound such as NaN, or an unexpected
    * external value type) → conservative keep.
    */
  private[graft] def compare(dt: DataType, bound: String,
      v: Any): Option[Int] = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | _: DecimalType =>
      for {
        b <- Try(BigDecimal(bound)).toOption
        fv <- numeric(v)
      } yield b.compare(fv)
    case StringType => v match {
      case s: String =>
        // a min bound may be a 64-char truncation: as a PREFIX of the
        // true min it stays a valid lower bound, so plain string
        // comparison remains conservative-correct
        Some(bound.compareTo(s))
      case _ => None
    }
    case BooleanType => v match {
      case b: Boolean =>
        Try(bound.toBoolean).toOption.map(bb => bb.compareTo(b))
      case _ => None
    }
    case DateType =>
      // bound is cast-to-string `yyyy-MM-dd`; render the external value
      // the same way (both java.sql.Date and LocalDate print ISO)
      (v match {
        case d: java.sql.Date => Some(d.toString)
        case d: java.time.LocalDate => Some(d.toString)
        case _ => None
      }).map(bound.compareTo)
    case TimestampType =>
      // bound is epoch micros (written via unix_micros — TZ-free)
      for {
        b <- Try(bound.toLong).toOption
        m <- v match {
          case t: java.sql.Timestamp => Some(micros(t.toInstant))
          case i: Instant => Some(micros(i))
          case _ => None
        }
      } yield java.lang.Long.compare(b, m)
    case TimestampNTZType =>
      // bound is the fixed-width wall-clock rendering (NtzPattern);
      // render the filter value identically and compare as strings.
      // Years outside 4 digits break the fixed width ON EITHER SIDE:
      // guard the filter value's year AND the stored bound's shape
      // (a year-10000 row yields a 27-char bound that sorts below
      // 4-digit years lexicographically) — both fall back to keep.
      if (bound.length != FileStats.NtzPattern.length || bound(4) != '-') None
      else (v match {
        case l: java.time.LocalDateTime => Some(l)
        case t: java.sql.Timestamp => Some(t.toLocalDateTime)
        case _ => None
      }).filter(l => l.getYear >= 1000 && l.getYear <= 9999)
        .map(l => bound.compareTo(l.format(FileStats.NtzFormatter)))
    case _ => None
  }

  private def micros(i: Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
      i.getNano / 1000L)

  private def numeric(v: Any): Option[BigDecimal] = v match {
    // scala.math.BigDecimal and java.math.BigDecimal both extend
    // java.lang.Number, and both print a parseable decimal form
    case n: java.lang.Number => v match {
      case d: java.lang.Double if d.isNaN || d.isInfinite => None
      case f: java.lang.Float if f.isNaN || f.isInfinite => None
      case _ => Try(BigDecimal(n.toString)).toOption
    }
    case _ => None
  }
}
