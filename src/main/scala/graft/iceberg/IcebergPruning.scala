package graft.iceberg

import java.nio.{ByteBuffer, ByteOrder}
import java.time.LocalDate

import org.apache.spark.sql.{Column => SqlColumn}
import org.apache.spark.sql.functions.{col, lit, timestamp_micros}
import org.apache.spark.sql.types._

import IcebergModel._

/** Driver-side file skipping for `iceberg_scan` — the single biggest
  * 100 TB scan lever the reference lacks: it decodes partition values and
  * `lower_bounds`/`upper_bounds` in its full Avro schema but feeds every
  * live data file to the reader regardless of predicate
  * (avro_codegen/iceberg_manifest_entry_full.hpp:306-353, SURVEY §2.10).
  *
  * Semantics: pruning is strictly an OPTIMIZATION. Every predicate handed
  * to the scan is also applied as a Spark `filter` on the surviving files
  * (the residual), so a conservative keep — unknown transform, missing
  * bounds, non-comparable types — can never change results, only skip
  * fewer files. This mirrors how Spark's own DataSource V2 partition
  * pruning composes with residual filters.
  *
  * Bound bytes follow Iceberg's single-value binary serialization
  * (little-endian numerics, UTF-8 strings, date = int days,
  * timestamp = long micros, decimal = unscaled big-endian). String bounds
  * may be truncated by the writer; truncation only widens the range, so
  * comparisons stay conservative.
  */
object IcebergPruning {

  sealed trait Op
  case object Eq extends Op
  case object Lt extends Op
  case object Le extends Op
  case object Gt extends Op
  case object Ge extends Op
  /** IN-list (value: Seq[Any]) — a disjunction of Eq checks: the file
    * survives iff ANY listed value may match its partition tuple AND its
    * bounds. Bounded by [[MaxInValues]]; larger lists skip pruning. */
  case object In extends Op
  /** IS NULL (value ignored): prunable via recorded null counts — a file
    * with a recorded ZERO null count for the column cannot match. */
  case object IsNull extends Op
  /** IS NOT NULL (value ignored): an all-null file (recorded null count
    * equal to its record count) cannot match. */
  case object NotNull extends Op

  /** Above this many IN values, driver-side pruning costs more than the
    * scan it saves — the predicate is skipped (kept as residual only). */
  val MaxInValues = 1000

  /** One simple comparison predicate over a top-level column. */
  final case class ColPredicate(column: String, op: Op, value: Any)

  /** Column lookup matching Spark's resolver: exact name first, then a
    * unique case-insensitive match (the analyzer preserves the USER'S case
    * in resolved references, so extraction from `WHERE DT = ...` hands the
    * pruner "DT" against a schema that says "dt"). An ambiguous
    * case-insensitive match → None → conservative keep / untyped residual. */
  private def findColumn(schema: Seq[Column], name: String): Option[Column] =
    schema.find(_.name == name).orElse {
      schema.filter(_.name.equalsIgnoreCase(name)) match {
        case Seq(one) => Some(one)
        case _ => None
      }
    }

  // ---- value normalization ------------------------------------------------

  /** Normalize a user-supplied or decoded value into one comparison domain
    * per column type: BigDecimal for numerics, epoch days (Long) for dates,
    * epoch micros (Long) for timestamps, String for strings. None →
    * not comparable → conservative keep. Exception-guarded for the same
    * reason: NaN/Infinity (no BigDecimal form) or an unparseable date
    * string must degrade to "keep", not crash the scan — predicates now
    * arrive from arbitrary user conditions via extractPredicates. */
  private def normalize(dt: DataType, v: Any): Option[Any] =
    scala.util.Try[Option[Any]]((dt, v) match {
      case (_: NumericType, n: java.lang.Number) => Some(new java.math.BigDecimal(n.toString))
      case (DateType, d: LocalDate) => Some(d.toEpochDay)
      case (DateType, d: java.sql.Date) => Some(d.toLocalDate.toEpochDay)
      case (DateType, s: String) => Some(LocalDate.parse(s).toEpochDay)
      case (DateType, n: java.lang.Number) => Some(n.longValue) // already days
      case (TimestampNTZType | TimestampType, n: java.lang.Number) => Some(n.longValue) // micros
      case (TimestampNTZType | TimestampType, t: java.time.LocalDateTime) =>
        Some(t.toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L + t.getNano / 1000L)
      // Genuine strings only (manifest values arrive as String via
      // fromAvro; Catalyst literals as UTF8String). `s.toString` of an
      // arbitrary Options.filters value would compare its rendering while
      // the residual compares under cast semantics — those can disagree
      // (e.g. "037" vs 37), turning pruning into data loss.
      case (StringType, s: String) => Some(s)
      case (StringType, u: org.apache.spark.unsafe.types.UTF8String) => Some(u.toString)
      case (BooleanType, b: java.lang.Boolean) => Some(b.booleanValue)
      case _ => None
    }).toOption.flatten

  /** Unsigned UTF-8 byte comparison — the ordering parquet binary stats
    * and Iceberg string bounds are defined under. Java String.compareTo
    * (UTF-16 code units) disagrees for supplementary characters vs BMP
    * chars ≥ U+E000, which would make an encoded bound not a true bound
    * under the pruner's comparator. */
  private[iceberg] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** The smallest string strictly greater (in UTF-8 order) than EVERY
    * string having `p` as a prefix: `p` with its last incrementable code
    * point bumped (the surrogate block — not valid standalone code
    * points — is skipped). None when no code point can grow. Shared by
    * prefix-predicate pruning and the writer's upper-bound truncation. */
  private[iceberg] def incrementLastCodePoint(p: String): Option[String] = {
    val cps = p.codePoints.toArray
    var i = cps.length - 1
    while (i >= 0 && cps(i) >= Character.MAX_CODE_POINT) i -= 1
    if (i < 0) None
    else {
      var next = cps(i) + 1
      if (next >= Character.MIN_SURROGATE.toInt &&
          next <= Character.MAX_SURROGATE.toInt)
        next = Character.MAX_SURROGATE.toInt + 1
      Some(new String(cps.take(i) :+ next, 0, i + 1))
    }
  }

  private def compare(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => Some(x.compareTo(y))
    case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
    case (x: String, y: String) => Some(utf8Compare(x, y))
    case (x: Boolean, y: Boolean) => Some(java.lang.Boolean.compare(x, y))
    case _ => None
  }

  // ---- Iceberg single-value deserialization --------------------------------

  /** Decode bound bytes for a column type → normalized comparison value. */
  private[iceberg] def decodeBound(dt: DataType, bytes: Array[Byte]): Option[Any] = {
    def le = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    dt match {
      case IntegerType if bytes.length >= 4 =>
        Some(java.math.BigDecimal.valueOf(le.getInt.toLong))
      case LongType if bytes.length >= 8 =>
        Some(java.math.BigDecimal.valueOf(le.getLong))
      case FloatType if bytes.length >= 4 =>
        Some(new java.math.BigDecimal(le.getFloat.toString))
      case DoubleType if bytes.length >= 8 =>
        Some(new java.math.BigDecimal(le.getDouble.toString))
      case DateType if bytes.length >= 4 => Some(le.getInt.toLong) // epoch days
      case TimestampNTZType | TimestampType if bytes.length >= 8 =>
        Some(le.getLong) // epoch micros
      case StringType => Some(new String(bytes, "UTF-8"))
      case d: DecimalType =>
        Some(new java.math.BigDecimal(new java.math.BigInteger(bytes), d.scale))
      case BooleanType if bytes.length >= 1 => Some(bytes(0) != 0)
      case _ => None
    }
  }

  /** Encode a raw column value (from parquet footer statistics) into
    * Iceberg single-value bytes — the writer-side inverse of
    * [[decodeBound]]. */
  private[iceberg] def encodeBound(dt: DataType, v: Any): Option[Array[Byte]] = {
    def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    (dt, v) match {
      case (IntegerType, i: java.lang.Integer) => Some(le(4).putInt(i).array)
      case (DateType, i: java.lang.Integer) => Some(le(4).putInt(i).array)
      case (LongType, l: java.lang.Long) => Some(le(8).putLong(l).array)
      case (TimestampNTZType | TimestampType, l: java.lang.Long) =>
        Some(le(8).putLong(l).array)
      case (FloatType, f: java.lang.Float) => Some(le(4).putFloat(f).array)
      case (DoubleType, d: java.lang.Double) => Some(le(8).putDouble(d).array)
      case (StringType, s: String) => Some(s.getBytes("UTF-8"))
      case (d: DecimalType, b: java.math.BigDecimal) =>
        Some(b.setScale(d.scale).unscaledValue.toByteArray)
      case _ => None
    }
  }

  // ---- partition-transform evaluation --------------------------------------

  /** Predicate value → the transform's output domain (Long ordinal).
    * Timestamp-typed values (normalize's epoch-micros domain) project into
    * the date transforms too — `days(ts)` over a timestamp source is the
    * single most common Iceberg layout. */
  private def toTransformOrdinal(
      transform: IcebergTransforms.Transform, dt: DataType, v: Any): Option[Long] = {
    import IcebergTransforms._
    val asMicros: Option[Long] = dt match {
      case TimestampNTZType | TimestampType =>
        normalize(dt, v).collect { case us: Long => us }
      case _ => None
    }
    val asDate: Option[LocalDate] = v match {
      case d: LocalDate => Some(d)
      case d: java.sql.Date => Some(d.toLocalDate)
      case s: String if dt == DateType => scala.util.Try(LocalDate.parse(s)).toOption
      // Catalyst date literals are epoch-day Integers — without this case
      // every auto-extracted date predicate would skip partition-transform
      // pruning and rely on column bounds alone (absent on foreign tables).
      case n: java.lang.Number if dt == DateType =>
        scala.util.Try(LocalDate.ofEpochDay(n.longValue)).toOption
      case _ => asMicros.map(dateOfMicros)
    }
    transform match {
      case Day => asDate.map(_.toEpochDay)
      case Month => asDate.map(monthOrdinal)
      case Year => asDate.map(yearOrdinal)
      case Hour => asMicros.map(hourOrdinalOfMicros)
      case _ => None
    }
  }

  /** Predicate value → Iceberg bucket ordinal (only meaningful for Eq). */
  private def toBucketOrdinal(n: Int, dt: DataType, v: Any): Option[Long] = {
    import IcebergTransforms._
    scala.util.Try[Option[Int]](dt match {
      case IntegerType | LongType | ShortType | ByteType =>
        normalize(dt, v).collect {
          // exact integral values only: a fractional predicate can never
          // equal an integer column, and hashing its truncation would
          // prune the WRONG bucket.
          case b: java.math.BigDecimal if b.stripTrailingZeros.scale <= 0 =>
            bucketLong(b.longValueExact, n)
        }
      case DateType => normalize(dt, v).collect { case days: Long => bucketLong(days, n) }
      case TimestampNTZType | TimestampType =>
        normalize(dt, v).collect { case us: Long => bucketLong(us, n) }
      // Strings must arrive AS strings: hashing v.toString of e.g. an Int
      // predicate from Options.filters would prune the bucket of "37"
      // while the residual's cast semantics can match rows in other files
      // ("037"). Non-string values → conservative keep.
      case StringType => v match {
        case s: String => Some(bucketOf(hashString(s), n))
        case u: org.apache.spark.unsafe.types.UTF8String =>
          Some(bucketOf(hashString(u.toString), n))
        case _ => None
      }
      case d: DecimalType => v match {
        case b: java.math.BigDecimal =>
          Some(bucketOf(hashDecimal(b.setScale(d.scale).unscaledValue), n))
        case bd: org.apache.spark.sql.types.Decimal =>
          Some(bucketDecimal(bd, d.scale, n))
        case _ => None
      }
      case _ => None
    }).toOption.flatten.map(_.toLong)
  }

  private def partitionValueOrdinal(raw: Any): Option[Long] = raw match {
    case n: java.lang.Number => Some(n.longValue)
    case _ => None
  }

  /** Does the file's partition tuple possibly satisfy `p`? Conservative:
    * unknown transform / missing value → keep. */
  private def keepByPartition(
      e: ManifestEntry,
      p: ColPredicate,
      spec: Seq[PartitionFieldSpec],
      schema: Seq[Column]): Boolean = {
    val column = findColumn(schema, p.column)
    if (column.isEmpty) return true
    val specFields = spec.filter(_.sourceId == column.get.id)
    specFields.forall { sf =>
      e.partition.get(sf.name) match {
        case None | Some(null) => true
        case Some(raw) =>
          import IcebergTransforms.{Identity, Day, Month, Year, Hour, Bucket, Truncate}
          val dt = column.get.dataType
          IcebergTransforms.parse(sf.transform) match {
            case Identity =>
              (normalize(dt, raw), normalize(dt, p.value)) match {
                case (Some(pv), Some(v)) =>
                  compare(pv, v).forall { c =>
                    p.op match {
                      case Eq => c == 0
                      case Lt => c < 0
                      case Le => c <= 0
                      case Gt => c > 0
                      case Ge => c >= 0
                      case _ => true // In/null ops handled in prune()
                    }
                  }
                case _ => true
              }
            case t @ (Day | Month | Year | Hour) =>
              (partitionValueOrdinal(raw), toTransformOrdinal(t, dt, p.value)) match {
                case (Some(po), Some(vo)) =>
                  p.op match {
                    case Eq => po == vo
                    // a file in ordinal `vo` may hold rows on either side of
                    // the exact cut point inside the bucket → use <=/>=.
                    case Lt | Le => po <= vo
                    case Gt | Ge => po >= vo
                    case _ => true // In/null ops handled in prune()
                  }
                case _ => true
              }
            case Bucket(n) => p.op match {
              // buckets scramble ordering — only equality projects.
              case Eq =>
                (partitionValueOrdinal(raw), toBucketOrdinal(n, dt, p.value)) match {
                  case (Some(po), Some(vo)) => po == vo
                  case _ => true
                }
              case _ => true
            }
            case Truncate(w) => dt match {
              case IntegerType | LongType | ShortType | ByteType =>
                val tv = normalize(dt, p.value).collect {
                  case b: java.math.BigDecimal if b.stripTrailingZeros.scale <= 0 =>
                    IcebergTransforms.truncateLong(b.longValueExact, w.toLong)
                }
                (partitionValueOrdinal(raw), tv) match {
                  case (Some(po), Some(t)) => p.op match {
                    case Eq => po == t
                    // rows < v live in files with truncate(row) <= truncate(v)
                    // (truncation is monotone); same widening as date buckets.
                    case Lt | Le => po <= t
                    case Gt | Ge => po >= t
                    case _ => true // In/null ops handled in prune()
                  }
                  case _ => true
                }
              case StringType =>
                // Same string-typing guard as toBucketOrdinal: only a real
                // string predicate value projects; anything else (possible
                // via Options.filters) keeps conservatively, because the
                // residual compares under cast semantics, not toString.
                val tvOpt = p.value match {
                  case s: String => Some(IcebergTransforms.truncateString(s, w))
                  case u: org.apache.spark.unsafe.types.UTF8String =>
                    Some(IcebergTransforms.truncateString(u.toString, w))
                  case _ => None
                }
                (raw, tvOpt) match {
                  case (pv: String, Some(tv)) =>
                    val c = utf8Compare(pv, tv)
                    p.op match {
                      case Eq => c == 0
                      // code-point-prefix truncation is monotone under the
                      // UTF-8 byte order compare() uses for strings.
                      case Lt | Le => c <= 0
                      case Gt | Ge => c >= 0
                      case _ => true // In/null ops handled in prune()
                    }
                  case _ => true
                }
              case _ => true // truncate over other types: conservative keep
            }
            case _ => true // unknown transform: conservative keep
          }
      }
    }
  }

  /** Do the file's column bounds possibly satisfy `p`? Conservative:
    * missing bounds / non-comparable → keep. NaN-safe: float/double bounds
    * decode to BigDecimal via toString, which throws on NaN — treated as
    * non-comparable (keep). */
  private def keepByBounds(
      e: ManifestEntry,
      p: ColPredicate,
      schema: Seq[Column]): Boolean = {
    val column = findColumn(schema, p.column)
    if (column.isEmpty) return true
    val dt = column.get.dataType
    // NaN GUARD (spec nan_value_counts): bounds EXCLUDE NaN while NaN
    // sorts ABOVE every float/double in Spark, so a file whose NaN count
    // is not RECORDED ZERO may hold rows satisfying any >/>= predicate
    // its upper bound rules out. Our parquet writer proves 0 via NaN-
    // poisoned stats; foreign writers record real counts; absent = keep.
    val nanUnsafe = (dt == FloatType || dt == DoubleType) &&
      !e.nanCounts.get(column.get.id).contains(0L)
    normalize(dt, p.value) match {
      case None => true
      case Some(v) =>
        val lower = e.lowerBounds.get(column.get.id)
          .flatMap(b => scala.util.Try(decodeBound(dt, b)).toOption.flatten)
        val upper = e.upperBounds.get(column.get.id)
          .flatMap(b => scala.util.Try(decodeBound(dt, b)).toOption.flatten)
        def cmpOr(bound: Option[Any], keep: Int => Boolean): Boolean =
          bound.flatMap(compare(_, v)).forall(keep)
        p.op match {
          case Eq => cmpOr(lower, _ <= 0) && cmpOr(upper, _ >= 0)
          case Lt => cmpOr(lower, _ < 0)
          case Le => cmpOr(lower, _ <= 0)
          case Gt => nanUnsafe || cmpOr(upper, _ > 0)
          case Ge => nanUnsafe || cmpOr(upper, _ >= 0)
          case _ => true // In/null ops handled in prune()
        }
    }
  }

  /** Prune a data-file entry list against simple predicates using both
    * partition values and column bounds. Never removes a file that could
    * contain a matching row. */
  def prune(
      entries: Seq[ManifestEntry],
      predicates: Seq[ColPredicate],
      spec: Seq[PartitionFieldSpec],
      schema: Seq[Column]): Seq[ManifestEntry] =
    if (predicates.isEmpty) entries
    else entries.filter(keepEntry(_, predicates, spec, schema))

  /** One entry of [[prune]]: may this data file contain a matching row? */
  def keepEntry(
      e: ManifestEntry,
      predicates: Seq[ColPredicate],
      spec: Seq[PartitionFieldSpec],
      schema: Seq[Column]): Boolean =
    predicates.forall {
      case ColPredicate(c, In, vs: Seq[_]) =>
        // disjunction of Eq checks; an oversized list skips pruning
        // (keep), an EMPTY list matches no row (drop every file)
        vs.size > MaxInValues || vs.exists { v =>
          val p = ColPredicate(c, Eq, v)
          keepByPartition(e, p, spec, schema) && keepByBounds(e, p, schema)
        }
      case ColPredicate(_, In, _) => true // malformed value → conservative
      case ColPredicate(c, IsNull, _) => keepByNullCount(e, c, schema, wantNull = true)
      case ColPredicate(c, NotNull, _) => keepByNullCount(e, c, schema, wantNull = false)
      case p =>
        keepByPartition(e, p, spec, schema) && keepByBounds(e, p, schema)
    }

  /** Serializable entry-level predicate for DISTRIBUTED planning: the same
    * keep/skip check [[prune]] runs on the driver, packaged so
    * [[ManifestReader]] can evaluate it inside the executor map and collect
    * ONLY surviving entries (driver heap ∝ survivors, not table size).
    * Delete-manifest entries and delete-content entries always survive —
    * their files scope to surviving data files downstream, and dropping one
    * here could un-delete rows. Semantics-safe by construction: everything
    * this drops, the driver-side [[prune]] in `scanLoaded` would drop too,
    * and the full predicate is re-applied as the residual Spark filter. */
  final case class EntryPredicate(
      predicates: Seq[ColPredicate],
      spec: Seq[PartitionFieldSpec],
      schema: Seq[Column]) extends Serializable {
    def nonTrivial: Boolean = predicates.nonEmpty
    def keep(manifestContent: Int, e: ManifestEntry): Boolean =
      manifestContent != 0 || e.content != 0 ||
        keepEntry(e, predicates, spec, schema)
  }

  // ---- manifest-level pruning (round 10) -----------------------------------

  /** Keep/skip for a [lo, hi] range vs a predicate value under `cmp`.
    * Missing bound → that side unconstrained (keep). `widen` treats
    * Lt as Le and Gt as Ge — required in TRANSFORMED ordinal domains,
    * where a file in the predicate's own ordinal can hold rows on either
    * side of the exact cut point. */
  private def rangeKeep[T](
      lo: Option[T], hi: Option[T], v: Option[T],
      cmp: (T, T) => Option[Int], op: Op, widen: Boolean): Boolean = v match {
    case None => true
    case Some(x) =>
      def loK(k: Int => Boolean) = lo.flatMap(cmp(_, x)).forall(k)
      def hiK(k: Int => Boolean) = hi.flatMap(cmp(_, x)).forall(k)
      op match {
        case Eq => loK(_ <= 0) && hiK(_ >= 0)
        case Lt => if (widen) loK(_ <= 0) else loK(_ < 0)
        case Le => loK(_ <= 0)
        case Gt => if (widen) hiK(_ >= 0) else hiK(_ > 0)
        case Ge => hiK(_ >= 0)
        case _ => true
      }
  }

  /** Summary bound bytes → Long in the transform's ordinal domain
    * (int-typed date/bucket ordinals are 4-byte LE; long-domain truncate
    * is 8-byte LE). Unexpected width → None → keep. */
  private def ordinalOfBytes(bytes: Array[Byte]): Option[Long] = {
    def le = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    if (bytes.length >= 8) Some(le.getLong)
    else if (bytes.length >= 4) Some(le.getInt.toLong)
    else None
  }

  private def cmpLong(a: Long, b: Long): Option[Int] = Some(java.lang.Long.compare(a, b))

  /** Does the manifest-wide partition-value range of one spec field
    * possibly satisfy `p`? */
  private def summaryKeep(
      s: FieldSummary, sf: PartitionFieldSpec, dt: DataType, p: ColPredicate): Boolean = {
    import IcebergTransforms.{Identity, Day, Month, Year, Hour, Bucket, Truncate}
    // Iceberg EXCLUDES NaN from float/double bounds (contains_nan flags
    // it instead), and NaN sorts above every value in Spark — a manifest
    // flagged contains_nan can satisfy any comparison its bounds rule
    // out (never prunable), and an UNKNOWN flag may hide NaN rows that
    // satisfy >/>= above the upper bound (keep for those ops).
    if (dt == FloatType || dt == DoubleType) {
      if (s.containsNan.contains(true)) return true
      if (!s.containsNan.contains(false) && (p.op == Gt || p.op == Ge)) return true
    }
    def ordLo = s.lowerBound.flatMap(ordinalOfBytes)
    def ordHi = s.upperBound.flatMap(ordinalOfBytes)
    IcebergTransforms.parse(sf.transform) match {
      case Identity =>
        // identity summaries bound the source domain exactly — same
        // semantics as per-file column bounds, over the whole manifest
        rangeKeep(
          s.lowerBound.flatMap(b => scala.util.Try(decodeBound(dt, b)).toOption.flatten),
          s.upperBound.flatMap(b => scala.util.Try(decodeBound(dt, b)).toOption.flatten),
          normalize(dt, p.value), compare, p.op, widen = false)
      case t @ (Day | Month | Year | Hour) =>
        rangeKeep(ordLo, ordHi, toTransformOrdinal(t, dt, p.value), cmpLong, p.op, widen = true)
      case Bucket(n) => p.op match {
        // buckets scramble ordering — only equality projects, but the
        // range check is still sound: ordinals ARE comparable ints.
        case Eq => rangeKeep(ordLo, ordHi, toBucketOrdinal(n, dt, p.value), cmpLong, Eq, widen = true)
        case _ => true
      }
      case Truncate(w) => dt match {
        case IntegerType | LongType | ShortType | ByteType =>
          val tv = normalize(dt, p.value).collect {
            case b: java.math.BigDecimal if b.stripTrailingZeros.scale <= 0 =>
              IcebergTransforms.truncateLong(b.longValueExact, w.toLong)
          }
          rangeKeep(ordLo, ordHi, tv, cmpLong, p.op, widen = true)
        case StringType =>
          val tv = p.value match {
            case s2: String => Some(IcebergTransforms.truncateString(s2, w))
            case u: org.apache.spark.unsafe.types.UTF8String =>
              Some(IcebergTransforms.truncateString(u.toString, w))
            case _ => None
          }
          def str(b: Option[Array[Byte]]) = b.map(new String(_, "UTF-8"))
          rangeKeep(str(s.lowerBound), str(s.upperBound), tv,
            (a: String, b: String) => Some(utf8Compare(a, b)), p.op, widen = true)
        case _ => true
      }
      case _ => true // unknown transform: conservative keep
    }
  }

  /** Manifest-LEVEL pruning (Iceberg spec "Manifest Lists": scan planning
    * may use partition field summaries to skip whole manifests — what the
    * reference's full codec decodes as r508,
    * avro_codegen/iceberg_manifest_file_full.hpp:85-99): can ANY file in a
    * manifest with these summaries match every predicate? `summaries`
    * align positionally to `spec` (the spec the manifest was written
    * under). Conservative exactly like [[prune]]. */
  def manifestMayMatch(
      summaries: Seq[FieldSummary],
      spec: Seq[PartitionFieldSpec],
      schema: Seq[Column],
      predicates: Seq[ColPredicate]): Boolean = {
    def fieldKeep(p: ColPredicate): Boolean = {
      val column = findColumn(schema, p.column)
      column.isEmpty || spec.zipWithIndex
        .filter(_._1.sourceId == column.get.id)
        .forall { case (sf, i) =>
          i >= summaries.size || summaryKeep(summaries(i), sf, column.get.dataType, p)
        }
    }
    // every transform maps null → null (spec "Partition Transforms"), so
    // contains_null=false on ANY spec field over the column proves the
    // manifest holds no null source values for it
    def nullKeep(name: String): Boolean = {
      val column = findColumn(schema, name)
      column.isEmpty || spec.zipWithIndex
        .filter(_._1.sourceId == column.get.id)
        .forall { case (_, i) => i >= summaries.size || summaries(i).containsNull }
    }
    predicates.forall {
      case ColPredicate(c, In, vs: Seq[_]) =>
        vs.size > MaxInValues || vs.exists(v => fieldKeep(ColPredicate(c, Eq, v)))
      case ColPredicate(_, In, _) => true // malformed value → conservative
      case ColPredicate(c, IsNull, _) => nullKeep(c)
      case ColPredicate(_, NotNull, _) => true // null-bearing manifests can hold non-nulls
      case p => fieldKeep(p)
    }
  }

  /** The [[ManifestReader.loadTable]] filter: keep every delete manifest
    * (content != 0 — its files scope to surviving data files downstream)
    * and every data manifest without usable summaries; skip data manifests
    * whose summaries prove no file can match. Alignment guard: summaries
    * are positional, so a count mismatch with the named spec keeps. */
  def manifestFilter(
      specsById: Map[Int, Seq[PartitionFieldSpec]],
      schema: Seq[Column],
      predicates: Seq[ColPredicate]): Manifest => Boolean =
    if (predicates.isEmpty) (_: Manifest) => true
    else (m: Manifest) =>
      m.content != 0 || m.stats.forall { s =>
        (s.partitions, specsById.get(s.partitionSpecId)) match {
          case (Some(sums), Some(spec)) if spec.nonEmpty && sums.size == spec.size =>
            manifestMayMatch(sums, spec, schema, predicates)
          case _ => true
        }
      }

  /** Null-count pruning (spec `null_value_counts`, recorded by this
    * engine's writer; absent on foreign files → unknown → keep). */
  private def keepByNullCount(
      e: ManifestEntry, name: String, schema: Seq[Column],
      wantNull: Boolean): Boolean =
    findColumn(schema, name) match {
      case None => true
      case Some(c) => e.nullCounts.get(c.id) match {
        case None => true
        case Some(n) =>
          if (wantNull) n > 0              // zero recorded nulls → no match
          else n < e.recordCount           // every row null → no match
      }
    }

  /** Equality-delete scoping: a predicate over DATA-file entries that is
    * true when the file MAY contain a row whose key columns equal some
    * row of the given delete files. Sound only through recorded stats: a
    * key column can prove disjointness iff EVERY delete file records
    * bounds AND a zero null count for it (a null delete key matches data
    * rows that bounds cannot see — null_value_counts absent ⇒ unknown ⇒
    * unusable); the data file is ruled out iff some usable column's
    * ranges are disjoint. Missing stats on the data side keep the file.
    * Data-side nulls are safe: with zero delete-side nulls, a null data
    * key matches no delete row regardless of ranges. */
  def eqDeleteMayMatch(
      deleteEntries: Seq[ManifestEntry],
      keyCols: Seq[Column]): ManifestEntry => Boolean = {
    def dec(dt: DataType, m: Map[Int, Array[Byte]], id: Int): Option[Any] =
      m.get(id).flatMap(b => scala.util.Try(decodeBound(dt, b)).toOption.flatten)
    def extreme(xs: Seq[Any], keepLeft: Int => Boolean): Option[Any] =
      xs.foldLeft(xs.headOption) { (acc, x) =>
        acc.flatMap(a => compare(a, x).map(c => if (keepLeft(c)) a else x))
      }
    val usable: Seq[(Int, DataType, Any, Any)] = keyCols.flatMap { c =>
      val perFile = deleteEntries.map { e =>
        (e.nullCounts.get(c.id).contains(0L),
          dec(c.dataType, e.lowerBounds, c.id),
          dec(c.dataType, e.upperBounds, c.id))
      }
      if (perFile.isEmpty ||
          perFile.exists(p => !p._1 || p._2.isEmpty || p._3.isEmpty)) None
      else for {
        lo <- extreme(perFile.map(_._2.get), _ <= 0)
        hi <- extreme(perFile.map(_._3.get), _ >= 0)
      } yield (c.id, c.dataType, lo, hi)
    }
    e => usable.forall { case (id, dt, lo, hi) =>
      val disjoint =
        dec(dt, e.upperBounds, id).flatMap(x => compare(x, lo)).exists(_ < 0) ||
        dec(dt, e.lowerBounds, id).flatMap(x => compare(x, hi)).exists(_ > 0)
      !disjoint
    }
  }

  /** Position-delete scoping, the one check of every planner: can a
    * delete file whose `file_path` column has bounds `lo`/`hi` (recorded
    * under the reserved id [[IcebergWriter.PosDeleteFilePathFieldId]])
    * reference the data file recorded in manifests as `rawPath`? Unsigned
    * byte order (Iceberg's binary order for strings); truncated bounds
    * stay sound — a truncated lower bound only lowers, a
    * truncated-incremented upper only raises. Absent bounds (foreign
    * writers) = may reference. */
  def pathInBounds(
      lo: Option[Array[Byte]], hi: Option[Array[Byte]], rawPath: String): Boolean = {
    lazy val p = rawPath.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    lo.forall(java.util.Arrays.compareUnsigned(p, _) >= 0) &&
      hi.forall(java.util.Arrays.compareUnsigned(p, _) <= 0)
  }

  /** [[pathInBounds]] over a position-delete manifest entry's bounds. */
  def posDeleteMayReference(d: ManifestEntry, rawPath: String): Boolean =
    pathInBounds(d.lowerBounds.get(IcebergWriter.PosDeleteFilePathFieldId),
      d.upperBounds.get(IcebergWriter.PosDeleteFilePathFieldId), rawPath)

  /** The residual Spark filter equivalent to `predicates` — always applied
    * on top of the pruned scan so pruning can never change semantics. */
  def residual(predicates: Seq[ColPredicate], schema: Seq[Column]): Option[SqlColumn] = {
    def one(p: ColPredicate): SqlColumn = {
      val dt = findColumn(schema, p.column).map(_.dataType)
      def valueLit(value: Any): SqlColumn = (dt, value) match {
        case (Some(DateType), s: String) => lit(s).cast(DateType)
        case (Some(DateType), d: LocalDate) => lit(java.sql.Date.valueOf(d))
        // epoch-day ints (Catalyst date literals) → a date literal; a bare
        // int literal would not compare against a DateType column
        case (Some(DateType), n: java.lang.Number) =>
          lit(java.sql.Date.valueOf(LocalDate.ofEpochDay(n.longValue)))
        // Long timestamp predicate values are epoch MICROS everywhere in this
        // file (normalize/decodeBound); a bare lit(long) compared against a
        // timestamp column would go through Spark's seconds-based cast and
        // disagree with the pruning interpretation.
        case (Some(TimestampType), n: java.lang.Number) =>
          timestamp_micros(lit(n.longValue))
        // NTZ literal built directly from the stored micros — routing
        // through timestamp_micros().cast(NTZ) would shift by the session
        // time zone in any non-UTC session.
        case (Some(TimestampNTZType), n: java.lang.Number) =>
          val us = n.longValue
          lit(java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(us, 1000000L),
            (Math.floorMod(us, 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC))
        case (_, other) => lit(other)
      }
      lazy val v = valueLit(p.value)
      p.op match {
        case Eq => col(p.column) === v
        case Lt => col(p.column) < v
        case Le => col(p.column) <= v
        case Gt => col(p.column) > v
        case Ge => col(p.column) >= v
        case In => p.value match {
          // each element through the same typed-literal path as Eq, so
          // dates/timestamps compare identically to the pruning domain
          case vs: Seq[_] if vs.nonEmpty =>
            vs.map(x => col(p.column) === valueLit(x)).reduce(_ || _)
          case _ => lit(false) // IN () matches nothing
        }
        case IsNull => col(p.column).isNull
        case NotNull => col(p.column).isNotNull
      }
    }
    predicates.map(one).reduceOption(_ && _)
  }
}
