package graft.storage

import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Partitioning for the snapshot table format — the Iceberg shape, not
  * the Hive one: data files keep EVERY column (a constant column
  * RLE-compresses to nothing), and the partition tuple each file covers
  * is recorded in the MANIFEST (`path\trows\tbytes\t<tuple>`), with the
  * field list on a `#partition spec1,spec2` metadata line carried by
  * every commit. Because membership is manifest metadata, partition
  * pruning is an exact driver-side decision over one manifest read — no
  * directory listings, no stats heuristics — and because the files are
  * self-contained, every existing reader (the DSv2 row/columnar scan
  * that library reads also go through, change feed, time travel) works
  * on partitioned tables unchanged.
  *
  * FIELDS are `col` (identity), `days(col)` / `months(col)` (date or
  * timestamp source), `hours(col)` (timestamp source), or
  * `bucket[N](col)` — the Iceberg transform set a metrics store needs.
  * A file's tuple stores each field's TRANSFORMED value (identity: the
  * canonical value; days/months/hours: the ordinal integer; bucket: the
  * bucket id), which the evaluator maps back to a per-file DOMAIN of
  * the SOURCE column: an exact point (identity), a half-open interval
  * (time transforms), or a hash bucket. Predicates over source columns
  * evaluate per file in SQL tri-state logic against that domain:
  *  - identity domains are exact, so a decidable predicate can be
  *    CONSUMED by the scan (no residual re-evaluation) and feed
  *    partition-filtered `count(*)` from the manifest alone;
  *  - interval domains prove all-rows-satisfy / no-row-satisfies for
  *    comparison shapes (an ALIGNED `ts < cutoff` retention delete is
  *    provable file-by-file), undecidable otherwise — the filter then
  *    stays residual and only the pruning is kept;
  *  - bucket domains refute equality/IN membership, never affirm it.
  *
  * Tuple wire format: `key1=<enc>/key2=<enc>` where `key` is the field
  * spec, `<enc>` percent-encodes `% = / TAB LF CR`, and a SQL NULL value
  * is the bare token `%00` (unambiguous: a real "%00" string encodes as
  * `%2500`; every transform of NULL is NULL). Values are canonical
  * per-type strings (see [[canonicalOfValue]]) so equality of encoded
  * tuples is equality of values. */
object SnapshotPartition {

  private val MicrosPerDay = 86400000000L
  private val MicrosPerHour = 3600000000L

  // ------------------------------------------------------------- fields

  /** One partition field: a transform over a source column. `n` is the
    * bucket count (0 otherwise). */
  final case class PartitionField(transform: String, col: String, n: Int = 0) {
    /** The spec string — the manifest `#partition` entry AND the tuple
      * key: `col`, `days(col)`, `bucket[16](col)`. */
    def key: String = transform match {
      case "identity" => col
      case "bucket" => s"bucket[$n]($col)"
      case t => s"$t($col)"
    }
  }

  private val BucketRe = """bucket\[(\d+)\]\(([^()]+)\)""".r
  private val FnRe = """(days|months|hours)\(([^()]+)\)""".r

  /** Parse a field spec string (a bare name is identity). */
  def parseField(s: String): PartitionField = s.trim match {
    case BucketRe(n, c) => PartitionField("bucket", c.trim, n.toInt)
    case FnRe(t, c) => PartitionField(t, c.trim)
    case c => PartitionField("identity", c)
  }

  /** The identity-supported source types — the flat analytic surface
    * partition keys actually use. Anything else is refused at write
    * time, never silently mis-encoded. */
  def supportedType(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | StringType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Transform/source-type compatibility (refused loudly at create). */
  def supportedField(f: PartitionField, dt: DataType): Boolean = f.transform match {
    case "identity" => supportedType(dt)
    case "days" | "months" => dt match {
      case DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    case "hours" => dt match {
      case TimestampType | TimestampNTZType => true
      case _ => false
    }
    case "bucket" => f.n >= 1 && (dt match {
      // no float/double buckets: a pushed literal arrives widened to
      // double and could not be re-canonicalized to the stored form
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
           StringType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    })
    case _ => false
  }

  // ------------------------------------------------------------ encoding

  private val NullToken = "%00"

  private def encodeValue(v: String): String = {
    val sb = new StringBuilder(v.length)
    v.foreach {
      case c @ ('%' | '=' | '/' | '\t' | '\n' | '\r') =>
        sb.append(f"%%${c.toInt}%02X")
      case c => sb.append(c)
    }
    sb.toString
  }

  private def decodeValue(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 2 < s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** `keys` zipped with canonical values (None = SQL NULL) → the tuple
    * string stored in the manifest entry. */
  def encodeTuple(keys: Seq[String], values: Seq[Option[String]]): String = {
    require(keys.length == values.length, "keys/values arity mismatch")
    keys.zip(values).map { case (k, v) =>
      s"$k=${v.map(encodeValue).getOrElse(NullToken)}"
    }.mkString("/")
  }

  /** Tuple string → field key → canonical value (None = SQL NULL). A
    * malformed tuple decodes to empty (the file is then never pruned —
    * the usual no-false-negative degradation). */
  def decodeTuple(s: String): Map[String, Option[String]] =
    try s.split("/").iterator.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"malformed tuple segment '$kv'")
      val raw = kv.substring(i + 1)
      kv.substring(0, i) ->
        (if (raw == NullToken) None else Some(decodeValue(raw)))
    }.toMap
    catch { case _: Exception => Map.empty }

  // ------------------------------------- canonical per-type value forms

  /** The non-null INTERNAL value at ordinal `i` (what `Expression.eval`
    * would yield: `UTF8String`, days-Int, micros-Long). */
  private def internalAt(dt: DataType, row: SpecializedGetters, i: Int): Any =
    dt match {
      case BooleanType => row.getBoolean(i)
      case ByteType => row.getByte(i)
      case ShortType => row.getShort(i)
      case IntegerType => row.getInt(i)
      case LongType => row.getLong(i)
      case FloatType => row.getFloat(i)
      case DoubleType => row.getDouble(i)
      case StringType => row.getUTF8String(i)
      case DateType => row.getInt(i)
      case TimestampType | TimestampNTZType => row.getLong(i)
      case other => throw new UnsupportedOperationException(
        s"unsupported partition column type $other")
    }

  /** Canonical string for the IDENTITY value at ordinal `i` (None = SQL
    * NULL) — integral types as decimal, floats via their own `toString`
    * (round-trips exactly), dates as ISO local dates, timestamps as
    * epoch micros (timezone-free). */
  def canonicalOf(dt: DataType, row: SpecializedGetters, i: Int): Option[String] =
    if (row.isNullAt(i)) None
    else Some(canonicalOfValue(dt, internalAt(dt, row, i)))

  /** Same canonicalization from a non-null INTERNAL value. All
    * canonicalizing code paths (expression-side, row-side, literal-side)
    * share this so they can never diverge. */
  def canonicalOfValue(dt: DataType, v: Any): String = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType => v.toString
    case StringType => v.toString
    case DateType =>
      java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString
    case TimestampType | TimestampNTZType => v.toString
    case other => throw new UnsupportedOperationException(
      s"unsupported partition column type $other")
  }

  /** A field's STORED tuple value from a non-null internal source value:
    * identity → the canonical string; days/months/hours → the ordinal
    * integer (UTC-day / months-since-1970 / UTC-hour — timezone-free by
    * construction, micros and epoch days are already zone-less); bucket
    * → the bucket id of the canonical string. */
  def transformValue(f: PartitionField, dt: DataType, v: Any): String =
    f.transform match {
      case "identity" => canonicalOfValue(dt, v)
      case "days" => dayOrdinal(dt, v).toString
      case "months" =>
        val ld = java.time.LocalDate.ofEpochDay(dayOrdinal(dt, v))
        ((ld.getYear - 1970) * 12L + ld.getMonthValue - 1).toString
      case "hours" =>
        Math.floorDiv(v.asInstanceOf[Long], MicrosPerHour).toString
      case "bucket" => bucketOf(canonicalOfValue(dt, v), f.n).toString
      case other => throw new UnsupportedOperationException(
        s"unsupported partition transform $other")
    }

  private def dayOrdinal(dt: DataType, v: Any): Long = dt match {
    case DateType => v.asInstanceOf[Int].toLong
    case TimestampType | TimestampNTZType =>
      Math.floorDiv(v.asInstanceOf[Long], MicrosPerDay)
    case other => throw new UnsupportedOperationException(
      s"days/months over $other")
  }

  /** A stored canonical value back in Spark's INTERNAL form (UTF8String,
    * days-Int, micros-Long) — what a `HasPartitionKey` row must carry
    * for storage-partitioned joins. Inverse of [[canonicalOfValue]]. */
  def internalOfCanonical(dt: DataType, s: String): Any = dt match {
    case BooleanType => s.toBoolean
    case ByteType => s.toByte
    case ShortType => s.toShort
    case IntegerType => s.toInt
    case LongType => s.toLong
    case FloatType => s.toFloat
    case DoubleType => s.toDouble
    case StringType => UTF8String.fromString(s)
    case DateType => java.time.LocalDate.parse(s).toEpochDay.toInt
    case TimestampType | TimestampNTZType => s.toLong
    case other => throw new UnsupportedOperationException(
      s"unsupported partition column type $other")
  }

  /** Deterministic bucket of a canonical value string — write side and
    * prune side share it; it does not need to (and does not) match any
    * engine's hash, only itself. */
  def bucketOf(canonical: String, n: Int): Int =
    Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(canonical, 0x5bd1e995), n)

  /** The partition-tuple field for one row of a write — the writer's
    * per-row keying function (`ordinals` index the fields' source
    * columns in the write schema). */
  def tupleOfRow(fields: Seq[PartitionField], types: Seq[DataType],
                 ordinals: Seq[Int], row: SpecializedGetters): String =
    encodeTuple(fields.map(_.key),
      fields.lazyZip(types).lazyZip(ordinals).map { (f, dt, i) =>
        if (row.isNullAt(i)) None
        else Some(transformValue(f, dt, internalAt(dt, row, i)))
      })

  // --------------------------------------------------- per-file domains

  /** What a file's tuple says about one SOURCE column, for every row of
    * the file. */
  sealed trait ColDomain
  /** All rows are SQL NULL (every transform of NULL is NULL). */
  case object DomNull extends ColDomain
  /** Every row holds exactly this canonical value (identity fields). */
  final case class DomPoint(dt: DataType, value: String) extends ColDomain
  /** Every row's value lies in `[lo, hi)` in the source's integral
    * internal units — epoch days for dates, epoch micros for
    * timestamps (time transforms). */
  final case class DomRange(dt: DataType, lo: Long, hi: Long) extends ColDomain
  /** Every row's value hashes into this bucket (refutation-only). */
  final case class DomBucket(dt: DataType, n: Int, bucket: Int) extends ColDomain

  /** Resolve a table's partition fields against the read schema; fields
    * whose source column is missing resolve to nothing (a
    * pre-partitioning time-travel version reads as unpartitioned). */
  def fieldsOf(specs: Seq[String], schema: StructType): Seq[(PartitionField, DataType)] = {
    val byName = schema.fields.map(f => f.name -> f.dataType).toMap
    val fs = specs.map(parseField)
    if (fs.nonEmpty && fs.forall(f => byName.contains(f.col)))
      fs.map(f => (f, byName(f.col)))
    else Seq.empty
  }

  /** One file's decoded tuple → source-column domains. A field whose key
    * is absent (or whose stored value is malformed) contributes nothing —
    * predicates on that column are then undecidable for this file. */
  def fileDomains(fields: Seq[(PartitionField, DataType)],
                  tuple: Map[String, Option[String]]): Map[String, ColDomain] =
    fields.flatMap { case (f, dt) =>
      tuple.get(f.key).flatMap {
        case None => Some(f.col -> DomNull)
        case Some(s) => domainOf(f, dt, s).map(f.col -> (_: ColDomain))
      }
    }.toMap

  private def domainOf(f: PartitionField, dt: DataType,
                       stored: String): Option[ColDomain] = f.transform match {
    case "identity" => Some(DomPoint(dt, stored))
    case "days" => stored.toLongOption.map { d =>
      dt match {
        case DateType => DomRange(dt, d, d + 1)
        case _ => DomRange(dt, d * MicrosPerDay, (d + 1) * MicrosPerDay)
      }
    }
    case "months" => stored.toLongOption.map { m =>
      val y = Math.floorDiv(m, 12).toInt + 1970
      val mo = Math.floorMod(m, 12).toInt + 1
      val lo = java.time.LocalDate.of(y, mo, 1)
      val (d0, d1) = (lo.toEpochDay, lo.plusMonths(1).toEpochDay)
      dt match {
        case DateType => DomRange(dt, d0, d1)
        case _ => DomRange(dt, d0 * MicrosPerDay, d1 * MicrosPerDay)
      }
    }
    case "hours" => stored.toLongOption.map(h =>
      DomRange(dt, h * MicrosPerHour, (h + 1) * MicrosPerHour))
    case "bucket" => stored.toIntOption.map(b => DomBucket(dt, f.n, b))
    case _ => None
  }

  // --------------------------------------------- literal normalization

  /** A pushed-filter LITERAL in canonical comparable form, or None for a
    * class this evaluator does not understand (→ the filter stays
    * residual). Accepts both the EXTERNAL values v1 `Filter`s carry
    * (String, java.sql dates/timestamps, java.time, boxed numerics) and
    * the INTERNAL values V2 `Literal`s carry (UTF8String, days-Int,
    * micros-Long). */
  private def litComparable(dt: DataType, v: Any): Option[Any] = dt match {
    case StringType => v match {
      case s: String => Some(s)
      case u: UTF8String => Some(u.toString)
      case _ => None
    }
    case BooleanType => v match {
      case b: Boolean => Some(b)
      case _ => None
    }
    case ByteType | ShortType | IntegerType | LongType => v match {
      case n: Byte => Some(n.toLong)
      case n: Short => Some(n.toLong)
      case n: Int => Some(n.toLong)
      case n: Long => Some(n.toLong)
      case d: java.math.BigDecimal if d.stripTrailingZeros.scale <= 0 =>
        Some(d.longValueExact())
      case _ => None
    }
    case FloatType | DoubleType => v match {
      case n: Number => Some(n.doubleValue())
      case _ => None
    }
    case DateType => v match {
      case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
      case d: java.time.LocalDate => Some(d.toEpochDay)
      case days: Int => Some(days.toLong)
      case _ => None
    }
    case TimestampType | TimestampNTZType => v match {
      case t: java.sql.Timestamp =>
        // getTime already carries the integral millis (floor semantics for
        // pre-1970 values); only the sub-milli micros come from getNanos.
        // A truncating getTime/1000 round-trip is off by +1s for negative
        // fractional timestamps — and decided partition filters are
        // CONSUMED, so that returns wrong rows, not just bad pruning.
        // Matches Spark's DateTimeUtils.fromJavaTimestamp.
        Some(t.getTime * 1000L + (t.getNanos.toLong / 1000L) % 1000L)
      case t: java.time.Instant =>
        Some(t.getEpochSecond * 1000000L + t.getNano.toLong / 1000L)
      case t: java.time.LocalDateTime =>
        Some(t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          t.getNano.toLong / 1000L)
      case micros: Long => Some(micros)
      case _ => None
    }
    case _ => None
  }

  /** A literal re-canonicalized to the STORED string form (bucket
    * hashing) — only for types whose canonical form survives the v1
    * Filter round-trip exactly. */
  private def litCanonical(dt: DataType, v: Any): Option[String] =
    litComparable(dt, v).flatMap {
      case s: String => Some(s)
      case b: Boolean => Some(b.toString)
      case l: Long => dt match {
        case DateType => Some(java.time.LocalDate.ofEpochDay(l).toString)
        case _ => Some(l.toString)
      }
      case _ => None
    }

  /** Stored canonical value in the same comparable domain. */
  private def storedComparable(dt: DataType, s: String): Option[Any] =
    try dt match {
      case StringType => Some(s)
      case BooleanType => Some(s.toBoolean)
      case ByteType | ShortType | IntegerType | LongType => Some(s.toLong)
      // float canonical strings re-parse as FLOAT first: "1.1".toDouble
      // ≠ 1.1f widened to double, and the literal side arrives widened —
      // parsing to double directly would false-negative-prune
      case FloatType => Some(s.toFloat.toDouble)
      case DoubleType => Some(s.toDouble)
      case DateType => Some(java.time.LocalDate.parse(s).toEpochDay)
      case TimestampType | TimestampNTZType => Some(s.toLong)
      case _ => None
    } catch { case _: Exception => None }

  /** Spark-semantics comparison of stored vs literal: strings in UTF-8
    * binary order (what Spark's string ordering actually is), doubles
    * with `java.lang.Double.compare` (NaN = NaN is TRUE and NaN sorts
    * greatest — Spark's ordering, not IEEE's). None ⇒ incomparable
    * (filter stays residual). */
  private def cmp(dt: DataType, stored: String, lit: Any): Option[Int] =
    for { s <- storedComparable(dt, stored); l <- litComparable(dt, lit) }
    yield (s, l) match {
      case (a: String, b: String) =>
        UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
      case (a: Boolean, b: Boolean) => java.lang.Boolean.compare(a, b)
      case (a: Long, b: Long) => java.lang.Long.compare(a, b)
      case (a: Double, b: Double) => java.lang.Double.compare(a, b)
      case _ => return None
    }

  // --------------------------------------- SQL tri-state filter evaluator

  /** SQL three-valued logic: a predicate over a file's domain is True,
    * False, or Null — all three DEFINITE outcomes FOR EVERY ROW of the
    * file (False and Null both exclude the row). The evaluator's outer
    * Option is a fourth state: None = "cannot decide for all rows"
    * (unsupported shape, non-partition column, an interval the literal
    * splits) — the file must be kept and the filter must stay residual. */
  sealed trait T3
  case object TTrue extends T3
  case object TFalse extends T3
  case object TNull extends T3

  private def not3(t: T3): T3 = t match {
    case TTrue => TFalse; case TFalse => TTrue; case TNull => TNull
  }
  private def and3(a: T3, b: T3): T3 =
    if (a == TFalse || b == TFalse) TFalse
    else if (a == TTrue && b == TTrue) TTrue else TNull
  private def or3(a: T3, b: T3): T3 =
    if (a == TTrue || b == TTrue) TTrue
    else if (a == TFalse && b == TFalse) TFalse else TNull

  /** One comparison op against a domain. `op` ∈ {=, <, <=, >, >=}. */
  private def evalCmp(dom: ColDomain, op: String, v: Any): Option[T3] = dom match {
    case DomNull => Some(TNull) // NULL compared to anything is NULL
    case _ if v == null => Some(TNull)
    case DomPoint(dt, s) =>
      cmp(dt, s, v).map { r =>
        val ok = op match {
          case "=" => r == 0
          case "<" => r < 0; case "<=" => r <= 0
          case ">" => r > 0; case ">=" => r >= 0
        }
        if (ok) TTrue else TFalse
      }
    case DomRange(dt, lo, hi) =>
      litComparable(dt, v) match {
        case Some(l: Long) =>
          // rows x ∈ [lo, hi) in integral units: prove ∀x or ∄x
          val (all, none) = op match {
            case "=" => (lo == l && hi == l + 1, l < lo || l >= hi)
            case "<" => (hi - 1 < l, lo >= l)
            case "<=" => (hi - 1 <= l, lo > l)
            case ">" => (lo > l, hi - 1 <= l)
            case ">=" => (lo >= l, hi - 1 < l)
          }
          if (all) Some(TTrue) else if (none) Some(TFalse) else None
        case _ => None
      }
    case DomBucket(dt, n, b) =>
      if (op != "=") None
      else litCanonical(dt, v) match {
        // a mismatched bucket REFUTES equality; a matching one proves
        // nothing (other values share the bucket)
        case Some(s) if bucketOf(s, n) != b => Some(TFalse)
        case _ => None
      }
  }

  /** Evaluate a pushed v1 [[Filter]] against one file's source-column
    * domains. Kleene logic composes And/Or/Not so a decidable branch can
    * short-circuit an undecidable one. */
  def evalFilter(f: Filter, domains: Map[String, ColDomain]): Option[T3] = {
    def dom(c: String): Option[ColDomain] = domains.get(c)
    f match {
      case sources.AlwaysTrue() => Some(TTrue)
      case sources.AlwaysFalse() => Some(TFalse)
      case sources.IsNull(c) => dom(c).map {
        case DomNull => TTrue
        case _ => TFalse // a non-null domain implies non-null rows
      }
      case sources.IsNotNull(c) => dom(c).map {
        case DomNull => TFalse
        case _ => TTrue
      }
      case sources.EqualTo(c, v) => dom(c).flatMap(evalCmp(_, "=", v))
      case sources.EqualNullSafe(c, v) => dom(c).flatMap {
        case DomNull => Some(if (v == null) TTrue else TFalse)
        case d =>
          if (v == null) Some(TFalse)
          else evalCmp(d, "=", v)
      }
      case sources.GreaterThan(c, v) => dom(c).flatMap(evalCmp(_, ">", v))
      case sources.GreaterThanOrEqual(c, v) => dom(c).flatMap(evalCmp(_, ">=", v))
      case sources.LessThan(c, v) => dom(c).flatMap(evalCmp(_, "<", v))
      case sources.LessThanOrEqual(c, v) => dom(c).flatMap(evalCmp(_, "<=", v))
      case sources.In(c, vs) => dom(c).flatMap {
        case DomNull => Some(TNull)
        case d =>
          val hasNull = vs.contains(null)
          val results = vs.filter(_ != null).map(v => evalCmp(d, "=", v))
          if (results.exists(_.contains(TTrue))) Some(TTrue)
          else if (results.exists(_.isEmpty)) None // some element undecidable
          else if (hasNull) Some(TNull) // x IN (..., NULL) with no match
          else Some(TFalse)
      }
      case sources.StringStartsWith(c, p) => evalStringOp(dom(c), _.startsWith(p))
      case sources.StringEndsWith(c, p) => evalStringOp(dom(c), _.endsWith(p))
      case sources.StringContains(c, p) => evalStringOp(dom(c), _.contains(p))
      case sources.And(l, r) =>
        (evalFilter(l, domains), evalFilter(r, domains)) match {
          // FALSE dominates even an undecidable sibling
          case (Some(TFalse), _) | (_, Some(TFalse)) => Some(TFalse)
          case (Some(a), Some(b)) => Some(and3(a, b))
          case _ => None
        }
      case sources.Or(l, r) =>
        (evalFilter(l, domains), evalFilter(r, domains)) match {
          // TRUE dominates even an undecidable sibling
          case (Some(TTrue), _) | (_, Some(TTrue)) => Some(TTrue)
          case (Some(a), Some(b)) => Some(or3(a, b))
          case _ => None
        }
      case sources.Not(inner) => evalFilter(inner, domains).map(not3)
      case _ => None
    }
  }

  private def evalStringOp(d: Option[ColDomain],
                           test: String => Boolean): Option[T3] = d.flatMap {
    case DomNull => Some(TNull)
    case DomPoint(StringType, s) => Some(if (test(s)) TTrue else TFalse)
    case _ => None
  }

  /** Compatibility shape for IDENTITY-only callers: evaluate against a
    * raw column→value tuple (every column an exact point). */
  def evalFilter(f: Filter, types: Map[String, DataType],
                 tuple: Map[String, Option[String]]): Option[T3] =
    evalFilter(f, types.flatMap { case (c, dt) =>
      tuple.get(c).map {
        case None => c -> (DomNull: ColDomain)
        case Some(s) => c -> (DomPoint(dt, s): ColDomain)
      }
    })

  /** True when `f` references only partition SOURCE columns — the
    * precondition for the evaluator to possibly decide it. Per-file
    * decidability still requires the file to CARRY a tuple covering
    * those fields in decidable shapes; callers check both. */
  def referencesOnlyPartitionCols(f: Filter,
                                  fields: Seq[(PartitionField, DataType)]): Boolean = {
    val cols = fields.map(_._1.col).toSet
    f.references.forall(cols.contains)
  }

  /** Partition-prune a file set under one pushed filter: drops every
    * entry whose domains make `f` definitely non-True (False and Null
    * both exclude every row of the file), keeps the rest. The returned
    * Boolean is "decidable for ALL entries" — when true the caller may
    * CONSUME `f` (every row of every kept file is known to satisfy it,
    * no residual evaluation needed); when false (a tuple-less legacy
    * file, an uncovered column, an interval the literal splits) the
    * kept set is still sound but `f` must stay residual. */
  def pruneEntries[A](entries: Seq[A], tupleOf: A => String, f: Filter,
                      fields: Seq[(PartitionField, DataType)]): (Seq[A], Boolean) = {
    var decidableAll = true
    val kept = entries.filter { e =>
      val ts = tupleOf(e)
      if (ts.isEmpty) { decidableAll = false; true }
      else evalFilter(f, fileDomains(fields, decodeTuple(ts))) match {
        case Some(TTrue) => true
        case Some(_) => false
        case None => decidableAll = false; true
      }
    }
    (kept, decidableAll)
  }

  // ----------------------------------- V2 Predicate → v1 Filter bridge

  import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, Literal => V2Literal, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.{AlwaysFalse => V2False, AlwaysTrue => V2True, And => V2And, Not => V2Not, Or => V2Or, Predicate => V2Predicate}

  private def v2Name(e: V2Expr): Option[String] = e match {
    case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames()(0))
    case _ => None
  }
  private def v2Lit(e: V2Expr): Option[Any] = e match {
    case l: V2Literal[_] => Some(l.value)
    case _ => None
  }

  /** The DSv2 `Predicate` shapes (DELETE WHERE, row-level conditions)
    * translated onto the v1 `Filter` evaluator above. None ⇒ shape not
    * supported (callers degrade to their conservative path). */
  def v2ToV1(p: V2Predicate): Option[Filter] = p match {
    case _: V2True => Some(sources.AlwaysTrue())
    case _: V2False => Some(sources.AlwaysFalse())
    case a: V2And =>
      for (l <- v2ToV1(a.left()); r <- v2ToV1(a.right())) yield sources.And(l, r)
    case o: V2Or =>
      for (l <- v2ToV1(o.left()); r <- v2ToV1(o.right())) yield sources.Or(l, r)
    case n: V2Not => v2ToV1(n.child()).map(sources.Not)
    case g: V2Predicate =>
      val ch = g.children()
      (g.name(), ch.length) match {
        case ("IS_NULL", 1) => v2Name(ch(0)).map(sources.IsNull)
        case ("IS_NOT_NULL", 1) => v2Name(ch(0)).map(sources.IsNotNull)
        case ("IN", n) if n >= 2 =>
          v2Name(ch(0)).flatMap { c =>
            val vs = ch.drop(1).map(v2Lit)
            if (vs.exists(_.isEmpty)) None
            else Some(sources.In(c, vs.map(_.get)))
          }
        case (op @ ("=" | "<=>" | "<" | "<=" | ">" | ">=" | "<>"), 2) =>
          val flip = Map("<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=",
            "=" -> "=", "<=>" -> "<=>", "<>" -> "<>")
          def leaf(c: String, v: Any, o: String): Filter = o match {
            case "=" => sources.EqualTo(c, v)
            case "<=>" => sources.EqualNullSafe(c, v)
            case "<" => sources.LessThan(c, v)
            case "<=" => sources.LessThanOrEqual(c, v)
            case ">" => sources.GreaterThan(c, v)
            case ">=" => sources.GreaterThanOrEqual(c, v)
            case "<>" => sources.Not(sources.EqualTo(c, v))
          }
          (v2Name(ch(0)), v2Lit(ch(1)), v2Name(ch(1)), v2Lit(ch(0))) match {
            case (Some(c), Some(v), _, _) => Some(leaf(c, v, op))
            case (_, _, Some(c), Some(v)) => Some(leaf(c, v, flip(op)))
            case _ => None
          }
        case _ => None
      }
  }
}

/** `graft_part_field('days', 0, c)` — [[SnapshotPartition.transformValue]]
  * as a Catalyst expression: a row's partition field value, exactly as
  * the task writer keys its tuple (both share one code path by
  * construction). Library writes cluster by it so each tuple lands in one
  * task, partition-scoped merges collect the tuples an update set
  * touches, and partitioned compaction bins by it. Never on a read hot
  * path, so `CodegenFallback` costs nothing that matters; NULL in, NULL
  * out. */
case class PartitionFieldExpr(
    transform: String, n: Int,
    child: org.apache.spark.sql.catalyst.expressions.Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

  private def field = SnapshotPartition.PartitionField(transform, "c", n)

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (SnapshotPartition.supportedField(field, child.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_part_field: unsupported $transform over ${child.dataType}")

  override protected def nullSafeEval(v: Any): Any =
    UTF8String.fromString(
      SnapshotPartition.transformValue(field, child.dataType, v))

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): PartitionFieldExpr =
    copy(child = newChild)
}
