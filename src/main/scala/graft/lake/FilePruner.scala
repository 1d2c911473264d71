package graft.lake

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Driver-side file skipping: evaluates a query predicate against each data
  * file's partition values and per-column min/max stats, and keeps only the
  * files that MAY contain matching rows.
  *
  * This is the Spark-native analog of the reference's parallel scan planner
  * that decides which files/chunks become scan tasks
  * (pg_lakehouse_iceberg/src/operations/scan_ops.c:62-120): here planning is
  * pure metadata on the driver, and the surviving file list is handed to
  * `spark.read.parquet(files:_*)` whose partitions ARE the parallel tasks.
  *
  * Strictly conservative: anything we cannot prove false for every row of a
  * file keeps the file (returns true). Correctness never depends on pruning
  * because the caller re-applies the same predicate to the scanned rows;
  * pruning only shrinks IO — which at 100 TB is the whole game.
  */
// Serializable so closures built by [[keeper]] (which capture the module
// through method references) ship to executors; the module is stateless.
object FilePruner extends Serializable {

  /** Comparison domain for a stats/literal value (see ColStats.tag). */
  private sealed trait V
  private case class LongV(v: Long) extends V
  private case class DoubleV(v: Double) extends V
  private case class StringV(v: String) extends V
  private case class DecimalV(v: BigDecimal) extends V

  /** Per-file stats-key resolution: stats in a file are keyed by the
    * PHYSICAL column names of its schema epoch, so after a rename the
    * CURRENT name must map back through the epoch (GraftTable passes the
    * field-id mapping; identity is the no-evolution default). */
  type StatName = (DataFileMeta, String) => String
  val SameName: StatName = (_, n) => n

  /** Sentinel for "this current column's field id does not exist in the
    * file's schema epoch". Physical column names can never contain NUL, so
    * every stats/bloom lookup through this key misses → conservative keep
    * (pruning) / refusal (metadata agg pushdown). See GraftTable.statNameFor. */
  val AbsentKey: String = 0.toChar + "absent-in-epoch"

  /** File-level bloom consult for equality predicates (write.bloom.columns
    * sidecars). `column` is the file's PHYSICAL name (already resolved
    * through StatName); the value rides the same domains as stats — Left =
    * integral/date-days/timestamp-micros, Right = string. Some(false) =
    * the bloom PROVES the value absent from the file; None = no bloom for
    * the column (or the impl chose not to load it) → keep. */
  trait BloomOracle {
    def mightContain(f: DataFileMeta, column: String, value: Either[Long, String]): Option[Boolean]
  }
  /** Default: no bloom evidence. */
  val NoBloom: BloomOracle = (_, _, _) => None

  def prune(
      files: Seq[DataFileMeta],
      filter: Option[Column],
      partitionColumns: Seq[String],
      schema: StructType,
      statName: StatName = SameName,
      bloom: BloomOracle = NoBloom): Seq[DataFileMeta] =
    filter match {
      case None => files
      case Some(c) =>
        val expr =
          try org.apache.spark.sql.graftshim.ColumnExpr.expression(c)
          catch { case _: Throwable => return files }
        pruneResolved(files, expr, partitionColumns, schema, statName, bloom)
    }

  /** Serializable per-file keep predicate for EXECUTOR-side pruning —
    * the distributed log-replay path (a 10⁶-file Delta checkpoint must
    * not funnel every add action through one driver collect just so the
    * driver can throw most of them away; see
    * [[graft.lake.delta.DeltaTable]]). The predicate is normalized and
    * the transforms parsed ONCE here on the driver; the returned closure
    * captures only serializable case-class state (the Catalyst tree, the
    * parsed transforms, the schema) and runs the same conservative
    * [[mayMatch]] walk per file inside tasks. Semantics are identical to
    * [[prune]]: any normalization failure degrades to keep-everything,
    * never to dropping a file. */
  def keeper(
      filter: Option[Column],
      partitionColumns: Seq[String],
      schema: StructType): DataFileMeta => Boolean = {
    val keepAll: DataFileMeta => Boolean = _ => true
    filter match {
      case None => keepAll
      case Some(c) =>
        val norm =
          try normalize(org.apache.spark.sql.graftshim.ColumnExpr.expression(c))
          catch { case _: Throwable => return keepAll }
        val transforms =
          try PartitionTransforms.parseAll(partitionColumns)
          catch { case _: Throwable => Nil }
        f => mayMatch(f, norm, transforms, schema, SameName, NoBloom)
    }
  }

  /** Same walk over an already-built Catalyst predicate (resolved trees
    * pass through `normalize` unchanged — the walk matches
    * AttributeReference and concrete comparison nodes directly). */
  def pruneResolved(
      files: Seq[DataFileMeta],
      predicate: Expression,
      partitionColumns: Seq[String],
      schema: StructType,
      statName: StatName = SameName,
      bloom: BloomOracle = NoBloom): Seq[DataFileMeta] = {
    val expr =
      try normalize(predicate)
      catch { case _: Throwable => return files }
    // partition specs may be transforms (days/bucket/truncate) — parse
    // once; unparsable specs disable partition pruning, never correctness
    val transforms =
      try PartitionTransforms.parseAll(partitionColumns)
      catch { case _: Throwable => Nil }
    files.filter(f => mayMatch(f, expr, transforms, schema, statName, bloom))
  }

  /** Spark 4's Column ops arrive as UnresolvedFunction("=", "<", "and", ...)
    * — rewrite the comparison/boolean skeleton into concrete Catalyst nodes
    * so the walk below can match; unknown functions stay opaque (→ keep). */
  private def normalize(e: Expression): Expression = e.transformUp {
    // constant-fold literal casts (e.g. lit("1994-01-01").cast("date") →
    // date literal as epoch-day int) so date/timestamp range predicates
    // become prunable; anything that fails to fold stays opaque (→ keep)
    case c: Cast if c.child.isInstanceOf[Literal] =>
      try {
        val withTz = if (c.timeZoneId.isEmpty && c.needsTimeZone) c.withTimeZone("UTC") else c
        Literal(withTz.eval(null), c.dataType)
      } catch { case _: Throwable => c }
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
        if u.nameParts.length == 1 && !u.isDistinct =>
      val args = u.arguments
      (u.nameParts.head.toLowerCase, args) match {
        case ("=" | "==", Seq(a, b)) => EqualTo(a, b)
        case ("<", Seq(a, b)) => LessThan(a, b)
        case ("<=", Seq(a, b)) => LessThanOrEqual(a, b)
        case (">", Seq(a, b)) => GreaterThan(a, b)
        case (">=", Seq(a, b)) => GreaterThanOrEqual(a, b)
        case ("and", Seq(a, b)) => And(a, b)
        case ("or", Seq(a, b)) => Or(a, b)
        case ("!" | "not", Seq(a)) => Not(a)
        case ("in", a +: rest) if rest.nonEmpty => In(a, rest)
        case ("isnull", Seq(a)) => IsNull(a)
        case ("isnotnull", Seq(a)) => IsNotNull(a)
        case _ => u
      }
  }

  /** Manifest-level pruning: may ANY data file of a manifest whose
    * summary lists these per-column distinct partition values match the
    * predicate? Evaluated per column independently (sound: if no value of
    * one column can satisfy the predicate's constraint on it, no file in
    * the manifest can match) by running each candidate value through the
    * same conservative file walk with ONLY that column bound — transforms,
    * typed comparison and NULL semantics all reuse the file-level logic.
    * Unknown/absent columns never skip. Used by GraftTable.planFiles to
    * drop whole manifests BEFORE any manifest IO. */
  def manifestMayMatch(
      pvals: Map[String, Seq[String]],
      predicate: Expression,
      partitionColumns: Seq[String],
      schema: StructType,
      rangeStats: Map[String, ColStats] = Map.empty,
      rows: Long = -1L): Boolean = {
    if (pvals.isEmpty && rangeStats.isEmpty) return true
    val expr =
      try normalize(predicate)
      catch { case _: Throwable => return true }
    val transforms =
      try PartitionTransforms.parseAll(partitionColumns)
      catch { case _: Throwable => return true }
    val pvalsOk = pvals.forall { case (dirName, values) =>
      values.isEmpty || values.exists { v =>
        val synth = DataFileMeta("", 0L, 1L, 0L, Map(dirName -> v), Map.empty)
        mayMatch(synth, expr, transforms, schema, SameName, NoBloom)
      }
    }
    if (!pvalsOk) return false
    // column-range evidence: ONE synthetic file carrying the manifest's
    // folded min/max/null bounds (keyed by CURRENT column name — the
    // caller resolved field ids) walks the same conservative file-level
    // logic; a false here proves no file in the manifest can match.
    // rows <= 0 = unknown total → never prunes on IS NOT NULL.
    rangeStats.isEmpty || {
      val synth = DataFileMeta("", 0L,
        if (rows > 0) rows else Long.MaxValue, 0L, Map.empty, rangeStats)
      mayMatch(synth, expr, transforms, schema, SameName, NoBloom)
    }
  }

  // ---- predicate walk ------------------------------------------------------

  private def mayMatch(f: DataFileMeta, e: Expression, transforms: Seq[PTransform], schema: StructType, statName: StatName, bloom: BloomOracle): Boolean =
    e match {
      case And(l, r) => mayMatch(f, l, transforms, schema, statName, bloom) && mayMatch(f, r, transforms, schema, statName, bloom)
      case Or(l, r)  => mayMatch(f, l, transforms, schema, statName, bloom) || mayMatch(f, r, transforms, schema, statName, bloom)
      case Not(EqualTo(a, b)) => mayMatchNotEq(f, a, b, transforms, schema)
      case cmp: BinaryComparison => mayMatchCmp(f, cmp, transforms, schema, statName, bloom)
      case In(AttrName(name), list) if list.forall(_.isInstanceOf[Literal]) =>
        list.exists(l => mayMatchOp(f, name, "=", l.asInstanceOf[Literal], transforms, schema, statName, bloom))
      case IsNull(AttrName(name)) =>
        val id = identityValue(f, name, transforms) match {
          case Some(pv) => pv == null
          case None => true
        }
        // days/truncate map null→null, so a non-null transform dir proves
        // the file has NO null source values (bucket hashes null to a
        // real bucket — no null evidence there)
        val tr = transforms.forall {
          case t @ (PDays(`name`) | PTruncate(_, `name`)) =>
            f.partitionValues.get(t.dirName).forall(_ == Meta.NullPartition)
          case _ => true
        }
        id && tr && f.stats.get(statName(f, name)).forall(_.nulls != 0) // unknown → keep
      case IsNotNull(AttrName(name)) =>
        val id = identityValue(f, name, transforms) match {
          case Some(pv) => pv != null
          case None => true
        }
        val tr = transforms.forall {
          case t @ (PDays(`name`) | PTruncate(_, `name`)) =>
            f.partitionValues.get(t.dirName).forall(_ != Meta.NullPartition)
          case _ => true
        }
        id && tr &&
          f.stats.get(statName(f, name)).forall(s => f.rowCount == 0 || s.nulls < f.rowCount)
      case _ => true // unsupported shape: keep the file
    }

  private def mayMatchNotEq(f: DataFileMeta, a: Expression, b: Expression, transforms: Seq[PTransform], schema: StructType): Boolean =
    (a, b) match {
      // only identity partition columns can prove != false (single value
      // per file; a transform bucket holds many distinct values)
      case (AttrName(n), l: Literal) => notEqPart(f, n, l, transforms, schema)
      case (l: Literal, AttrName(n)) => notEqPart(f, n, l, transforms, schema)
      case _ => true
    }

  private def notEqPart(f: DataFileMeta, name: String, l: Literal, transforms: Seq[PTransform], schema: StructType): Boolean =
    identityValue(f, name, transforms) match {
      case Some(pv) =>
        if (pv == null) false // null != x is null → row filtered
        else (typedPartValue(pv, name, schema), litFor(l, name, schema)) match {
          case (Some(p), Some(v)) => compare(p, v).map(_ != 0).getOrElse(true)
          case _ => true
        }
      case None => true
    }

  /** Normalizes attr-vs-literal comparisons (either operand order). */
  private def mayMatchCmp(f: DataFileMeta, cmp: BinaryComparison, transforms: Seq[PTransform], schema: StructType, statName: StatName, bloom: BloomOracle): Boolean = {
    val norm: Option[(String, String, Literal)] = (cmp.left, cmp.right) match {
      case (AttrName(n), l: Literal) => Some((n, opOf(cmp), l))
      case (l: Literal, AttrName(n)) => Some((n, flip(opOf(cmp)), l))
      case _ => None
    }
    norm match {
      case Some((name, op, l)) => mayMatchOp(f, name, op, l, transforms, schema, statName, bloom)
      case None => true
    }
  }

  private def opOf(c: BinaryComparison): String = c match {
    case _: EqualTo => "="
    case _: LessThan => "<"
    case _: LessThanOrEqual => "<="
    case _: GreaterThan => ">"
    case _: GreaterThanOrEqual => ">="
    case _ => "?"
  }
  private def flip(op: String): String = op match {
    case "<" => ">" case "<=" => ">=" case ">" => "<" case ">=" => "<=" case o => o
  }

  /** `col op literal` vs one file: every evidence source is consulted and
    * ANDed — identity partition value, each TRANSFORM partition value
    * (mapped into the transform's domain), and min/max stats. Each check
    * independently returns false only when it PROVES no row can match, so
    * the conjunction stays conservative. */
  private def mayMatchOp(f: DataFileMeta, name: String, op: String, l: Literal, transforms: Seq[PTransform], schema: StructType, statName: StatName, bloom: BloomOracle): Boolean = {
    if (op == "?") return true
    if (l.value == null) return false // col <op> NULL matches nothing
    // bucket check first: it hashes the RAW literal (no domain mapping),
    // and only when the literal's type equals the column type — hashing a
    // long literal against an int column's buckets would prune wrong files
    val colType = schema.find(_.name == name).map(_.dataType)
    val bucketOk = transforms.forall {
      case b @ PBucket(n, `name`) if op == "=" && colType.contains(l.dataType) =>
        f.partitionValues.get(b.dirName) match {
          case Some(dv) if dv != Meta.NullPartition =>
            (dv.toIntOption, PartitionTransforms.bucketOfLiteral(l, n)) match {
              case (Some(d), Some(bk)) => d == bk
              case _ => true
            }
          case _ => true
        }
      case _ => true
    }
    if (!bucketOk) return false
    val lv = litFor(l, name, schema) match {
      case Some(v) => v
      case None => return true
    }
    val idOk = identityValue(f, name, transforms) match {
      case Some(pv) =>
        if (pv == null) false
        else typedPartValue(pv, name, schema) match {
          case Some(p) => compare(p, lv) match {
            case Some(c) => op match {
              case "=" => c == 0
              case "<" => c < 0
              case "<=" => c <= 0
              case ">" => c > 0
              case ">=" => c >= 0
            }
            case None => true
          }
          case None => true
        }
      case None => true
    }
    if (!idOk) return false
    if (!transformsMayMatch(f, name, op, lv, transforms, colType)) return false
    val statsOk = f.stats.get(statName(f, name)) match {
      case Some(st) => rangeMayMatch(st, op, lv)
      case None => true
    }
    if (!statsOk) return false
    // bloom evidence: equality only (IN decomposes to = per member above);
    // a bloom negative PROVES absence — min/max ranges can't, on an
    // unclustered high-cardinality column
    if (op == "=") {
      val domain = lv match {
        case LongV(v) => Some(scala.Left(v))
        case StringV(s) => Some(scala.Right(s))
        case _ => None // double/decimal: no bloom domain
      }
      domain.foreach { d =>
        if (bloom.mightContain(f, statName(f, name), d).contains(false)) return false
      }
    }
    true
  }

  /** days/truncate dirs each cover a VALUE RANGE of the source column —
    * map the literal into that range and decide like a min/max check. */
  private def transformsMayMatch(f: DataFileMeta, name: String, op: String, lv: V,
      transforms: Seq[PTransform], colType: Option[DataType]): Boolean =
    transforms.forall {
      case t @ PDays(`name`) =>
        f.partitionValues.get(t.dirName) match {
          case Some(Meta.NullPartition) => false // all-null source: op never true
          case Some(dv) => (dv.toLongOption, lv, colType) match {
            case (Some(day), LongV(vMicros), Some(TimestampType | TimestampNTZType)) =>
              // the day covers micros [day·86400e6, (day+1)·86400e6)
              val lo = day * PartitionTransforms.MicrosPerDay
              boundsMayMatch(LongV(lo), LongV(lo + PartitionTransforms.MicrosPerDay - 1),
                op, LongV(vMicros))
            case (Some(day), LongV(vDays), Some(DateType)) =>
              boundsMayMatch(LongV(day), LongV(day), op, LongV(vDays))
            case _ => true
          }
          case None => true
        }
      case t @ PTruncate(w, `name`) =>
        f.partitionValues.get(t.dirName) match {
          case Some(Meta.NullPartition) => false
          case Some(dv) => (colType, lv) match {
            case (Some(StringType), StringV(s)) if isAscii(s) && isAscii(dv) =>
              // bucket = strings with prefix dv: interval [dv, nextPrefix(dv))
              PartitionTransforms.nextPrefix(dv) match {
                case Some(np) => op match {
                  case "=" => s.take(w) == dv // bucket membership is exact for =
                  case "<" => dv < s  // min member is dv itself
                  case "<=" => dv <= s
                  case ">" => s < np  // members live in [dv, np)
                  case ">=" => s < np
                  case _ => true
                }
                case None => true // unbounded-above prefix: keep
              }
            case (Some(ByteType | ShortType | IntegerType | LongType), LongV(v)) =>
              dv.toLongOption match {
                // integral truncate bucket covers [t, t+w)
                case Some(tLo) => boundsMayMatch(LongV(tLo), LongV(tLo + w - 1), op, LongV(v))
                case None => true
              }
            case _ => true
          }
          case None => true
        }
      case _ => true
    }

  /** file range [min,max] vs literal — can any row satisfy `col op v`? */
  private def rangeMayMatch(st: ColStats, op: String, v: V): Boolean = {
    val mn = statValue(st, st.min)
    val mx = statValue(st, st.max)
    (mn, mx) match {
      case (Some(lo), Some(hi)) => boundsMayMatch(lo, hi, op, v)
      case _ => true
    }
  }

  /** value range [lo,hi] (inclusive) vs literal under `op`. */
  private def boundsMayMatch(lo: V, hi: V, op: String, v: V): Boolean =
    (compare(lo, v), compare(hi, v)) match {
      case (Some(cl), Some(ch)) => op match {
        case "=" => cl <= 0 && ch >= 0
        case "<" => cl < 0   // min < v → some row may be < v
        case "<=" => cl <= 0
        case ">" => ch > 0
        case ">=" => ch >= 0
        case _ => true
      }
      case _ => true
    }

  // ---- value extraction ----------------------------------------------------

  /** Unwraps attribute references whether resolved or not. */
  private object AttrName {
    def unapply(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.name)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
  }

  /** Converts a literal into the DOMAIN of `name`'s file stats, which is
    * fixed by the column's schema type: numeric stats are the value itself,
    * DateType stats are epoch days, TimestampType stats are epoch MICROS
    * (GraftTable always writes TIMESTAMP_MICROS). A literal whose type
    * can't be soundly mapped into the column's domain yields None → the
    * file is kept. Comparing raw literal values against stats without this
    * mapping is a correctness bug: a date literal (epoch days) against
    * timestamp stats (micros) both look like longs and would prune
    * essentially every file. */
  /** litFor is pure in (literal, column, schema) but runs inside the
    * per-FILE pruning loop — on a 10^5-file estate one predicate would
    * re-parse the same date/decimal literal 10^5 times on the driver
    * planning path. Small bounded memo. */
  private val litMemo = new BlobCache[(Literal, String, StructType), Option[V]](1024)
  private def litFor(l: Literal, name: String, schema: StructType): Option[V] =
    litMemo.get((l, name, schema))(litForUncached(l, name, schema))

  private def litForUncached(l: Literal, name: String, schema: StructType): Option[V] = {
    val colType = schema.find(_.name == name).map(_.dataType).getOrElse(return None)
    val v = l.value
    if (v == null) return None
    colType match {
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType =>
        v match {
          case b: Byte => Some(LongV(b.toLong))
          case s: Short => Some(LongV(s.toLong))
          case i: Int => Some(LongV(i.toLong))
          case j: Long => Some(LongV(j))
          case f: Float => Some(DoubleV(f.toDouble))
          case d: Double => Some(DoubleV(d))
          case _ => None
        }
      case StringType =>
        v match {
          case u: UTF8String => Some(StringV(u.toString))
          case s: String => Some(StringV(s))
          case _ => None
        }
      case DateType =>
        (l.dataType, v) match {
          case (DateType, i: Int) => Some(LongV(i.toLong))
          case (StringType, _) => parseDateDays(v.toString).map(LongV)
          case _ => None
        }
      case TimestampType | TimestampNTZType =>
        (l.dataType, v) match {
          case (TimestampType | TimestampNTZType, j: Long) => Some(LongV(j))
          // date → timestamp at UTC midnight, matching the session tz
          // (all graft sessions run spark.sql.session.timeZone=UTC)
          case (DateType, i: Int) => Some(LongV(i.toLong * MicrosPerDay))
          case (StringType, _) => parseTimestampMicros(v.toString).map(LongV)
          case _ => None
        }
      case _: DecimalType =>
        // exact BigDecimal domain. A DOUBLE literal against a decimal
        // column deliberately yields None: Spark evaluates that predicate
        // in double-rounded semantics, and an exact-domain prune could
        // drop a file whose boundary row only matches after rounding.
        v match {
          case d: org.apache.spark.sql.types.Decimal => Some(DecimalV(d.toBigDecimal))
          case d: java.math.BigDecimal => Some(DecimalV(BigDecimal(d)))
          case d: BigDecimal => Some(DecimalV(d))
          case b: Byte => Some(DecimalV(BigDecimal(b.toInt)))
          case s: Short => Some(DecimalV(BigDecimal(s.toInt)))
          case i: Int => Some(DecimalV(BigDecimal(i)))
          case j: Long => Some(DecimalV(BigDecimal(j)))
          case u: UTF8String => parseDecimal(u.toString)
          case s: String => parseDecimal(s)
          case _ => None
        }
      case _ => None // binary/etc: conservative
    }
  }

  private def parseDecimal(s: String): Option[V] =
    try Some(DecimalV(BigDecimal(s.trim))) catch { case _: Throwable => None }

  private val MicrosPerDay = 86400000000L

  private def parseDateDays(s: String): Option[Long] =
    try Some(java.time.LocalDate.parse(s.trim).toEpochDay)
    catch { case _: Throwable => None }

  private def parseTimestampMicros(s: String): Option[Long] = {
    val t = s.trim
    try {
      val ldt = java.time.LocalDateTime.parse(t.replace(' ', 'T'))
      Some(ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L)
    } catch {
      case _: Throwable => parseDateDays(t).map(_ * MicrosPerDay)
    }
  }

  private def statValue(st: ColStats, s: String): Option[V] = st.tag match {
    case "l" => s.toLongOption.map(LongV)
    case "d" => s.toDoubleOption.map(DoubleV)
    case "s" => Some(StringV(s))
    case "c" => parseDecimal(s)
    case _ => None
  }

  /** Identity-partition value for `name` (None when `name` is not an
    * identity partition column or the file predates the spec);
    * Some(null) means the hive NULL partition. */
  private def identityValue(f: DataFileMeta, name: String, transforms: Seq[PTransform]): Option[String] =
    if (!transforms.exists { case PIdentity(`name`) => true; case _ => false }) None
    else f.partitionValues.get(name) match {
      case Some(Meta.NullPartition) => Some(null)
      case Some(v) => Some(v)
      case None => None
    }

  private def typedPartValue(raw: String, name: String, schema: StructType): Option[V] =
    schema.find(_.name == name).map(_.dataType).flatMap {
      case ByteType | ShortType | IntegerType | LongType => raw.toLongOption.map(LongV)
      case FloatType | DoubleType => raw.toDoubleOption.map(DoubleV)
      case StringType => Some(StringV(raw))
      // hive partition dirs store dates as yyyy-MM-dd; stats/literals use
      // epoch days — same domain after parsing
      case DateType =>
        try Some(LongV(java.time.LocalDate.parse(raw).toEpochDay)) catch { case _: Throwable => None }
      case _: DecimalType => parseDecimal(raw)
      case _ => None
    }

  /** Total order across comparable domains; None = incomparable (keep file).
    * Integral-vs-floating promotes to double (fine below 2^53 — and a wrong
    * ulp here only risks keeping an extra file, never dropping a good one,
    * because = / <= / >= boundaries stay inclusive under promotion). */
  private def compare(a: V, b: V): Option[Int] = (a, b) match {
    case (LongV(x), LongV(y)) => Some(java.lang.Long.compare(x, y))
    case (DoubleV(x), DoubleV(y)) => Some(java.lang.Double.compare(x, y))
    case (LongV(x), DoubleV(y)) => Some(java.lang.Double.compare(x.toDouble, y))
    case (DoubleV(x), LongV(y)) => Some(java.lang.Double.compare(x, y.toDouble))
    // decimal: exact comparison; long promotes exactly. Double-vs-decimal
    // stays incomparable (see litFor) — keep the file.
    case (DecimalV(x), DecimalV(y)) => Some(x.compare(y))
    case (DecimalV(x), LongV(y)) => Some(x.compare(BigDecimal(y)))
    case (LongV(x), DecimalV(y)) => Some(BigDecimal(x).compare(y))
    // parquet footer min/max use unsigned UTF-8 byte order; Java compareTo is
    // UTF-16 — they agree only on ASCII, so never prune on non-ASCII strings.
    case (StringV(x), StringV(y)) if isAscii(x) && isAscii(y) => Some(x.compareTo(y))
    case _ => None
  }

  private def isAscii(s: String): Boolean = {
    var i = 0
    while (i < s.length) { if (s.charAt(i) > 127) return false; i += 1 }
    true
  }
}
