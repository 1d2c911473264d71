package graft.lake.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression => CExpr, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Complete, Count => CCount, Max => CMax, Min => CMin}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter => LFilter, LocalRelation, LogicalPlan, Project, SubqueryAlias, View}
import org.apache.spark.sql.connector.expressions.{Expression, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._

import graft.lake.{AggEntry, ColStats, DataFileMeta, GraftTable, ManifestSummary, Meta, PIdentity, PartitionTransforms, Snapshot}

/** Metadata-only aggregates for the four table formats: answers
  * `COUNT(*) / COUNT(col) / MIN(col) / MAX(col)`, optionally `GROUP BY`
  * identity partition columns, from file-level metadata alone — zero data
  * files opened (Iceberg's aggregate pushdown; the reference's planner
  * keeps the same file-level metadata for its scans,
  * pg_lakehouse_iceberg/src/operations/scan_ops.c:240-276).
  *
  * One path serves graft, Iceberg, Delta and Hudi:
  *  - [[Plan]] is the one plan: each column is answered either from the
  *    file's partition value or from its file stats, as its
  *    [[AggSource]] says. It is built once from a connector
  *    `Aggregation` ([[pushed]]) or from Catalyst aggregate calls
  *    ([[MetadataAggregate]]).
  *  - [[contribution]] is the one per-file step over the normalised
  *    [[AggEntry]], and [[groupedSeq]] / [[groupedComb]] the one fold, so
  *    the same pure, serialisable step runs as a driver loop on small
  *    tables and inside a `treeAggregate` over manifests (Iceberg, past
  *    `spark.graft.iceberg.aggFoldThresholdBytes`) or checkpoint parquet
  *    (Delta, past `spark.graft.delta.stateCollectThresholdBytes`) on
  *    large ones. A whole-estate COUNT/MIN/MAX then never materialises the
  *    file list anywhere.
  *  - A format supplies only what is its own: which columns it answers
  *    from partition values, its groupable (identity partition) columns,
  *    its fold over live files, and the adapter from its entry to
  *    [[AggEntry]]. graft adds its zero-IO shortcuts: the snapshot's
  *    `totalRows`, the manifest-list column ranges and summary manifest
  *    pruning.
  *
  * Everything is EXACT-or-refuse. Unlike `FilePruner`, which may keep
  * extra files because rows are re-filtered, an aggregate answered from
  * metadata has no row-level second chance:
  *  - any live delete, deletion vector or (Hudi snapshot view) log delta
  *    refuses: row counts become upper bounds;
  *  - every filter must reference identity partition columns only, and a
  *    file where some filter cannot be decided from its partition values
  *    refuses the whole fold — skipping it could drop rows it matches.
  *    Decided per file, a file's rows ALL match or NONE do;
  *  - a zero-row file contributes nothing: it holds no value to count or
  *    bound, and keying it would make a group a real scan never yields;
  *  - COUNT(col) from stats needs the file's null count (unknown is not
  *    zero); MIN/MAX only on integral, date, timestamp and decimal
  *    columns, whose stats are exact (string bounds may be truncated,
  *    float/double bounds ignore NaN), and from a file's stats only when
  *    they decode to the column's type.
  */
object AggPushdown {

  // ---- the plan ----------------------------------------------------------------

  /** One metadata-answerable aggregate. `fromPartition`: the column is
    * answered from each file's partition value, else from its stats. */
  sealed trait Plan extends Serializable
  case object PCountStar extends Plan
  final case class PCount(col: String, fromPartition: Boolean) extends Plan
  final case class PBound(col: String, fromPartition: Boolean, isMin: Boolean,
      dt: DataType) extends Plan

  /** Result type of a plan (counts are non-null longs). */
  private[sql] def dataType(p: Plan): DataType = p match {
    case b: PBound => b.dt
    case _ => LongType
  }

  private def countOf(src: AggSource, col: String): Option[Plan] =
    src.schema.find(_.name == col).map(_ => PCount(col, src.partitionCols(col)))

  private def boundOf(src: AggSource, col: String, isMin: Boolean): Option[Plan] =
    src.schema.find(_.name == col).map(_.dataType).filter(minMaxSafe)
      .map(dt => PBound(col, src.partitionCols(col), isMin, dt))

  /** Plan of one connector aggregate function; None = SUM/AVG/DISTINCT/
    * UDAF or an unsupported column, not metadata-answerable. */
  private[sql] def planOf(src: AggSource, fn: AggregateFunc): Option[Plan] = fn match {
    case _: CountStar => Some(PCountStar)
    case c: Count if !c.isDistinct => simpleName(c.column).flatMap(countOf(src, _))
    case m: Min => simpleName(m.column).flatMap(boundOf(src, _, isMin = true))
    case m: Max => simpleName(m.column).flatMap(boundOf(src, _, isMin = false))
    case _ => None
  }

  /** Plan of one Catalyst aggregate call. */
  private[sql] def planOf(src: AggSource, fn: AggregateFunction): Option[Plan] = fn match {
    case CCount(Seq(Literal(v, _))) if v != null => Some(PCountStar)
    case CCount(Seq(a: AttributeReference)) => countOf(src, a.name)
    case CMin(a: AttributeReference) => boundOf(src, a.name, isMin = true)
    case CMax(a: AttributeReference) => boundOf(src, a.name, isMin = false)
    case _ => None
  }

  // ---- the fold ----------------------------------------------------------------

  /** Fold accumulator per plan: counts add, bounds keep their min/max.
    * `isMin` rides in the cell so merging needs no plan context. */
  sealed trait Cell extends Serializable
  final case class CCnt(n: Long) extends Cell
  final case class CBnd(isMin: Boolean, v: Option[BigDecimal]) extends Cell

  private def identity(p: Plan): Cell = p match {
    case b: PBound => CBnd(b.isMin, None)
    case _ => CCnt(0L)
  }

  private def merge(a: Seq[Cell], b: Seq[Cell]): Seq[Cell] =
    a.lazyZip(b).map {
      case (CCnt(u), CCnt(w)) => CCnt(u + w)
      case (CBnd(m, u), CBnd(_, w)) =>
        CBnd(m, (u, w) match {
          case (None, v) => v
          case (v, None) => v
          case (Some(l), Some(r)) => Some(if (m) l.min(r) else l.max(r))
        })
      case _ => throw new IllegalStateException("cell shape mismatch")
    }.toSeq

  /** One non-empty file's cells for every planned aggregate; None = the
    * file cannot answer exactly. */
  private def contribution(plans: Seq[Plan], e: AggEntry): Option[Seq[Cell]] = {
    val f = e.file
    val rows = f.rowCount
    val cells = plans.map {
      case PCountStar => CCnt(rows)
      case PCount(c, true) => f.partitionValues.get(c) match {
        case Some(Meta.NullPartition) => CCnt(0L)
        case Some(_) => CCnt(rows)
        case None => return None // no partition value: no verdict
      }
      case PCount(c, false) => e.nulls.get(c) match {
        case Some(n) => CCnt(rows - n)
        case None => return None // unknown null count is not zero
      }
      case PBound(c, true, isMin, dt) => f.partitionValues.get(c) match {
        case Some(Meta.NullPartition) => CBnd(isMin, None) // MIN/MAX skip nulls
        case Some(raw) => CBnd(isMin, Some(partValue(raw, dt).getOrElse(return None)))
        case None => return None
      }
      case PBound(c, false, isMin, dt) =>
        if (e.nulls.get(c).contains(rows)) CBnd(isMin, None) // all null
        else {
          val st = f.stats.getOrElse(c, return None)
          CBnd(isMin, Some(statValue(st, if (isMin) st.min else st.max, dt)
            .getOrElse(return None)))
        }
    }
    Some(cells)
  }

  /** Grouped-fold accumulator: one cell vector per live group key (raw
    * hive-dir strings, null = the NULL dir; Nil when ungrouped). */
  private[lake] type GroupAcc = Map[List[String], Seq[Cell]]

  /** Sequence op of the fold: a file failing the filters or holding no
    * row contributes nothing; otherwise its group key and cells must both
    * resolve, or the whole fold refuses (None). A file where a filter is
    * undecidable refuses too — never skipped. Pure and built from
    * serialisable values only: the distributed folds ship it to tasks. */
  private[lake] def groupedSeq(groupCols: Seq[String], plans: Seq[Plan], filters: Seq[Filter],
      sch: StructType): (Option[GroupAcc], AggEntry) => Option[GroupAcc] = (acc, e) =>
    acc.flatMap { m =>
      passesAll(filters, e.file, sch) match {
        case None => None
        case Some(false) => Some(m)
        case Some(true) if e.file.rowCount == 0L => Some(m)
        case Some(true) =>
          for { k <- rawKey(e.file.partitionValues, groupCols); c <- contribution(plans, e) }
            yield m.updated(k, m.get(k).map(merge(_, c)).getOrElse(c))
      }
    }

  /** Combine op: union of group maps, merging shared keys' cells. */
  private val groupedComb: (Option[GroupAcc], Option[GroupAcc]) => Option[GroupAcc] =
    (x, y) => for { a <- x; b <- y } yield
      b.foldLeft(a) { case (m, (k, c)) =>
        m.updated(k, m.get(k).map(merge(_, c)).getOrElse(c)) }

  /** Decidability-aware filter evaluation of one file: None = some filter
    * is not exactly decidable from its partition values; Some(b) = every
    * filter decidable, b = all pass. */
  private def passesAll(filters: Seq[Filter], dfm: DataFileMeta, sch: StructType): Option[Boolean] = {
    var all = true
    for (f <- filters) eval(f, dfm, sch) match {
      case None => return None
      case Some(b) => all &= b
    }
    Some(all)
  }

  /** Raw group key of one file from its partition values; None = the
    * file carries no value for some group column (refuse). */
  private def rawKey(pvals: Map[String, String], groupCols: Seq[String]): Option[List[String]] = {
    val out = List.newBuilder[String]
    for (c <- groupCols) pvals.get(c) match {
      case Some(Meta.NullPartition) => out += null
      case Some(v) => out += v
      case None => return None
    }
    Some(out.result())
  }

  /** Deterministic group order: null first, per-column framing so no
    * value bleeds into the next column's. */
  private def sortedGroups(m: GroupAcc): Seq[(List[String], Seq[Cell])] =
    m.toSeq.sortBy(_._1.map(k =>
      if (k == null) "\u0000" else "\u0001" + k + "\u0000").mkString)

  /** The metadata aggregate: one (group key, cells) row per live group in
    * [[sortedGroups]] order — exactly one row, keyed Nil, when ungrouped.
    * None = not exactly answerable; the caller scans. */
  private[sql] def compute(src: AggSource, groupCols: Seq[String], plans: Seq[Plan],
      filters: Seq[Filter]): Option[Seq[(List[String], Seq[Cell])]] = {
    if (!groupCols.forall(src.groupableCols)) return None
    if (!filters.forall(_.references.forall(r => !r.contains('.') && src.groupableCols(r))))
      return None
    if (groupCols.isEmpty)
      src.shortcut(plans, filters).foreach(cells => return Some(Seq((Nil, cells))))
    src.fold(filters, Option(Map.empty: GroupAcc))(
      groupedSeq(groupCols, plans, filters, src.schema), groupedComb).flatten.map { m =>
      if (groupCols.nonEmpty) sortedGroups(m)
      else Seq((Nil, m.getOrElse(Nil, plans.map(identity))))
    }
  }

  /** Catalyst internal value of one result cell. */
  private[sql] def cellValue(p: Plan, c: Cell): Any = (p, c) match {
    case (_, CCnt(n)) => n
    case (b: PBound, CBnd(_, v)) => v.map(internal(_, b.dt)).orNull
    case _ => throw new IllegalStateException("cell shape mismatch")
  }

  /** DSv2 entry of [[LakeScanBuilder]]: a connector `Aggregation` answered
    * as the scan's schema (group columns first, then the aggregates — the
    * layout Spark expects of a complete pushdown) and internal rows. */
  private[sql] def pushed(src: AggSource, agg: Aggregation,
      filters: Seq[Filter]): Option[(StructType, Seq[InternalRow])] = {
    val keys = agg.groupByExpressions().toSeq.map { g =>
      simpleName(g).flatMap(n => src.schema.find(_.name == n))
        .filter(f => groupTypeSupported(f.dataType)).getOrElse(return None)
    }
    val funcs = agg.aggregateExpressions().toSeq
    val plans = funcs.map(planOf(src, _).getOrElse(return None))
    compute(src, keys.map(_.name), plans, filters).map { groups =>
      val schema = StructType(keys ++ funcs.zip(plans).map { case (fn, p) =>
        StructField(fn.toString, dataType(p), nullable = p.isInstanceOf[PBound]) })
      val rows = groups.map { case (key, cells) =>
        val keyVals = keys.zip(key).map { case (f, raw) =>
          internalGroupValue(raw, f.dataType).getOrElse(return None) }
        InternalRow.fromSeq(keyVals ++ plans.zip(cells).map { case (p, c) => cellValue(p, c) })
      }
      (schema, rows)
    }
  }

  // ---- graft's own source ------------------------------------------------------

  /** graft's native table at a snapshot (`asOf` < 0 = current). */
  private[sql] def graft(table: GraftTable, asOf: Long): AggSource = new AggSource {
    private val m = table.meta
    private val snap = if (asOf >= 0) Some(m.snapshot(asOf)) else m.currentSnapshot
    val schema: StructType = table.schema
    val groupableCols: Set[String] = identityCols(m.partitionColumns)
    val partitionCols: Set[String] = groupableCols

    override def consumable(f: Filter): Boolean = snap match {
      case None => true // empty table: nothing to mis-decide
      case Some(s) =>
        if (!f.references.forall(r => !r.contains('.') && groupableCols(r))) return false
        // SUMMARY fast path — decide from the manifest list alone: a
        // column enters a summary's pvals only when EVERY data file in
        // that manifest carries a (bounded-cardinality) value for it, so
        // presence in all summaries + convertibility of every recorded
        // value proves per-file decidability with ZERO manifest IO. This
        // runs in pushFilters on every filtered DSv2 query — the per-file
        // walk below is O(all files) and stays only as the conservative
        // fallback (no summaries / capped-out column).
        val entries = s.manifestEntries
        val bySummary = shapeDecidable(f, schema) &&
          entries.nonEmpty && entries.forall {
            case (_, Some(sum)) =>
              f.references.forall { c =>
                val dt = schema.find(_.name == c).map(_.dataType)
                sum.pvals.get(c).exists(_.forall(raw =>
                  raw == Meta.NullPartition ||
                    dt.exists(d => partValue(raw, d).isDefined)))
              }
            case (_, None) => false
          }
        bySummary || s.dataFiles.forall(df => eval(f, df, schema).isDefined)
    }

    // MANIFEST-level pruning first: a summary lists every file's value for
    // its columns, and `eval` is exact on identity partition values — so a
    // manifest where some single-column filter is false for ALL listed
    // values of its column provably contributes nothing, and the walk
    // skips it without IO. At a million files this keeps the
    // partition-filtered COUNT a walk over the MATCHING partitions'
    // manifests, not the table's whole inventory.
    def fold[B](filters: Seq[Filter], zero: B)(seq: (B, AggEntry) => B,
        comb: (B, B) => B): Option[B] = {
      if (snap.exists(_.nDeleteFiles > 0)) return None
      def summaryMayPass(s: ManifestSummary): Boolean =
        s.pvals.forall { case (c, vs) =>
          vs.isEmpty || vs.exists { v =>
            val synth = DataFileMeta("", 0L, 1L, 0L, Map(c -> v), Map.empty)
            filters.filter(_.references.forall(_ == c))
              .forall(f => !eval(f, synth, schema).contains(false))
          }
        }
      // stats are keyed by the file epoch's PHYSICAL names: re-key them by
      // the current name through the field-id epoch log, as pruning does
      val statName = table.statNameFor(m)
      val names = schema.fieldNames.toSeq
      Some(snap.map(_.dataFilesWhere(summaryMayPass)).getOrElse(Nil).foldLeft(zero) {
        (b, df) =>
          val stats = names.flatMap(c => df.stats.get(statName(df, c)).map(c -> _)).toMap
          seq(b, AggEntry(df.copy(stats = stats),
            stats.collect { case (c, st) if st.nulls >= 0 => c -> st.nulls }))
      })
    }

    // O(1): an unfiltered COUNT(*) is the snapshot's running row count
    // (exact: replace-list commits recompute it, append-style commits
    // accumulate, MoR deletes refuse). Otherwise unfiltered MIN / MAX /
    // COUNT(col) from the manifest-list column ranges — ZERO manifest IO.
    override def shortcut(plans: Seq[Plan], filters: Seq[Filter]): Option[Seq[Cell]] =
      if (filters.nonEmpty || plans.isEmpty || snap.exists(_.nDeleteFiles > 0)) None
      else if (plans.forall(_ == PCountStar))
        Some(plans.map(_ => CCnt(snap.map(_.totalRows).getOrElse(0L))))
      else snap.flatMap(fromSummaries(_, plans))

    /** Min over folded per-manifest mins IS the table min, and rows − folded
      * null count IS COUNT(col). Exactness: every manifest must carry a
      * summary; a column needs its folded range in every data-holding
      * summary (the fold itself required every file to have a comparable
      * stat; all-NULL files contributed no bound). Summaries written before
      * rows were recorded read rows = 0 — unknown, not empty: refuse. */
    private def fromSummaries(s: Snapshot, plans: Seq[Plan]): Option[Seq[Cell]] = {
      val sums = s.manifestEntries.map(_._2.getOrElse(return None)).filter(_.nData > 0)
      val idByName = table.rangeColsOf(m).toMap
      def ranges(name: String): Option[Seq[ColStats]] =
        idByName.get(name).flatMap { id =>
          val rs = sums.flatMap(_.ranges.get(id.toString))
          if (rs.length == sums.length) Some(rs) else None
        }
      val rows = if (sums.exists(_.rows <= 0)) None else Some(sums.map(_.rows).sum)
      Some(plans.map {
        case PCountStar => CCnt(rows.getOrElse(return None))
        case PCount(c, _) =>
          val rs = ranges(c).getOrElse(return None)
          if (rs.exists(_.nulls < 0)) return None // unknown null count
          CCnt(rows.getOrElse(return None) - rs.map(_.nulls).sum)
        case PBound(c, _, isMin, dt) =>
          CBnd(isMin, ranges(c).getOrElse(return None)
            .map(st => statValue(st, if (isMin) st.min else st.max, dt).getOrElse(return None))
            .reduceOption((x, y) => if (isMin == (x < y)) x else y))
      })
    }
  }

  // ---- exact per-file filter evaluation -------------------------------------

  private def identityCols(specs: Seq[String]): Set[String] =
    try PartitionTransforms.parseAll(specs)
      .collect { case PIdentity(c) => c }.toSet
    catch { case _: Throwable => Set.empty }

  /** Can [[eval]] decide `f` for ANY file whose referenced partition
    * values are present and convertible? Mirrors eval3's shape + literal
    * handling with no file in hand — the summary fast path supplies the
    * per-file part. */
  private def shapeDecidable(f: Filter, sch: StructType): Boolean = {
    def lit(c: String, v: Any): Boolean =
      v != null && sch.find(_.name == c).map(_.dataType)
        .exists(dt => litValue(v, dt).isDefined)
    f match {
      case sources.EqualTo(c, v) => lit(c, v)
      case sources.GreaterThan(c, v) => lit(c, v)
      case sources.GreaterThanOrEqual(c, v) => lit(c, v)
      case sources.LessThan(c, v) => lit(c, v)
      case sources.LessThanOrEqual(c, v) => lit(c, v)
      case sources.EqualNullSafe(c, v) => lit(c, v)
      case sources.In(c, vs) =>
        vs != null && vs.forall(v => v == null || lit(c, v))
      case sources.IsNull(_) | sources.IsNotNull(_) => true
      case sources.And(l, r) => shapeDecidable(l, sch) && shapeDecidable(r, sch)
      case sources.Or(l, r) => shapeDecidable(l, sch) && shapeDecidable(r, sch)
      case sources.Not(inner) => shapeDecidable(inner, sch)
      case _: sources.AlwaysTrue | _: sources.AlwaysFalse => true
      case _ => false
    }
  }

  /** SQL three-valued evaluation of `f` against one file's identity
    * partition value — sound because every row of the file shares that
    * value. None = cannot decide exactly (missing value, type we don't
    * model); Some(v) = every row of the file evaluates to v (UNKNOWN
    * behaves as false, which is exactly how a WHERE clause treats it —
    * including under NOT, handled via eval3). */
  private def eval(f: Filter, df: DataFileMeta, sch: StructType): Option[Boolean] =
    eval3(f, df, sch).map(_.contains(true))

  /** Some(Some(b)) decided, Some(None) = SQL UNKNOWN, None = undecidable. */
  private def eval3(f: Filter, df: DataFileMeta, sch: StructType): Option[Option[Boolean]] = {
    def value(col: String): Option[Option[BigDecimal]] = // None=missing, Some(None)=SQL null
      df.partitionValues.get(col) match {
        case Some(Meta.NullPartition) => Some(None)
        case Some(raw) =>
          sch.find(_.name == col).map(_.dataType)
            .flatMap(dt => partValue(raw, dt)).map(v => Some(v))
        case None => None
      }
    def cmp(col: String, lit: Any, op: Int => Boolean): Option[Option[Boolean]] =
      value(col).flatMap {
        case None => Some(None) // null <op> x is UNKNOWN
        case Some(pv) =>
          sch.find(_.name == col).map(_.dataType)
            .flatMap(dt => litValue(lit, dt))
            .map(lv => Some(op(pv.compare(lv))))
      }
    f match {
      case sources.EqualTo(c, v) => cmp(c, v, _ == 0)
      case sources.GreaterThan(c, v) => cmp(c, v, _ > 0)
      case sources.GreaterThanOrEqual(c, v) => cmp(c, v, _ >= 0)
      case sources.LessThan(c, v) => cmp(c, v, _ < 0)
      case sources.LessThanOrEqual(c, v) => cmp(c, v, _ <= 0)
      case sources.EqualNullSafe(c, v) =>
        value(c).flatMap {
          case None => Some(Some(v == null))
          case Some(pv) =>
            if (v == null) Some(Some(false))
            else sch.find(_.name == c).map(_.dataType)
              .flatMap(dt => litValue(v, dt)).map(lv => Some(pv.compare(lv) == 0))
        }
      case sources.In(c, vs) =>
        // three-valued IN: true if any member matches; else UNKNOWN if the
        // value is null (or any member is null); else false
        value(c).flatMap {
          case None => Some(None)
          case Some(pv) =>
            val dt = sch.find(_.name == c).map(_.dataType).getOrElse(return None)
            var sawNull = false
            var hit = false
            for (v <- vs) {
              if (v == null) sawNull = true
              else litValue(v, dt) match {
                case Some(lv) => if (pv.compare(lv) == 0) hit = true
                case None => return None
              }
            }
            Some(if (hit) Some(true) else if (sawNull) None else Some(false))
        }
      case sources.IsNull(c) => value(c).map(v => Some(v.isEmpty))
      case sources.IsNotNull(c) => value(c).map(v => Some(v.nonEmpty))
      case sources.And(l, r) =>
        for (a <- eval3(l, df, sch); b <- eval3(r, df, sch)) yield (a, b) match {
          case (Some(false), _) | (_, Some(false)) => Some(false)
          case (Some(true), Some(true)) => Some(true)
          case _ => None
        }
      case sources.Or(l, r) =>
        for (a <- eval3(l, df, sch); b <- eval3(r, df, sch)) yield (a, b) match {
          case (Some(true), _) | (_, Some(true)) => Some(true)
          case (Some(false), Some(false)) => Some(false)
          case _ => None
        }
      case sources.Not(inner) =>
        eval3(inner, df, sch).map(_.map(!_))
      case _: sources.AlwaysTrue => Some(Some(true))
      case _: sources.AlwaysFalse => Some(Some(false))
      case _ => None
    }
  }

  // ---- typed value domains ---------------------------------------------------
  // Everything comparable collapses into BigDecimal: exact for integrals,
  // epoch days (date), epoch micros (timestamp) and decimals — the only
  // types admitted. Strings ride a stable order-preserving injection.

  private def partValue(raw: String, dt: DataType): Option[BigDecimal] = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      raw.toLongOption.map(BigDecimal(_))
    case DateType =>
      try Some(BigDecimal(java.time.LocalDate.parse(raw).toEpochDay))
      catch { case _: Throwable => None }
    case TimestampType | TimestampNTZType =>
      tsMicros(raw).map(BigDecimal(_))
    case _: DecimalType =>
      try Some(BigDecimal(raw.trim)) catch { case _: Throwable => None }
    case StringType => Some(strEmbed(raw))
    case BooleanType => raw.toBooleanOption.map(b => BigDecimal(if (b) 1 else 0))
    case _ => None
  }

  /** v1 Filter literal → same domain as `partValue`. */
  private def litValue(v: Any, dt: DataType): Option[BigDecimal] = (dt, v) match {
    case (ByteType | ShortType | IntegerType | LongType, n: Number)
        if !v.isInstanceOf[java.lang.Double] && !v.isInstanceOf[java.lang.Float] =>
      Some(BigDecimal(n.longValue()))
    case (DateType, d: java.sql.Date) => Some(BigDecimal(d.toLocalDate.toEpochDay))
    case (DateType, d: java.time.LocalDate) => Some(BigDecimal(d.toEpochDay))
    case (TimestampType, t: java.sql.Timestamp) =>
      Some(BigDecimal(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)))
    case (TimestampType, i: java.time.Instant) =>
      Some(BigDecimal(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i)))
    case (TimestampNTZType, t: java.time.LocalDateTime) =>
      Some(BigDecimal(t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000))
    case (_: DecimalType, d: java.math.BigDecimal) => Some(BigDecimal(d))
    case (_: DecimalType, d: BigDecimal) => Some(d)
    case (_: DecimalType, n: Number)
        if !v.isInstanceOf[java.lang.Double] && !v.isInstanceOf[java.lang.Float] =>
      Some(BigDecimal(n.longValue()))
    case (StringType, s: String) => Some(strEmbed(s))
    case (BooleanType, b: java.lang.Boolean) => Some(BigDecimal(if (b) 1 else 0))
    case _ => None
  }

  /** Order-preserving embedding of a string into BigDecimal: CODE POINTS
    * become fixed-base digits after the decimal point, each +1 so a
    * prefix sorts strictly below its extensions. Code-point order equals
    * Spark's UTF8String unsigned-byte order (UTF-16 char order would NOT —
    * surrogate pairs sort below U+E000..U+FFFF there).
    *
    * EXACTNESS is load-bearing and subtle: scala.math.BigDecimal's
    * default MathContext silently ROUNDS +, * and / at 34 digits, which
    * collapsed any two strings sharing a ~6-char prefix to EQUAL
    * embeddings — metadata-only aggregates then counted OTHER
    * partitions' rows ('2024-01-01' compared equal to '2024-01-02').
    * So: java.math.BigDecimal with unlimited precision, and the digit
    * base is 2^21 (≥ 0x10FFFF+2) — a power of two, whose reciprocal
    * TERMINATES in decimal, making every divide() exact (a non-power
    * base would throw ArithmeticException on the unlimited divide). */
  private def strEmbed(s: String): BigDecimal = {
    val base = new java.math.BigDecimal(1 << 21)
    var acc = java.math.BigDecimal.ZERO
    var scale = java.math.BigDecimal.ONE
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      scale = scale.divide(base) // exact: terminating expansion
      acc = acc.add(scale.multiply(new java.math.BigDecimal(cp + 1)))
      i += Character.charCount(cp)
    }
    // consumers only COMPARE embeddings (compare is exact regardless of
    // MathContext); UNLIMITED guards any future arithmetic use
    new BigDecimal(acc, java.math.MathContext.UNLIMITED)
  }

  /** Mirrors FilePruner.parseTimestampMicros (incl. the date-only
    * fallback — a hive dir can render midnight timestamps date-only);
    * keep the two in sync. */
  private def tsMicros(raw: String): Option[Long] = {
    val t = raw.trim
    try {
      val ldt = java.time.LocalDateTime.parse(t.replace(' ', 'T'))
      Some(ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L)
    } catch {
      case _: Throwable =>
        try Some(java.time.LocalDate.parse(t).toEpochDay * 86400000000L)
        catch { case _: Throwable => None }
    }
  }

  // ---- MIN/MAX stat domains --------------------------------------------------

  /** Types whose parquet footer min/max are EXACT: integrals and
    * date/timestamp (tag "l"), decimals (tag "c"). Strings can be
    * truncated, float/double stats ignore NaN — both refused. */
  private def minMaxSafe(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType | _: DecimalType => true
    case _ => false
  }

  /** A stat bound in the column's domain. Delta's stats JSON lands
    * decimals in the lossy double domain (tag "d"), so they refuse here. */
  private def statValue(st: ColStats, s: String, dt: DataType): Option[BigDecimal] =
    (st.tag, dt) match {
      case ("l", ByteType | ShortType | IntegerType | LongType | DateType |
                 TimestampType | TimestampNTZType) =>
        s.toLongOption.map(BigDecimal(_))
      case ("c", _: DecimalType) =>
        try Some(BigDecimal(s.trim)) catch { case _: Throwable => None }
      case _ => None // tag/type mismatch (e.g. pre-widening epoch): refuse
    }

  /** Domain value → Catalyst INTERNAL value: dates are epoch days (Int),
    * timestamps epoch micros (Long), decimals `types.Decimal`. */
  private def internal(v: BigDecimal, dt: DataType): Any = dt match {
    case ByteType => v.toLong.toByte
    case ShortType => v.toLong.toShort
    case IntegerType | DateType => v.toLong.toInt
    case LongType | TimestampType | TimestampNTZType => v.toLong
    case d: DecimalType =>
      Decimal(v.underlying().setScale(d.scale), d.precision, d.scale)
    case _ => throw new IllegalStateException(s"unreachable: $dt passed minMaxSafe")
  }

  /** Types whose hive-dir rendering round-trips exactly (GROUP BY key
    * columns must be one of these). */
  private[sql] def groupTypeSupported(dt: DataType): Boolean = dt match {
    case StringType | ByteType | ShortType | IntegerType | LongType |
         BooleanType | DateType => true
    case _ => false
  }

  /** RAW group value (hive dir string, null = NULL dir) → Catalyst
    * internal value of the column's type. Only types whose dir rendering
    * round-trips exactly. */
  private[sql] def internalGroupValue(raw: String, dt: DataType): Option[Any] = {
    if (raw == null) return Some(null)
    dt match {
      case StringType => Some(org.apache.spark.unsafe.types.UTF8String.fromString(raw))
      case ByteType => raw.toByteOption
      case ShortType => raw.toShortOption
      case IntegerType => raw.toIntOption
      case LongType => raw.toLongOption
      case BooleanType => raw.toBooleanOption
      case DateType =>
        try Some(java.time.LocalDate.parse(raw).toEpochDay.toInt)
        catch { case _: Throwable => None }
      case _ => None // timestamps/decimals: dir rendering not trusted
    }
  }

  private def simpleName(e: Expression): Option[String] = e match {
    case r: NamedReference if r.fieldNames().length == 1 => Some(r.fieldNames()(0))
    case _ => None
  }
}

/** What one table resolution hands the metadata-aggregate path: the
  * format's own part of [[AggPushdown]]. */
trait AggSource {
  /** Columns the plan resolves against (types of MIN/MAX results). */
  def schema: StructType
  /** Columns answered from each file's partition value; every other
    * column is answered from file stats. */
  def partitionCols: Set[String]
  /** Identity partition columns: the only GROUP BY keys and filter
    * references the fold can decide per file. */
  def groupableCols: Set[String]
  /** Folds every live data file of the resolution as an [[AggEntry]];
    * None = refuse (live deletes, unknown row counts). `filters` are the
    * pushed ones — a format may skip files they provably exclude without
    * reading them; the step re-evaluates them per file regardless. */
  def fold[B](filters: Seq[Filter], zero: B)(seq: (B, AggEntry) => B,
      comb: (B, B) => B): Option[B]
  /** A zero-IO answer for an ungrouped aggregate, when the format keeps
    * one; None = fold. */
  def shortcut(plans: Seq[AggPushdown.Plan], filters: Seq[Filter])
      : Option[Seq[AggPushdown.Cell]] = None
  /** Is `f` exactly decidable per live file, so consuming it from the
    * residual keeps the aggregate's file selection exact? The bridged scan
    * still re-applies consumed filters row-level. */
  def consumable(f: Filter): Boolean =
    AggPushdown.compute(this, Nil, Nil, Seq(f)).isDefined
}

/** The Catalyst extractor of [[MetadataAggregateRule]]: an `Aggregate`
  * (COUNT / MIN / MAX, optionally GROUP BY identity partition columns)
  * over a [[LakeTable]] whose read has an [[AggSource]], with every WHERE
  * conjunct exactly file-decidable, becomes a `LocalRelation` of the
  * driver-computed rows — zero data files opened. The native-scan
  * substitution replaces the DSv2 relation before `V2ScanRelationPushDown`
  * could offer the aggregate to the scan builder, so the collapse happens
  * here instead. Planning one aggregate is ONE metadata fold whatever the
  * number of filters: the fold itself refuses a file where a filter is
  * undecidable, so no per-filter [[AggSource.consumable]] pass runs first. */
private[sql] object MetadataAggregate extends PredicateHelper {
  import AggPushdown._

  /** One output column of the collapsed aggregate. */
  private sealed trait Part
  private final case class KGroup(i: Int) extends Part
  private final case class KConst(v: Any) extends Part
  private final case class KAgg(p: AggPushdown.Plan) extends Part

  def unapply(plan: LogicalPlan): Option[LogicalPlan] = plan match {
    case agg @ Aggregate(groupExprs, aggExprs, child, _)
        if groupExprs.forall(_.isInstanceOf[AttributeReference]) =>
      // strip alias / view / filter / pass-through projection wrappers
      var conds: Seq[CExpr] = Nil
      var cur = child
      var continue = true
      while (continue) cur match {
        case SubqueryAlias(_, c) => cur = c
        case v: View => cur = v.child
        case LFilter(cond, c) => conds = conds ++ splitConjunctivePredicates(cond); cur = c
        case Project(exprs, c) if exprs.forall(_.isInstanceOf[AttributeReference]) => cur = c
        case _ => continue = false
      }
      cur match {
        case DataSourceV2Relation(t: LakeTable, _, _, _, _, _) =>
          try t.read.aggSupport.flatMap(src => build(src, agg,
            groupExprs.map(_.asInstanceOf[AttributeReference]), conds))
          catch { case _: Throwable => None }
        case _ => None
      }
    case _ => None
  }

  private def build(src: AggSource, agg: Aggregate,
      groupAttrs: Seq[AttributeReference], conds: Seq[CExpr]): Option[LogicalPlan] = {
    // group values must round-trip exactly from the hive dir rendering
    if (!groupAttrs.forall(a => groupTypeSupported(a.dataType) && src.groupableCols(a.name)))
      return None
    // at resolution a literal may still sit under a cast (`long_col = 5`
    // is `long_col = CAST(5 AS BIGINT)`): fold constants as the optimizer
    // would, or the v1 translation refuses the conjunct
    val filters = conds.map(c => org.apache.spark.sql.graftshim.ColumnExpr.toV1Filter(
      c.transformUp { case e if e.foldable && !e.isInstanceOf[Literal] =>
        Literal(e.eval(), e.dataType) }).getOrElse(return None))
    // every result expression: a group column, a constant riding along
    // (`'tag' AS src`) or an Alias over one plain aggregate call
    def group(a: AttributeReference): Option[Part] =
      Some(groupAttrs.indexWhere(_.exprId == a.exprId)).filter(_ >= 0).map(KGroup)
    val parts: Seq[Part] = agg.aggregateExpressions.map {
      case a: AttributeReference => group(a).getOrElse(return None)
      case Alias(a: AttributeReference, _) => group(a).getOrElse(return None)
      case Alias(l: Literal, _) => KConst(l.value)
      case al @ Alias(AggregateExpression(fn, Complete, false, None, _), _) =>
        val p = planOf(src, fn).getOrElse(return None)
        if (al.dataType != AggPushdown.dataType(p)) return None
        KAgg(p)
      case _ => return None
    }
    val plans = parts.collect { case KAgg(p) => p }
    compute(src, groupAttrs.map(_.name), plans, filters).map { groups =>
      LocalRelation(agg.output, groups.map { case (key, cells) =>
        val vals = plans.iterator.zip(cells.iterator)
        InternalRow.fromSeq(parts.map {
          case KGroup(i) =>
            internalGroupValue(key(i), groupAttrs(i).dataType).getOrElse(return None)
          case KConst(v) => v
          case KAgg(_) => val (p, c) = vals.next(); cellValue(p, c)
        })
      })
    }
  }
}

