package graft.lake.sql

import java.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** One resolution of a lake table — graft, Iceberg, Delta or Hudi — as the
  * one SQL surface sees it: schema, scan and stats closures over the
  * format's own reader, and the format's native commit for each SQL write.
  * [[GraftSqlCatalog]] builds graft's, the `graft-*` providers build the
  * interop formats'; every class above the record ([[LakeTable]],
  * [[LakeScanBuilder]], [[GraftV1Scan]], the row-level commands and the
  * native-scan rules) is shared. A `None` hook is a statement the
  * resolution refuses: time-travel and change reads are read-only, and
  * only graft tables take INSERT OVERWRITE. */
final case class LakeRead(
    name: String,
    schema: StructType,
    /** Reads the resolution; the filter prunes files from metadata and is
      * re-applied to rows, so pruning never changes results. */
    scan: Option[Column] => DataFrame,
    /** (bytes, rows) post-pruning, from metadata only; < 0 = unknown. */
    stats: Option[Column] => (Long, Long),
    /** Metadata-only COUNT/MIN/MAX (see [[AggPushdown]]); None = no
      * aggregate pushdown. */
    aggSupport: Option[AggSource] = None,
    /** INSERT INTO: one native commit of a frame already resolved to the
      * table schema. */
    append: Option[DataFrame => Unit] = None,
    /** INSERT OVERWRITE / TRUNCATE: one atomic whole-table replace. */
    overwrite: Option[DataFrame => Unit] = None,
    /** DELETE FROM: one native commit; the Column is the exact WHERE. */
    deleteWhere: Option[Column => Unit] = None,
    /** UPDATE (cond, SET map) as one native commit. */
    updateWhere: Option[(Column, Map[String, Column]) => Unit] = None,
    /** MERGE's keyed upsert (pinned source frame, statement key columns)
      * as one native commit; the hook rejects keys its format cannot
      * honour. */
    mergeUpsert: Option[(DataFrame, Seq[String]) => Unit] = None,
    /** MERGE's WHEN MATCHED DELETE (key frame, key columns) as one native
      * commit; same key contract as `mergeUpsert`. */
    mergeDeleteMatched: Option[(DataFrame, Seq[String]) => Unit] = None,
    partitioning: Seq[Transform] = Nil,
    properties: Map[String, String] = Map.empty) {

  /** The same resolution with every write hook removed. */
  def readOnly: LakeRead = copy(append = None, overwrite = None, deleteWhere = None,
    updateWhere = None, mergeUpsert = None, mergeDeleteMatched = None)

  private[sql] def refuse(statement: String): UnsupportedOperationException =
    new UnsupportedOperationException(s"$name: $statement is not supported on this " +
      "resolution (time-travel and change reads are read-only)")
}

/** Receipt helper: planned data-file count of a frame's OPTIMIZED plan.
  * File-pruning assertions (gate entries + specs) count real planned
  * inputs instead of matching plan text, so they survive plan-shape
  * changes (the native-scan substitution consumed one such receipt). */
object PlanFiles {
  def planned(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.inputFiles.length
          case _ => 0
        }
    }.sum
}

/** The one DSv2 table of the four formats — the plain-SQL surface the
  * reference exposes through its table AM (pg_lakehouse_iceberg/
  * README.md:30-44: `INSERT INTO` / `SELECT` / `DELETE` against a catalog
  * table). Batch read always; every write statement when its hook is
  * present: `INSERT INTO` and `INSERT OVERWRITE` ride `V1Write →
  * InsertableRelation`, `DELETE FROM` is `SupportsDelete`, and UPDATE /
  * MERGE are lowered by [[GraftRowLevelSqlRule]]. Each statement is one
  * native commit of the format, produced by its existing writer. */
class LakeTable(val read: LakeRead) extends Table
    with SupportsRead with SupportsWrite with SupportsDelete {

  override def name(): String = read.name
  override def schema(): StructType = read.schema
  override def partitioning(): Array[Transform] = read.partitioning.toArray

  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    read.properties.foreach { case (k, v) => m.put(k, v) }
    m
  }

  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(TableCapability.BATCH_READ)
    if (read.append.isDefined) {
      caps.add(TableCapability.BATCH_WRITE)
      caps.add(TableCapability.V1_BATCH_WRITE)
    }
    if (read.overwrite.isDefined) caps.add(TableCapability.TRUNCATE)
    caps
  }

  /** `DELETE FROM t WHERE …`: Spark only offers the delete when the WHOLE
    * condition reaches canDeleteWhere, and only EXACT filter translations
    * are accepted — a partial or inexact WHERE fails the statement instead
    * of deleting the wrong rows. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    read.deleteWhere.isDefined &&
      filters.forall(f =>
        try GraftFilters.toColumnExact(f).isDefined
        catch { case _: Throwable => false })

  override def deleteWhere(filters: Array[Filter]): Unit =
    read.deleteWhere.getOrElse(throw read.refuse("DELETE"))(
      filters.flatMap(GraftFilters.toColumnExact).reduceOption(_ && _)
        .getOrElse(lit(true))) // unconditional DELETE

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeScanBuilder(read)

  /** [[NativeScanRule]]'s plan for one relation of this table: a Dataset
    * derived from an analyzed query (`df.head()`) runs the optimizer over
    * the same relation again, and rebuilding would redo the reader's
    * planning and file listing. `key` carries the relation's output ids,
    * so a self-join's second relation builds its own plan. */
  @volatile private var native: (Any, LogicalPlan) = _
  private[sql] def nativePlan(key: Any)(build: => LogicalPlan): LogicalPlan = {
    val n = native
    if (n != null && n._1 == key) n._2
    else { val p = build; native = (key, p); p }
  }

  // INSERT resolves by position against schema() with casts, so the
  // incoming frame already carries the table schema; writers re-check.
  // Overwrite semantics arrive through truncate(): the V1 fallback always
  // calls insert(…, overwrite = false).
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val doAppend = read.append.getOrElse(throw read.refuse("INSERT"))
    new WriteBuilder with SupportsTruncate {
      private var replace = false
      override def truncate(): WriteBuilder = { replace = true; this }
      override def build(): V1Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit =
              if (replace || overwrite)
                read.overwrite.getOrElse(throw read.refuse("INSERT OVERWRITE"))(data)
              else doAppend(data)
          }
      }
    }
  }
}

/** Scan builder: pushed filters feed the format's `FilePruner` planning
  * (manifest / log-action / timeline metadata file skipping BEFORE any
  * task is scheduled — the scan planner the reference runs in
  * scan_ops.c), column pruning narrows the bridged plan, which Catalyst
  * then pushes into the parquet reader, and COUNT/MIN/MAX are answered
  * from metadata (see [[AggPushdown]]).
  *
  * Filters stay residual (pruning is IO-only, so partial translation is
  * sound) EXCEPT filters exactly decidable per file, which are CONSUMED —
  * that is what lets Spark offer the whole Aggregate to the source. A
  * consumed filter must ALSO translate exactly (`toColumnExact`), so the
  * bridged scan's row-level re-application is EQUIVALENT, never weaker: a
  * merely `toColumn`-translatable filter can lose conjuncts inside an Or
  * via the one-sided And, and the conservative pruner keeps files the
  * exact filter excludes — consuming such a filter leaks rows.
  * `supportCompletePushDown` only ever returns true alongside a computed
  * answer, so the built scan is the [[GraftAggScan]] and the Aggregate
  * node disappears from the plan. */
class LakeScanBuilder(read: LakeRead) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates {

  private var required: StructType = read.schema
  private var pushed: Array[Filter] = Array.empty
  private var consumed: Array[Filter] = Array.empty
  private var aggResult: Option[(StructType, Seq[InternalRow])] = None
  private var aggFor: Aggregation = _

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => GraftFilters.toColumn(f).isDefined)
    consumed = read.aggSupport match {
      case Some(src) => pushed.filter(f =>
        try GraftFilters.toColumnExact(f).isDefined && src.consumable(f)
        catch { case _: Throwable => false })
      case None => Array.empty
    }
    filters.filterNot(consumed.contains)
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    pushAggregation(aggregation)

  // Spark only offers an Aggregation when no residual Filter remains above
  // the relation, i.e. every filter in play was consumed — refuse anyway if
  // one escaped. Spark calls supportCompletePushDown then pushAggregation
  // with the same Aggregation: compute once.
  override def pushAggregation(aggregation: Aggregation): Boolean =
    read.aggSupport.exists { src =>
      pushed.forall(consumed.contains) && {
        if (aggFor ne aggregation) {
          aggFor = aggregation
          aggResult = try AggPushdown.pushed(src, aggregation, consumed.toSeq)
            catch { case _: Throwable => None }
        }
        aggResult.isDefined
      }
    }

  override def build(): Scan = aggResult match {
    case Some((schema, rows)) => new GraftAggScan(schema, rows)
    case None => new GraftV1Scan(read, pushed, required)
  }
}

/** The scan of a complete metadata-aggregate pushdown: driver-computed
  * rows — group columns first, one row per live group, or one row when
  * ungrouped — zero data files opened. */
class GraftAggScan(aggSchema: StructType, rows: Seq[InternalRow]) extends V1Scan {
  override def readSchema(): StructType = aggSchema
  override def description(): String =
    s"GraftAggScan(metadata-only: ${aggSchema.fieldNames.mkString(", ")})"
  override def toV1TableScan[T <: BaseRelation with TableScan](context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = aggSchema
      // the rows already hold Catalyst internal values
      override def needConversion: Boolean = false
      override def buildScan(): RDD[Row] =
        context.sparkContext.parallelize(rows, math.max(1, math.min(rows.size, 4)))
          .asInstanceOf[RDD[Row]]
    }.asInstanceOf[T]
}

/** The V1 bridge of a lake read — what executes when the native-scan
  * substitution is off or fails: the format's own scan of the pushed
  * filters, projected to the required columns, handed to Spark as one
  * `RDD[Row]`. Filters and projections already run INSIDE the bridged
  * plan, so the Row boundary carries only surviving rows and columns. */
class GraftV1Scan(read: LakeRead, pushed: Array[Filter],
    required: StructType) extends V1Scan with SupportsReportStatistics {

  private def pushedColumn: Option[Column] =
    pushed.flatMap(GraftFilters.toColumn).reduceOption(_ && _)

  override def readSchema(): StructType = required

  override def description(): String =
    s"${read.name} PushedFilters: [${pushed.mkString(", ")}]"

  /** Metadata-derived size/row statistics post-pruning: without them the
    * V1 bridge reports Spark's default size estimate (= "huge"), so a
    * small lake dim would never broadcast. */
  override def estimateStatistics(): Statistics = {
    val (bytes, rows) =
      try read.stats(pushedColumn) catch { case _: Throwable => (-1L, -1L) }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        if (bytes >= 0) java.util.OptionalLong.of(bytes)
        else java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong =
        if (rows >= 0) java.util.OptionalLong.of(rows)
        else java.util.OptionalLong.empty()
    }
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = required
      override def needConversion: Boolean = true
      override def buildScan(): RDD[Row] = {
        // expiring vended credentials refresh BEFORE the scan's IO plans
        // (r16) — no-op unless a short-TTL vend is registered
        graft.lake.iceberg.rest.IcebergRestCatalog.refreshExpiredVends(
          SparkSession.active)
        val df = read.scan(pushedColumn)
        val projected =
          if (required.isEmpty) df.select() // e.g. SELECT count(*)
          else df.select(required.fieldNames.toIndexedSeq.map(col): _*)
        projected.rdd
      }
    }.asInstanceOf[T]
}

/** v1 `sources.Filter` → `Column` translation for the file pruner.
  * Partial on purpose: an untranslatable conjunct is simply not used for
  * pruning (And keeps the translatable side — sound, since pruning with a
  * weaker predicate only keeps extra files). */
object GraftFilters {
  def toColumn(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => attr(a).map(_ === lit(v))
    case sources.GreaterThan(a, v) => attr(a).map(_ > lit(v))
    case sources.GreaterThanOrEqual(a, v) => attr(a).map(_ >= lit(v))
    case sources.LessThan(a, v) => attr(a).map(_ < lit(v))
    case sources.LessThanOrEqual(a, v) => attr(a).map(_ <= lit(v))
    case sources.In(a, vs) => attr(a).map(_.isin(vs.toIndexedSeq.map(lit): _*))
    case sources.IsNull(a) => attr(a).map(_.isNull)
    case sources.IsNotNull(a) => attr(a).map(_.isNotNull)
    case sources.And(l, r) => // one-sided translation stays sound for pruning
      (toColumn(l), toColumn(r)) match {
        case (Some(a), Some(b)) => Some(a && b)
        case (one, other) => one.orElse(other)
      }
    case sources.Or(l, r) => // Or must translate BOTH sides to stay sound
      for { a <- toColumn(l); b <- toColumn(r) } yield a || b
    case sources.Not(sources.EqualTo(a, v)) => attr(a).map(_ =!= lit(v))
    case _: sources.AlwaysTrue => Some(lit(true))
    case _: sources.AlwaysFalse => Some(lit(false))
    case _ => None
  }

  /** EXACT translation: every conjunct must translate (And is two-sided
    * here, unlike the pruning-oriented `toColumn`, whose one-sided And is
    * sound only because pruning with a WEAKER predicate keeps extra
    * files — a delete with a weaker predicate would remove extra ROWS). */
  def toColumnExact(f: Filter): Option[Column] = f match {
    case sources.And(l, r) =>
      for { a <- toColumnExact(l); b <- toColumnExact(r) } yield a && b
    case sources.Or(l, r) =>
      for { a <- toColumnExact(l); b <- toColumnExact(r) } yield a || b
    case leaf => toColumn(leaf) // every non-And case in toColumn is exact
  }

  /** dotted names would misparse through functions.col — skip them. */
  private def attr(name: String): Option[Column] =
    if (name.contains('.') || name.contains('`')) None else Some(col(name))
}
