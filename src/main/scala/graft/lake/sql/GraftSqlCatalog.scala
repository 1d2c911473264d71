package graft.lake.sql

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, Statistics, SupportsPushDownRequiredColumns, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.{FilePruner, GraftTable}

/** DataSourceV2 `TableCatalog` for graft lake tables — the plain-SQL
  * surface the reference exposes through its PG table AM (every query in
  * pg_lakehouse_iceberg/README.md:30-44 is `CREATE TABLE` / `INSERT INTO`
  * / `SELECT` against a catalog table):
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftSqlCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/path/wh")
  *   spark.sql("CREATE TABLE graft.orders (...) TBLPROPERTIES('key.columns'='id')")
  *   spark.sql("INSERT INTO graft.orders SELECT ...")
  *   spark.sql("SELECT ... FROM graft.orders WHERE ...")
  * }}}
  *
  * Reads resolve the CURRENT snapshot at query time (each `loadTable`
  * re-reads metadata — commits are immediately visible, unlike the r02
  * registerViews snapshot-at-registration views), push down filters
  * through `FilePruner` for manifest-level file skipping, push down
  * column pruning, and re-use the whole `GraftTable.scan` machinery (MoR
  * delete application, schema evolution, partition-layout grouping) via
  * the `V1Scan` bridge. Writes ride `V1Write → InsertableRelation`, so
  * `INSERT INTO` is a `GraftTable.append` commit and
  * `INSERT OVERWRITE` an atomic whole-table `replace` — both with the
  * optimistic-retry concurrency the programmatic API has.
  *
  * Scale notes: catalog ops are O(1) metadata IO; a scan's data path is
  * exactly `GraftTable.scan` (vectorized parquet + Catalyst pushdown
  * inside the produced plan). The only cost this bridge adds is one
  * Row-materialization boundary at the scan root (`V1Scan` hands Spark an
  * `RDD[Row]`); filters/projections are already applied INSIDE the
  * bridged plan, so the boundary carries only surviving rows/columns.
  */
class GraftSqlCatalog extends TableCatalog {

  private var catalogName: String = _
  private var warehouse: String = _
  /** non-null when `catalog-type = rest`: names resolve through the HTTP
    * catalog service (the reference's `catalog_type = 'rest', uri = …`
    * deployment, README.md:33-35) instead of warehouse-path math. */
  private var rest: graft.lake.RestCatalog = _
  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    Option(options.get("catalog-type")).getOrElse("dir") match {
      case "rest" =>
        val uri = Option(options.get("uri")).getOrElse(
          sys.error(s"catalog $name with catalog-type=rest needs spark.sql.catalog.$name.uri"))
        rest = new graft.lake.RestCatalog(spark, uri)
      case _ =>
        warehouse = Option(options.get("warehouse")).getOrElse(
          sys.error(s"catalog $name needs spark.sql.catalog.$name.warehouse"))
    }
  }

  override def name(): String = catalogName

  private def flatName(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString("/")

  private def location(ident: Identifier): String =
    if (rest != null) rest.tableLocation(flatName(ident))
    else s"$warehouse/${flatName(ident)}"

  /** Loads with the catalog's commit arbiter attached (rest mode), so SQL
    * writes commit through the catalog CAS — object-store safe. */
  private def loadGraft(ident: Identifier): GraftTable =
    GraftTable.load(spark, location(ident),
      if (rest != null) rest.arbiter(flatName(ident)) else None)

  private def exists(ident: Identifier): Boolean =
    if (rest != null) rest.exists(flatName(ident))
    else {
      val p = new Path(s"$warehouse/${flatName(ident)}", "metadata")
      p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
    }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (rest != null) return rest.list()
      .filter(n => n.split('/').init.sameElements(namespace))
      .map(n => Identifier.of(namespace, n.split('/').last)).toArray
    val base = new Path((warehouse +: namespace.toSeq).mkString("/"))
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(base)) Array.empty
    else fs.listStatus(base).filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => fs.exists(new Path(new Path(base, n), "metadata")))
      .sorted.map(Identifier.of(namespace, _))
  }

  override def loadTable(ident: Identifier): Table = {
    if (!exists(ident)) throw new NoSuchTableException(ident)
    new GraftSqlTable(loadGraft(ident), ident.toString)
  }

  /** SQL time travel — `SELECT … FROM cat.t VERSION AS OF <snapshotId>`,
    * `VERSION AS OF '<tag>'`, or `VERSION AS OF '<branch>'` (reads the
    * branch head; snapshot isolation is the reference's own roadmap item,
    * pg_lakehouse_iceberg/README.md). The numeric namespace is
    * unambiguous: GraftTable rejects all-digit ref names at creation
    * (ADVICE r05), so a digit string here is ALWAYS a snapshot id. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!exists(ident)) throw new NoSuchTableException(ident)
    val t = loadGraft(ident)
    val id =
      if (t.meta.tags.contains(version)) t.tagged(version)
      else if (t.meta.branchHeads.contains(version)) t.branchHead(version)
      else if (version.nonEmpty && version.forall(_.isDigit)) version.toLong
      else t.tagged(version) // named ref (tag) — error lists known tags
    t.meta.snapshot(id) // validate eagerly → clean error for unknown ids
    new GraftSqlTable(t, ident.toString, asOf = id)
  }

  /** `… TIMESTAMP AS OF <ts>` — Spark hands micros since epoch; resolve
    * to the snapshot current at that instant. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!exists(ident)) throw new NoSuchTableException(ident)
    val t = loadGraft(ident)
    val id = t.snapshotAsOfTime(timestampMicros / 1000L)
    require(id >= 0, s"no snapshot of $ident existed at $timestampMicros")
    new GraftSqlTable(t, ident.toString, asOf = id)
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    if (exists(ident)) throw new TableAlreadyExistsException(ident)
    val partCols = partitions.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references()(0).fieldNames().mkString(".")
      case t => throw new UnsupportedOperationException(
        s"graft supports identity partitioning only, got $t")
    }
    val keyCols = Option(properties.get("key.columns"))
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    // persist user TBLPROPERTIES (minus Spark-managed/reserved entries) —
    // dropping them silently would lose user metadata
    import scala.jdk.CollectionConverters._
    val userProps = properties.asScala.toMap -- GraftSqlCatalog.ReservedProps
    // rest mode: reserve the name with the service, which assigns the
    // location; dir mode derives it from the warehouse path
    val loc = if (rest != null) rest.reserve(flatName(ident)) else location(ident)
    val t =
      try GraftTable.createEmpty(spark, loc, schema, partCols, keyCols,
        properties = userProps,
        arbiter = if (rest != null) rest.arbiter(flatName(ident)) else None)
      catch {
        case e: Throwable =>
          // roll the reservation back: a leaked registry entry would
          // permanently brick the name (exists() true, loadTable broken)
          // after e.g. a rejected key column — the retry with fixed DDL
          // must find a clean slate
          if (rest != null)
            try rest.drop(flatName(ident)) catch { case _: Throwable => () }
          throw e
      }
    new GraftSqlTable(t, ident.toString)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = loadGraft(ident)
    // validate EVERY change before applying ANY: each change below is its
    // own metadata commit, so an unsupported/failing later change would
    // otherwise leave the statement half-applied (DSv2 expects ALTER to
    // be all-or-nothing). Shape validation is cheap and total; a
    // per-change semantic failure (e.g. duplicate column) can still
    // surface mid-statement, but the common statement-level foot-gun —
    // one unsupported change after applied ones — now rejects up front.
    changes.foreach { c =>
      val depth = c match {
        case a: TableChange.AddColumn => Some(a.fieldNames().length)
        case r: TableChange.RenameColumn => Some(r.fieldNames().length)
        case d: TableChange.DeleteColumn => Some(d.fieldNames().length)
        case u: TableChange.UpdateColumnType => Some(u.fieldNames().length)
        case _: TableChange.SetProperty => Some(1)
        case _ => None
      }
      depth match {
        case Some(1) => ()
        case Some(_) => throw new UnsupportedOperationException(
          s"graft supports top-level (non-nested) column changes only, got $c")
        case None => throw new UnsupportedOperationException(
          s"unsupported table change $c")
      }
    }
    changes.foreach {
      case add: TableChange.AddColumn if add.fieldNames().length == 1 =>
        t.addColumn(add.fieldNames()(0), add.dataType().sql)
      case rn: TableChange.RenameColumn if rn.fieldNames().length == 1 =>
        t.renameColumn(rn.fieldNames()(0), rn.newName())
      case del: TableChange.DeleteColumn if del.fieldNames().length == 1 =>
        t.dropColumn(del.fieldNames()(0))
      case up: TableChange.UpdateColumnType if up.fieldNames().length == 1 =>
        t.widenColumn(up.fieldNames()(0), up.newDataType().sql)
      case set: TableChange.SetProperty =>
        t.setProperty(set.property(), set.value())
      case c => throw new UnsupportedOperationException(s"unsupported table change $c")
    }
    new GraftSqlTable(t, ident.toString)
  }

  override def dropTable(ident: Identifier): Boolean = {
    if (!exists(ident)) return false
    if (rest != null) return rest.drop(flatName(ident)) // files + entry
    val p = new Path(location(ident))
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!exists(from)) throw new NoSuchTableException(from)
    if (exists(to)) throw new TableAlreadyExistsException(to)
    if (rest != null) {
      // registry-only rename, atomic server-side (the pre-checks above
      // give the DSv2-typed errors; a lost race still fails loudly)
      rest.rename(flatName(from), flatName(to))
      return
    }
    val src = new Path(location(from))
    val dst = new Path(location(to))
    val fs = src.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(dst.getParent)
    if (!fs.rename(src, dst)) sys.error(s"rename $src -> $dst failed")
  }
}

object GraftSqlCatalog {
  /** Spark-managed table properties that must not persist as user
    * metadata (key.columns IS persisted, via TableMetadata.keyColumns). */
  private val ReservedProps: Set[String] =
    Set("key.columns", "provider", "location", "owner", "external", "comment",
      "option.path", "path")
}

/** One catalog table: reads bridge to `GraftTable.scan` (fresh snapshot
  * per query — or the pinned `asOf` snapshot for time travel), writes to
  * append/overwrite commits. */
class GraftSqlTable(val table: GraftTable, ident: String, val asOf: Long = -1L)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  override def name(): String = ident
  override def schema(): StructType = table.schema

  /** `DELETE FROM cat.t WHERE p` → one MoR delete commit (the
    * reference's own MoR-DELETE roadmap item, executed from SQL):
    * equality delete on keyed tables, positional delete on keyless ones
    * (GraftTable.delete picks). Only accepted when every conjunct
    * translates — a partial predicate would delete the wrong rows. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => GraftFilters.toColumnExact(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val cond = filters.flatMap(GraftFilters.toColumnExact)
      .reduceOption(_ && _).getOrElse(lit(true))
    table.delete(cond)
  }

  override def partitioning(): Array[Transform] =
    table.meta.partitionColumns.map(Expressions.identity).toArray

  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    table.meta.props.foreach { case (k, v) => m.put(k, v) }
    if (table.meta.keyColumns.nonEmpty)
      m.put("key.columns", table.meta.keyColumns.mkString(","))
    m
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(table, asOf)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var replace = false
      override def truncate(): WriteBuilder = { replace = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit =
              if (replace || overwrite) table.overwrite(data)
              else table.append(data)
          }
      }
    }
}

/** Scan builder: pushed filters feed `FilePruner` (manifest min/max +
  * partition-value file skipping BEFORE any task is scheduled — the scan
  * planner the reference runs in scan_ops.c); filters exactly decidable
  * from identity partition values are consumed and COUNT/MIN/MAX answered
  * from metadata ([[MetaAggScanBuilder]], see [[AggPushdown]]). Column
  * pruning narrows the bridged plan, which Catalyst then pushes into the
  * parquet reader. */
class GraftScanBuilder(table: GraftTable, asOf: Long = -1L) extends ScanBuilder
    with SupportsPushDownRequiredColumns with MetaAggScanBuilder {

  private var required: StructType = table.schema

  protected lazy val aggSource: Option[AggSource] = Some(AggPushdown.graft(table, asOf))

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    aggScan.getOrElse(new GraftV1Scan(table, pushed, required, asOf))
}

/** The scan of a complete metadata-aggregate pushdown, for graft and the
  * interop formats alike: driver-computed rows — group columns first, one
  * row per live group, or one row when ungrouped — zero data files
  * opened. */
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

class GraftV1Scan(table: GraftTable, pushed: Array[Filter], required: StructType,
    asOf: Long = -1L) extends V1Scan with SupportsReportStatistics {

  override def readSchema(): StructType = required

  /** Manifest-derived size/row statistics (post file-pruning by the
    * pushed filters): without this, the V1 bridge reports Spark's default
    * size estimate (= "huge"), so a small graft dim table would never be
    * broadcast in non-extension sessions. Cost: one driver-side manifest
    * walk, no file IO. */
  override def estimateStatistics(): Statistics = {
    val files =
      try table.planFiles(
        pushed.flatMap(GraftFilters.toColumn).reduceOption(_ && _), asOf)
      catch { case _: Throwable => return UnknownStats }
    val bytes = files.map(_.sizeBytes).sum
    val rows = files.map(_.rowCount).sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
    }
  }
  private object UnknownStats extends Statistics {
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.empty()
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = required
      override def needConversion: Boolean = true
      override def buildScan(): RDD[Row] = {
        val filter = pushed.flatMap(GraftFilters.toColumn).reduceOption(_ && _)
        val df = table.scan(filter, asOf)
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
