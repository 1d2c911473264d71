package graft.lake.sql

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.GraftTable

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
  * registerViews snapshot-at-registration views). Each table is served as
  * a [[LakeRead]] ([[GraftSqlCatalog.read]]) through the SQL surface the
  * four formats share: [[LakeTable]] for reads and writes, the native-scan
  * rules for vectorized reads, metadata-only aggregates and file pruning,
  * and [[GraftRowLevelSqlRule]] for UPDATE / MERGE.
  *
  * Scale notes: catalog ops are O(1) metadata IO; a scan's data path is
  * exactly `GraftTable.scan` (vectorized parquet + Catalyst pushdown
  * inside the produced plan).
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
    new LakeTable(GraftSqlCatalog.read(loadGraft(ident), ident.toString))
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
    new LakeTable(GraftSqlCatalog.read(t, ident.toString, asOf = id))
  }

  /** `… TIMESTAMP AS OF <ts>` — Spark hands micros since epoch; resolve
    * to the snapshot current at that instant. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!exists(ident)) throw new NoSuchTableException(ident)
    val t = loadGraft(ident)
    val id = t.snapshotAsOfTime(timestampMicros / 1000L)
    require(id >= 0, s"no snapshot of $ident existed at $timestampMicros")
    new LakeTable(GraftSqlCatalog.read(t, ident.toString, asOf = id))
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
    new LakeTable(GraftSqlCatalog.read(t, ident.toString))
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
    new LakeTable(GraftSqlCatalog.read(t, ident.toString))
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

  /** A graft table as the one SQL surface's [[LakeRead]]: reads bridge to
    * `GraftTable.scan` (fresh snapshot per query, or the pinned `asOf`
    * snapshot for time travel, which is read-only), writes to its MoR
    * commits with the optimistic-retry concurrency of the programmatic
    * API: INSERT is an append, INSERT OVERWRITE an atomic whole-table
    * replace, DELETE an equality delete on keyed tables and a positional
    * one on keyless ones, UPDATE and MERGE equality-delete + append in one
    * snapshot. */
  def read(table: GraftTable, name: String, asOf: Long = -1L): LakeRead = {
    val m = table.meta
    // MERGE lowers onto the equality-delete key, the only join the MoR
    // read path can honour: the statement's key columns must be exactly
    // key.columns, or the commit would be silently wrong
    def mergeKeys(stmt: Seq[String]): Unit = {
      val keyCols = m.keyColumns
      if (keyCols.isEmpty) throw new UnsupportedOperationException(
        s"MERGE INTO a graft table needs key.columns (equality-delete key) on $name")
      if (stmt.toSet != keyCols.toSet) throw new UnsupportedOperationException(
        s"graft MERGE condition must cover exactly key.columns ${keyCols.mkString(",")}, " +
          s"got ${stmt.mkString(",")}")
    }
    val live = LakeRead(name, table.schema,
      scan = f => table.scan(f, asOf),
      stats = { f =>
        val files = table.planFiles(f, asOf)
        (files.map(_.sizeBytes).sum, files.map(_.rowCount).sum)
      },
      aggSupport = Some(AggPushdown.graft(table, asOf)),
      append = Some(df => table.append(df)),
      overwrite = Some(df => table.overwrite(df)),
      deleteWhere = Some(c => table.delete(c)),
      updateWhere = Some((c, set) => table.update(set, c)),
      mergeUpsert = Some { (src, keys) => mergeKeys(keys); table.upsert(src) },
      mergeDeleteMatched = Some { (keys, keyCols) =>
        mergeKeys(keyCols); table.deleteKeys(keys.select(keyCols.map(col): _*))
      },
      partitioning = m.partitionColumns.map(Expressions.identity),
      properties = m.props ++
        (if (m.keyColumns.nonEmpty) Map("key.columns" -> m.keyColumns.mkString(",")) else Map.empty))
    if (asOf >= 0) live.readOnly else live
  }
}
