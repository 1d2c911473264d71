package graft.lake.sql

import java.util

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.AggEntry
import graft.lake.delta.DeltaTable
import graft.lake.hudi.HudiTable
import graft.lake.iceberg.IcebergTable

/** DataSourceV2 batch READ connectors for the three interop formats — the
  * reference's headline usage is plain SQL over an Iceberg table
  * (pg_lakehouse_iceberg/README.md:40-58: `CREATE TABLE … USING
  * iceberg_am` then `SELECT * FROM orders WHERE ts > …`), and before
  * these providers graft could only serve that through Scala APIs
  * (`IcebergTable.load(...).scan(...)`). Now:
  *
  * {{{
  *   spark.read.format("graft-iceberg").load(loc)              // DataFrame
  *   spark.sql("SELECT * FROM `graft-delta`.`/path/tbl` ...")  // direct SQL
  *   spark.read.format("graft-iceberg").option("snapshot-id", id).load(loc)
  * }}}
  *
  * Time-travel options follow each format's own reader conventions:
  *  - `graft-iceberg`: `snapshot-id` | `as-of-timestamp` (epoch ms) |
  *    `ref` (branch or tag name)
  *  - `graft-delta`: `versionAsOf` | `timestampAsOf` (epoch ms or
  *    `yyyy-mm-dd hh:mm:ss[.f…]`)
  *  - `graft-hudi`: `as.of.instant` (timeline instant), `query.type`
  *    (`snapshot` default | `read_optimized` | `incremental`)
  *
  * CHANGE QUERIES follow each format's own batch reader conventions too
  * (read-only resolutions; each has a streaming twin source):
  *  - `graft-iceberg`: `start-snapshot-id` (exclusive) +
  *    `end-snapshot-id` (default current) → appended rows, `_snapshot_id`
  *  - `graft-delta`: `readChangeFeed=true` + `startingVersion`
  *    (inclusive) + `endingVersion` (default current) → CDF rows typed
  *    `_change_type` with `_commit_version`
  *  - `graft-hudi`: `query.type=incremental` + `begin.instanttime`
  *    (exclusive) + `end.instanttime` (default latest) → latest state of
  *    changed keys, `commit_instant` (the long `hoodie.datasource.*`
  *    option names are accepted as aliases)
  *
  * Architecture: each provider resolves its options to a [[LakeRead]] —
  * schema + scan/stats closures over the existing table readers, and the
  * format writer's commit per SQL write — and the SQL surface graft's own
  * catalog tables use ([[LakeTable]], [[LakeScanBuilder]], the native-scan
  * rules, [[GraftRowLevelSqlRule]]) does the rest once.
  *
  * At 100 TB: planning cost is each format's own O(metadata) driver walk
  * (no directory listing), the data path is the same distributed
  * vectorized parquet scan the Scala API produces, and the only cost the
  * V1 bridge adds is one Row boundary at the scan root carrying
  * already-filtered, already-projected rows.
  */
abstract class InteropReadProvider extends TableProvider with DataSourceRegister {

  /** Resolve options (path + format-specific time travel) to a read. */
  protected def open(spark: SparkSession, options: CaseInsensitiveStringMap): LakeRead

  /** Does a physical table already live at `loc`? Gates CREATE-on-write. */
  protected def exists(spark: SparkSession, loc: String): Boolean

  /** Create an empty table at `loc` with `schema` (+ identity partition
    * columns and provider options) and land `df` as its first native
    * commit — the write half of `CREATE TABLE … USING graft-*`. */
  protected def createAndAppend(spark: SparkSession, loc: String,
      schema: StructType, partCols: Seq[String],
      options: CaseInsensitiveStringMap, df: DataFrame): Unit

  /** Provider hook: reject unsupported CREATE options at CREATE time
    * (before the first write materializes the table). Default: accept. */
  protected def validateCreateOptions(options: CaseInsensitiveStringMap): Unit = ()

  protected def path(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(throw new IllegalArgumentException(
      s"${shortName()} needs .load(<table location>)"))

  /** Lets the session catalog hand us the CREATE TABLE column list (the
    * stored schema) instead of forcing inference — what makes `CREATE
    * TABLE t (cols…) USING graft-* LOCATION '<fresh>'` + INSERT (and
    * CTAS) work like the reference's own first statement
    * (pg_lakehouse_iceberg/README.md:22-35 creates a NEW table). */
  override def supportsExternalMetadata(): Boolean = true

  /** One resolution per read: Spark instantiates a fresh provider per
    * query and calls `inferSchema` then `getTable` with the SAME options
    * — without a memo every connector read walks the table's metadata
    * (log replay / manifest list / timeline) twice. Keyed by the full
    * option map, and ONE-SHOT: getTable consumes the memo (r12, ADVICE),
    * so even if a catalog path or a future Spark version reuses a
    * provider instance across reads, a read after a write can never be
    * served a stale table snapshot — the memo spans exactly the
    * inferSchema→getTable pair of a single resolution. */
  @volatile private var lastOpen: (util.Map[String, String], LakeRead) = _
  private def openCached(spark: SparkSession,
      options: CaseInsensitiveStringMap, consume: Boolean): LakeRead = {
    // key on the case-INSENSITIVE view (lowercased keys): the SQL path
    // rule hands getTable a map whose copy lowercases keys, while the
    // DataFrameReader path preserves the caller's casing — an
    // original-case key would miss between the two calls of one read
    val key: util.Map[String, String] = new util.HashMap[String, String](options)
    val c = lastOpen
    if (c != null && c._1 == key) {
      if (consume) lastOpen = null
      c._2
    } else {
      val r = open(spark, options)
      lastOpen = if (consume) null else (key, r)
      r
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    openCached(SparkSession.active, options, consume = false).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val spark = SparkSession.active
    val loc = path(opts)
    if (exists(spark, loc)) new LakeTable(openCached(spark, opts, consume = true))
    else {
      // CREATE-on-first-write: a declared schema + a fresh location is
      // a table that exists in the catalog but not yet on disk — SELECT
      // sees it empty, the first INSERT / CTAS write materializes it as
      // a native table of the format (PG's CREATE-then-INSERT shape)
      require(schema != null && schema.fields.nonEmpty,
        s"${shortName()}: no table at $loc — CREATE TABLE needs a column " +
          "list (or point LOCATION at an existing table)")
      require(opts.get("metadata") == null,
        s"${shortName()}: no table at $loc — metadata tables need an " +
          "existing table")
      validateCreateOptions(opts) // reject bad options AT CREATE time,
      // not at the first deferred INSERT (where the failing statement
      // wouldn't even name the option)
      new LakeTable(
        uncreatedRead(spark, loc, schema,
          partitionColumnsOf(partitioning, opts, schema), opts))
    }
  }

  /** Identity partition columns of the CREATE statement: PARTITIONED BY
    * transforms when Spark forwards them, else the `partition.columns`
    * option (comma-separated — the reliable path through the session
    * catalog's V1 property bridge). Non-identity transforms reject. */
  private def partitionColumnsOf(partitioning: Array[Transform],
      opts: CaseInsensitiveStringMap, schema: StructType): Seq[String] = {
    val fromTransforms = partitioning.toSeq.map { t =>
      org.apache.spark.sql.graftshim.TransformShim.identityColumn(t)
        .getOrElse(throw new UnsupportedOperationException(
          s"${shortName()}: only identity PARTITIONED BY columns are " +
            s"supported at CREATE, got $t"))
    }
    val cols =
      if (fromTransforms.nonEmpty) fromTransforms
      else Option(opts.get("partition.columns")).toSeq
        .flatMap(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"${shortName()}: partition column $c not in the declared schema"))
    cols
  }

  private def uncreatedRead(spark: SparkSession, loc: String,
      schema: StructType, partCols: Seq[String],
      opts: CaseInsensitiveStringMap): LakeRead =
    LakeRead(s"${shortName()} `$loc` (uncreated)", schema,
      scan = _ => spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema),
      stats = _ => (0L, 0L),
      append = Some(df => createAndAppend(spark, loc, schema, partCols, opts, df)),
      // SQL semantics over the not-yet-materialized (empty) table:
      // DELETE / UPDATE match nothing; a MERGE is all NOT MATCHED
      deleteWhere = Some(_ => ()),
      updateWhere = Some((_, _) => ()),
      mergeUpsert = Some((df, _) =>
        createAndAppend(spark, loc, schema, partCols, opts, df)),
      mergeDeleteMatched = Some((_, _) => ()))
}

class GraftIcebergSource extends InteropReadProvider {
  override def shortName(): String = "graft-iceberg"

  /** STANDARD REST CATALOG resolution — `option("catalog-uri", …)` +
    * `option("table", "ns.name")` load a real Iceberg table BY NAME
    * through the published REST catalog API, and writes commit through
    * the catalog's requirements/updates CAS (the reference's
    * `catalog_type='rest'` deployment; location-based `.load(path)`
    * stays the `catalog_type='hadoop'`-style direct path). */
  private def restOf(options: CaseInsensitiveStringMap)
      : Option[(graft.lake.iceberg.rest.IcebergRestCatalog, Seq[String], String)] =
    Option(options.get("catalog-uri")).map { uri =>
      val ident = Option(options.get("table")).getOrElse(
        throw new IllegalArgumentException(
          "graft-iceberg: catalog-uri needs option(\"table\", \"<namespace>.<name>\")"))
      val parts = ident.split('.').toSeq
      require(parts.length >= 2,
        s"graft-iceberg: table must be <namespace>.<name>, got '$ident'")
      // per-URI cached client: one read touches the catalog at several
      // resolution steps (inferSchema, getTable's path, the write's
      // retry loop) — the connection pool, /v1/config prefix and OAuth2
      // bearer token are shared, while every loadTable still hits the
      // service fresh. option("credential", "id:secret") engages the
      // spec's client-credentials flow for managed catalogs.
      (graft.lake.iceberg.rest.IcebergRestCatalog.cached(uri,
        Option(options.get("credential"))),
        parts.init, parts.last)
    }

  /** With a REST catalog in play the 'path' is the catalog-resolved
    * table location (exists/CREATE gating still sees the physical
    * layout); a missing name fails loudly here — catalog tables are
    * created through the catalog, not by CREATE-on-first-write. */
  override protected def path(options: CaseInsensitiveStringMap): String =
    restOf(options) match {
      case Some((cat, ns, name)) =>
        val lr = cat.loadTable(ns, name)
        // vended storage credentials (r14): the exists() probe touches
        // the table's storage, so per-bucket s3a conf lands here too
        // (r16: the re-resolve closure registers a refresh lease when
        // the vend declares an expiry — short STS TTLs outlive scans)
        graft.lake.iceberg.rest.IcebergRestCatalog.applyVendedStorage(
          SparkSession.active, lr.metadata.location, lr, cat.baseUri,
          () => cat.loadTable(ns, name))
        lr.metadata.location
      case None => super.path(options)
    }

  override protected def exists(spark: SparkSession, loc: String): Boolean = {
    val md = new org.apache.hadoop.fs.Path(loc, "metadata")
    val fs = md.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(md) &&
      fs.listStatus(md).exists(_.getPath.getName.endsWith(".metadata.json"))
  }

  override protected def createAndAppend(spark: SparkSession, loc: String,
      schema: StructType, partCols: Seq[String],
      options: CaseInsensitiveStringMap, df: DataFrame): Unit =
    graft.lake.iceberg.IcebergWriter.create(spark, loc, schema,
      partition = partCols.map(_ -> "identity")).append(df)

  override protected def open(
      spark: SparkSession, options: CaseInsensitiveStringMap): LakeRead = {
    val rest = restOf(options)
    // REST: read from the catalog's authoritative metadata-location (one
    // load serves both), write through catalog CAS; otherwise direct.
    val (loc, t, writer) = rest match {
      case Some((cat, ns, name)) =>
        val lr = cat.loadTable(ns, name)
        // vended storage credentials (r14): per-table s3a access from the
        // LoadTableResult — applied BEFORE any storage IO so metadata,
        // manifests, data reads and the writer's commits all ride it
        // (r16: expiring vends register a refresh lease — see
        // refreshExpiredVends, invoked per scan build)
        graft.lake.iceberg.rest.IcebergRestCatalog.applyVendedStorage(
          spark, lr.metadata.location, lr, cat.baseUri,
          () => cat.loadTable(ns, name))
        (lr.metadata.location,
          IcebergTable.load(spark, lr.metadataLocation),
          () => graft.lake.iceberg.IcebergWriter.openRest(spark, cat, ns, name))
      case None =>
        val l = path(options)
        (l, IcebergTable.load(spark, l),
          () => graft.lake.iceberg.IcebergWriter.open(spark, l))
    }
    val snap: Long =
      Option(options.get("snapshot-id")).map(_.toLong)
        .orElse(Option(options.get("as-of-timestamp"))
          .map(ms => t.snapshotAsOfTime(ms.toLong)))
        .orElse(Option(options.get("ref")).map(t.refSnapshot))
        .getOrElse(-1L)
    // METADATA TABLES — Iceberg's own `<table>.snapshots` / `.files` SQL
    // UX, served as `option("metadata", …)` or the `` `path#snapshots` ``
    // path fragment. Read-only, answered from table metadata alone (no
    // data IO); `files` respects a time-travel resolution.
    Option(options.get("metadata")).foreach { which =>
      val df = which match {
        case "snapshots" => t.snapshotsDf
        case "files" => t.filesDf(snap)
        case "partitions" => t.partitionsDf(snap)
        case "history" => t.historyDf
        case other => throw new IllegalArgumentException(
          s"graft-iceberg: unknown metadata table '$other' " +
            "(snapshots|files|partitions|history)")
      }
      return LakeRead(s"graft-iceberg `$loc#$which`", df.schema,
        _ => df, _ => (-1L, -1L))
    }
    // INCREMENTAL APPEND READ — Iceberg's own batch reader options
    // (`start-snapshot-id` EXCLUSIVE, `end-snapshot-id` default current;
    // the names Iceberg's Spark connector uses): rows appended in
    // `(start, end]` tagged `_snapshot_id`, served by
    // [[IcebergTable.incrementalAppends]] — planning is
    // O(snapshots-in-range) metadata, the scan touches only the added
    // files, and pushed filters still reach file pruning. Read-only
    // (a change query is not an insert target); the streaming twin is
    // the `iceberg-incremental` source.
    Option(options.get("start-snapshot-id")).map(_.toLong).foreach { from =>
      require(snap < 0, "graft-iceberg: start-snapshot-id cannot combine " +
        "with snapshot-id/as-of-timestamp/ref time travel — bound the " +
        "range with end-snapshot-id instead")
      val to = Option(options.get("end-snapshot-id")).map(_.toLong).getOrElse(-1L)
      val schema = StructType(
        t.schema.fields :+ StructField("_snapshot_id", LongType))
      return LakeRead(
        s"graft-iceberg `$loc` incremental ($from, ${if (to >= 0L) to else "current"}]",
        schema, f => t.incrementalAppends(from, to, f), _ => (-1L, -1L))
    }
    require(options.get("end-snapshot-id") == null,
      "graft-iceberg: end-snapshot-id needs start-snapshot-id")
    // v3 ROW LINEAGE read (r15): `option("with-lineage", "true")` serves
    // the spec's `_row_id` / `_last_updated_sequence_number` metadata
    // columns by inheritance (IcebergTable.scanWithLineage — refuses
    // loudly on tables/files that cannot answer exactly). Read-only:
    // lineage is a read-side projection, not an insert target.
    if (Option(options.get("with-lineage")).contains("true")) {
      val schema = StructType(t.schema.fields ++ Seq(
        StructField("_row_id", LongType),
        StructField("_last_updated_sequence_number", LongType)))
      return LakeRead(s"graft-iceberg `$loc` +lineage", schema,
        f => t.scanWithLineage(f, snap), f => t.scanStats(f, snap))
    }
    // the standard optimistic-commit loop (what Iceberg's own clients
    // run): a lost publish — a catalog-CAS loss, or on a path-addressed
    // table the next metadata version already existing — means another
    // committer moved the table first. The failed attempt committed
    // NOTHING and referenced nothing, so the statement re-stages from a
    // freshly-opened base and retries; bounded so a hot table still
    // fails loudly rather than spinning.
    def retried[T](op: graft.lake.iceberg.IcebergWriter => T): T = {
      var attempt = 0
      while (true) {
        try return op(writer())
        catch {
          case e: java.util.ConcurrentModificationException =>
            attempt += 1
            if (attempt >= 3) throw e
        }
      }
      sys.error("unreachable")
    }
    val live = LakeRead(s"graft-iceberg `$loc`", t.schema,
      f => t.scan(f, snap), f => t.scanStats(f, snap),
      aggSupport = Some(new AggSource {
        val schema: StructType = t.aggIceSchema(snap).struct
        // data files hold every column, identity partition ones too, so
        // every column is answered from its file stats
        val partitionCols: Set[String] = Set.empty
        val groupableCols: Set[String] = t.aggIdentityCols(snap)
        def fold[B](filters: Seq[Filter], zero: B)(seq: (B, AggEntry) => B,
            comb: (B, B) => B): Option[B] = t.foldAggEntries(snap)(zero)(seq, comb)
      }),
      append = Some(df => retried(_.append(df))),
      // v3 deletion-vector delete — Iceberg's preferred MoR delete
      // encoding: O(matched) puffin bitmaps, no data-file rewrite
      // (bumps format-version to 3, as any v3 DV writer does)
      deleteWhere = Some(c => retried(_.deleteWhereDv(c, requireMatch = false))),
      // SQL UPDATE / MERGE: single-snapshot row-delta commits (DV or
      // equality-delete manifests + data manifests under one snapshot)
      updateWhere = Some((c, set) => retried(_.updateWhere(c, set))),
      mergeUpsert = Some((src, keys) => retried(_.upsertKeys(src, keys))),
      mergeDeleteMatched = Some((keys, keyCols) => retried(
        _.equalityDelete(keys.select(keyCols.map(col): _*).distinct()))))
    if (snap >= 0) live.readOnly else live // time travel: read-only
  }
}

class GraftDeltaSource extends InteropReadProvider {
  override def shortName(): String = "graft-delta"

  override protected def exists(spark: SparkSession, loc: String): Boolean = {
    val log = new org.apache.hadoop.fs.Path(loc, "_delta_log")
    val fs = log.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(log) && fs.listStatus(log).exists { s =>
      val n = s.getPath.getName
      n.endsWith(".json") || n.endsWith(".checkpoint.parquet")
    }
  }

  // table properties a SQL CREATE can carry — silently dropping a
  // delta.* option would create a table with different semantics than
  // the user declared, so unrecognized ones reject loudly, and AT
  // CREATE time (validateCreateOptions), not at the first deferred write
  override protected def validateCreateOptions(
      options: CaseInsensitiveStringMap): Unit = {
    val known = Set("delta.enablechangedatafeed",
      "delta.enableincommittimestamps", "delta.enablerowtracking")
    val stray = options.keySet().toArray.map(String.valueOf)
      .filter(k => k.startsWith("delta.") && !known(k.toLowerCase))
    require(stray.isEmpty,
      s"graft-delta: unsupported table option(s) ${stray.mkString(", ")} " +
        s"(supported: delta.enableChangeDataFeed, " +
        "delta.enableInCommitTimestamps, delta.enableRowTracking)")
  }

  override protected def createAndAppend(spark: SparkSession, loc: String,
      schema: StructType, partCols: Seq[String],
      options: CaseInsensitiveStringMap, df: DataFrame): Unit = {
    // options were validated at CREATE time (getTable's uncreated branch)
    graft.lake.delta.DeltaWriter.create(spark, loc, schema,
      partitionColumns = partCols,
      enableCdf = Option(options.get("delta.enableChangeDataFeed"))
        .exists(_.toBoolean),
      enableIct = Option(options.get("delta.enableInCommitTimestamps"))
        .exists(_.toBoolean),
      enableRowTracking = Option(options.get("delta.enableRowTracking"))
        .exists(_.toBoolean)).append(df)
  }

  private def parseTs(s: String): Long =
    if (s.forall(c => c.isDigit || c == '-')) s.toLong
    else java.sql.Timestamp.valueOf(s).getTime

  override protected def open(
      spark: SparkSession, options: CaseInsensitiveStringMap): LakeRead = {
    val loc = path(options)
    // `` `graft-delta`.`path#history` `` (DESCRIBE HISTORY shape, from
    // the log listing alone) and `` #files `` (live add actions —
    // DESCRIBE DETAIL's file listing; Iceberg's `.files` symmetry)
    Option(options.get("metadata")).foreach { which =>
      val df = which match {
        case "history" => DeltaTable.load(spark, loc).historyDf
        case "files" => DeltaTable.load(spark, loc).filesDf
        case "partitions" => DeltaTable.load(spark, loc).partitionsDf
        case other => throw new IllegalArgumentException(
          s"graft-delta: unknown metadata table '$other' " +
            "(history|files|partitions)")
      }
      return LakeRead(s"graft-delta `$loc#$which`", df.schema,
        _ => df, _ => (-1L, -1L))
    }
    // CHANGE DATA FEED READ — Delta's own batch reader options
    // (`readChangeFeed`, `startingVersion` INCLUSIVE, `endingVersion`
    // default current; the protocol's `table_changes(...)` UX): every
    // row-level change in `[from, to]` typed by `_change_type` with its
    // `_commit_version`, served by [[DeltaTable.changes]] — an
    // O(commits-in-range) driver action walk, change-file scans only.
    // Read-only (a change query is not an insert target); the streaming
    // twin is the `delta-cdf` source.
    if (Option(options.get("readChangeFeed")).exists(_.toBoolean)) {
      require(!options.containsKey("versionAsOf") &&
        !options.containsKey("timestampAsOf"),
        "graft-delta: readChangeFeed cannot combine with versionAsOf/" +
          "timestampAsOf — bound the range with endingVersion instead")
      val from = Option(options.get("startingVersion")).map(_.toLong)
        .getOrElse(throw new IllegalArgumentException(
          "graft-delta: readChangeFeed needs startingVersion"))
      val to = Option(options.get("endingVersion")).map(_.toLong)
        .getOrElse(DeltaTable.latestVersion(spark, loc)) // listing-only
      val df = DeltaTable.changes(spark, loc, from, to)
      return LakeRead(s"graft-delta `$loc` changes [$from, $to]",
        df.schema, _ => df, _ => (-1L, -1L))
    }
    require(!options.containsKey("startingVersion") &&
      !options.containsKey("endingVersion"),
      "graft-delta: startingVersion/endingVersion need readChangeFeed=true")
    val t = Option(options.get("versionAsOf")) match {
      case Some(v) => DeltaTable.loadVersion(spark, loc, v.toLong)
      case None => Option(options.get("timestampAsOf")) match {
        case Some(ts) => DeltaTable.loadAsOfTime(spark, loc, parseTs(ts))
        case None => DeltaTable.load(spark, loc)
      }
    }
    val timeTravel = options.containsKey("versionAsOf") ||
      options.containsKey("timestampAsOf")
    // ROW TRACKING read (r16b; the graft-iceberg `with-lineage` twin):
    // `option("with-row-tracking", "true")` serves the protocol's
    // `_row_id` / `_row_commit_version` columns
    // (DeltaTable.scanWithRowTracking — refuses loudly on untracked
    // tables or unreconstructable files). Read-only projection.
    if (Option(options.get("with-row-tracking")).contains("true")) {
      val schema = StructType(t.schema.fields ++ Seq(
        StructField("_row_id", LongType),
        StructField("_row_commit_version", LongType)))
      return LakeRead(s"graft-delta `$loc` +row-tracking", schema,
        f => t.scanWithRowTracking(f), t.scanStats(_))
    }
    val live = LakeRead(s"graft-delta `$loc`", t.schema, t.scan(_), t.scanStats(_),
      aggSupport = Some(new AggSource {
        val schema: StructType = t.schema
        val partitionCols: Set[String] = t.partitionColumnSet
        val groupableCols: Set[String] = partitionCols
        def fold[B](filters: Seq[Filter], zero: B)(seq: (B, AggEntry) => B,
            comb: (B, B) => B): Option[B] = t.foldAggEntries(zero)(seq, comb)
      }),
      append = Some(df => graft.lake.delta.DeltaWriter.open(spark, loc).append(df)),
      deleteWhere = // protocol-standard COW delete (remove + rewrite)
        Some(c => graft.lake.delta.DeltaWriter.open(spark, loc).deleteWhere(c)),
      updateWhere = // protocol-standard COW update (CDC-aware)
        Some((c, set) => graft.lake.delta.DeltaWriter.open(spark, loc)
          .updateWhere(c, set)),
      mergeUpsert = // one commit: DV-delete of matched keys + adds
        Some((src, keys) => graft.lake.delta.DeltaWriter.open(spark, loc)
          .upsertKeys(src, keys)),
      mergeDeleteMatched =
        Some((keys, keyCols) => graft.lake.delta.DeltaWriter.open(spark, loc)
          .deleteMatchingDv(keys, keyCols)))
    if (timeTravel) live.readOnly else live // time travel: read-only
  }
}

class GraftHudiSource extends InteropReadProvider {
  override def shortName(): String = "graft-hudi"

  override protected def exists(spark: SparkSession, loc: String): Boolean = {
    val props = new org.apache.hadoop.fs.Path(loc, ".hoodie/hoodie.properties")
    props.getFileSystem(spark.sessionState.newHadoopConf()).exists(props)
  }

  // same posture as graft-delta: an unrecognized hoodie.* option would
  // create a table with different semantics than declared — reject at
  // CREATE time instead of silently ignoring
  override protected def validateCreateOptions(
      options: CaseInsensitiveStringMap): Unit = {
    // the read-option names pass through: getTable's uncreated branch
    // also serves a schema-declared READ of a missing location, and a
    // read option must not surface as a CREATE error there
    val known = Set("hoodie.datasource.write.recordkey.field",
      "hoodie.table.recordkey.fields", "hoodie.datasource.write.table.type",
      "hoodie.datasource.query.type",
      "hoodie.datasource.read.begin.instanttime",
      "hoodie.datasource.read.end.instanttime")
    val stray = options.keySet().toArray.map(String.valueOf)
      .filter(k => k.toLowerCase.startsWith("hoodie.") && !known(k.toLowerCase))
    require(stray.isEmpty,
      s"graft-hudi: unsupported table option(s) ${stray.mkString(", ")} " +
        "(supported: recordkey.field / hoodie.datasource.write.recordkey.field" +
        " / hoodie.table.recordkey.fields, table.type / " +
        "hoodie.datasource.write.table.type)")
  }

  override protected def createAndAppend(spark: SparkSession, loc: String,
      schema: StructType, partCols: Seq[String],
      options: CaseInsensitiveStringMap, df: DataFrame): Unit = {
    // options were validated at CREATE time (getTable's uncreated branch)
    // a Hudi table is keyed by construction — CREATE needs the record
    // key, accepted under the option names Hudi's own writers use
    val key = Seq("recordkey.field", "hoodie.datasource.write.recordkey.field",
        "hoodie.table.recordkey.fields")
      .flatMap(k => Option(options.get(k))).headOption
      .getOrElse(throw new IllegalArgumentException(
        "graft-hudi: CREATE TABLE needs a record key — add OPTIONS " +
          "('recordkey.field'='<col>[,<col>…]')"))
    val tableType = Seq("table.type", "hoodie.datasource.write.table.type")
      .flatMap(k => Option(options.get(k))).headOption
      .getOrElse("COPY_ON_WRITE")
    graft.lake.hudi.HudiWriter.create(spark, loc, schema,
      partitionFields = partCols, keyField = key,
      tableType = tableType).insert(df)
  }

  override protected def open(
      spark: SparkSession, options: CaseInsensitiveStringMap): LakeRead = {
    val loc = path(options)
    // `` `graft-hudi`.`path#timeline` `` — the completed-instant
    // timeline as a queryable view
    Option(options.get("metadata")).foreach { which =>
      val df = which match {
        case "timeline" => HudiTable.load(spark, loc).timelineDf
        case "partitions" => HudiTable.load(spark, loc).partitionsDf
        case other => throw new IllegalArgumentException(
          s"graft-hudi: unknown metadata table '$other' " +
            "(timeline|partitions)")
      }
      return LakeRead(s"graft-hudi `$loc#$which`", df.schema,
        _ => df, _ => (-1L, -1L))
    }
    def opt(names: String*): Option[String] =
      names.flatMap(n => Option(options.get(n))).headOption
    val queryType = opt("query.type", "hoodie.datasource.query.type")
      .getOrElse("snapshot")
    // INCREMENTAL READ — Hudi's own query type
    // (`query.type=incremental`, `begin.instanttime` EXCLUSIVE,
    // `end.instanttime` optional, default latest; the long
    // `hoodie.datasource.*` names are accepted too): rows changed in
    // `(begin, end]` tagged `commit_instant`, served by
    // [[HudiTable.incrementalFrom]] over a table bounded at `end` —
    // untouched file groups are skipped from timeline metadata alone.
    // Read-only; the streaming twin is the `hudi-incremental` source.
    if (queryType == "incremental") {
      require(options.get("as.of.instant") == null,
        "graft-hudi: incremental cannot combine with as.of.instant — " +
          "bound the range with end.instanttime instead")
      // real Hudi requires the begin instant; defaulting to "" would
      // silently serve a FULL-TABLE read as a change pull
      val begin = opt("begin.instanttime",
        "hoodie.datasource.read.begin.instanttime").getOrElse(
        throw new IllegalArgumentException(
          "graft-hudi: query.type=incremental needs begin.instanttime " +
            "(exclusive start instant)"))
      val end = opt("end.instanttime",
        "hoodie.datasource.read.end.instanttime").orNull
      val ti = HudiTable.loadAsOf(spark, loc, end) // null = latest
      val schema = StructType(
        StructField("commit_instant", StringType) +: ti.schema.fields)
      return LakeRead(
        s"graft-hudi `$loc` incremental ($begin, ${Option(end).getOrElse("latest")}]",
        schema, f => ti.incrementalFrom(begin, f), _ => (-1L, -1L))
    }
    require(opt("begin.instanttime",
        "hoodie.datasource.read.begin.instanttime",
        "end.instanttime", "hoodie.datasource.read.end.instanttime").isEmpty,
      "graft-hudi: begin/end.instanttime need query.type=incremental")
    val t = HudiTable.loadAsOf(spark, loc,
      options.get("as.of.instant")) // null = latest (loadAsOf's contract)
    val scan: Option[Column] => DataFrame =
      queryType match {
        case "snapshot" => t.scan(_)
        case "read_optimized" => t.scanReadOptimized(_)
        case other => throw new IllegalArgumentException(
          s"graft-hudi query.type must be snapshot|read_optimized|" +
            s"incremental, got '$other'")
      }
    val live = LakeRead(s"graft-hudi `$loc`", t.schema, scan, t.scanStats(_),
      // metadata-only COUNT/MIN/MAX from commit stats and partition
      // values: the snapshot view must refuse with uncompacted log deltas
      // (the merge changes counts); read_optimized serves base slices only
      // by contract, so its counts stay exact with logs live
      aggSupport = Some(new AggSource {
        val schema: StructType = t.schema
        val partitionCols: Set[String] = t.partitionColumns.toSet
        val groupableCols: Set[String] = partitionCols
        def fold[B](filters: Seq[Filter], zero: B)(seq: (B, AggEntry) => B,
            comb: (B, B) => B): Option[B] =
          t.foldAggSlices(zero, refuseOnLogs = queryType == "snapshot")(seq)
      }),
      // Hudi's own INSERT operation: fresh file groups, no key dedup
      // (an upsert is a different operation with merge semantics —
      // served by HudiWriter.upsert, not a SQL INSERT)
      append = Some(df => graft.lake.hudi.HudiWriter.open(spark, loc).insert(df)),
      deleteWhere = // MOR log delete (_hoodie_is_deleted records,
        // O(matched)); the writer loud-rejects COW tables — rewriting
        // every touched group for a SQL DELETE is an operator decision,
        // not a default
        Some(c => graft.lake.hudi.HudiWriter.open(spark, loc)
          .deleteLogWhere(c, requireMatch = false)),
      updateWhere = // keyed upsert of the rewritten rows: MOR log
        // records / COW slice rewrite — Hudi's own update shapes
        Some((c, set) => graft.lake.hudi.HudiWriter.open(spark, loc)
          .updateWhere(c, set)),
      mergeUpsert = // MERGE keys must equal the table's record key —
        // the only join identity Hudi's upsert honors
        Some((src, keys) => graft.lake.hudi.HudiWriter.open(spark, loc)
          .upsertKeys(src, keys)),
      mergeDeleteMatched =
        Some((keys, keyCols) => graft.lake.hudi.HudiWriter.open(spark, loc)
          .deleteMatchingKeys(keys, keyCols)))
    if (options.get("as.of.instant") != null) live.readOnly else live // read-only
  }
}

/** Direct SQL over an interop path — `` SELECT … FROM
  * `graft-iceberg`.`/path/tbl` `` — the reference's `SELECT * FROM orders
  * WHERE …` UX without even registering a view. Spark's own
  * `ResolveSQLOnFile` only accepts FILE formats for path queries (a plain
  * `TableProvider` throws `UNSUPPORTED_DATASOURCE_FOR_DIRECT_QUERY`), so
  * this rule runs in the HINTS batch — ahead of the resolution batch —
  * and rewrites `UnresolvedRelation([graft-iceberg|graft-delta|graft-hudi,
  * <path>])` into a `DataSourceV2Relation` over the provider's table
  * before the built-in rule ever sees it (the same move Delta's
  * `ResolveDeltaPathTable` makes for `` delta.`/path` ``). Installed by
  * [[graft.GraftExtensions]] via `injectHintResolutionRule`. */
class GraftInteropPathRule extends org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

  private val providers: Map[String, () => InteropReadProvider] = Map(
    "graft-iceberg" -> (() => new GraftIcebergSource),
    "graft-delta" -> (() => new GraftDeltaSource),
    "graft-hudi" -> (() => new GraftHudiSource))

  private def isOurs(p: LogicalPlan): Boolean = p match {
    case u: UnresolvedRelation => u.multipartIdentifier.length == 2 &&
      providers.contains(u.multipartIdentifier.head.toLowerCase(java.util.Locale.ROOT))
    case _ => false
  }

  private def rewrite(u: UnresolvedRelation,
      ttOpts: Map[String, String] = Map.empty): LogicalPlan = {
    val fmt = u.multipartIdentifier.head.toLowerCase(java.util.Locale.ROOT)
    val raw = u.multipartIdentifier(1)
    // `` `graft-iceberg`.`/path#snapshots` `` — the metadata-table
    // fragment convention (Iceberg's `tbl.snapshots` UX for path SQL)
    val (loc, frag) = raw.lastIndexOf('#') match {
      case -1 => (raw, None)
      case i => (raw.substring(0, i), Some(raw.substring(i + 1)))
    }
    val provider = providers(fmt)()
    val m = new java.util.HashMap[String, String]()
    m.put("path", loc)
    frag.foreach(m.put("metadata", _))
    ttOpts.foreach { case (k, v) => m.put(k, v) }
    val opts = new CaseInsensitiveStringMap(m)
    val table = provider.getTable(
      provider.inferSchema(opts), Array.empty, opts)
    DataSourceV2Relation.create(table, None, None, opts)
  }

  /** SQL time travel — `` … FROM `graft-*`.`path` VERSION AS OF x `` /
    * `TIMESTAMP AS OF ts` — mapped onto each format's own reader
    * convention: Iceberg takes a snapshot id (all digits) or a ref name
    * and epoch-ms timestamps; Delta a version number and timestamps;
    * Hudi travels by timeline INSTANT (`VERSION AS OF '<instant>'` —
    * instants are ordering tokens, not wall-clock times, so a
    * TIMESTAMP AS OF would silently lie; rejected loudly). */
  private def timeTravelOptions(fmt: String,
      version: Option[String],
      timestamp: Option[org.apache.spark.sql.catalyst.expressions.Expression])
      : Map[String, String] = (version, timestamp) match {
    case (Some(v), _) => fmt match {
      case "graft-iceberg" =>
        if (v.nonEmpty && v.forall(_.isDigit)) Map("snapshot-id" -> v)
        else Map("ref" -> v)
      case "graft-delta" =>
        require(v.nonEmpty && v.forall(_.isDigit),
          s"graft-delta VERSION AS OF needs a version number, got '$v'")
        Map("versionAsOf" -> v)
      case _ => Map("as.of.instant" -> v)
    }
    case (None, Some(tsExpr)) =>
      val ms = evalTimestampMs(tsExpr)
      fmt match {
        case "graft-iceberg" => Map("as-of-timestamp" -> ms.toString)
        case "graft-delta" => Map("timestampAsOf" -> ms.toString)
        case _ => throw new UnsupportedOperationException(
          "graft-hudi time travel is by timeline instant — " +
            "use VERSION AS OF '<instant>'")
      }
    case (None, None) => Map.empty
  }

  /** Evaluate a constant TIMESTAMP AS OF expression to epoch millis —
    * the rule runs ahead of function resolution, so only literal forms
    * (string / timestamp literals and foldable casts) are accepted. */
  private def evalTimestampMs(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types.TimestampType
    val cast = Cast(e, TimestampType,
      Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
    require(e.resolved && cast.foldable,
      s"TIMESTAMP AS OF over a graft-* path must be a constant, got $e")
    cast.eval(null) match {
      case micros: java.lang.Long => micros / 1000L
      case other => throw new IllegalArgumentException(
        s"TIMESTAMP AS OF '$e' did not evaluate to a timestamp (got $other)")
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    // `INSERT INTO \`graft-*\`.\`path\` …`: the target table is a FIELD of
    // InsertIntoStatement, not a child, so tree traversal never visits it
    // (Spark's own ResolveSQLOnFile special-cases it the same way)
    case i: org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement
        if isOurs(i.table) =>
      i.copy(table = rewrite(
        i.table.asInstanceOf[UnresolvedRelation]))
    // `FROM \`graft-*\`.\`path\` VERSION|TIMESTAMP AS OF …`: the relation
    // is a FIELD of the (leaf) RelationTimeTravel node, same deal
    case tt: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel
        if isOurs(tt.relation) =>
      val u = tt.relation.asInstanceOf[UnresolvedRelation]
      val fmt = u.multipartIdentifier.head.toLowerCase(java.util.Locale.ROOT)
      rewrite(u, timeTravelOptions(fmt, tt.version, tt.timestamp))
    case u: UnresolvedRelation if isOurs(u) => rewrite(u)
  }
}
