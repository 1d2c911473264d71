package graft.lake.delta

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{AggEntry, ColStats, DataFileMeta, FilePruner, Meta, ParquetStats, RowDeletes}

/** Read-only Delta Lake table reader — the SECOND real-format interop
  * surface (the reference lists Delta under future support,
  * pg_lakehouse_iceberg/README.md:9; graft ships it now). Parses the
  * published Delta transaction protocol directly (PROTOCOL.md in the
  * delta-io/delta repository): `_delta_log/%020d.json` commit files of
  * newline-delimited actions (protocol / metaData / add / remove),
  * optionally seeded from a `%020d.checkpoint.parquet` named by
  * `_last_checkpoint`, replayed into the live file set (per path, last
  * action wins). Planning then lowers onto graft's own [[FilePruner]]:
  *
  *  - `partitionValues` become identity partition values (Delta
  *    partitioning IS identity by definition), `stats` JSON min/max/
  *    nullCount become [[ColStats]] — file skipping is the audited walk,
  *    unchanged.
  *  - partition columns are typically NOT stored in the data files; the
  *    scan injects them per file group from `partitionValues` (the
  *    protocol makes the map authoritative), cast to the table schema.
  *  - version time travel replays a log prefix; timestamp time travel
  *    resolves through commit-file modification times (Delta's own
  *    default resolution).
  *
  * Reader features implemented beyond the base protocol:
  *
  *  - DELETION VECTORS (minReaderVersion 3 + `deletionVectors`): add
  *    actions may carry a DV descriptor ([[DeletionVectors]]); the scan
  *    drops rows whose `_metadata.row_index` the file's bitmap holds.
  *    Executors lazily load + cache each bitmap — nothing data-sized
  *    touches the driver.
  *  - COLUMN MAPPING (minReaderVersion 2, or 3 + `columnMapping`; name
  *    AND id modes): files store physical names / field ids; the scan
  *    reads the physical schema (id matching via Spark's
  *    parquet.field.id support) and projects back to logical names.
  *    Log-side stats and partitionValues keys are physical and are
  *    translated before pruning.
  *  - V2 CHECKPOINTS (minReaderVersion 3 + `v2Checkpoint`, r09):
  *    uuid-named `%020d.checkpoint.<uuid>.{json,parquet}` top-level
  *    checkpoint files whose file actions may be externalized into
  *    parquet sidecars under `_delta_log/_sidecars/` (the layout newer
  *    Delta writers produce); the seed folds inline AND sidecar adds,
  *    and prefers the v2 flavor when both exist at one version.
  *
  * TYPE WIDENING (r11) is read natively: files written before an ALTER
  * COLUMN TYPE keep their narrower physical type and upcast through
  * Spark's parquet promotion support. VARIANT (r13, `variantType`
  * feature): schemaString's `"variant"` parses to Spark 4's
  * VariantType and the parquet source reads the spec's binary
  * (metadata, value) pair natively. Anything else that changes what
  * the bytes mean is REJECTED loudly rather than misread: a silently
  * wrong scan is worse than an unsupported-table error.
  *
  * At 100 TB: state reconstruction is checkpoint-seeded, and past a
  * byte threshold (`spark.graft.delta.stateCollectThresholdBytes`) the
  * checkpoint's add payload is never funneled through the driver —
  * snapshot state stays in the checkpoint/sidecar parquet and every
  * scan replays it as a DISTRIBUTED job with the query's predicate
  * pushed into the replay ([[FilePruner.keeper]] runs inside tasks), so
  * the driver materializes only the surviving files of a 10⁶-file
  * estate (r13; OSS Delta reconstructs snapshots distributed for the
  * same reason). The scan itself is ordinary distributed parquet reads
  * with pushed filters.
  */
final class DeltaTable private (
    spark: SparkSession,
    val location: String,
    val version: Long,
    meta: DeltaTable.DMeta,
    state: DeltaTable.State,
    /** Latest SetTransaction (`txn` action) version per appId at this
      * table version — the protocol's streaming-sink idempotence record
      * (newest wins; checkpoints retain one per appId). */
    val txnVersions: Map[String, Long] = Map.empty) {

  // NOTHING in this class materializes the full live add set in Lazy
  // mode: scans go through [[prunedAdds]] (predicate survivors only),
  // the CDF remove resolver through [[addsFor]] (named paths only),
  // metadata views through [[addRowsDf]] (distributed projection), and
  // metadata aggregates through [[foldAggEntries]] (distributed fold).

  /** Live adds surviving the filter. Eager mode prunes on the driver
    * exactly as before; Lazy mode pushes [[FilePruner]]'s conservative
    * walk INTO the distributed checkpoint/sidecar read, so the driver
    * only ever materializes files the scan will actually open — the
    * checkpoint replay is a Spark job, not a driver loop (the same
    * discipline as [[graft.lake.ParquetStats.readFooters]]; OSS Delta
    * reconstructs snapshot state distributed for the same reason). */
  private def prunedAdds(filter: Option[Column]): Seq[DeltaTable.AddFile] =
    state match {
      case DeltaTable.Eager(a) =>
        val metas = a.map(f => f.path -> toDataFileMeta(f)).toMap
        val keep = FilePruner.prune(metas.values.toSeq, filter,
          meta.partitionColumns, meta.schema).map(_.path).toSet
        a.filter(f => keep(f.path))
      case l: DeltaTable.Lazy => distReplay(l, filter)
    }

  /** Distributed checkpoint replay: parse add actions INSIDE tasks,
    * drop entries superseded by post-checkpoint commits (the bounded
    * tail — at most one checkpoint interval of removes/re-adds, shipped
    * as a broadcast set), apply the pruning predicate executor-side, and
    * collect only the survivors. The post-checkpoint tail adds are
    * pruned on the driver (they are O(commits since checkpoint)). */
  private def distReplay(l: DeltaTable.Lazy,
      filter: Option[Column]): Seq[DeltaTable.AddFile] = {
    val m = meta
    val keep = FilePruner.keeper(filter, m.partitionColumns, m.schema)
    val excluded = spark.sparkContext.broadcast(l.excluded)
    def survivors(paths: Seq[String]): Seq[DeltaTable.AddFile] =
      if (paths.isEmpty) Nil
      else {
        val df = spark.read.parquet(paths: _*)
        if (!df.columns.contains("add")) Nil
        else df.filter(col("add").isNotNull).select("add.*")
          .rdd.mapPartitions { it =>
            it.map(DeltaTable.parseAddRow)
              .filter(a => !excluded.value.contains(a.path))
              .filter(a => keep(DeltaTable.toDataFileMeta(a, m)))
          }.collect().toSeq
      }
    val tail = l.tailAdds.filter(a => keep(DeltaTable.toDataFileMeta(a, m)))
    // last-wins dedup by path over the (small) survivor set, mirroring
    // the eager seed's LinkedHashMap; tail paths are disjoint from the
    // checkpoint side by construction (excluded covers re-adds)
    val dedup = scala.collection.mutable.LinkedHashMap[String, DeltaTable.AddFile]()
    (survivors(l.cpPaths) ++ survivors(l.sidecarPaths)).foreach(a => dedup(a.path) = a)
    dedup.values.toSeq ++ tail
  }

  /** Last committed version for a streaming appId; -1 = never. */
  def txnVersion(appId: String): Long = txnVersions.getOrElse(appId, -1L)

  def schema: StructType = meta.schema
  def partitionColumns: Seq[String] = meta.partitionColumns
  def columnMappingMode: String = meta.columnMappingMode
  private[delta] def dmeta: DeltaTable.DMeta = meta
  /** Live adds for SPECIFIC paths — the bounded probe the CDF remove
    * resolver needs (only the files ONE commit touched). Eager: driver
    * map lookups. Lazy: the distributed replay with the wanted-path set
    * broadcast into the tasks, so the collect is O(|paths|) — a CDF read
    * over a 10⁶-file estate never materializes the estate to resolve a
    * handful of removes. */
  private[lake] def addsFor(paths: Set[String]): Map[String, DeltaTable.AddFile] =
    state match {
      case DeltaTable.Eager(a) =>
        a.iterator.filter(f => paths(f.path)).map(f => f.path -> f).toMap
      case l: DeltaTable.Lazy =>
        val tail = l.tailAdds.filter(a => paths(a.path))
        val remaining = paths -- tail.map(_.path) -- l.excluded
        val bc = spark.sparkContext.broadcast(remaining)
        def surv(ps: Seq[String]): Seq[DeltaTable.AddFile] =
          if (ps.isEmpty || remaining.isEmpty) Nil
          else {
            val df = spark.read.parquet(ps: _*)
            if (!df.columns.contains("add")) Nil
            else df.filter(col("add").isNotNull).select("add.*")
              .rdd.mapPartitions { it =>
                it.map(DeltaTable.parseAddRow)
                  .filter(a => bc.value.contains(a.path))
              }.collect().toSeq
          }
        (surv(l.cpPaths) ++ surv(l.sidecarPaths) ++ tail)
          .map(a => a.path -> a).toMap
    }

  /** In-file schema: data columns only, PHYSICAL names. Field-id
    * metadata is attached ONLY in id mode (it rides on Spark's
    * parquet.field.id support): in name mode the physical NAME is the
    * match key per the protocol, and real name-mode tables written by
    * other engines may carry no parquet field ids at all — a read
    * schema demanding ids would refuse their files (caught by the
    * spec-authored cm golden fixture). */
  private def dataSchema: StructType =
    StructType(meta.schema.fields
      .filterNot(f => meta.partitionColumns.contains(f.name))
      .map { f =>
        val mb = new MetadataBuilder()
        if (meta.columnMappingMode == "id")
          meta.fieldId(f.name).foreach(id => mb.putLong("parquet.field.id", id))
        StructField(meta.physicalName(f.name), f.dataType, f.nullable, mb.build())
      })

  // ---- planning ------------------------------------------------------------

  /** Log-side keys (partitionValues, stats) are PHYSICAL names under
    * column mapping; FilePruner compares in logical space. */
  private def toDataFileMeta(a: DeltaTable.AddFile): DataFileMeta =
    DeltaTable.toDataFileMeta(a, meta)

  /** Live data-file listing — the `#files` metadata view (the DESCRIBE
    * DETAIL companion; symmetric with Iceberg's `<table>.files`):
    * one row per live add action from reconstructed log state alone —
    * zero data IO. DV'd files report their masked-row cardinality. */
  def filesDf: DataFrame = addRowsDf.orderBy("path")

  /** One (path, size, num_records, partition, dv_cardinality) row per
    * live add — the shared source of both metadata views. Eager mode
    * materializes from the driver state it already holds; Lazy mode
    * builds the frame FROM the distributed checkpoint replay without
    * ever collecting adds (the views aggregate/project executor-side). */
  private def addRowsDf: DataFrame = {
    val viewSchema = StructType(Seq(
      StructField("path", StringType),
      StructField("size_bytes", LongType),
      StructField("num_records", LongType),
      StructField("partition", StringType),
      StructField("dv_cardinality", LongType)))
    state match {
      case DeltaTable.Eager(a) =>
        spark.createDataFrame(
          spark.sparkContext.parallelize(a.map(DeltaTable.viewRow), 1), viewSchema)
      case l: DeltaTable.Lazy =>
        val excluded = spark.sparkContext.broadcast(l.excluded)
        def rddOf(paths: Seq[String]) =
          if (paths.isEmpty) spark.sparkContext.emptyRDD[org.apache.spark.sql.Row]
          else {
            val df = spark.read.parquet(paths: _*)
            if (!df.columns.contains("add"))
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row]
            else df.filter(col("add").isNotNull).select("add.*")
              .rdd.mapPartitions { it =>
                it.map(DeltaTable.parseAddRow)
                  .filter(a => !excluded.value.contains(a.path))
                  .map(DeltaTable.viewRow)
              }
          }
        val tail =
          spark.sparkContext.parallelize(l.tailAdds.map(DeltaTable.viewRow), 1)
        spark.createDataFrame(
          rddOf(l.cpPaths).union(rddOf(l.sidecarPaths)).union(tail), viewSchema)
    }
  }

  /** Per-partition live state — the `#partitions` metadata view
    * (Iceberg's `<table>.partitions` symmetry): add actions aggregated
    * by partition from reconstructed log state alone — zero data IO.
    * `num_records` sums add-stats counts (null if ANY file in the
    * partition lacks stats: unknown ≠ zero); `dv_masked_records` sums
    * live deletion-vector cardinalities, so `num_records -
    * dv_masked_records` is the partition's scan-visible row count. */
  def partitionsDf: DataFrame =
    addRowsDf.groupBy(col("partition")).agg(
      count(lit(1)).as("file_count"),
      sum(col("size_bytes")).as("size_bytes"),
      // unknown ≠ zero: null when ANY file in the partition lacks stats
      when(count(when(col("num_records").isNull, lit(1))) > 0, lit(null))
        .otherwise(sum(col("num_records"))).cast(LongType).as("num_records"),
      coalesce(sum(col("dv_cardinality")), lit(0L)).cast(LongType)
        .as("dv_masked_records")
    ).orderBy("partition")

  /** `DESCRIBE HISTORY` shape — one row per commit from the log listing
    * alone: version, timestamp (commit-file mtime, the protocol's own
    * default timestamp resolution), operation (from `commitInfo` when
    * the commit carries one — this writer tags RESTORE, OSS engines tag
    * every commit; null otherwise). O(versions) driver metadata, no
    * data IO. Served over SQL as `` `graft-delta`.`path#history` ``. */
  def historyDf: DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val logDir = new Path(location, "_delta_log")
    val fs = logDir.getFileSystem(conf)
    val rows = fs.listStatus(logDir).toSeq
      .flatMap(st => st.getPath.getName match {
        case DeltaTable.CommitRe(v) => Some((v.toLong, st))
        case _ => None
      }).sortBy(_._1).map { case (v, st) =>
        val in = fs.open(st.getPath)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val ci = text.split('\n').filter(_.trim.nonEmpty).iterator
          .map(DeltaTable.mapper.readTree)
          .collectFirst { case n if n.has("commitInfo") =>
            n.get("commitInfo") }
        val op = ci.filter(_.has("operation")).map(_.get("operation").asText())
        // inCommitTimestamp (writer feature): the commit's own monotone
        // clock is authoritative over the file mtime when present
        val ts = ci.map(_.path("inCommitTimestamp").asLong(0L))
          .filter(_ > 0L).getOrElse(st.getModificationTime)
        org.apache.spark.sql.Row(v, new java.sql.Timestamp(ts), op.orNull)
      }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("version", LongType),
        StructField("timestamp", TimestampType),
        StructField("operation", StringType))))
  }

  def planFiles(filter: Option[Column] = None): Seq[String] =
    prunedAdds(filter).map(_.path)

  /** (bytes, rows) of the pruned live files, from log actions alone (no
    * data IO) — feeds the DSv2 bridge's `estimateStatistics`. Rows are an
    * estimate: files without `numRecords` stats contribute 0, and DV'd
    * rows still count (upper bound — the right direction for planning). */
  def scanStats(filter: Option[Column] = None): (Long, Long) = {
    val live = prunedAdds(filter)
    (live.map(_.size).sum, live.map(_.numRecords.getOrElse(0L)).sum)
  }

  /** The metadata-aggregate fold over every live file as an [[AggEntry]]
    * — None (refuse) when ANY deletion vector is live (log row counts
    * become upper bounds) or any file lacks `numRecords` (stats are
    * optional in the protocol; unknown is not zero). Eager mode folds on
    * the driver; Lazy mode runs the fold INSIDE the distributed checkpoint
    * replay (treeAggregate), never materializing the estate anywhere. */
  private[lake] def foldAggEntries[B](zero: B)(
      seq: (B, AggEntry) => B, comb: (B, B) => B): Option[B] = {
    val m = meta
    val seqO: (Option[B], DeltaTable.AddFile) => Option[B] = (b, a) =>
      b.flatMap(bb => DeltaTable.aggEntryOf(a, m).map(e => seq(bb, e)))
    val combO: (Option[B], Option[B]) => Option[B] = (x, y) =>
      for { xx <- x; yy <- y } yield comb(xx, yy)
    state match {
      case DeltaTable.Eager(a) => a.foldLeft(Option(zero))(seqO)
      case l: DeltaTable.Lazy =>
        val tailB = l.tailAdds.foldLeft(Option(zero))(seqO)
        val excluded = spark.sparkContext.broadcast(l.excluded)
        def rddOf(paths: Seq[String]) =
          if (paths.isEmpty)
            spark.sparkContext.emptyRDD[DeltaTable.AddFile]
          else {
            val df = spark.read.parquet(paths: _*)
            if (!df.columns.contains("add"))
              spark.sparkContext.emptyRDD[DeltaTable.AddFile]
            else df.filter(col("add").isNotNull).select("add.*")
              .rdd.mapPartitions { it =>
                it.map(DeltaTable.parseAddRow)
                  .filter(a => !excluded.value.contains(a.path))
              }
          }
        implicit val tag: scala.reflect.ClassTag[Option[B]] =
          scala.reflect.ClassTag(classOf[Option[B]])
        val cpB = rddOf(l.cpPaths).union(rddOf(l.sidecarPaths))
          .treeAggregate(Option(zero))(seqO, combO)
        combO(cpB, tailB)
    }
  }

  private[lake] def partitionColumnSet: Set[String] =
    meta.partitionColumns.toSet

  // ---- scan ----------------------------------------------------------------

  /** Position mask over the deletion vectors of `live` files (None when
    * no file carries one). */
  private def dvMask(live: Seq[DeltaTable.AddFile]): Option[Column] = {
    val dvs: Map[String, RowDeletes.Dv] = live.flatMap(a => a.deletionVector.map(d =>
      DeltaTable.pathKey(DeltaTable.resolve(location, a.path).toString) ->
        RowDeletes.DeltaDv(location, d))).toMap
    if (dvs.isEmpty) None
    else Some(RowDeletes.keep(spark, ParquetStats.scanFilePath,
      col("_metadata.row_index"), DeltaTable.pathKey, dvs))
  }

  def scan(filter: Option[Column] = None): DataFrame = {
    val live = prunedAdds(filter)
    if (live.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], meta.schema)
    if (meta.columnMappingMode == "id")
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

    val keepRow = dvMask(live)

    // ONE scan node for every live file (plan width must not grow with
    // partition count — a 10k-partition table cannot plan 10k scan
    // unions). Partition columns are injected from partitionValues
    // (authoritative per protocol; files omit them) through a BROADCAST
    // file→partition-values frame keyed by normalized file path —
    // O(live files) metadata rows, the same state the driver already
    // holds from the log. Under column mapping the read is by PHYSICAL
    // name (and field id in id mode); the projection renames back to
    // logical.
    //
    // VERIFIED HIVE-LAYOUT READ (r15): when every live file sits at
    // `<root>/p1=v1/…/file` with the unescaped dir strings EQUAL to the
    // log's partitionValues strings, Spark's partition-dir cast and the
    // injection's pv-string cast provably agree — so the scan becomes a
    // genuine hive-partitioned relation and dynamic partition pruning
    // applies (type-independent: the criterion is string equality of
    // the two cast inputs). Under column mapping the dirs AND the log's
    // partitionValues both carry PHYSICAL names, so the same
    // verification runs in physical-name space and the projection
    // renames back to logical. Any anomaly falls back to the
    // authoritative injection.
    val logicalDataCols = meta.schema.fieldNames
      .filterNot(meta.partitionColumns.contains)
    val livePaths = live.map(f => DeltaTable.resolve(location, f.path).toString)
    val physPartCols = meta.partitionColumns.map(meta.physicalName)
    val hiveBase: Option[String] =
      if (meta.partitionColumns.isEmpty ||
          !graft.lake.HivePartitionedRead.enabled(spark)) None
      else graft.lake.HivePartitionedRead.verifiedBase(
        livePaths.toIndexedSeq, physPartCols,
        i => physPartCols.map(pc => live(i).partitionValues.get(pc).orNull))
    val hiveOut: Option[DataFrame] = hiveBase.flatMap { base =>
      try {
        val partFields = meta.partitionColumns.map(c =>
          StructField(meta.physicalName(c), meta.schema(c).dataType))
        var hdf = graft.lake.HivePartitionedRead.read(spark, "parquet",
          base, dataSchema, partFields, livePaths)
        keepRow.foreach(k => hdf = hdf.filter(k))
        Some(hdf.select(meta.schema.fieldNames.toIndexedSeq.map(c =>
          col(meta.physicalName(c)).as(c)): _*))
      } catch { case _: Throwable => None }
    }
    if (hiveOut.isDefined)
      return filter.map(hiveOut.get.filter).getOrElse(hiveOut.get)
    var df = spark.read.schema(dataSchema)
      .parquet(livePaths: _*)
    keepRow.foreach(k => df = df.filter(k))
    val out =
      if (meta.partitionColumns.isEmpty) {
        df.select(logicalDataCols.toIndexedSeq.map(c =>
          col(meta.physicalName(c)).as(c)): _*)
      } else {
        df = df
          .withColumn("__fp", DeltaTable.normPath(ParquetStats.scanFilePath))
          .select((col("__fp") +: logicalDataCols.toIndexedSeq.map(c =>
            col(meta.physicalName(c)).as(c))): _*)
        val pvSchema = StructType(
          StructField("__fp", StringType) +:
            meta.partitionColumns.map(c => StructField(s"__pv_$c", StringType)))
        val pvRows = live.map { a =>
          org.apache.spark.sql.Row.fromSeq(
            DeltaTable.pathKey(DeltaTable.resolve(location, a.path).toString) +:
              meta.partitionColumns.map(c =>
                a.partitionValues.get(meta.physicalName(c)).orNull))
        }
        val pvDf = spark.createDataFrame(
          spark.sparkContext.parallelize(pvRows.toIndexedSeq, 1), pvSchema)
        df.join(broadcast(pvDf), Seq("__fp"))
          .select(meta.schema.fieldNames.toIndexedSeq.map { c =>
            if (meta.partitionColumns.contains(c))
              col(s"__pv_$c").cast(meta.schema(c).dataType).as(c)
            else col(c)
          }: _*)
      }
    filter.map(out.filter).getOrElse(out)
  }

  /** ROW-TRACKING scan (r16b — Delta's row-lineage counterpart to
    * Iceberg v3 `scanWithLineage`): the table's rows with `_row_id` and
    * `_row_commit_version` appended, per the protocol's resolution
    * rules — a row's id is its file's MATERIALIZED row-id column when
    * non-null, else `baseRowId + row_index` (fresh); its commit version
    * is the materialized column else `defaultRowCommitVersion`. The
    * materialized column NAMES come from the table configuration, so
    * tables written by any conformant engine resolve. Exact-or-refuse:
    * a live file without a baseRowId (added before tracking was
    * enabled) refuses loudly — its fresh ids would be wrong — as does a
    * schema that declares the output column names. DV deletes never
    * disturb survivors' ids (row_index is position-stable). */
  def scanWithRowTracking(filter: Option[Column] = None): DataFrame = {
    require(meta.rowTrackingEnabled,
      s"delta: table at $location does not enable row tracking " +
        "(no delta.enableRowTracking in configuration)")
    require(!meta.schema.fieldNames.exists(n =>
        n == "_row_id" || n == "_row_commit_version"),
      "delta: schema declares _row_id/_row_commit_version — serving " +
        "lineage columns beside them would be ambiguous")
    val matId = meta.materializedRowIdCol
    val matVer = meta.materializedRowVerCol
    val live = prunedAdds(filter)
    val target = StructType(meta.schema.fields ++ Seq(
      StructField("_row_id", LongType),
      StructField("_row_commit_version", LongType)))
    if (live.isEmpty)
      return filter.foldLeft(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], target))(
        (d, f) => d.filter(f))
    live.foreach(a => require(
      a.baseRowId.isDefined && a.defaultRowCommitVersion.isDefined,
      s"delta: live file ${a.path} carries no baseRowId — written " +
        "before row tracking was enabled? its ids cannot be " +
        "reconstructed, refusing"))

    val keepRow = dvMask(live)

    val logicalDataCols = meta.schema.fieldNames
      .filterNot(meta.partitionColumns.contains)
    val livePaths = live.map(f => DeltaTable.resolve(location, f.path).toString)
    // read schema: physical data columns + the materialized lineage
    // columns when configured (files written before any rewrite lack
    // them — Spark serves missing columns as nulls, which is exactly
    // the protocol's null-means-fresh fallback)
    val physData = StructType(dataSchema.fields ++
      (matId.toSeq ++ matVer.toSeq).map(n => StructField(n, LongType)))
    if (meta.columnMappingMode == "id")
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    var df = spark.read.schema(physData).parquet(livePaths: _*)
    keepRow.foreach(k => df = df.filter(k))

    val byPath: Map[String, (Long, Long)] = live.map(a =>
      DeltaTable.pathKey(DeltaTable.resolve(location, a.path).toString) ->
        ((a.baseRowId.get, a.defaultRowCommitVersion.get))).toMap
    val bc = spark.sparkContext.broadcast(byPath)
    def const(pick: ((Long, Long)) => Long): Column =
      graft.expressions.FileConstant.column(
        DeltaTable.normPath(ParquetStats.scanFilePath), LongType,
        raw => bc.value.get(DeltaTable.pathKey(raw)) match {
          case Some(v) => Long.box(pick(v))
          case None => throw new IllegalStateException(
            s"delta: file $raw missing from the row-tracking constants")
        })
    val rowIdC = coalesce(
      matId.map(col).getOrElse(lit(null).cast(LongType)),
      const(_._1) + col("_metadata.row_index")).as("_row_id")
    val rowVerC = coalesce(
      matVer.map(col).getOrElse(lit(null).cast(LongType)),
      const(_._2)).as("_row_commit_version")

    val out =
      if (meta.partitionColumns.isEmpty)
        df.select(logicalDataCols.toIndexedSeq.map(c =>
          col(meta.physicalName(c)).as(c)) ++ Seq(rowIdC, rowVerC): _*)
      else {
        // partition injection (scan()'s broadcast shape) with the
        // lineage columns computed BEFORE the projection drops _metadata
        df = df
          .withColumn("__fp", DeltaTable.normPath(ParquetStats.scanFilePath))
          .withColumn("_row_id", rowIdC)
          .withColumn("_row_commit_version", rowVerC)
          .select((col("__fp") +: col("_row_id") +:
            col("_row_commit_version") +:
            logicalDataCols.toIndexedSeq.map(c =>
              col(meta.physicalName(c)).as(c))): _*)
        val pvSchema = StructType(
          StructField("__fp", StringType) +:
            meta.partitionColumns.map(c => StructField(s"__pv_$c", StringType)))
        val pvRows = live.map { a =>
          org.apache.spark.sql.Row.fromSeq(
            DeltaTable.pathKey(DeltaTable.resolve(location, a.path).toString) +:
              meta.partitionColumns.map(c =>
                a.partitionValues.get(meta.physicalName(c)).orNull))
        }
        val pvDf = spark.createDataFrame(
          spark.sparkContext.parallelize(pvRows.toIndexedSeq, 1), pvSchema)
        df.join(broadcast(pvDf), Seq("__fp"))
          .select(meta.schema.fieldNames.toIndexedSeq.map { c =>
            if (meta.partitionColumns.contains(c))
              col(s"__pv_$c").cast(meta.schema(c).dataType).as(c)
            else col(c)
          } ++ Seq(col("_row_id"), col("_row_commit_version")): _*)
      }
    filter.map(out.filter).getOrElse(out)
  }
}

object DeltaTable {

  private val mapper = new ObjectMapper()

  final case class DMeta(
      schema: StructType,
      partitionColumns: Seq[String],
      configuration: Map[String, String]) {

    /** "none" | "name" | "id" (delta.columnMapping.mode). */
    def columnMappingMode: String =
      configuration.getOrElse("delta.columnMapping.mode", "none")

    /** Physical (in-file) name of a logical column. Under column
      * mapping the schemaString field metadata carries
      * delta.columnMapping.physicalName; stats and partitionValues in
      * the log are keyed by it. */
    def physicalName(logical: String): String =
      if (columnMappingMode == "none") logical
      else {
        val f = schema(logical)
        if (f.metadata.contains("delta.columnMapping.physicalName"))
          f.metadata.getString("delta.columnMapping.physicalName")
        else logical
      }

    def fieldId(logical: String): Option[Long] = {
      val f = schema(logical)
      if (f.metadata.contains("delta.columnMapping.id"))
        Some(f.metadata.getLong("delta.columnMapping.id"))
      else None
    }

    def logicalByPhysical: Map[String, String] =
      schema.fieldNames.map(n => physicalName(n) -> n).toMap

    /** ROW TRACKING (writer feature; r16b): whether the table records
      * row lineage, and the config-resolved names of the materialized
      * override columns (physical, outside the schema — per protocol
      * they live in `delta.rowTracking.materialized*ColumnName`). */
    def rowTrackingEnabled: Boolean =
      configuration.getOrElse("delta.enableRowTracking", "") == "true"
    def materializedRowIdCol: Option[String] =
      configuration.get("delta.rowTracking.materializedRowIdColumnName")
    def materializedRowVerCol: Option[String] =
      configuration.get("delta.rowTracking.materializedRowCommitVersionColumnName")
  }

  final case class AddFile(
      path: String, // table-relative, decoded
      partitionValues: Map[String, String], // null value = null partition
      size: Long,
      numRecords: Option[Long],
      stats: Map[String, ColStats],
      deletionVector: Option[DeletionVectors.Descriptor] = None,
      /** Raw per-column nullCount entries (PHYSICAL names), kept apart
        * from ColStats because ColStats only exists when both bounds do
        * (an all-null column has a nullCount but no bounds) and its
        * `nulls` field defaults a MISSING count to 0 (fine for pruning,
        * fatal for exact COUNT pushdown — unknown is not zero). */
      nullCounts: Map[String, Long] = Map.empty,
      /** Row-tracking id span (r16b): fresh row ids read as
        * baseRowId + row_index; commit versions default to
        * defaultRowCommitVersion — both overridden per row by the
        * table's materialized columns when non-null. */
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None)

  /** Reconstructed-state representation. [[Eager]] is the small-table
    * fast path: every add action materialized on the driver (identical
    * to the pre-r13 behavior — zero extra jobs, zero plan change for the
    * common case). [[Lazy]] keeps the heavy checkpoint/sidecar add
    * payload WHERE IT ALREADY IS — in parquet — and records only the
    * bounded post-checkpoint tail on the driver; scans replay it as a
    * distributed job with the predicate pushed in (see
    * [[DeltaTable.distReplay]]). Selection is by total checkpoint parquet
    * bytes vs `spark.graft.delta.stateCollectThresholdBytes` (default
    * 32 MiB ≈ tens of thousands of add actions). */
  private[delta] sealed trait State
  private[delta] final case class Eager(adds: Seq[AddFile]) extends State
  private[delta] final case class Lazy(
      /** Checkpoint parquet parts (classic, multipart, or v2 top-level). */
      cpPaths: Seq[String],
      /** V2-checkpoint sidecar parquet files (absolute paths). */
      sidecarPaths: Seq[String],
      /** Live adds from AFTER the checkpoint (post-checkpoint commits,
        * plus v2-json inline adds), last-wins already applied — bounded
        * by one checkpoint interval of commits. */
      tailAdds: Seq[AddFile],
      /** Checkpoint paths superseded by the tail (removed or re-added):
        * excluded from the distributed replay via broadcast. */
      excluded: Set[String]) extends State

  /** A live add as the shared metadata-aggregate entry — stats and
    * nullCount entries under LOGICAL names — or None when the file
    * disqualifies the whole aggregate (live DV: counts become upper
    * bounds; missing numRecords: unknown is not zero). Companion-level so
    * the distributed fold's task closures capture only the (serializable)
    * DMeta. */
  private def aggEntryOf(a: AddFile, m: DMeta): Option[AggEntry] =
    if (a.deletionVector.isDefined || a.numRecords.isEmpty) None
    else {
      val logicalNulls =
        if (m.columnMappingMode == "none") a.nullCounts
        else {
          val byPhys = m.logicalByPhysical
          a.nullCounts.flatMap { case (k, v) => byPhys.get(k).map(_ -> v) }
        }
      Some(AggEntry(toDataFileMeta(a, m), logicalNulls))
    }

  /** Metadata-view row for one live add (see [[DeltaTable.addRowsDf]]);
    * companion-level so executor closures can use it without capturing
    * the (unserializable) table instance. */
  private def viewRow(a: AddFile): org.apache.spark.sql.Row =
    org.apache.spark.sql.Row(a.path, a.size, a.numRecords.map(Long.box).orNull,
      a.partitionValues.map { case (k, v) =>
        s"$k=${if (v == null) Meta.NullPartition else v}" }.toSeq.sorted
        .mkString("/"),
      a.deletionVector.map(d => Long.box(d.cardinality)).orNull)

  /** Log-side keys (partitionValues, stats) are PHYSICAL names under
    * column mapping; FilePruner compares in logical space. Companion-
    * level (over an explicit DMeta) so the executor-side replay can
    * build prunable metas inside tasks. */
  private def toDataFileMeta(a: AddFile, meta: DMeta): DataFileMeta = {
    val pvals = meta.partitionColumns.flatMap { c =>
      a.partitionValues.get(meta.physicalName(c)).map {
        case null => c -> Meta.NullPartition
        case v    => c -> v
      }
    }.toMap
    val logicalStats =
      if (meta.columnMappingMode == "none") a.stats
      else {
        val byPhys = meta.logicalByPhysical
        a.stats.flatMap { case (k, v) => byPhys.get(k).map(_ -> v) }
      }
    DataFileMeta(a.path, 0L, a.numRecords.getOrElse(0L), a.size, pvals, logicalStats)
  }

  def load(spark: SparkSession, location: String): DeltaTable =
    loadVersion(spark, location, -1L)

  /** Latest committed version from the log LISTING alone — no state
    * reconstruction (the cheap "current version" probe the CDF
    * connector's default endingVersion needs; a full load() replays the
    * whole action log just to read this number). */
  def latestVersion(spark: SparkSession, location: String): Long = {
    val logDir = new Path(location, "_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    val versions = fs.listStatus(logDir).toSeq
      .flatMap(st => st.getPath.getName match {
        case CommitRe(v) => Some(v.toLong)
        case _ => None
      })
    require(versions.nonEmpty, s"delta: no commit log at $location")
    versions.max
  }

  /** Time travel by timestamp. Default resolution is commit-file
    * modification time (the protocol's fallback); tables with the
    * `inCommitTimestamp` writer feature resolve by the commit's OWN
    * monotone clock instead — a log copied, restored or mtime-scrambled
    * still time-travels correctly. Enablement is resolved from the
    * reconstructed metaData CONFIGURATION
    * (`delta.enableInCommitTimestamps` — the protocol's source of
    * truth; r12, ADVICE: probing the latest commit let one trailing
    * non-ICT foreign commit silently downgrade the whole table to mtime
    * resolution, the exact wrong-version class ICT prevents). On an
    * ICT-enabled table, versions probe newest→oldest; commits BEFORE
    * the recorded enablement version
    * (`delta.inCommitTimestampEnablementVersion`, 0 when enabled at
    * creation) legitimately resolve by mtime, and a missing ICT at or
    * after it is a loud error, never a downgrade. */
  def loadAsOfTime(spark: SparkSession, location: String, timestampMs: Long): DeltaTable = {
    val conf = spark.sessionState.newHadoopConf()
    val logDir = new Path(location, "_delta_log")
    val fs = logDir.getFileSystem(conf)
    val all = fs.listStatus(logDir).toSeq
      .flatMap(st => st.getPath.getName match {
        case CommitRe(v) => Some((v.toLong, st))
        case _ => None
      }).sortBy(_._1)
    require(all.nonEmpty, s"delta: no commit log at $location")
    // fast path: the protocol requires ICT writers to put commitInfo
    // FIRST, so compliant tables pay one small line read per probed
    // commit. Tolerance path: if the first line is some OTHER action (a
    // non-compliant foreign writer), fall back to scanning that file's
    // lines — silently resolving such a table by mtime would be the
    // wrong-version class of bug.
    def ictOf(st: org.apache.hadoop.fs.FileStatus): Option[Long] = {
      def ict(n: com.fasterxml.jackson.databind.JsonNode): Option[Long] =
        if (n.has("commitInfo") && n.get("commitInfo").has("inCommitTimestamp"))
          Some(n.get("commitInfo").get("inCommitTimestamp").asLong())
        else None
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(fs.open(st.getPath), "UTF-8"))
      try {
        val first = in.readLine()
        if (first == null) None
        else {
          val n = mapper.readTree(first)
          if (n.has("commitInfo")) ict(n) // commitInfo first, per protocol
          else { // non-compliant writer: scan the rest of this file
            Iterator.continually(in.readLine()).takeWhile(_ != null)
              .filter(_.trim.nonEmpty)
              .map(l => ict(mapper.readTree(l)))
              .collectFirst { case Some(v) => v }
          }
        }
      } finally in.close()
    }
    val cfg = latestConfiguration(spark, fs, logDir, all)
    val ictEnabled =
      cfg.get("delta.enableInCommitTimestamps").exists(_.equalsIgnoreCase("true"))
    if (!ictEnabled) {
      val versions =
        all.collect { case (v, st) if st.getModificationTime <= timestampMs => v }
      require(versions.nonEmpty, s"delta: no commit at or before $timestampMs")
      loadVersion(spark, location, versions.max)
    } else {
      val enableV = cfg.get("delta.inCommitTimestampEnablementVersion")
        .map(_.toLong).getOrElse(0L)
      // ICT is strictly monotone: walk newest -> oldest and stop at the
      // FIRST commit at-or-before ts — O(commits-after-ts) small reads,
      // not O(total log bytes)
      val hit = all.reverseIterator.find { case (v, st) =>
        val ts =
          if (v >= enableV) ictOf(st).getOrElse(throw new IllegalStateException(
            s"delta: delta.enableInCommitTimestamps is set (enablement " +
              s"version $enableV) but commit $v carries no " +
              "commitInfo.inCommitTimestamp — refusing the silent mtime " +
              "downgrade (wrong-version hazard)"))
          else st.getModificationTime // pre-enablement prefix: mtime, per protocol
        ts <= timestampMs
      }
      require(hit.isDefined, s"delta: no commit at or before $timestampMs")
      loadVersion(spark, location, hit.get._1)
    }
  }

  /** CHANGE DATA FEED read (the protocol's changeDataFeed writer
    * feature): every row-level change committed in versions
    * `[fromVersion, toVersion]`, typed by the protocol's `_change_type`
    * (insert / delete / update_preimage / update_postimage) plus the
    * committing `_commit_version`.
    *
    * Per the protocol's CDF reconstruction rules, per commit:
    *  - `cdc` actions present → the `_change_data/` files are the
    *    AUTHORITATIVE change set (file actions are ignored for CDF);
    *  - otherwise a pure-add commit is a blind append → adds with
    *    dataChange=true read as inserts;
    *  - otherwise a pure-remove commit is a full-file delete → removed
    *    files read as deletes (their extended-metadata partitionValues
    *    locate them; the files must still exist, i.e. not vacuumed);
    *  - a commit that rewrote files (add+remove) or re-added a DV'd
    *    file WITHOUT cdc actions predates CDF enablement — its
    *    row-level changes are not reconstructible, so it is REJECTED
    *    loudly rather than misread as inserts+deletes of every row.
    *
    * Scale: the action walk is O(commits in range) driver metadata;
    * each change class reads as ONE distributed scan node with a
    * broadcast file→(partitionValues, version) frame — plan width does
    * not grow with commit count. */
  def changes(spark: SparkSession, location: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    // loud-option posture (r12, ADVICE): a reversed or out-of-range pair
    // must fail NAMING the options, not resolve into an empty frame or
    // an unrelated loadVersion error
    require(fromVersion <= toVersion,
      s"delta CDF: startingVersion $fromVersion > endingVersion $toVersion")
    val conf = spark.sessionState.newHadoopConf()
    val logDir = new Path(location, "_delta_log")
    val fs = logDir.getFileSystem(conf)
    val committed = fs.listStatus(logDir).toSeq
      .flatMap(_.getPath.getName match {
        case CommitRe(v) => Some(v.toLong)
        case _ => None
      }).toSet
    Seq("startingVersion" -> fromVersion, "endingVersion" -> toVersion)
      .foreach { case (opt, v) =>
        require(committed.contains(v),
          s"delta CDF: $opt $v is not a committed version of $location " +
            s"(have ${if (committed.isEmpty) "none" else s"${committed.min}..${committed.max}"})")
      }
    val t = loadVersion(spark, location, toVersion)
    val meta = t.dmeta
    val cdcFiles = scala.collection.mutable.ArrayBuffer[(String, Map[String, String], Long)]()
    val insertFiles = scala.collection.mutable.ArrayBuffer[(String, Map[String, String], Long)]()
    val deleteFiles = scala.collection.mutable.ArrayBuffer[(String, Map[String, String], Long)]()
    // rows a removed file's DV had ALREADY masked must not re-emit as
    // deletes when the remove-only commit is synthesized: keyed by
    // resolved path, filled from the remove action's own deletionVector
    // or, when the writer didn't copy it onto the remove (graft's own
    // doesn't), from the file's live add as of the PRIOR version
    // keyed by (VERSION, path): the same path removed in two remove-only
    // commits inside the range (possible on foreign tables that re-add
    // paths) must apply each version's DV only to that version's delete
    // synthesis (ADVICE r10)
    val deleteDvs = scala.collection.mutable.Map[(Long, String), DeletionVectors.Descriptor]()
    def pvOf(n: JsonNode): Map[String, String] = {
      val it = n.path("partitionValues").fields()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) {
        val e = it.next()
        b += e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())
      }
      b.result()
    }
    (math.max(0L, fromVersion) to toVersion).foreach { v =>
      val p = new Path(logDir, f"$v%020d.json")
      require(fs.exists(p),
        s"delta cdf: commit file for version $v is gone (log cleanup?) — " +
          "changes in the range cannot be reconstructed")
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val cdcs = scala.collection.mutable.ArrayBuffer[(String, Map[String, String])]()
      val adds = scala.collection.mutable.ArrayBuffer[(String, Map[String, String])]()
      val removes = scala.collection.mutable.ArrayBuffer[(String, Map[String, String],
        Boolean, Option[DeletionVectors.Descriptor])]()
      var dvAdd = false
      text.split('\n').filter(_.trim.nonEmpty).foreach { line =>
        val n = mapper.readTree(line)
        // a RESTORE rewind is not a data change: one-sided restore
        // commits would otherwise synthesize as inserts/deletes
        if (n.path("commitInfo").path("operation").asText("") == "RESTORE")
          throw new IllegalStateException(
            s"delta cdf: version $v is a RESTORE commit — the rewind is " +
              "not a change feed; read changes up to the version before it")
        if (n.has("cdc"))
          cdcs += ((decodePath(n.get("cdc").path("path").asText()), pvOf(n.get("cdc"))))
        if (n.has("add") && n.get("add").path("dataChange").asBoolean(true)) {
          adds += ((decodePath(n.get("add").path("path").asText()), pvOf(n.get("add"))))
          if (n.get("add").path("deletionVector").isObject) dvAdd = true
        }
        if (n.has("remove") && n.get("remove").path("dataChange").asBoolean(true))
          removes += ((decodePath(n.get("remove").path("path").asText()),
            pvOf(n.get("remove")), n.get("remove").has("partitionValues"),
            parseDvNode(n.get("remove"))))
      }
      if (cdcs.nonEmpty) {
        cdcFiles ++= cdcs.map { case (path, pv) => (path, pv, v) }
      } else if (dvAdd) {
        throw new IllegalStateException(
          s"delta cdf: version $v attached a deletion vector without cdc " +
            "files — its row-level deletes are not reconstructible")
      } else if (removes.isEmpty) {
        insertFiles ++= adds.map { case (path, pv) => (path, pv, v) }
      } else if (adds.isEmpty) {
        // one prior-version snapshot per remove-only commit, resolved
        // lazily (only when a remove carries no DV of its own) and
        // probed for ONLY this commit's removed paths — bounded even
        // when the prior snapshot is checkpoint-lazy
        lazy val priorAdds: Map[String, DeltaTable.AddFile] =
          loadVersion(spark, location, v - 1).addsFor(
            removes.collect { case (path, _, _, None) => path }.toSet)
        removes.foreach { case (path, pv, hasPv, removeDv) =>
          require(hasPv || meta.partitionColumns.isEmpty,
            s"delta cdf: version $v removed $path without extended " +
              "partitionValues metadata — the file cannot be located for " +
              "change synthesis")
          deleteFiles += ((path, pv, v))
          removeDv.orElse(priorAdds.get(path).flatMap(_.deletionVector))
            .foreach { d =>
              deleteDvs((v, pathKey(resolve(location, path).toString))) = d
            }
        }
      } else {
        throw new IllegalStateException(
          s"delta cdf: version $v rewrote files (add+remove) without cdc " +
            "actions — written before CDF was enabled; its row-level " +
            "changes are not reconstructible")
      }
    }
    // deletes split per version ONLY when DVs are in play, so each
    // version's DV masks exactly its own synthesized delete read; the
    // common DV-free case stays one scan node for the whole range
    val deleteGroups =
      if (deleteDvs.isEmpty)
        Seq(readChangeGroup(spark, location, meta, deleteFiles.toSeq, Some("delete")))
      else deleteFiles.groupBy(_._3).toSeq.sortBy(_._1).map { case (dv, fls) =>
        readChangeGroup(spark, location, meta, fls.toSeq, Some("delete"),
          dvByFile = deleteDvs.collect {
            case ((ver, k), d) if ver == dv => k -> d }.toMap)
      }
    val groups = (Seq(
      readChangeGroup(spark, location, meta, cdcFiles.toSeq, None),
      readChangeGroup(spark, location, meta, insertFiles.toSeq, Some("insert"))) ++
      deleteGroups).flatten
    if (groups.isEmpty) {
      val outSchema = StructType(meta.schema.fields ++ Seq(
        StructField("_change_type", StringType),
        StructField("_commit_version", LongType)))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    } else groups.reduce(_ unionByName _)
  }

  /** One distributed scan over a change-file class: physical→logical
    * projection, partition values + commit version injected through a
    * broadcast per-file frame (the scan()-path trick — one scan node
    * however many commits the range covers). `ctLit` None reads the
    * protocol's `_change_type` column from the files (cdc class). */
  private def readChangeGroup(spark: SparkSession, location: String,
      meta: DMeta, files: Seq[(String, Map[String, String], Long)],
      ctLit: Option[String],
      dvByFile: Map[String, DeletionVectors.Descriptor] = Map.empty)
      : Option[DataFrame] = {
    if (files.isEmpty) return None
    if (meta.columnMappingMode == "id")
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val physData = StructType(meta.schema.fields
      .filterNot(f => meta.partitionColumns.contains(f.name))
      .map { f =>
        val mb = new MetadataBuilder()
        if (meta.columnMappingMode == "id")
          meta.fieldId(f.name).foreach(id => mb.putLong("parquet.field.id", id))
        StructField(meta.physicalName(f.name), f.dataType, f.nullable, mb.build())
      })
    val readSchema =
      if (ctLit.isEmpty) StructType(physData.fields :+
        StructField("_change_type", StringType))
      else physData
    var df = spark.read.schema(readSchema)
      .parquet(files.map(f => resolve(location, f._1).toString): _*)
      .withColumn("__fp", normPath(ParquetStats.scanFilePath))
    if (dvByFile.nonEmpty) {
      // subtract already-masked rows (same executor-side lazy bitmap
      // shape as scan()): a DV'd row was deleted in an EARLIER version,
      // so the remove-only commit must not re-emit it
      df = df.filter(RowDeletes.keep(spark, ParquetStats.scanFilePath,
        col("_metadata.row_index"), pathKey,
        dvByFile.map { case (k, d) => k -> RowDeletes.DeltaDv(location, d) }))
    }
    val pvSchema = StructType(
      StructField("__fp", StringType) +:
        (meta.partitionColumns.map(c => StructField(s"__pv_$c", StringType)) :+
          StructField("__cv", LongType)))
    val pvRows = files.map { case (path, pv, v) =>
      org.apache.spark.sql.Row.fromSeq(
        pathKey(resolve(location, path).toString) +:
          (meta.partitionColumns.map(c =>
            pv.get(meta.physicalName(c)).orNull) :+ v))
    }
    val pvDf = spark.createDataFrame(
      spark.sparkContext.parallelize(pvRows.toIndexedSeq, 1), pvSchema)
    Some(df.join(broadcast(pvDf), Seq("__fp"))
      .select((meta.schema.fieldNames.toIndexedSeq.map { c =>
        if (meta.partitionColumns.contains(c))
          col(s"__pv_$c").cast(meta.schema(c).dataType).as(c)
        else col(meta.physicalName(c)).as(c)
      } ++ Seq(
        ctLit.map(lit).getOrElse(col("_change_type")).as("_change_type"),
        col("__cv").as("_commit_version"))): _*))
  }

  private val CommitRe = """(\d{20})\.json""".r
  private val CheckpointRe = """(\d{20})\.checkpoint\.parquet""".r
  // multi-part classic checkpoints: %020d.checkpoint.%010d.%010d.parquet
  // (part p of t) — the layout large production tables actually have
  private val MultipartRe = """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r
  // V2 checkpoints (reader feature v2Checkpoint): uuid-named top-level
  // file, json or parquet, whose file actions may live in parquet
  // sidecars under _delta_log/_sidecars/
  private val V2CheckpointRe = """(\d{20})\.checkpoint\.([^.]+)\.(json|parquet)""".r

  /** Usable checkpoints at or below `head`, oldest→newest: classic
    * (single- or multi-part) and v2 flavors can coexist; on a version
    * tie the v2 flavor sorts last (every complete checkpoint is a
    * complete state — the preference just exercises the newer layout).
    * Multipart groups count only when ALL t parts are present (an
    * interrupted checkpoint write leaves a partial group; seeding from
    * it would silently drop files). Tuples are (version, kind, paths)
    * with kind 0=multipart, 1=classic, 2=v2. */
  private def usableCheckpoints(entries: Seq[Path], head: Long)
      : Seq[(Long, Int, Seq[Path])] = {
    val multipartGroups = entries.flatMap(p => p.getName match {
      case MultipartRe(v, part, of) if v.toLong <= head =>
        Some(((v.toLong, of.toInt), (part.toInt, p)))
      case _ => None
    }).groupBy(_._1).collect {
      case ((v, of), parts) if parts.map(_._2._1).toSet == (1 to of).toSet =>
        (v, 0, parts.map(_._2).sortBy(_._1).map(_._2))
    }
    (entries.flatMap(p => p.getName match {
      case CheckpointRe(v) if v.toLong <= head => Some((v.toLong, 1, Seq(p)))
      case V2CheckpointRe(v, _, _) if v.toLong <= head => Some((v.toLong, 2, Seq(p)))
      case _ => None
    }) ++ multipartGroups).sortBy(c => (c._1, c._2))
  }

  /** The LATEST metaData configuration without a full state replay:
    * metaData is last-writer-wins, so scan the retained commit files
    * newest-first and stop at the first one carrying a metaData action;
    * only when none does (table created before the oldest retained
    * commit, no schema/property change since) fall back to the newest
    * checkpoint's column-pruned metaData row. Never touches add actions
    * or sidecars — [[loadAsOfTime]] needs ONE property (ICT enablement),
    * and reconstructing full table state for it would cost O(total log
    * bytes) + a checkpoint file scan per call. */
  private def latestConfiguration(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, logDir: Path,
      commits: Seq[(Long, org.apache.hadoop.fs.FileStatus)]): Map[String, String] = {
    val fromCommits = commits.reverseIterator.map { case (_, st) =>
      val in = fs.open(st.getPath)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      // last metaData line of the file wins (one commit, one final word)
      text.split('\n').filter(_.trim.nonEmpty).reverseIterator
        .map(mapper.readTree)
        .find(_.has("metaData"))
        .map(n => parseMetaNode(n.get("metaData")))
    }.collectFirst { case Some(m) => m }
    val m = fromCommits.orElse {
      val head = commits.map(_._1).max
      val entries = fs.listStatus(logDir).toSeq.map(_.getPath)
      usableCheckpoints(entries, head).lastOption.flatMap {
        case (_, kind, paths) =>
          if (kind == 2 && paths.head.getName.endsWith(".json")) {
            val in = fs.open(paths.head)
            val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()
            text.split('\n').filter(_.trim.nonEmpty).reverseIterator
              .map(mapper.readTree)
              .find(_.has("metaData"))
              .map(n => parseMetaNode(n.get("metaData")))
          } else {
            val cp = spark.read.parquet(paths.map(_.toString): _*)
            if (!cp.columns.contains("metaData")) None
            else cp.filter(col("metaData").isNotNull).select("metaData.*")
              .collect().lastOption.map(parseMetaRow)
          }
      }
    }
    m.getOrElse(throw new IllegalStateException(
      s"delta: no metaData action in log at $logDir")).configuration
  }

  /** Replay the log up to `versionAsOf` (-1 = latest), seeded from the
    * newest usable checkpoint at or below it. */
  def loadVersion(spark: SparkSession, location: String, versionAsOf: Long): DeltaTable = {
    val conf = spark.sessionState.newHadoopConf()
    val logDir = new Path(location, "_delta_log")
    val fs = logDir.getFileSystem(conf)
    require(fs.exists(logDir), s"delta: no _delta_log under $location")
    val entries = fs.listStatus(logDir).toSeq.map(_.getPath)
    val commits = entries.flatMap(p => p.getName match {
      case CommitRe(v) => Some((v.toLong, p)); case _ => None
    }).sortBy(_._1)
    require(commits.nonEmpty, s"delta: empty log under $location")
    val head = if (versionAsOf >= 0) versionAsOf else commits.map(_._1).max
    require(commits.exists(_._1 == head), s"delta: no commit $head under $location")

    val checkpoints = usableCheckpoints(entries, head)

    var protoReader = 1
    var protoFeatures: Seq[String] = Nil
    var metaOpt: Option[DMeta] = None
    val live = scala.collection.mutable.LinkedHashMap[String, AddFile]()
    val removedTail = scala.collection.mutable.Set[String]()
    val txnSeen = scala.collection.mutable.Map[String, Long]()
    // checkpoint parquet geography, filled while seeding: top-level
    // parts that carry add actions, plus v2 sidecar files
    val cpParquet = scala.collection.mutable.ArrayBuffer[String]()
    val sidecars = scala.collection.mutable.ArrayBuffer[String]()
    var lazyMode = false
    // Above this many bytes of checkpoint parquet, add actions are NOT
    // funneled through a driver collect at load time; state stays in
    // parquet and every consumer replays it as a distributed job with
    // its predicate pushed in (see [[State]]). 32 MiB ≈ tens of
    // thousands of add actions — below it the driver path is both
    // cheaper and simpler. Overridable for tests / tighter drivers.
    val collectThreshold = spark.conf.get(
      "spark.graft.delta.stateCollectThresholdBytes",
      (32L * 1024 * 1024).toString).toLong

    def resolveSidecar(rel: String): Path =
      // sidecars live in _delta_log/_sidecars; the action is encouraged
      // to carry just the file name, but absolute URIs are legal
      if (rel.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:.*") || rel.startsWith("/"))
        new Path(rel)
      else new Path(new Path(logDir, "_sidecars"), rel)
    def bytesOf(paths: Seq[String]): Long =
      paths.map(p => fs.getFileStatus(new Path(p)).getLen).sum
    def readSidecarAdds(p: String): Unit = {
      val sc = spark.read.parquet(p)
      if (sc.columns.contains("add")) sc.filter(col("add").isNotNull)
        .select("add.*").collect().foreach { r =>
          val a = parseAddRow(r)
          live(a.path) = a
        }
      // remove rows in a checkpoint are vacuum tombstones, not state
    }

    // seed from the newest checkpoint ≤ head, if any. The SMALL
    // singleton actions (protocol / metaData / txn / the sidecar list)
    // are always read eagerly — they are O(1)/O(appIds)/O(sidecars)
    // rows through column-pruned scans. The add payload is collected
    // only below the byte threshold; above it the table stays Lazy.
    def seedFromParquet(paths: Seq[Path]): Unit = {
      val cp = spark.read.parquet(paths.map(_.toString): _*)
      val cols = cp.columns.toSet
      if (cols.contains("protocol")) cp.select("protocol.*").collect().foreach { r =>
        if (!r.isNullAt(r.fieldIndex("minReaderVersion"))) {
          protoReader = r.getInt(r.fieldIndex("minReaderVersion"))
          if (r.schema.fieldNames.contains("readerFeatures") &&
              !r.isNullAt(r.fieldIndex("readerFeatures")))
            protoFeatures = r.getSeq[String](r.fieldIndex("readerFeatures")).toSeq
        }
      }
      if (cols.contains("metaData")) cp.filter(col("metaData").isNotNull)
        .select("metaData.*").collect().foreach { r =>
          metaOpt = Some(parseMetaRow(r))
        }
      if (cols.contains("txn")) cp.filter(col("txn").isNotNull)
        .select("txn.*").collect().foreach { r =>
          txnSeen(r.getAs[String]("appId")) = r.getAs[Long]("version")
        }
      // v2 checkpoints may externalize file actions into parquet
      // sidecars; the sidecar list itself is O(sidecars) metadata
      if (cols.contains("sidecar"))
        sidecars ++= cp.filter(col("sidecar").isNotNull).select("sidecar.path")
          .collect().map(r => resolveSidecar(r.getString(0)).toString)
      if (cols.contains("add")) cpParquet ++= paths.map(_.toString)
      lazyMode = bytesOf(cpParquet.toSeq ++ sidecars.toSeq) > collectThreshold
      if (!lazyMode) {
        if (cols.contains("add")) cp.filter(col("add").isNotNull)
          .select("add.*").collect().foreach { r =>
            val a = parseAddRow(r)
            live(a.path) = a
          }
        sidecars.foreach(readSidecarAdds)
      }
    }
    def seedFromJsonV2(path: Path): Unit = {
      // the v2 top-level json is small by design (heavy file actions
      // belong in sidecars); inline adds land in `live`, which in lazy
      // mode doubles as the tail map — correct because inline adds are
      // not present in any replayed parquet (no double count) and tail
      // removes still supersede them
      val in = fs.open(path)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      text.split('\n').filter(_.trim.nonEmpty).foreach { line =>
        val n = mapper.readTree(line)
        if (n.has("protocol")) {
          protoReader = n.get("protocol").path("minReaderVersion").asInt(1)
          val rf = n.get("protocol").path("readerFeatures")
          if (rf.isArray) {
            val it = rf.elements()
            val b = Seq.newBuilder[String]
            while (it.hasNext) b += it.next().asText()
            protoFeatures = b.result()
          }
        }
        if (n.has("metaData")) metaOpt = Some(parseMetaNode(n.get("metaData")))
        if (n.has("add")) { val a = parseAddNode(n.get("add")); live(a.path) = a }
        if (n.has("sidecar"))
          sidecars += resolveSidecar(n.get("sidecar").path("path").asText()).toString
        if (n.has("txn"))
          txnSeen(n.get("txn").get("appId").asText()) =
            n.get("txn").get("version").asLong()
      }
      lazyMode = bytesOf(sidecars.toSeq) > collectThreshold
      if (!lazyMode) sidecars.foreach(readSidecarAdds)
    }
    val cpVersion = checkpoints.lastOption.map { case (v, kind, paths) =>
      if (kind == 2 && paths.head.getName.endsWith(".json"))
        seedFromJsonV2(paths.head)
      else seedFromParquet(paths)
      v
    }.getOrElse(-1L)

    // replay JSON commits after the checkpoint
    commits.filter { case (v, _) => v > cpVersion && v <= head }.foreach { case (_, p) =>
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      text.split('\n').filter(_.trim.nonEmpty).foreach { line =>
        val n = mapper.readTree(line)
        if (n.has("protocol")) {
          protoReader = n.get("protocol").path("minReaderVersion").asInt(1)
          val rf = n.get("protocol").path("readerFeatures")
          if (rf.isArray) {
            val it = rf.elements()
            val b = Seq.newBuilder[String]
            while (it.hasNext) b += it.next().asText()
            protoFeatures = b.result()
          }
        }
        if (n.has("metaData")) metaOpt = Some(parseMetaNode(n.get("metaData")))
        if (n.has("add")) {
          val a = parseAddNode(n.get("add"))
          live(a.path) = a
        }
        if (n.has("remove")) {
          val p = decodePath(n.get("remove").path("path").asText())
          live.remove(p)
          removedTail += p
        }
        if (n.has("txn"))
          txnSeen(n.get("txn").get("appId").asText()) =
            n.get("txn").get("version").asLong()
      }
    }

    // protocol guard: features that change what the bytes MEAN are only
    // readable when implemented — misreading is worse than rejecting.
    // Supported: base (1), column mapping (2 legacy, or the table
    // feature), deletion vectors, timestampNtz, v2 checkpoints (r09),
    // TYPE WIDENING (r11: files written before an ALTER COLUMN TYPE keep
    // their narrower physical type; Spark's vectorized parquet reader
    // performs the protocol's promotions when asked for the wide logical
    // schema — both the GA and the preview feature name). Anything else
    // stays rejected loudly.
    // variantType (r13): schemaString's "variant" parses to Spark 4's
    // VariantType and the parquet source reads the spec's binary
    // (metadata, value) pair natively — nothing else in the protocol
    // changes meaning, so the read path is the ordinary scan
    val supported = Set("deletionVectors", "columnMapping", "timestampNtz",
      "v2Checkpoint", "typeWidening", "typeWidening-preview",
      "variantType", "variantType-preview")
    require(protoReader <= 2 ||
        (protoReader == 3 && protoFeatures.forall(supported.contains)),
      s"delta: minReaderVersion $protoReader" +
        (if (protoFeatures.nonEmpty) s" with readerFeatures $protoFeatures" else "") +
        s" requires features this reader does not implement (supported: $supported)")
    val m = metaOpt.getOrElse(
      throw new IllegalStateException(s"delta: no metaData action in log at $location"))
    require(Set("none", "name", "id").contains(m.columnMappingMode),
      s"delta: column mapping mode ${m.columnMappingMode} unsupported")

    val state =
      if (lazyMode)
        // `live` now holds ONLY inline-v2 + post-checkpoint adds (the
        // bounded tail); checkpoint adds stay in parquet. Exclude both
        // removed paths and tail re-adds from the distributed replay.
        Lazy(cpParquet.toSeq, sidecars.toSeq, live.values.toSeq,
          (removedTail ++ live.keys).toSet)
      else Eager(live.values.toSeq)
    new DeltaTable(spark, location, head, m, state, txnSeen.toMap)
  }

  private[delta] def resolve(location: String, rel: String): Path = {
    val hasScheme = rel.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:.*")
    if (hasScheme || rel.startsWith("/")) new Path(rel) else new Path(location, rel)
  }

  /** Scheme/authority-insensitive file key: `_metadata.file_path` and
    * log-resolved paths may disagree on `file:/` vs `file:///`. */
  private[lake] def pathKey(p: String): String = new Path(p).toUri.getPath

  /** Column form of [[pathKey]] (codegen-friendly, no UDF): strip the
    * URI scheme AND authority, exactly like `URI.getPath` — the two are
    * join keys for the same file and MUST normalize identically. The old
    * single-pattern form collapsed `s3a://bucket/x` to `/bucket/x` while
    * pathKey yields `/x`, silently no-op-ing every COW op on a
    * filesystem with an authority. First pattern: `scheme://authority`;
    * second: authority-less `scheme:/`. */
  private[lake] def normPath(c: Column): Column =
    regexp_replace(
      regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", ""),
      "^[a-zA-Z][a-zA-Z0-9+.-]*:/", "/")

  /** ISO-8601 timestamp (Z / offset / bare local form) → epoch micros
    * at UTC, matching graft's session timezone. */
  private def parseIsoTimestampMicros(s: String): Option[Long] =
    try {
      val inst =
        if (s.endsWith("Z") || s.matches(""".*[+-]\d{2}:\d{2}$"""))
          java.time.OffsetDateTime.parse(s).toInstant
        else java.time.LocalDateTime.parse(s).toInstant(java.time.ZoneOffset.UTC)
      Some(Math.addExact(Math.multiplyExact(inst.getEpochSecond, 1000000L),
        inst.getNano / 1000L))
    } catch { case _: Exception => None }

  /** add.path is RFC 2396 URI-encoded per the protocol. */
  private[delta] def encodePath(rel: String): String =
    new java.net.URI(null, null, rel, null).getRawPath

  /** Inverse of [[encodePath]]; a path that is not a valid URI (a foreign
    * writer that skipped the encoding) is taken verbatim. */
  private[delta] def decodePath(p: String): String =
    try new java.net.URI(p).getPath match {
      case null => p
      case d    => if (d.startsWith("/") && !p.startsWith("/")) d.stripPrefix("/") else d
    } catch { case _: java.net.URISyntaxException => p }

  private def parseMetaNode(n: JsonNode): DMeta = {
    val schema = DataType.fromJson(n.path("schemaString").asText())
      .asInstanceOf[StructType]
    val parts = {
      val it = n.path("partitionColumns").elements()
      val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next().asText()
      b.result()
    }
    val confMap = {
      val it = n.path("configuration").fields()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
      b.result()
    }
    DMeta(schema, parts, confMap)
  }

  private def parseMetaRow(r: org.apache.spark.sql.Row): DMeta = {
    def str(f: String) = if (r.schema.fieldNames.contains(f) && !r.isNullAt(r.fieldIndex(f)))
      Some(r.getAs[Any](f)) else None
    val schema = DataType.fromJson(str("schemaString").get.toString).asInstanceOf[StructType]
    val parts = str("partitionColumns")
      .map(_.asInstanceOf[scala.collection.Seq[String]].toSeq).getOrElse(Nil)
    val confMap = str("configuration").map(_.asInstanceOf[Map[String, String]]).getOrElse(Map.empty)
    DMeta(schema, parts, confMap)
  }

  private def parseDvNode(n: JsonNode): Option[DeletionVectors.Descriptor] =
    n.path("deletionVector") match {
      case d if d.isObject =>
        Some(DeletionVectors.Descriptor(
          d.path("storageType").asText(),
          d.path("pathOrInlineDv").asText(),
          if (d.has("offset") && !d.get("offset").isNull) Some(d.get("offset").asInt) else None,
          d.path("sizeInBytes").asInt,
          d.path("cardinality").asLong))
      case _ => None
    }

  private def parseAddNode(n: JsonNode): AddFile = {
    val dv = parseDvNode(n)
    val pvals = {
      val it = n.path("partitionValues").fields()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) {
        val e = it.next()
        b += e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())
      }
      b.result()
    }
    val (nRec, stats, nulls) = n.path("stats") match {
      case s if s.isTextual && s.asText().nonEmpty => parseStats(s.asText())
      case _ => (None, Map.empty[String, ColStats], Map.empty[String, Long])
    }
    AddFile(decodePath(n.path("path").asText()), pvals,
      n.path("size").asLong(0L), nRec, stats, dv, nulls,
      baseRowId =
        if (n.has("baseRowId") && !n.get("baseRowId").isNull)
          Some(n.get("baseRowId").asLong()) else None,
      defaultRowCommitVersion =
        if (n.has("defaultRowCommitVersion") &&
            !n.get("defaultRowCommitVersion").isNull)
          Some(n.get("defaultRowCommitVersion").asLong()) else None)
  }

  private def parseAddRow(r: org.apache.spark.sql.Row): AddFile = {
    val idx = r.schema.fieldNames.zipWithIndex.toMap
    val pvals = r.getAs[Map[String, String]]("partitionValues")
    val statsJson = idx.get("stats").filterNot(r.isNullAt).map(r.getString)
    val (nRec, stats, nullCounts) = statsJson.map(parseStats).getOrElse(
      (None, Map.empty[String, ColStats], Map.empty[String, Long]))
    val dv = idx.get("deletionVector").filterNot(r.isNullAt).map { i =>
      val d = r.getStruct(i)
      val di = d.schema.fieldNames.zipWithIndex.toMap
      DeletionVectors.Descriptor(
        d.getAs[String]("storageType"),
        d.getAs[String]("pathOrInlineDv"),
        di.get("offset").filterNot(d.isNullAt).map(d.getInt),
        d.getAs[Int]("sizeInBytes"),
        d.getAs[Long]("cardinality"))
    }
    AddFile(decodePath(r.getAs[String]("path")),
      if (pvals == null) Map.empty else pvals,
      r.getAs[Long]("size"), nRec, stats, dv, nullCounts,
      baseRowId = idx.get("baseRowId").filterNot(r.isNullAt).map(r.getLong),
      defaultRowCommitVersion =
        idx.get("defaultRowCommitVersion").filterNot(r.isNullAt).map(r.getLong))
  }

  /** Delta per-file stats JSON → graft ColStats. Only top-level columns
    * with both bounds present; tag by JSON value shape (the same l/d/s
    * domain FilePruner compares in). Date strings become epoch days —
    * the form graft stores for DateType stats. */
  private[delta] def parseStats(
      json: String): (Option[Long], Map[String, ColStats], Map[String, Long]) = {
    val n = try mapper.readTree(json)
      catch { case _: Throwable => return (None, Map.empty, Map.empty) }
    val nRec = if (n.has("numRecords")) Some(n.get("numRecords").asLong()) else None
    def bound(node: JsonNode): Option[(String, String)] = node match {
      case v if v.isIntegralNumber => Some(("l", v.asLong().toString))
      case v if v.isFloatingPointNumber => Some(("d", v.asDouble().toString))
      case v if v.isTextual =>
        val s = v.asText()
        // ISO date → epoch-day long (graft's DateType stat domain);
        // ISO timestamp → epoch-MICROS long (the protocol stores
        // timestamp stats as ISO-8601 strings; FilePruner's timestamp
        // domain is micros). A string COLUMN whose values merely look
        // like timestamps converts too — sound either way: the pruner
        // keeps files on any stat/literal domain mismatch.
        // Other strings stay strings (ASCII only, like the parquet path).
        if (s.matches("""\d{4}-\d{2}-\d{2}"""))
          Some(("l", java.time.LocalDate.parse(s).toEpochDay.toString))
        else if (s.matches("""\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d{1,9})?(Z|[+-]\d{2}:\d{2})?"""))
          parseIsoTimestampMicros(s).map(us => ("l", us.toString))
        else if (s.forall(_ <= 127)) Some(("s", s))
        else None
      case _ => None
    }
    val nulls = scala.collection.mutable.Map[String, Long]()
    val it0 = n.path("nullCount").fields()
    while (it0.hasNext) {
      val e = it0.next()
      if (e.getValue.isIntegralNumber) nulls(e.getKey) = e.getValue.asLong()
    }
    val mins = scala.collection.mutable.Map[String, (String, String)]()
    val it1 = n.path("minValues").fields()
    while (it1.hasNext) {
      val e = it1.next(); bound(e.getValue).foreach(mins(e.getKey) = _)
    }
    val out = scala.collection.mutable.Map[String, ColStats]()
    val it2 = n.path("maxValues").fields()
    while (it2.hasNext) {
      val e = it2.next()
      for {
        (tagHi, hi) <- bound(e.getValue)
        (tagLo, lo) <- mins.get(e.getKey)
        if tagLo == tagHi
      } // protocol: nullCount is OPTIONAL — a missing count is UNKNOWN, not
      // zero (0 would let IS NULL pruning drop files that hold nulls).
      // -1 sentinel: FilePruner keeps on it, aggregates refuse it.
      out(e.getKey) = ColStats(tagLo, lo, hi, nulls.getOrElse(e.getKey, -1L))
    }
    (nRec, out.toMap, nulls.toMap)
  }
}
