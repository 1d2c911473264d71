package graft.lake.iceberg

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{AggEntry, BlobCache, ColStats, DataFileMeta, FilePruner, ParquetStats,
  RowDeletes}

/** Read-only Apache Iceberg v1/v2 table reader — REAL-format interop, the
  * reference's headline capability ("Native Apache Iceberg support",
  * pg_lakehouse_iceberg/README.md:5; iceberg_bridge.cpp opens a table from
  * its metadata location and scans a snapshot through iceberg-cpp). Graft
  * parses the published spec directly: `vN.metadata.json` (Jackson),
  * manifest lists and manifests (Avro, [[IcebergAvro]]), then lowers
  * planning onto the SAME machinery its own tables use:
  *
  *  - manifest entries become [[graft.lake.DataFileMeta]], so file-level
  *    pruning is [[FilePruner]] unchanged — identity partition values,
  *    `day`/`truncate` transform mapping, and column min/max bounds all
  *    reuse the audited walk. `bucket[N]` uses Iceberg's OWN hash
  *    ([[IcebergTransforms.bucket]]) in a conjunct-equality pre-pass,
  *    because Iceberg's Murmur3(seed 0) ≠ Spark's hash(seed 42).
  *  - manifest-list field summaries prune whole manifests before any
  *    manifest IO (FilePruner.manifestMayMatch over decoded bounds).
  *  - deletes follow Iceberg v2 sequence rules: equality deletes at seq t
  *    apply to data files with seq < t, position deletes to seq <= t.
  *    Through [[graft.lake.RowDeletes]], as in GraftTable's MoR path:
  *    DVs as a row mask, position and equality deletes as null-safe
  *    anti-joins (broadcast-sized under AQE).
  *  - column resolution is by FIELD ID through the manifest's `schema-id`
  *    header: files written before a rename resolve their old physical
  *    names without per-file footer reads (O(manifests) planning).
  *
  * At 100 TB: planning is O(manifests) driver-side metadata IO with
  * summary skip ahead of it (the same scaling Iceberg's own planner has),
  * file reads are ordinary distributed parquet scans with pushed filters,
  * and no directory listing ever happens. Identity-partitioned estates
  * whose dirs VERIFIABLY match the manifest partition tuples read as
  * genuine hive-partitioned relations ([[graft.lake.HivePartitionedRead]],
  * r15) — Spark's own static AND dynamic partition pruning apply;
  * anything else serves partition values by per-file constant injection
  * (the manifests stay authoritative either way).
  */
final class IcebergTable private (
    spark: SparkSession,
    val location: String,
    val meta: IceMeta) {

  private def conf: Configuration = spark.sessionState.newHadoopConf()

  def currentSnapshotId: Long = meta.currentSnapshotId.getOrElse(-1L)

  def schema: StructType = meta.currentSchema.struct

  /** Snapshot current as of `timestampMs` (snapshot-log resolution). */
  def snapshotAsOfTime(timestampMs: Long): Long = {
    val hits = meta.snapshotLog.filter(_._1 <= timestampMs)
    require(hits.nonEmpty,
      s"iceberg: no snapshot at or before $timestampMs (oldest: ${meta.snapshotLog.headOption})")
    hits.last._2
  }

  /** Snapshot id of a named ref (branch or tag). */
  def refSnapshot(name: String): Long =
    meta.refs.getOrElse(name, throw new IllegalArgumentException(
      s"iceberg: no ref '$name' (have ${meta.refs.keys.mkString(",")})")).snapshotId

  /** `snapshots` METADATA TABLE (Iceberg's `<table>.snapshots` shape):
    * one row per snapshot from table metadata alone — committed_at,
    * snapshot_id, parent_id, sequence_number, operation, manifest_list.
    * Driver-side O(snapshots) rows; no file IO. */
  def snapshotsDf: DataFrame = {
    val rows = meta.snapshots.sortBy(_.id).map { s =>
      org.apache.spark.sql.Row(
        new java.sql.Timestamp(s.timestampMs), s.id,
        s.parentId.map(Long.box).orNull, s.sequenceNumber, s.operation,
        s.manifestList)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("committed_at", TimestampType),
        StructField("snapshot_id", LongType),
        StructField("parent_id", LongType),
        StructField("sequence_number", LongType),
        StructField("operation", StringType),
        StructField("manifest_list", StringType))))
  }

  /** `history` METADATA TABLE (Iceberg's `<table>.history` shape): one
    * row per snapshot in commit order — made_current_at, snapshot_id,
    * parent_id, is_current_ancestor (whether time travel to it reads a
    * state the CURRENT table lineage passed through; snapshots left
    * aside by a rollback report false). Metadata-only. */
  def historyDf: DataFrame = {
    val byId = meta.snapshots.map(s => s.id -> s).toMap
    val ancestors = scala.collection.mutable.Set[Long]()
    var cur = meta.currentSnapshotId
    // cycle guard: foreign/corrupt metadata with a parent-id loop must
    // error-or-terminate, never hang the driver
    while (cur.isDefined && byId.contains(cur.get) &&
        !ancestors.contains(cur.get)) {
      ancestors += cur.get
      cur = byId(cur.get).parentId
    }
    val rows = meta.snapshots.sortBy(s => (s.timestampMs, s.id)).map { s =>
      org.apache.spark.sql.Row(
        new java.sql.Timestamp(s.timestampMs), s.id,
        s.parentId.map(Long.box).orNull, ancestors.contains(s.id))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("made_current_at", TimestampType),
        StructField("snapshot_id", LongType),
        StructField("parent_id", LongType),
        StructField("is_current_ancestor", BooleanType))))
  }

  /** `files` METADATA TABLE (Iceberg's `<table>.files` shape): one row
    * per live content file of a snapshot — content code, path, format,
    * record count, size, partition values (as a string map), sequence
    * number. O(manifest entries) driver metadata; no data-file IO. */
  def filesDf(snapshotId: Long = -1L): DataFrame = {
    val p = plan(None, snapshotId)
    val all =
      p.dataFiles.map(pf => (0, pf)) ++ p.posDeletes.map(pf => (1, pf)) ++
        p.eqDeletes.map(pf => (2, pf)) ++ p.dvDeletes.map(pf => (1, pf))
    val rows = all.sortBy(_._2.entry.filePath).map { case (content, pf) =>
      val pvals = pf.entry.partition.map { case (k, v) =>
        k -> String.valueOf(v) }
      org.apache.spark.sql.Row(content, pf.entry.filePath,
        pf.entry.fileFormat, pf.entry.recordCount, pf.entry.fileSizeBytes,
        pvals, pf.seq)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("content", IntegerType),
        StructField("file_path", StringType),
        StructField("file_format", StringType),
        StructField("record_count", LongType),
        StructField("file_size_in_bytes", LongType),
        StructField("partition", MapType(StringType, StringType)),
        StructField("sequence_number", LongType))))
  }

  /** The `partitions` metadata table (Iceberg's `<table>.partitions`
    * shape): one row per live partition tuple, aggregated from planned
    * manifest entries alone — zero data IO. `record_count` sums data-file
    * entry counts (an upper bound when delete content applies, as in
    * Iceberg's own view); delete-file counts surface alongside so a
    * reader can see which partitions carry MoR state. */
  def partitionsDf(snapshotId: Long = -1L): DataFrame = {
    val p = plan(None, snapshotId)
    def key(pf: IcebergTable.PlannedFile): Seq[(String, String)] =
      pf.entry.partition.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> String.valueOf(v) }
    val data = p.dataFiles.groupBy(key)
    val pos = (p.posDeletes ++ p.dvDeletes).groupBy(key)
    val eq = p.eqDeletes.groupBy(key)
    // union of tuples: GLOBAL delete files (unpartitioned spec — empty
    // tuple) and delete-only partitions still get a row, as in Iceberg's
    // own view, instead of silently vanishing
    val keys = (data.keySet ++ pos.keySet ++ eq.keySet).toSeq
      .sortBy(_.mkString(","))
    val rows = keys.map { k =>
      val files = data.getOrElse(k, Nil)
      org.apache.spark.sql.Row(k.toMap, files.map(_.entry.recordCount).sum,
        files.size.toLong, files.map(_.entry.fileSizeBytes).sum,
        pos.get(k).map(_.size.toLong).getOrElse(0L),
        eq.get(k).map(_.size.toLong).getOrElse(0L))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("partition", MapType(StringType, StringType)),
        StructField("record_count", LongType),
        StructField("file_count", LongType),
        StructField("total_data_file_size_in_bytes", LongType),
        StructField("position_delete_file_count", LongType),
        StructField("equality_delete_file_count", LongType))))
  }

  // ---- planning ------------------------------------------------------------

  import IcebergTable.{Plan, PlannedFile}

  /** Resolve a path from metadata: absolute URIs pass through, bare
    * relative paths anchor at the table location. */
  private def resolve(p: String): Path = {
    val hasScheme = p.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:.*")
    if (hasScheme || p.startsWith("/")) new Path(p) else new Path(location, p)
  }

  private def exprOf(filter: Option[Column]) = filter.flatMap { c =>
    try Some(org.apache.spark.sql.graftshim.ColumnExpr.expression(c))
    catch { case _: Throwable => None }
  }

  /** See [[IcebergTable.pruneSpec]] (static since r14 — the distributed
    * aggregate fold runs it inside tasks). */
  private def pruneSpec(spec: IcePartSpec, sch: IceSchema): Seq[(IcePartField, String, String)] =
    IcebergTable.pruneSpec(spec, sch)

  private def toDataFileMeta(pf: PlannedFile, sch: IceSchema, spec: IcePartSpec): DataFileMeta =
    IcebergTable.toDataFileMeta(pf.entry, pf.seq, sch, spec,
      schemaOrCurrent(pf.schemaId))

  /** Conjunct-equality bucket pruning with Iceberg's own hash: a file
    * whose `bucket[n]` partition value differs from the bucket of a
    * top-level `col = literal` conjunct can hold no matching row. */
  private def bucketSurvives(
      pf: PlannedFile, sch: IceSchema, spec: IcePartSpec,
      eqLits: Map[String, Any]): Boolean = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    spec.fields.forall { field =>
      if (!field.transform.startsWith("bucket[")) true
      else {
        val n = field.transform.stripPrefix("bucket[").stripSuffix("]").toInt
        (for {
          src <- sch.byId.get(field.sourceId)
          lit <- eqLits.get(src.name)
          fileBucket <- pf.entry.partition.get(field.name).collect { case i: Int => i }
          litBucket <- IcebergTransforms.bucket(externalize(lit, src.dataType), src.dataType, n)
        } yield fileBucket == litBucket).getOrElse(true)
      }
    }
  }

  /** Catalyst literal internal value → external JVM value for hashing. */
  private def externalize(v: Any, dt: DataType): Any = (v, dt) match {
    case (i: Int, DateType) => java.time.LocalDate.ofEpochDay(i.toLong)
    case (s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
    case _ => v
  }

  /** Top-level `col = literal` conjuncts of the (normalized) predicate. */
  private def eqConjuncts(filter: Option[Column]): Map[String, Any] = {
    import org.apache.spark.sql.catalyst.expressions._
    def attrName(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if u.nameParts.length == 1 => Some(u.nameParts.head)
      case _ => None
    }
    def walk(e: Expression): Map[String, Any] = e match {
      case And(l, r) => walk(l) ++ walk(r)
      case EqualTo(a, Literal(v, _)) if attrName(a).isDefined && v != null =>
        Map(attrName(a).get -> v)
      case EqualTo(Literal(v, _), a) if attrName(a).isDefined && v != null =>
        Map(attrName(a).get -> v)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if u.nameParts.map(_.toLowerCase) == Seq("and") && u.arguments.length == 2 =>
        walk(u.arguments(0)) ++ walk(u.arguments(1))
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if Seq(Seq("="), Seq("==")).contains(u.nameParts) && u.arguments.length == 2 =>
        walk(EqualTo(u.arguments(0), u.arguments(1)))
      case _ => Map.empty
    }
    exprOf(filter).map(walk).getOrElse(Map.empty)
  }

  private def schemaOrCurrent(id: Int): IceSchema =
    meta.schemas.find(_.schemaId == id).getOrElse(meta.currentSchema)

  /** Manifest-list level pruning: decode identity-field summaries into
    * manifest-wide ColStats bounds and run FilePruner's manifest walk.
    * Delete manifests are never skipped by the predicate (their rows
    * REMOVE data rows — dropping one would resurrect deleted rows). */
  private def manifestSurvives(
      e: IcebergAvro.ManifestFileEntry,
      sch: IceSchema,
      predicate: Option[org.apache.spark.sql.catalyst.expressions.Expression]): Boolean = {
    if (e.content != 0) return true
    predicate match {
      case None => true
      case Some(p) =>
        if (e.partitions.isEmpty) true
        else {
          val spec = try meta.spec(e.specId) catch { case _: Throwable => return true }
          val ranges = spec.fields.zip(e.partitions).flatMap { case (pf, fs) =>
            if (pf.transform != "identity") None
            else for {
              src <- sch.byId.get(pf.sourceId)
              loB <- fs.lowerBound
              hiB <- fs.upperBound
              (tagLo, lo) <- IcebergMeta.decodeBound(src.typeStr, loB)
              (tagHi, hi) <- IcebergMeta.decodeBound(src.typeStr, hiB)
              if tagLo == tagHi && tagLo != "d"
            } yield src.name -> ColStats(tagLo, lo, hi, if (fs.containsNull) 1L else 0L)
          }.toMap
          if (ranges.isEmpty) true
          else FilePruner.manifestMayMatch(Map.empty, p, Nil, sch.struct, ranges)
        }
    }
  }

  private def plan(filter: Option[Column], snapshotId: Long): Plan = {
    val snapId = if (snapshotId >= 0) snapshotId else currentSnapshotId
    require(snapId >= 0, s"iceberg: table at $location has no snapshot")
    val snap = meta.snapshot(snapId)
    // the CURRENT snapshot reads the CURRENT schema (metadata-only
    // evolution — add/rename/drop — creates no snapshot, so the
    // snapshot's recorded schema-id is the one in force when data was
    // last written, not now); a pinned older snapshot keeps its own
    val sch =
      if (snapId == currentSnapshotId) meta.currentSchema
      else snap.schemaId.map(meta.schema).getOrElse(meta.currentSchema)
    val listEntries = IcebergAvro.readManifestList(conf, resolve(snap.manifestList))
    val predicate = exprOf(filter)
    val surviving = listEntries.filter(manifestSurvives(_, sch, predicate))
    val eqLits = eqConjuncts(filter)

    val data = scala.collection.mutable.ArrayBuffer[PlannedFile]()
    val posD = scala.collection.mutable.ArrayBuffer[PlannedFile]()
    val eqD = scala.collection.mutable.ArrayBuffer[PlannedFile]()
    val dvD = scala.collection.mutable.ArrayBuffer[PlannedFile]()
    var filesTotal = 0L
    // manifest fan-out on a bounded IO pool, results cached JVM-wide
    // (manifests are create-only with unique names — immutable): a
    // 1000-manifest table otherwise pays ~1000 SERIAL object-store GETs
    // per plan, and deleteWhereDv plans twice per statement
    // (planFiles + positionDeletes) re-reading every manifest
    val readManifests: Seq[(IcebergAvro.ManifestFileEntry,
        (IcebergAvro.ManifestHeader, Seq[IcebergAvro.ManifestEntry]))] = {
      val hConf = conf
      val futures = surviving.map { le =>
        val p = resolve(le.path)
        IcebergTable.metadataIoPool.submit(
          new java.util.concurrent.Callable[
              (IcebergAvro.ManifestHeader, Seq[IcebergAvro.ManifestEntry])] {
            def call() = IcebergTable.manifestCache
              .get(p.toString)(IcebergAvro.readManifest(hConf, p))
          })
      }
      surviving.zip(futures.map(_.get()))
    }
    readManifests.foreach { case (le, (header, entries)) =>
      val schemaId = header.schemaId.getOrElse(sch.schemaId)
      // v3 row-lineage inheritance: an ADDED data entry with a null
      // first_row_id inherits the manifest's first_row_id plus the
      // record counts of the preceding null-id ADDED entries (spec
      // rule; graft's own writer records explicit per-entry ids, so
      // this path serves manifests written by inheritance-relying
      // engines)
      var rowIdCursor = le.firstRowId.getOrElse(0L)
      entries.foreach { en0 =>
        val en =
          if (en0.content == 0 && en0.status == 1 && en0.firstRowId.isEmpty &&
              le.firstRowId.isDefined) {
            val e2 = en0.copy(firstRowId = Some(rowIdCursor))
            rowIdCursor += en0.recordCount
            e2
          } else en0
        if (en.status != 2) { // DELETED entries are not live
          // v2 inheritance: ADDED entries with null seq inherit the
          // manifest-list entry's sequence number
          val seq = en.sequenceNumber.getOrElse(
            if (en.status == 1) le.sequenceNumber else 0L)
          val pf = PlannedFile(en, seq, schemaId, le.specId)
          filesTotal += 1
          en.content match {
            case 0 => data += pf
            // v3 deletion vectors are position deletes stored as puffin
            // blobs, distinguished by format + referenced_data_file
            case 1 if en.fileFormat.equalsIgnoreCase("puffin") ||
                en.referencedDataFile.isDefined =>
              require(en.referencedDataFile.isDefined &&
                  en.contentOffset.isDefined && en.contentSizeInBytes.isDefined,
                s"iceberg: puffin delete entry missing referenced_data_file/" +
                  s"content_offset/content_size_in_bytes: ${en.filePath}")
              dvD += pf
            case 1 => posD += pf
            case 2 => eqD += pf
            case other => throw new IllegalArgumentException(
              s"iceberg: unknown file content code $other in ${le.path}")
          }
        }
      }
    }

    // file-level pruning: bucket pre-pass (Iceberg hash), then FilePruner
    // over identity/day/truncate partition values + column bounds
    val defaultSpec = meta.spec(meta.defaultSpecId)
    def specOf(pf: PlannedFile): IcePartSpec =
      try meta.spec(pf.specId) catch { case _: Throwable => defaultSpec }
    val specStrings = meta.specs.flatMap(sp => pruneSpec(sp, sch).map(_._2)).distinct
    val kept = data.toSeq
      .filter(pf => bucketSurvives(pf, sch, specOf(pf), eqLits))
      .map(pf => pf -> toDataFileMeta(pf, sch, specOf(pf)))
    val prunedPaths = FilePruner.prune(
      kept.map(_._2), filter, specStrings, sch.struct).map(_.path).toSet
    Plan(sch, kept.collect { case (pf, m) if prunedPaths(m.path) => pf },
      posD.toSeq, eqD.toSeq, dvD.toSeq, surviving.size, listEntries.size,
      filesTotal)
  }

  /** Planned data-file paths after pruning — the spec's receipt hook. */
  def planFiles(filter: Option[Column] = None, snapshotId: Long = -1L): Seq[String] =
    plan(filter, snapshotId).dataFiles.map(_.entry.filePath)

  /** (bytes, rows) of the filtered plan's data files, from manifest stats
    * alone (no data IO) — feeds the DSv2 bridge's `estimateStatistics`,
    * so a small Iceberg dim table broadcasts instead of shuffling. */
  def scanStats(filter: Option[Column] = None, snapshotId: Long = -1L): (Long, Long) = {
    val files = plan(filter, snapshotId).dataFiles
    (files.map(_.entry.fileSizeBytes).sum, files.map(_.entry.recordCount).sum)
  }

  /** Snapshot schema the aggregate fold evaluates under. */
  private[lake] def aggIceSchema(snapshotId: Long = -1L): IceSchema = {
    val snapId = if (snapshotId >= 0) snapshotId else currentSnapshotId
    if (snapId < 0 || snapId == currentSnapshotId) meta.currentSchema
    else meta.snapshot(snapId).schemaId.map(meta.schema)
      .getOrElse(meta.currentSchema)
  }

  /** Identity partition columns under the snapshot schema (static
    * refusal input for the aggregate fold — no manifest IO). */
  private[lake] def aggIdentityCols(snapshotId: Long = -1L): Set[String] = {
    val sch = aggIceSchema(snapshotId)
    meta.specs.flatMap(_.fields.filter(_.transform == "identity")
      .flatMap(f => sch.byId.get(f.sourceId).map(_.name))).toSet
  }

  /** The metadata-aggregate fold over every live DATA file, as an
    * [[AggEntry]] — or None when any delete content (position / equality
    * / DV) is live, which makes manifest row counts upper bounds (Iceberg's
    * own aggregate pushdown has the same rule). Below
    * `spark.graft.iceberg.aggFoldThresholdBytes` of manifest bytes
    * (default 32 MiB ≈ 150k files) it runs on the driver over the cached
    * plan. Above it, manifests are read INSIDE a distributed job (one task
    * per manifest, treeAggregate), which refuses on ANY delete manifest in
    * the list without opening it: conservative (a fully-retired delete
    * manifest refuses too), but a refusal only costs a real scan. */
  private[lake] def foldAggEntries[B](snapshotId: Long = -1L)(zero: B)(
      seq: (B, AggEntry) => B, comb: (B, B) => B): Option[B] = {
    val snapId = if (snapshotId >= 0) snapshotId else currentSnapshotId
    if (snapId < 0) return Some(zero) // empty table: fold of nothing
    val snap = meta.snapshot(snapId)
    // manifest lists are immutable once written — memoize per resolved
    // path so the threshold probe costs one driver read per snapshot,
    // not one per planned aggregate
    val listPath = resolve(snap.manifestList)
    val listEntries = IcebergTable.manifestListCache.get(listPath.toString)(
      IcebergAvro.readManifestList(conf, listPath))
    val threshold = spark.conf.getOption(
      "spark.graft.iceberg.aggFoldThresholdBytes")
      .map(_.toLong).getOrElse(32L * 1024 * 1024)
    if (listEntries.map(_.length).sum <= threshold) {
      val p = plan(None, snapshotId)
      if (p.posDeletes.nonEmpty || p.eqDeletes.nonEmpty || p.dvDeletes.nonEmpty)
        return None
      val defaultSpec = meta.spec(meta.defaultSpecId)
      return Some(p.dataFiles.foldLeft(zero) { (b, pf) =>
        val spec = try meta.spec(pf.specId) catch { case _: Throwable => defaultSpec }
        val writeSchema = schemaOrCurrent(pf.schemaId)
        seq(b, IcebergTable.aggEntry(toDataFileMeta(pf, p.schema, spec), pf.entry,
          p.schema, writeSchema))
      })
    }
    if (listEntries.exists(_.content != 0)) return None
    val ctx = IcebergTable.FoldCtx(aggIceSchema(snapshotId), meta.schemas, meta.specs,
      meta.defaultSpecId)
    val bcConf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(conf))
    // (resolved manifest path, list-entry sequence number for v2
    // inheritance of ADDED entries with null seq)
    val work = listEntries.map(le => (resolve(le.path).toString, le.sequenceNumber))
    val seqO: (Option[B], (String, Long)) => Option[B] = (b, pe) =>
      b.flatMap { bb =>
        val (header, entries) = IcebergTable.manifestCache
          .get(pe._1)(IcebergAvro.readManifest(
            bcConf.value.value, new Path(pe._1)))
        val schemaId = header.schemaId.getOrElse(ctx.sch.schemaId)
        val writeSchema = ctx.schemaOrCurrent(schemaId)
        val spec = ctx.specOf(header.specId)
        var acc: Option[B] = Some(bb)
        entries.foreach { en =>
          if (acc.isDefined && en.status != 2) {
            if (en.content != 0) acc = None // delete entry in a data manifest
            else {
              val entrySeq = en.sequenceNumber.getOrElse(
                if (en.status == 1) pe._2 else 0L)
              acc = acc.map(a => seq(a, IcebergTable.aggEntry(IcebergTable.toDataFileMeta(
                en, entrySeq, ctx.sch, spec, writeSchema), en, ctx.sch, writeSchema)))
            }
          }
        }
        acc
      }
    val combO: (Option[B], Option[B]) => Option[B] = (x, y) =>
      for { xx <- x; yy <- y } yield comb(xx, yy)
    implicit val tag: scala.reflect.ClassTag[Option[B]] =
      scala.reflect.ClassTag(classOf[Option[B]])
    spark.sparkContext
      .parallelize(work, math.max(1, math.min(work.size,
        spark.sparkContext.defaultParallelism * 2)))
      .treeAggregate(Option(zero))(seqO, combO)
  }

  private def dvIndexOf(p: Plan): Map[String, (String, Long, Long, Long)] =
    p.dvDeletes.groupBy(d => IcebergTable.pathKey(d.entry.referencedDataFile.get))
      .map { case (k, ds) =>
        val d = ds.maxBy(_.seq)
        k -> (d.entry.filePath, d.entry.contentOffset.get,
          d.entry.contentSizeInBytes.get, d.seq)
      }

  /** The live DVs (pathKey(data file) → (puffin path, offset, size, seq))
    * and parquet position-delete file paths of the current snapshot — the
    * writer's replace-must-union and DV-absorbs-position-deletes hooks. */
  private[iceberg] def positionDeletes: (Map[String, (String, Long, Long, Long)], Seq[String]) = {
    val p = plan(None, -1L)
    (dvIndexOf(p), p.posDeletes.map(_.entry.filePath))
  }

  /** (manifests loaded, manifests in list) for a filtered plan. */
  def planManifestCounts(filter: Option[Column] = None, snapshotId: Long = -1L): (Int, Int) = {
    val p = plan(filter, snapshotId)
    (p.manifestsLoaded, p.manifestsTotal)
  }

  // ---- scan ----------------------------------------------------------------

  def scan(filter: Option[Column] = None, snapshotId: Long = -1L): DataFrame = {
    val p = plan(filter, snapshotId)
    val out = buildScan(p)
    filter.map(out.filter).getOrElse(out)
  }

  /** INCREMENTAL APPEND SCAN (Iceberg's own incremental read shape,
    * `newIncrementalAppendScan`): rows of the data files APPENDED by
    * snapshots in `(fromSnapshotId, toSnapshotId]`, each tagged with the
    * committing `_snapshot_id`. Mirrors Iceberg's semantics exactly:
    * `replace` snapshots (compaction — no logical data change) are
    * SKIPPED; `overwrite`/`delete` snapshots are REJECTED loudly (their
    * row-level changes are not expressible as appends); `fromSnapshotId`
    * must be an ancestor of the end snapshot.
    *
    * Correctness note: delete files committed before `from` never apply
    * to in-range data files (their sequence numbers are lower — v2
    * rules), and delete-bearing snapshots inside the range are rejected,
    * so reading the added files raw is exact. Scale: planning is
    * O(snapshots-in-range) driver metadata; the scan reads ONLY the
    * added files — O(new data), the point of an incremental mirror. One
    * scan node per in-range snapshot (sync ranges are short by
    * construction; each node is that snapshot's added files only). */
  def incrementalAppends(fromSnapshotId: Long, toSnapshotId: Long = -1L,
      filter: Option[Column] = None): DataFrame = {
    val toId = if (toSnapshotId >= 0) toSnapshotId else currentSnapshotId
    require(toId >= 0, s"iceberg: table at $location has no snapshot")
    // ancestry walk, newest → oldest, excluding `from`
    val chain = scala.collection.mutable.ArrayBuffer[IceSnapshot]()
    var cur = meta.snapshot(toId)
    while (cur.id != fromSnapshotId) {
      chain += cur
      cur = cur.parentId match {
        case Some(p) => meta.snapshot(p)
        case None => throw new IllegalArgumentException(
          s"iceberg: snapshot $fromSnapshotId is not an ancestor of $toId")
      }
    }
    val inRange = chain.reverse.toSeq // oldest → newest
    inRange.foreach { s =>
      require(s.operation == "append" || s.operation == "replace",
        s"iceberg: incremental append scan cannot read snapshot ${s.id} " +
          s"with operation '${s.operation}' — row-level deletes/overwrites " +
          "are not expressible as appends")
    }
    // every part is projected to the RANGE-END snapshot's schema BY FIELD
    // ID before the union: each snapshot scans under its own historical
    // schema, so a rename/widen inside the range would otherwise make
    // unionByName throw mid-stream (or deliver a batch schema differing
    // from the declared stream schema). Fields added later read null for
    // the older snapshots — Iceberg's own whole-range projection rule.
    val endSchema =
      meta.snapshot(toId).schemaId.map(meta.schema).getOrElse(meta.currentSchema)
    val parts = inRange.filter(_.operation == "append").flatMap { s =>
      val p = plan(filter, s.id)
      val parentFiles = s.parentId
        .map(pid => planFiles(None, pid).toSet).getOrElse(Set.empty)
      val restricted = p.copy(
        dataFiles = p.dataFiles.filterNot(pf => parentFiles(pf.entry.filePath)),
        posDeletes = Nil, eqDeletes = Nil, dvDeletes = Nil)
      if (restricted.dataFiles.isEmpty) None
      else {
        val scanned = buildScan(restricted)
        val partSchema =
          s.schemaId.map(meta.schema).getOrElse(meta.currentSchema)
        val projected =
          if (partSchema.schemaId == endSchema.schemaId) scanned
          else scanned.select(endSchema.fields.map { f =>
            partSchema.fields.find(_.id == f.id)
              .map(old => col(old.name).cast(f.dataType).as(f.name))
              .getOrElse(f.initialDefault.map(v => lit(v))
                .getOrElse(lit(null)).cast(f.dataType).as(f.name))
          }: _*)
        Some(projected.withColumn("_snapshot_id", lit(s.id)))
      }
    }
    if (parts.isEmpty) {
      val outSchema = StructType(endSchema.struct.fields :+
        StructField("_snapshot_id", LongType))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    } else {
      // row-level re-application of the filter (pruning is file-level
      // and conservative — scan() does the same)
      val out = parts.reduce(_ unionByName _)
      filter.map(out.filter).getOrElse(out)
    }
  }

  def scanAsOfTime(timestampMs: Long, filter: Option[Column] = None): DataFrame =
    scan(filter, snapshotAsOfTime(timestampMs))

  def scanRef(name: String, filter: Option[Column] = None): DataFrame =
    scan(filter, refSnapshot(name))

  /** Column reference by EXACT name (dots and backticks escaped). */
  private def quoted(name: String): Column = col("`" + name.replace("`", "``") + "`")

  private val PosFileCol = "__ice_file"
  private val PosIdxCol = "__ice_pos"

  /** v3 ROW LINEAGE scan (r15): the snapshot's rows with the spec's two
    * lineage metadata columns appended — `_row_id` (the file's
    * first_row_id + row position; explicit per-entry ids or the
    * manifest-list inheritance rule) and
    * `_last_updated_sequence_number` (the file's data sequence number).
    * Files WITHOUT a first_row_id must carry MATERIALIZED lineage
    * columns (written by compact/updateWhere/upsertKeys per the v3
    * rewrite contract; a NULL materialized last-updated falls back to
    * the file's data sequence, per spec) — verified against the footer
    * schema, else refuse LOUDLY. Non-parquet formats (no row_index) and
    * a schema declaring its own `_row_id` also refuse rather than serve
    * wrong ids. Deletes (DV / position / equality) apply as in [[scan]];
    * surviving rows keep their positions, so ids are stable under MoR
    * deletes. */
  def scanWithLineage(filter: Option[Column] = None,
      snapshotId: Long = -1L): DataFrame = {
    val p = plan(filter, snapshotId)
    require(meta.nextRowId.isDefined,
      s"iceberg: table at $location does not track row lineage " +
        "(no next-row-id in metadata)")
    val out = buildScan(p, lineage = true)
    filter.map(out.filter).getOrElse(out)
  }

  private def buildScan(p: Plan, lineage: Boolean = false): DataFrame = {
    val sch = p.schema
    val lineageFields =
      if (!lineage) Array.empty[StructField]
      else Array(StructField("_row_id", LongType),
        StructField("_last_updated_sequence_number", LongType))
    if (lineage)
      require(!sch.fields.exists(f =>
          f.name == "_row_id" || f.name == "_last_updated_sequence_number"),
        "iceberg: schema declares materialized lineage columns — this " +
          "reader serves lineage by inheritance only and reading both " +
          "would be ambiguous")
    val target = StructType(sch.struct.fields ++ lineageFields)
    if (p.dataFiles.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], target)

    // v3 deletion vectors: one DV per referenced data file (writers must
    // replace, so on a malformed double entry the max-seq one wins)
    val dvByFile = dvIndexOf(p)

    // group data files by (write schema, applicable delete sets): the
    // applicable deletes are a seq-ordered suffix, so the index of the
    // first applying delete identifies the set (same shape as
    // GraftTable.buildScan — plan size is O(delete boundaries × schemas))
    val eqSeqs = p.eqDeletes.map(_.seq).distinct.sorted.toIndexedSeq
    val posSeqs = p.posDeletes.map(_.seq).distinct.sorted.toIndexedSeq
    // delete files are read as parquet below — reject other formats
    // loudly (real engines write parquet deletes; a v3 DV is a puffin
    // blob handled separately and never reaches these reads)
    (p.eqDeletes ++ p.posDeletes).foreach { d =>
      require(d.entry.fileFormat.equalsIgnoreCase("parquet"),
        s"iceberg: delete file ${d.entry.filePath} has format " +
          s"${d.entry.fileFormat}; this reader reads parquet delete files only")
    }

    // data-file format is part of the group key: each group reads with
    // its own source (reference enumerates PARQUET/ORC/AVRO per entry,
    // iceberg_bridge.h:229-249 — never assume one format table-wide);
    // spec id too, because identity partition injection below is
    // per-spec (partition evolution can leave files without it)
    val groups = p.dataFiles
      .groupBy(f => (f.schemaId, f.specId, f.entry.fileFormat.toUpperCase,
        RowDeletes.applicable(eqSeqs, f.seq, inclusive = false),
        RowDeletes.applicable(posSeqs, f.seq, inclusive = true),
        // lineage delivery is part of the group key (r16): inherited
        // (first_row_id set) and MATERIALIZED (first_row_id null —
        // compaction wrote _row_id columns into the files per the v3
        // spec) files read differently; only lineage tables ever carry
        // first_row_id, so other tables group exactly as before
        f.entry.firstRowId.isEmpty))
      .toSeq.sortBy { case ((sid, spid, fmt, ei, pi, mat), _) =>
        (sid, spid, fmt, ei, pi, mat) }

    groups.map { case ((schemaId, specId, fileFmt, eqIdx, posIdx, matLineage), files) =>
      val writeSchema = schemaOrCurrent(schemaId)
      val phys = writeSchema.struct

      // IDENTITY PARTITION VALUE INJECTION (Iceberg's constants rule:
      // for identity-transformed spec fields the manifest partition
      // tuple is AUTHORITATIVE). Migrated / add_files tables hold
      // hive-layout files that do not contain these columns at all —
      // reading them from the file would serve silent nulls. The
      // columns are dropped from the physical read (saves IO) and
      // joined back per file from a broadcast of the manifest values:
      // O(files) metadata rows, the Delta reader's injection pattern.
      // AVRO groups keep reading from the file (custom decoder, no
      // _metadata source; real avro iceberg files carry their columns).
      // only types whose manifest partition values convert exactly are
      // injected; anything else (decimal/uuid/fixed/binary identity
      // partitions on external tables) keeps the pre-r11 read-from-file
      // path — real-engine files always contain their columns, and
      // adopt() never creates such partitions (it rejects those types)
      val injectable: Set[DataType] = Set(IntegerType, LongType, StringType,
        BooleanType, DateType, TimestampType, TimestampNTZType, DoubleType,
        FloatType)
      val idFields: Seq[(IcePartField, IceField)] =
        if (fileFmt == "AVRO") Nil
        else meta.spec(specId).fields.filter(_.transform == "identity")
          .flatMap(pf => writeSchema.byId.get(pf.sourceId).map(pf -> _))
          .filter { case (_, sf) => injectable.contains(sf.dataType) }
      val readPhys0 = StructType(phys.fields.filterNot(f =>
        idFields.exists(_._2.name == f.name)))
      // MATERIALIZED lineage group (r16, v3 spec): entries without
      // first_row_id on a lineage scan carry _row_id /
      // _last_updated_sequence_number as data-file columns (written by
      // compaction) — read them with the file's own columns instead of
      // reconstructing from positions
      val materialized = lineage && matLineage
      val readPhys = if (!materialized) readPhys0
        else StructType(readPhys0.fields ++ Seq(
          StructField("_row_id", LongType),
          StructField("_last_updated_sequence_number", LongType)))

      // VERIFIED HIVE-LAYOUT READ (r15): when this group's files sit in
      // `name=value` dirs whose parsed values provably equal the
      // manifest partition tuple (render-equality, driver-side, no IO),
      // the scan becomes a genuine hive-partitioned relation — Spark
      // owns the partition columns, so static AND dynamic partition
      // pruning apply to interop estates like they do to graft-native
      // tables. Eligibility requires the spec to be ALL-identity with
      // dir names equal to source column names (a bucket/day dir would
      // surface as a stray discovered column); any mismatch falls back
      // to the authoritative FileConstant injection below.
      val eqApplying = p.eqDeletes.filter(d => eqSeqs.drop(eqIdx).contains(d.seq))
      val posApplying = p.posDeletes.filter(d => posSeqs.drop(posIdx).contains(d.seq))
      // DVs applicable to this group's files: per-file, pos-delete seq
      // rule (dv seq >= file seq, inclusive)
      val groupDvs: Map[String, RowDeletes.Dv] = files.flatMap { f =>
        val k = IcebergTable.pathKey(f.entry.filePath)
        dvByFile.get(k).collect { case (dvPath, off, len, dvSeq) if dvSeq >= f.seq =>
          k -> RowDeletes.PuffinDv(dvPath, off, len) }
      }.toMap
      if (lineage) {
        require(fileFmt == "PARQUET",
          s"iceberg: row-lineage scan needs parquet files; " +
            s"group has $fileFmt files (${files.head.entry.filePath}, …)")
        if (materialized) {
          // no first_row_id → the files MUST carry materialized lineage
          // columns (the v3 rewrite contract). Spark's parquet source
          // serves a missing column as silent nulls, so the footer
          // schema is checked up front — a null-id serve would violate
          // the never-a-wrong-value posture. EVERY group file is
          // checked (driver-side footer reads, O(group files),
          // materialized groups only): a group can mix snapshots and
          // therefore writers, and one lineage-less file among
          // lineage-carrying ones would otherwise be served null ids.
          files.foreach { f =>
            val footer = graft.lake.ParquetStats.sparkSchema(spark,
              new Path(f.entry.filePath)).fieldNames.toSet
            if (!footer.contains("_row_id") ||
                !footer.contains("_last_updated_sequence_number"))
              throw new IllegalArgumentException(
                s"iceberg: data file ${f.entry.filePath} carries " +
                  "neither first_row_id nor materialized lineage columns " +
                  "(written before lineage was enabled, or by a writer " +
                  "whose lineage this reader cannot reconstruct) — " +
                  "_row_id would be wrong, refusing")
          }
        }
      }
      val needMeta = posApplying.nonEmpty || groupDvs.nonEmpty ||
        (lineage && !materialized)

      val spec = meta.spec(specId)
      // writer-chosen dir names ride along (real engines write
      // `<fieldName>=v`; graft's own writer names dirs internally) —
      // the read discovers them and a projection renames to the source
      // columns. A dir name colliding with a DATA column would shadow
      // it in discovery: refuse.
      // Spec fields in DIR ORDER with their hive-read handling (r16):
      // identity → the dir IS the injectable source value (verified
      // against the manifest tuple, renamed to the source column);
      // bucket[N] → the dir is the DERIVED bucket ordinal (int, verified
      // against the manifest tuple) kept as a GENUINE partition column,
      // so runtime bucket pruning can target it (InteropBucketDppRule
      // maps dim join values through IcebergBucket into this column).
      // Any other transform → no hive read for the group.
      val bucketRe = """bucket\[(\d+)\]""".r
      val dirFields: Option[Seq[(IcePartField, IceField, Option[Int])]] =
        if (idFields.length != meta.spec(specId).fields
              .count(_.transform == "identity")) None // non-injectable identity
        else {
          val fs = meta.spec(specId).fields.map { pf =>
            pf.transform match {
              case "identity" => idFields.find(_._1.fieldId == pf.fieldId)
                .map { case (p, sf) => (p, sf, None: Option[Int]) }
              case bucketRe(n) => writeSchema.byId.get(pf.sourceId)
                .map(sf => (pf, sf, Some(n.toInt)))
              case _ => None
            }
          }
          if (fs.exists(_.isEmpty) || fs.isEmpty) None else Some(fs.flatten)
        }
      val hiveRead: Option[(DataFrame, Seq[(String, String)])] =
        if (dirFields.isEmpty || fileFmt == "AVRO" ||
            (fileFmt == "ORC" && needMeta) ||
            !graft.lake.HivePartitionedRead.enabled(spark)) None
        else try {
          val dfs = dirFields.get
          val paths = files.map(_.entry.filePath).toIndexedSeq
          graft.lake.HivePartitionedRead.verifiedBaseNamed(
            paths, dfs.length,
            i => dfs.map { case (pf, sf, bucketN) =>
              // bucket dirs hold the ORDINAL (int), identity dirs the
              // external source value — both authoritative per manifest
              IcebergTable.externalPartitionValue(
                files(i).entry.partition.getOrElse(pf.name, null),
                if (bucketN.isDefined) IntegerType else sf.dataType,
                pf.name) }).flatMap { case (base, dirNames) =>
            val renames = dirNames.zip(dfs).collect {
              case (d, (_, sf, None)) => d -> sf.name }
            // a dir name colliding with a data column, another target,
            // or the positional meta columns would shadow/corrupt them
            // in discovery — refuse (fall back to injection)
            val taken = readPhys.fieldNames.toSet + PosFileCol + PosIdxCol
            val idTargets = dfs.collect { case (_, sf, None) => sf.name }.toSet
            if (dirNames.zip(dfs).exists { case (d, (_, sf, bucketN)) =>
                (bucketN.isDefined || d != sf.name) &&
                  (taken(d) || idTargets(d)) }) None
            else {
              val partFields = dirNames.zip(dfs).map { case (d, (_, sf, bucketN)) =>
                org.apache.spark.sql.types.StructField(d,
                  if (bucketN.isDefined) IntegerType else sf.dataType) }
              // the bucket mapping rides the relation's options — the
              // optimizer rule reads it to build the runtime filter
              // (only for source types IcebergBucket can hash)
              val bucketOpts = dirNames.zip(dfs).collect {
                case (d, (_, sf, Some(n))) if Set[DataType](IntegerType,
                    LongType, StringType, DateType).contains(sf.dataType) =>
                  s"graft.dpp.bucket.$d" -> s"${sf.name}:$n"
              }.toMap
              var hdf = graft.lake.HivePartitionedRead.read(spark,
                if (fileFmt == "ORC") "orc" else "parquet", base, readPhys,
                partFields, files.map(_.entry.filePath), bucketOpts)
              Some((hdf, renames))
            }
          }
        } catch { case _: Throwable => None }
      val hiveDf: Option[DataFrame] = hiveRead.map(_._1)

      var df = fileFmt match {
        case _ if hiveDf.isDefined => hiveDf.get
        case "PARQUET" => spark.read.schema(readPhys)
          .parquet(files.map(_.entry.filePath): _*)
        case "ORC" =>
          // positional machinery needs a row index, which Spark's ORC
          // source does not expose (_metadata.row_index is parquet-only)
          // — those groups route through the orc-core streaming reader
          // (r13), which emits the per-file ordinal in file order; plain
          // groups keep Spark's vectorized source
          if (needMeta)
            IcebergOrcData.readWithPos(spark, writeSchema,
              files.map(_.entry.filePath), PosFileCol, PosIdxCol)
          else spark.read.schema(readPhys).orc(files.map(_.entry.filePath): _*)
        case "AVRO" =>
          // positional machinery over AVRO (r13): the custom decoder has
          // no _metadata source, but it streams one task per file IN
          // FILE ORDER — the per-file ordinal it emits IS the position
          // that delete files / DV bitmaps address
          if (needMeta)
            IcebergAvroData.readWithPos(spark, writeSchema,
              files.map(_.entry.filePath), PosFileCol, PosIdxCol)
          else IcebergAvroData.read(spark, writeSchema,
            files.map(_.entry.filePath))
        case other => throw new IllegalArgumentException(
          s"iceberg: data file format $other " +
            s"(${files.head.entry.filePath}, ...) is not readable here — " +
            "supported data file formats: PARQUET, ORC, AVRO")
      }
      // the AVRO/ORC decoders emit the planned path and position
      // themselves; every per-file lookup below keys the path by pathKey
      if (needMeta && fileFmt != "AVRO" && fileFmt != "ORC") df = df
        .withColumn(PosFileCol, ParquetStats.scanFilePath)
        .withColumn(PosIdxCol, col("_metadata.row_index"))
      // hive-layout read: discovered partition columns carry the
      // writer's dir names — rename to the source columns (an alias
      // projection; partition-pruning lineage traces through it)
      hiveRead.foreach { case (_, renames) =>
        renames.foreach { case (d, t) =>
          if (d != t) df = df.withColumnRenamed(d, t) }
      }
      if (idFields.nonEmpty && hiveDf.isEmpty) {
        // a PROJECTION, not a join: per-file constants via a memoized
        // codegen expression over the file path (the broadcast-join
        // variant paid a fixed BroadcastExchange latency per group,
        // doubling small incremental reads). Values are broadcast as
        // INTERNAL Catalyst values keyed by normalized path.
        val internal: Map[String, Array[Any]] = files.map { f =>
          IcebergTable.pathKey(f.entry.filePath) ->
            idFields.map { case (pf, sf) =>
              val ext = IcebergTable.externalPartitionValue(
                f.entry.partition.getOrElse(pf.name, null), sf.dataType, pf.name)
              if (ext == null) null
              else org.apache.spark.sql.catalyst.CatalystTypeConverters
                .createToCatalystConverter(sf.dataType)(ext)
            }.toArray
        }.toMap
        val bcVals = spark.sparkContext.broadcast(internal)
        val pathC =
          if (needMeta) col(PosFileCol)
          else ParquetStats.scanFilePath
        idFields.zipWithIndex.foreach { case ((_, sf), i) =>
          df = df.withColumn(sf.name,
            graft.expressions.FileConstant.column(pathC, sf.dataType, raw =>
              bcVals.value.get(IcebergTable.pathKey(raw)) match {
                case Some(vals) => vals(i)
                case None => throw new IllegalStateException(
                  s"iceberg: file $raw missing from the planned partition " +
                    "constants (planner invariant)")
              }))
        }
      }

      // a file with a DV takes its DV (v3: the writer that replaced the
      // file's position deletes folded them into it); every other file
      // takes the applicable position-delete files
      if (groupDvs.nonEmpty)
        df = df.filter(RowDeletes.keep(spark, col(PosFileCol), col(PosIdxCol),
          IcebergTable.pathKey, groupDvs))
      if (posApplying.nonEmpty)
        df = RowDeletes.antiJoin(df,
          Seq(IcebergTable.pathKeyCol(col(PosFileCol)), col(PosIdxCol)),
          RowDeletes.positions(spark, posApplying.map(_.entry.filePath),
            IcebergTable.pathKeyCol, skip = groupDvs.keySet))

      // equality deletes: group by (delete schema, equality id set) so
      // each delete file's columns resolve under ITS schema, read at the
      // types that schema records; match in the DATA file's physical
      // column space (null-safe, per spec)
      eqApplying.groupBy(d => (d.schemaId, d.entry.equalityIds)).foreach {
        case ((delSchemaId, eqIds), dels) =>
          require(eqIds.nonEmpty,
            s"iceberg: equality delete without equality_ids: ${dels.head.entry.filePath}")
          val delSchema = schemaOrCurrent(delSchemaId)
          val delFields = eqIds.map(id => delSchema.byId.getOrElse(id,
            throw new IllegalArgumentException(
              s"iceberg: equality id $id not in schema ${delSchema.schemaId}")))
          val dataFields = eqIds.map(id => writeSchema.byId.getOrElse(id,
            throw new IllegalArgumentException(
              s"iceberg: equality id $id absent from data schema $schemaId")))
          val keys = spark.read
            .schema(StructType(delFields.map(f => StructField(f.name, f.dataType))))
            .parquet(dels.map(_.entry.filePath): _*)
            .select(delFields.zip(dataFields).map { case (kf, af) =>
              quoted(kf.name).cast(af.dataType) }: _*)
          df = RowDeletes.antiJoin(df, dataFields.map(f => quoted(f.name)), keys)
      }

      // v3 row-lineage columns (after the delete joins — surviving rows
      // keep their file positions, so ids are stable under MoR deletes):
      // _row_id = first_row_id + position; _last_updated_sequence_number
      // = the file's data sequence number (inheritance; materialized
      // groups read the file columns instead, above)
      val lineageCols: Seq[Column] =
        if (!lineage) Nil
        else if (materialized) {
          // compaction materialized BOTH ids into the files (v3 rewrite
          // contract); updateWhere/upsertKeys write the carried _row_id
          // with a NULL _last_updated_sequence_number — the spec's
          // null-fallback rule inherits the file's data sequence (the
          // sequence of the commit that updated the row). Per-file
          // fallback constant, same memoized-projection shape as the
          // identity-partition injection above.
          val byPath: Map[String, Long] = files.map(f =>
            IcebergTable.pathKey(f.entry.filePath) -> f.seq).toMap
          val bc = spark.sparkContext.broadcast(byPath)
          val pathC =
            if (needMeta) col(PosFileCol)
            else ParquetStats.scanFilePath
          val seqC = graft.expressions.FileConstant.column(pathC, LongType,
            raw => bc.value.get(IcebergTable.pathKey(raw)) match {
              case Some(s) => Long.box(s)
              case None => throw new IllegalStateException(
                s"iceberg: file $raw missing from the lineage seq constants")
            })
          Seq(col("_row_id"),
            coalesce(col("_last_updated_sequence_number"), seqC)
              .as("_last_updated_sequence_number"))
        } else {
          val byPath: Map[String, (Long, Long)] = files.map(f =>
            IcebergTable.pathKey(f.entry.filePath) ->
              ((f.entry.firstRowId.get, f.seq))).toMap
          val bc = spark.sparkContext.broadcast(byPath)
          def const(pick: ((Long, Long)) => Long): Column =
            graft.expressions.FileConstant.column(col(PosFileCol), LongType,
              raw => bc.value.get(IcebergTable.pathKey(raw)) match {
                case Some(v) => Long.box(pick(v))
                case None => throw new IllegalStateException(
                  s"iceberg: file $raw missing from the lineage constants")
              })
          Seq((const(_._1) + col(PosIdxCol)).as("_row_id"),
            const(_._2).as("_last_updated_sequence_number"))
        }

      // project to the snapshot schema by FIELD ID (rename/add/drop
      // safe); a field absent from the write schema yields its v3
      // initial-default (files written before the column existed), or
      // null when none is declared
      val physByName = writeSchema.byId
      val cols = sch.fields.map { f =>
        physByName.get(f.id) match {
          case Some(wf) => quoted(wf.name)
            .cast(f.dataType).as(f.name)
          case None => f.initialDefault
            .map(v => lit(v).cast(f.dataType))
            .getOrElse(lit(null).cast(f.dataType)).as(f.name)
        }
      }
      df.select(cols ++ lineageCols: _*)
    }.reduce(_ unionByName _)
  }
}

object IcebergTable {

  /** Bounded daemon IO pool for planning's manifest fan-out: a
    * 1000-manifest table on an object store pays tens of seconds of
    * SERIAL small GETs otherwise — the same problem GraftTable's
    * resolver pool solves for graft manifests. */
  private[iceberg] lazy val metadataIoPool = {
    val n = math.min(16, math.max(2, Runtime.getRuntime.availableProcessors()))
    java.util.concurrent.Executors.newFixedThreadPool(n,
      (r: Runnable) => {
        val t = new Thread(r, "iceberg-metadata-io")
        t.setDaemon(true); t
      })
  }

  /** Bounded JVM-wide manifest cache (path → parsed header+entries) —
    * sound because Iceberg manifests are create-only with unique names,
    * never rewritten; deleteWhereDv's three plans per statement (and any
    * repeated query) stop re-reading every manifest. */
  private[lake] val manifestCache = new BlobCache[String,
    (IcebergAvro.ManifestHeader, Seq[IcebergAvro.ManifestEntry])](4096)

  /** Manifest-list contents by absolute path (create-only, like
    * manifests). */
  private val manifestListCache =
    new BlobCache[String, Seq[IcebergAvro.ManifestFileEntry]](4096)

  /** One planned live file: the manifest entry, its resolved sequence
    * number, and the schema-id its columns were written under. */
  private final case class PlannedFile(
      entry: IcebergAvro.ManifestEntry,
      seq: Long,
      schemaId: Int,
      specId: Int)

  /** Graft partition-spec strings + partition-value map for an entry, for
    * the transforms FilePruner shares semantics with: identity, day
    * (graft `days`), truncate. `bucket` is handled by `bucketSurvives`;
    * year/month/hour prune only via column bounds (conservative).
    * Static (r14): runs inside the distributed aggregate fold's tasks. */
  private[iceberg] def pruneSpec(spec: IcePartSpec,
      sch: IceSchema): Seq[(IcePartField, String, String)] =
    spec.fields.flatMap { pf =>
      sch.byId.get(pf.sourceId).flatMap { src =>
        pf.transform match {
          case "identity" => Some((pf, src.name, src.name))
          case "day" => Some((pf, s"days(${src.name})", s"__p_${src.name}_day"))
          case t if t.startsWith("truncate[") =>
            val w = t.stripPrefix("truncate[").stripSuffix("]")
            Some((pf, s"truncate($w,${src.name})", s"__p_${src.name}_trunc"))
          case _ => None
        }
      }
    }

  /** Render a decoded Avro partition value into the string form
    * FilePruner's typed partition-value parser expects for the dir name's
    * column type. None = unrenderable → leave unknown (no pruning). */
  private[iceberg] def renderPartValue(pf: IcePartField, src: IceField,
      v: Any): Option[String] =
    v match {
      case null => Some(graft.lake.Meta.NullPartition)
      case _ => (pf.transform, src.dataType) match {
        case ("identity", DateType) => v match {
          case i: Int => Some(java.time.LocalDate.ofEpochDay(i.toLong).toString)
          case _ => None
        }
        case ("identity", IntegerType | LongType | StringType | BooleanType) =>
          Some(v.toString)
        case ("day", _) => v match { // graft PDays dir value = epoch days long
          case i: Int => Some(i.toString)
          case l: Long => Some(l.toString)
          case _ => None
        }
        case (t, IntegerType | LongType | StringType) if t.startsWith("truncate[") =>
          Some(v.toString)
        case _ => None
      }
    }

  /** Manifest entry → graft DataFileMeta: partition values under the
    * transform dir-name convention, column bounds as ColStats keyed by the
    * SNAPSHOT schema's column names. Float/double bounds are kept only
    * when the file proves zero NaNs (Iceberg bounds exclude NaN, but
    * Spark orders NaN above every value — a NaN row could match `x > hi`).
    * Static (r14): the distributed aggregate fold builds these inside
    * tasks from a shipped [[FoldCtx]]. */
  private[iceberg] def toDataFileMeta(e: IcebergAvro.ManifestEntry, seq: Long,
      sch: IceSchema, spec: IcePartSpec, writeSchema: IceSchema): DataFileMeta = {
    val pvals = pruneSpec(spec, sch).flatMap { case (field, _, dirName) =>
      for {
        src <- sch.byId.get(field.sourceId)
        raw <- e.partition.get(field.name)
        rendered <- renderPartValue(field, src, raw)
      } yield dirName -> rendered
    }.toMap
    val stats = sch.fields.flatMap { f =>
      for {
        wf <- writeSchema.byId.get(f.id) // column must exist in the file
        loB <- e.lowerBounds.get(f.id)
        hiB <- e.upperBounds.get(f.id)
        (tagLo, lo) <- IcebergMeta.decodeBound(wf.typeStr, loB)
        (tagHi, hi) <- IcebergMeta.decodeBound(wf.typeStr, hiB)
        if tagLo == tagHi
        if tagLo != "d" || e.nanCounts.get(f.id).contains(0L)
      // missing null count = UNKNOWN (-1: pruner keeps, aggs refuse), never 0
      } yield f.name -> ColStats(tagLo, lo, hi, e.nullCounts.getOrElse(f.id, -1L))
    }.toMap
    DataFileMeta(e.filePath, seq, e.recordCount, e.fileSizeBytes, pvals, stats)
  }

  /** A live data file as the shared metadata-aggregate entry: null counts
    * by snapshot-schema name, where a column the file's write schema lacks
    * (added after the file was written) is all null. */
  private[iceberg] def aggEntry(dfm: DataFileMeta, e: IcebergAvro.ManifestEntry,
      sch: IceSchema, writeSchema: IceSchema): AggEntry =
    AggEntry(dfm, sch.fields.flatMap { f =>
      if (!writeSchema.byId.contains(f.id)) Some(f.name -> e.recordCount)
      else e.nullCounts.get(f.id).map(f.name -> _)
    }.toMap)

  /** Everything a fold task needs to turn a raw manifest entry into an
    * aggregate contribution — pure case-class state, shipped once per
    * distributed fold (the snapshot schema, every historical schema for
    * write-schema resolution, every partition spec). */
  private[iceberg] final case class FoldCtx(
      sch: IceSchema,
      schemas: Seq[IceSchema],
      specs: Seq[IcePartSpec],
      defaultSpecId: Int) extends Serializable {
    def schemaOrCurrent(id: Int): IceSchema =
      schemas.find(_.schemaId == id).getOrElse(sch)
    def specOf(id: Int): IcePartSpec =
      specs.find(_.specId == id)
        .orElse(specs.find(_.specId == defaultSpecId))
        .getOrElse(IcePartSpec(0, Nil))
  }

  private final case class Plan(
      schema: IceSchema,
      dataFiles: Seq[PlannedFile],
      posDeletes: Seq[PlannedFile],
      eqDeletes: Seq[PlannedFile],
      dvDeletes: Seq[PlannedFile],
      manifestsLoaded: Int,
      manifestsTotal: Int,
      filesTotal: Long)

  private val SchemePrefix = "^[a-zA-Z][a-zA-Z0-9+.-]*:/+"

  /** Scheme-insensitive path key: manifest paths, position-delete
    * `file_path`s and `referenced_data_file`s match `_metadata.file_path`
    * under it (`file:/…`, `file:///…` and bare `/…` forms differ between
    * writers). */
  private[iceberg] def pathKey(p: String): String = p.replaceFirst(SchemePrefix, "/")

  /** [[pathKey]] as a column, for joining position-delete `file_path`s. */
  private[iceberg] def pathKeyCol(c: Column): Column = regexp_replace(c, SchemePrefix, "/")

  /** Manifest identity-partition value → Spark EXTERNAL row value of the
    * source column's type (feeds the per-file injection frame). The raw
    * domain is what the manifest Avro decode yields: Int / Long /
    * String / Boolean, with dates as epoch-day ints and timestamps as
    * epoch-micros longs per the spec's partition-data encoding. */
  private[iceberg] def externalPartitionValue(
      v: Any, dt: org.apache.spark.sql.types.DataType, field: String): Any = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    (v, dt) match {
      case (null, _) => null
      case (i: Int, IntegerType) => i
      case (i: Int, LongType) => i.toLong
      case (i: Int, DateType) => DateTimeUtils.toJavaDate(i)
      case (l: Long, LongType) => l
      case (l: Long, TimestampType) => DateTimeUtils.toJavaTimestamp(l)
      case (l: Long, TimestampNTZType) => DateTimeUtils.microsToLocalDateTime(l)
      case (s: String, StringType) => s
      case (b: Boolean, BooleanType) => b
      case (d: Double, DoubleType) => d
      case (f: Float, FloatType) => f
      case (other, t) => throw new IllegalArgumentException(
        s"iceberg: cannot inject identity partition value $other " +
          s"(${other.getClass.getSimpleName}) as $t for field $field")
    }
  }

  /** Load from a table location (`<loc>/metadata/version-hint.text` or the
    * highest-versioned `*.metadata.json`), or from a direct metadata.json
    * path. With an `arbiter`, the catalog's CAS'd version pointer is
    * authoritative and a stale hint file is ignored — the read half of
    * catalog-arbitrated commits (reference: catalog_type='rest'). */
  def load(spark: SparkSession, location: String): IcebergTable =
    load(spark, location, None)

  def load(spark: SparkSession, location: String,
      arbiter: Option[graft.lake.CommitArbiter]): IcebergTable = {
    val conf = spark.sessionState.newHadoopConf()
    val metaPath =
      if (location.endsWith(".json")) new Path(location)
      else arbiter.flatMap(_.currentVersion()) match {
        case Some((_, rel)) => new Path(location, rel)
        case None => findMetadata(conf, new Path(location, "metadata"))
      }
    val fs = metaPath.getFileSystem(conf)
    val in = fs.open(metaPath)
    val json = try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toString("UTF-8")
    } finally in.close()
    val meta = IcebergMeta.parse(json)
    val tableLoc =
      if (meta.location.nonEmpty) meta.location
      else if (location.endsWith(".json")) metaPath.getParent.getParent.toString
      else location
    new IcebergTable(spark, tableLoc, meta)
  }

  /** The current metadata file under `metaDir`: the version
    * `version-hint.text` names, else the highest-versioned
    * `vN[-nonce].metadata.json`. The hint is a cache written after the
    * publish, so it may lag: from the hinted N the newest of `v(N+1)`,
    * `v(N+2)`, … that exists wins. An empty or unparseable hint — a crash
    * during its in-place overwrite leaves one behind — falls back to the
    * listing. Both follow Iceberg's HadoopTableOperations. */
  private[iceberg] def findMetadata(conf: Configuration, metaDir: Path): Path = {
    val fs = metaDir.getFileSystem(conf)
    val hint = new Path(metaDir, "version-hint.text")
    val hinted =
      if (!fs.exists(hint)) None
      else {
        val in = fs.open(hint)
        val v = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        if (!v.matches("\\d+")) None
        else Some(Seq(s"v$v.metadata.json", s"$v.metadata.json")
          .map(new Path(metaDir, _)).find(fs.exists)
          // arbitrated writers stage unique vN-<nonce> names; glob the prefix
          .orElse(fs.listStatus(metaDir).toSeq.map(_.getPath)
            .find(_.getName.matches(s"v?$v-[^.]*\\.metadata\\.json")))
          .getOrElse(throw new IllegalArgumentException(
            s"iceberg: version-hint says $v but no v$v*.metadata.json under $metaDir")))
          .map { p =>
            Iterator.iterate(v.toLong + 1)(_ + 1)
              .map(n => new Path(metaDir, s"v$n.metadata.json"))
              .takeWhile(fs.exists).toSeq.lastOption.getOrElse(p)
          }
      }
    hinted.getOrElse {
      // highest-versioned vN[-uuid].metadata.json wins
      val files = fs.listStatus(metaDir).toSeq.map(_.getPath)
        .flatMap(p => p.getName match {
          case VersionedMetadata(n) => Some((n.toLong, p))
          case _ => None
        })
      require(files.nonEmpty, s"iceberg: no *.metadata.json under $metaDir")
      files.maxBy(_._1)._2
    }
  }

  /** `vN[-nonce].metadata.json` (the `v` optional); group 1 = N. */
  private[iceberg] val VersionedMetadata = """v?(\d+)(?:-[^.]*)?\.metadata\.json""".r
}
