package graft.lake.iceberg

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{CommitIo, HivePartitionedRead, ParquetStats, RowDeletes}

/** Minimal Apache Iceberg v2 WRITER conforming to the published table
  * spec: parquet data files (with parquet field ids), Avro manifests and
  * manifest lists (spec field-ids in the Avro schemas, v2 sequence-number
  * inheritance), and `vN.metadata.json` + `version-hint.text`.
  *
  * Exists for two purposes: (a) round-trip receipts for [[IcebergTable]]
  * — the sandbox has no Iceberg or DuckDB-iceberg artifacts, so the specs
  * build REAL Iceberg layouts with this writer and read them back; (b) a
  * metadata-only export seam for graft tables. It is intentionally narrow:
  * append, equality/position delete, rename (to exercise field-id
  * resolution), tags. No compaction/maintenance — this is interop surface,
  * not a second table format.
  *
  * Simplification (documented): delete manifests are written under the
  * table's partition spec with null partition values, i.e. as GLOBAL
  * deletes; [[IcebergTable]] applies all deletes globally (conservative
  * and correct per spec — partition-scoped deletes are a planning
  * optimization, not a semantics change).
  */
final class IcebergWriter private (
    spark: SparkSession,
    val location: String,
    meta0: IceMeta,
    version0: Int,
    listState0: Seq[(IcebergAvro.ManifestFileEntry, (Long, Long, Long))],
    writeInitial: Boolean,
    arbiter: Option[graft.lake.CommitArbiter]) {

  private def conf: Configuration = spark.sessionState.newHadoopConf()
  private val root = new Path(location)
  private val fs = root.getFileSystem(conf)

  private var metaVersion = version0
  private[iceberg] var lastTs = 0L
  private var currentMeta: IceMeta = meta0

  /** REST-catalog commit mode ([[IcebergWriter.openRest]]): (base,
    * staged) → metadata the CATALOG committed. When set, writeMetadata
    * never touches metadata.json/version-hint itself — the catalog owns
    * metadata materialization and arbitration (the protocol's division
    * of labor); this writer only stages data files + manifests. */
  private[iceberg] var restCommit: Option[(IceMeta, IceMeta) => IceMeta] = None
  /** last catalog-committed state — the diff base of the next commit. */
  private var restBase: IceMeta = meta0

  // carried manifest-list state: every live manifest entry, in order
  // (seeded from the current snapshot's manifest list on open())
  private var listState: Seq[(IcebergAvro.ManifestFileEntry, (Long, Long, Long))] = listState0

  if (writeInitial)
    writeMetadata(meta0) // v1: table exists before the first snapshot, per spec

  def meta: IceMeta = currentMeta
  def currentSnapshotId: Long = currentMeta.currentSnapshotId.getOrElse(-1L)

  private def curSchema: IceSchema = currentMeta.currentSchema
  private def curSpec: IcePartSpec = currentMeta.spec(currentMeta.defaultSpecId)

  // ---- commits -------------------------------------------------------------

  def append(df: DataFrame): Long = {
    val files = writeDataFiles(df)
    commit("append", manifestContent = "data", files)
  }

  /** Last committed streaming batch id for `queryId`, from the snapshot
    * summaries on the CURRENT ancestry (a rolled-back branch must not
    * resurrect markers from undone snapshots); -1 = never. */
  def lastStreamBatch(queryId: String): Long = {
    val byId = currentMeta.snapshots.map(s => s.id -> s).toMap
    var cur = currentMeta.currentSnapshotId
    while (cur.isDefined) {
      val s = byId.getOrElse(cur.get, return -1L)
      if (s.summaryExtras.get(IcebergWriter.StreamQueryKey).contains(queryId))
        return s.summaryExtras.get(IcebergWriter.StreamBatchKey)
          .map(_.toLong).getOrElse(-1L)
      cur = s.parentId
    }
    -1L
  }

  /** Exactly-once streaming-sink APPEND: one native Iceberg snapshot per
    * micro-batch, idempotent under batch replay via the snapshot SUMMARY
    * (where Iceberg's own engines record engine state — e.g. Flink's
    * checkpoint id); any Iceberg reader can audit which batches landed.
    * Replayed batchId → no-op; going backwards → loud error. */
  def appendStreamBatch(df: DataFrame, batchId: Long,
      queryId: String = "default"): Long = {
    val last = lastStreamBatch(queryId)
    if (batchId == last) return currentMeta.currentSnapshotId.getOrElse(-1L)
    require(batchId > last,
      s"iceberg: batchId $batchId < last committed $last for stream query '$queryId'")
    val files = writeDataFiles(df)
    commit("append", manifestContent = "data", files, summaryExtras = Map(
      IcebergWriter.StreamQueryKey -> queryId,
      IcebergWriter.StreamBatchKey -> batchId.toString))
  }

  /** Equality delete: each row of `keys` deletes every earlier row whose
    * key columns match (columns of `keys` = the equality ids). */
  def equalityDelete(keys: DataFrame): Long = {
    val ids = keys.columns.toSeq.map(n => curSchema.fields.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"iceberg: delete key $n not in schema")).id)
    val files = writeParquet(keys, "delete-eq").map { case (p, rows, bytes) =>
      fileEntry(p, content = 2, rows, bytes, Map.empty, Map.empty, Map.empty, ids)
    }
    commit("delete", manifestContent = "deletes", files)
  }

  /** Position delete: `coords` must have columns (file_path: string,
    * pos: long) naming rows of existing data files. */
  def positionDelete(coords: DataFrame): Long = {
    require(coords.columns.toSeq == Seq("file_path", "pos"),
      s"iceberg: position delete needs (file_path, pos), got ${coords.columns.mkString(",")}")
    val files = writeParquet(coords, "delete-pos").map { case (p, rows, bytes) =>
      fileEntry(p, content = 1, rows, bytes, Map.empty, Map.empty, Map.empty, Nil)
    }
    commit("delete", manifestContent = "deletes", files)
  }

  /** V3 deletion-vector delete (format-version 3): rows matching `cond`
    * are masked by per-file roaring bitmaps stored as
    * `deletion-vector-v1` blobs in ONE puffin file — no data file is
    * rewritten. Bitmaps are built executor-side
    * ([[graft.lake.RowDeletes.fold]]). A data file that
    * already carries a DV gets the union (the new DV REPLACES the old
    * one, per the one-DV-per-file rule), and the table's
    * format-version is bumped to 3 on first use. */
  def deleteWhereDv(cond: Column, requireMatch: Boolean = true): Long = {
    val entries = dvDeleteEntries(cond, requireMatch)
    if (entries.isEmpty) return currentMeta.currentSnapshotId.getOrElse(-1L)
    commit("delete", manifestContent = "deletes", entries)
  }

  /** Builds the per-file DV manifest entries for rows matching `cond` —
    * the shared back end of [[deleteWhereDv]] and [[updateWhere]] (which
    * lands the same entries PLUS the rewritten rows in one snapshot).
    * Returns Nil when nothing matches and requireMatch=false (SQL
    * no-op semantics); the commit that lands them bumps the table to
    * format-version 3. */
  private def dvDeleteEntries(cond: Column,
      requireMatch: Boolean): Seq[IcebergAvro.ManifestEntry] = {
    val t = IcebergTable.load(spark, location)
    val affected = t.planFiles(Some(cond))
    // requireMatch=false → SQL DELETE semantics (zero matches = no-op)
    if (affected.isEmpty && !requireMatch) return Nil
    require(affected.nonEmpty, "iceberg: deleteWhereDv matched no files")
    val (existingDvs, posPaths) = t.positionDeletes

    val byFile = RowDeletes.fold(
      spark.read.parquet(affected: _*)
        .withColumn("__fp", ParquetStats.scanFilePath)
        .withColumn("__ri", col("_metadata.row_index"))
        .filter(coalesce(cond, lit(false)))
        .select(col("__fp"), col("__ri")),
      IcebergTable.pathKey)
    // stats pruning is conservative: admitted files may hold zero
    // matching rows — still a SQL no-op, not an error
    if (byFile.isEmpty && !requireMatch) return Nil
    require(byFile.nonEmpty, "iceberg: deleteWhereDv matched no rows")
    // replace-must-union: fold in the file's existing DV
    byFile.foreach { case (k, bm) =>
      existingDvs.get(k).foreach { case (dvPath, off, len, _) =>
        bm.union(Puffin.readDv(conf, new Path(dvPath), off, len))
      }
    }
    // …and ABSORB the file's parquet position deletes (v3: one DV per
    // file replaces them all — the reader ignores pos-delete files once
    // a DV exists, so rows they named must ride in the DV)
    if (posPaths.nonEmpty) {
      RowDeletes.fold(
        spark.read.schema("file_path STRING, pos BIGINT").parquet(posPaths: _*),
        IcebergTable.pathKey, byFile.keySet)
        .foreach { case (k, bm) => byFile(k).union(bm) }
    }
    // the manifest references data files by their manifest file_path
    val keyToManifestPath = affected.map(p => IcebergTable.pathKey(p) -> p).toMap

    val seq = currentMeta.lastSequenceNumber + 1
    val snapId = seq * 31L + 1000L // matches commit()'s derivation
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val puffinPath = new Path(root, s"data/dv-$nonce.puffin")
    val ordered = byFile.toSeq.sortBy(_._1)
    val blobMetas = Puffin.write(conf, puffinPath,
      ordered.map { case (k, bm) =>
        (Puffin.DvBlobType, Seq.empty[Int], snapId, seq,
          Map("referenced-data-file" -> keyToManifestPath.getOrElse(k, k),
            "cardinality" -> bm.cardinality.toString),
          Puffin.dvBlobBytes(bm))
      })
    val puffinLen = fs.getFileStatus(puffinPath).getLen
    ordered.zip(blobMetas).map { case ((k, bm), meta) =>
      fileEntry(puffinPath, content = 1, bm.cardinality, puffinLen,
        Map.empty, Map.empty, Map.empty, Nil)
        .copy(fileFormat = "PUFFIN",
          referencedDataFile = Some(keyToManifestPath.getOrElse(k, k)),
          contentOffset = Some(meta.offset),
          contentSizeInBytes = Some(meta.length))
    }
  }

  /** SQL UPDATE lowered to ONE MoR snapshot: deletion-vector masks for
    * the matched rows (no data-file rewrite) + new data files holding
    * their rewritten images — delete and data manifests under a single
    * `overwrite` commit, Iceberg's own row-delta shape. Write
    * amplification is O(matched rows). Nondeterministic expressions are
    * rejected loudly: the DV build and the rewrite run as separate reads
    * and could disagree on the matched row set. */
  /** Enable v3 ROW LINEAGE (r15): the table starts tracking
    * `next-row-id`; every subsequent append assigns per-file
    * `first_row_id` and readers serve `_row_id` /
    * `_last_updated_sequence_number` by inheritance
    * ([[IcebergTable.scanWithLineage]]). Bumps format-version to 3
    * (lineage fields are v3). Call before the first append — enabling
    * later would leave earlier files without ids (loud-reject). */
  def enableRowLineage(): Long = {
    require(currentMeta.currentSnapshotId.isEmpty,
      "iceberg: row lineage must be enabled BEFORE the first commit — " +
        "earlier snapshots' files have no row ids to inherit")
    writeMetadata(currentMeta.copy(
      formatVersion = math.max(3, currentMeta.formatVersion), nextRowId = Some(0L)))
    currentMeta.nextRowId.get
  }

  /** Ops that REWRITE surviving rows into new files must carry each
    * row's existing `_row_id` into the rewritten file (materialized
    * lineage columns) to keep lineage intact. [[compact]] does exactly
    * that (r16: values unchanged — a rewrite modifies no row).
    * [[updateWhere]] / [[upsertKeys]] CHANGE rows (r16b): changed rows
    * carry their `_row_id` with a NULL materialized
    * `_last_updated_sequence_number` — the v3 null-fallback rule makes
    * readers inherit the file's data sequence, i.e. exactly the
    * committing snapshot's sequence, without the writer having to know
    * it pre-commit (a CAS retry would re-sequence the commit; a baked
    * value would go stale). Upsert's fresh inserts land in SEPARATE
    * files that take new ids through the normal first_row_id cursor. */
  def updateWhere(cond: Column, set: Map[String, Column]): Long = {
    val sch = curSchema
    val colNames = sch.fields.map(_.name).toSet
    require(set.keySet.subsetOf(colNames),
      s"iceberg: unknown update columns ${set.keySet -- colNames}")
    val deterministic =
      org.apache.spark.sql.graftshim.ColumnExpr.expression(cond).deterministic &&
        set.values.forall(c =>
          org.apache.spark.sql.graftshim.ColumnExpr.expression(c).deterministic)
    require(deterministic,
      "iceberg: updateWhere needs deterministic condition and SET expressions " +
        "(the DV mask and the rewrite are built from separate reads)")
    val t = IcebergTable.load(spark, location)
    val dvEntries = dvDeleteEntries(cond, requireMatch = false)
    if (dvEntries.isEmpty) // zero matches: SQL no-op
      return currentMeta.currentSnapshotId.getOrElse(-1L)
    val lineageOn = currentMeta.nextRowId.isDefined
    // live rows only — prior deletes honored; on a lineage table the
    // scan carries each matched row's _row_id for the rewrite
    val hit = if (lineageOn) t.scanWithLineage(Some(cond)) else t.scan(Some(cond))
    // ONE simultaneous select — SQL UPDATE semantics: every assignment
    // reads the OLD row, so `SET a = b, b = 0` gets the pre-update b. A
    // sequential withColumn fold would feed one assignment's result into
    // the next in Map-iteration order (GraftTable.update documents the
    // same hazard).
    val dataCols = sch.fields.map(f =>
      set.get(f.name).map(_.as(f.name)).getOrElse(col(f.name)))
    val updated =
      if (!lineageOn) hit.select(dataCols: _*)
      // carried _row_id + NULL last-updated: the v3 null-fallback rule
      // serves the file's data sequence = this commit's sequence (the
      // rows ARE being updated now)
      else hit.select(dataCols ++ Seq(col("_row_id"),
        lit(null).cast(LongType).as("_last_updated_sequence_number")): _*)
    commitManifests("overwrite",
      Seq("deletes" -> dvEntries,
        "data" -> writeDataFiles(updated, materializedLineage = lineageOn)),
      materializedGroups = if (lineageOn) Set(1) else Set.empty)
  }

  /** SQL MERGE's keyed upsert as ONE native snapshot: an equality-delete
    * file retiring the source's keys + data files adding its current
    * rows. Same-sequence data files are exempt from the equality delete
    * (v2 sequence rules apply deletes strictly below their sequence), so
    * the single `overwrite` commit is atomic and self-consistent — the
    * row-delta shape Iceberg's own MERGE engines produce. */
  def upsertKeys(source: DataFrame, keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "iceberg: upsertKeys needs key columns")
    val sch = curSchema
    val ids = keyCols.map(n => sch.fields.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"iceberg: merge key $n not in schema")).id)
    val src = source.select(sch.fields.map(f => col(f.name)): _*)
    val delEntries = writeParquet(
        src.select(keyCols.map(col): _*).distinct(), "delete-eq")
      .map { case (p, rows, bytes) =>
        fileEntry(p, content = 2, rows, bytes, Map.empty, Map.empty, Map.empty, ids) }
    if (currentMeta.nextRowId.isEmpty) {
      val dataEntries = writeDataFiles(src)
      if (delEntries.isEmpty && dataEntries.isEmpty) // empty source: no-op
        return currentMeta.currentSnapshotId.getOrElse(-1L)
      return commitManifests("overwrite",
        Seq("deletes" -> delEntries, "data" -> dataEntries))
    }
    // ROW-LINEAGE upsert (r16b): a keyed MERGE's updated rows keep the
    // matched target row's _row_id (an update modifies, never re-mints);
    // inserted rows take fresh ids. The split rides ONE key join against
    // the target's (key → _row_id) projection; matched rows land in
    // materialized-lineage files (NULL last-updated → readers inherit
    // this commit's sequence), inserts in plain files that the commit
    // cursor assigns first_row_id to — next-row-id advances by exactly
    // the insert count.
    val t = IcebergTable.load(spark, location)
    val tgtKeys = t.scanWithLineage()
      .groupBy(keyCols.map(col): _*)
      .agg(min(col("_row_id")).as("__graft_rid"),
        count(lit(1)).as("__graft_n"))
    // one evaluation of the join feeds the cardinality check and both
    // writes (batch-sized; also pins a nondeterministic source)
    val joined = src.join(tgtKeys, keyCols, "left").localCheckpoint()
    val dup = joined.filter(col("__graft_n") > 1L).limit(1)
      .select(keyCols.map(col): _*).collect()
    require(dup.isEmpty,
      s"iceberg: upsertKeys on a row-lineage table needs unique key rows " +
        s"in the target — key ${dup.headOption.getOrElse("")} matches " +
        "multiple live rows, so the carried _row_id would be ambiguous; " +
        "dedup the target first (e.g. a keyed delete) or drop lineage")
    val matched = joined.filter(col("__graft_rid").isNotNull)
      .select(sch.fields.map(f => col(f.name)) ++ Seq(
        col("__graft_rid").as("_row_id"),
        lit(null).cast(LongType).as("_last_updated_sequence_number")): _*)
    val fresh = joined.filter(col("__graft_rid").isNull)
      .select(sch.fields.map(f => col(f.name)): _*)
    val matchedEntries = writeDataFiles(matched, materializedLineage = true)
    val freshEntries = writeDataFiles(fresh)
    if (delEntries.isEmpty && matchedEntries.isEmpty && freshEntries.isEmpty)
      return currentMeta.currentSnapshotId.getOrElse(-1L)
    commitManifests("overwrite",
      Seq("deletes" -> delEntries, "data" -> matchedEntries,
        "data" -> freshEntries),
      materializedGroups = Set(1))
  }

  /** Metadata-only rename: a NEW schema-id with the same field ids — data
    * files written before it resolve by id (the interop case the reader's
    * schema-id header path exists for). */
  def renameColumn(from: String, to: String): Unit = {
    val sch = curSchema
    require(sch.fields.exists(_.name == from), s"iceberg: no column $from")
    require(!sch.fields.exists(_.name == to), s"iceberg: column $to already exists")
    val next = IceSchema(currentMeta.schemas.map(_.schemaId).max + 1,
      sch.fields.map(f => if (f.name == from) f.copy(name = to) else f))
    writeMetadata(currentMeta.copy(
      schemas = currentMeta.schemas :+ next, currentSchemaId = next.schemaId))
  }

  /** ROLLBACK (Iceberg's `rollback_to_snapshot`): points the table back
    * at an ancestor snapshot as a NEW metadata version — the snapshot
    * list, data files, and history all stay (undone snapshots remain
    * time-travelable); only current-snapshot-id and the main branch ref
    * move, with a snapshot-log entry recording the rewind. The target
    * must be an ancestor of the current snapshot (Iceberg's own rule —
    * rolling "back" to a side branch would silently fork state).
    * Metadata-only: no data IO. */
  def rollbackTo(snapshotId: Long): Unit = {
    require(currentMeta.snapshots.exists(_.id == snapshotId),
      s"iceberg: snapshot $snapshotId not in metadata")
    var cur = currentMeta.snapshots.find(_.id == currentSnapshotId)
    var isAncestor = false
    while (cur.isDefined && !isAncestor) {
      if (cur.get.id == snapshotId) isAncestor = true
      else cur = cur.get.parentId
        .flatMap(pid => currentMeta.snapshots.find(_.id == pid))
    }
    require(isAncestor,
      s"iceberg: snapshot $snapshotId is not an ancestor of " +
        s"$currentSnapshotId — rollback cannot fork onto a side branch")
    val ts = { val now = System.currentTimeMillis(); lastTs = math.max(now, lastTs + 1); lastTs }
    // the writer's accumulated manifest-list state rewinds too — the
    // next commit must build on the TARGET's manifests, not the undone
    // snapshot's
    writeMetadata(currentMeta.copy(
      currentSnapshotId = Some(snapshotId),
      snapshotLog = currentMeta.snapshotLog :+ ((ts, snapshotId)),
      refs = currentMeta.refs + ("main" -> IceRef(snapshotId, "branch"))),
      IcebergAvro.readManifestListWithRows(conf,
        new Path(currentMeta.snapshot(snapshotId).manifestList)))
  }

  /** COMPACTION as a `replace` snapshot (Iceberg's rewrite_data_files
    * shape, deletes folded): the live table — position/equality/DV
    * deletes applied — is rewritten as fresh size-managed data files,
    * and the new snapshot's manifest list carries ONLY them, so scans
    * stop paying every delete application. Content is unchanged by
    * construction; incremental append scans SKIP `replace` snapshots
    * per Iceberg's own semantics, so change consumers see nothing. */
  def compact(): Long = {
    if (currentMeta.currentSnapshotId.isEmpty) return -1L // nothing to rewrite
    val t = IcebergTable.load(spark, location)
    // the replace snapshot references only the rewrite (empty base list)
    if (currentMeta.nextRowId.isDefined) {
      // ROW-LINEAGE compaction (r16, verdict #4 — supersedes the loud
      // reject): the v3 rewrite contract says a rewriter must carry
      // each surviving row's _row_id / _last_updated_sequence_number
      // into the new files as MATERIALIZED columns (reserved field
      // ids); the rewritten entries keep first_row_id null so readers
      // serve the columns, and next-row-id does not advance (no new
      // rows are minted by a rewrite).
      val entries = writeDataFiles(t.scanWithLineage(),
        materializedLineage = true)
      commitManifests("replace", Seq("data" -> entries),
        materializedGroups = Set(0), baseList = Nil)
    } else {
      val entries = writeDataFiles(t.scan())
      commitManifests("replace", Seq("data" -> entries), baseList = Nil)
    }
  }

  /** REWRITE MANIFESTS (Iceberg's rewrite_manifests) — METADATA-ONLY
    * maintenance: every commit appends one manifest to the list, so a
    * steady-state mirror's planning walk grows O(commits); this
    * consolidates the live manifests into ceil(entries/target) fresh
    * ones without touching a single data or delete file. Entries are
    * carried as EXISTING (status 0) with their INHERITED snapshot id
    * and sequence number made EXPLICIT — mandatory, since inheritance
    * only flows from the manifest that ADDED an entry (the reader
    * defaults a null-seq EXISTING entry to 0, per spec), and the v2
    * delete-applicability rules compare those per-entry seqs. Commits
    * a `replace` snapshot: content bit-identical, incremental append
    * consumers skip it. Returns the new snapshot id, or -1 when there
    * is nothing to consolidate. */
  def rewriteManifests(targetEntries: Int = 100000): Long = {
    if (currentMeta.currentSnapshotId.isEmpty || listState.size <= 1) return -1L
    def resolve(p: String): Path = {
      val hasScheme = p.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:.*")
      if (hasScheme || p.startsWith("/")) new Path(p) else new Path(root, p)
    }
    // partition-evolved tables: manifests are spec-scoped (their entries'
    // partition tuples follow THEIR spec), so only current-spec manifests
    // consolidate — older-spec ones carry through untouched, exactly as
    // Iceberg's rewrite_manifests groups by spec. SCHEMA-scoped too: the
    // consolidated manifest is headed with the CURRENT schema id, and the
    // reader resolves each entry's parquet columns by its manifest's
    // write-schema NAMES (the rename path) — folding an older-schema
    // manifest under the current header would silently null renamed
    // columns, so those manifests also carry through untouched.
    val loaded = listState.map { case (le, rows) =>
      (le, rows, IcebergAvro.readManifest(conf, resolve(le.path)))
    }
    val (rewritable, keepL) = loaded.partition { case (le, _, (hdr, _)) =>
      le.specId == curSpec.specId && hdr.schemaId.forall(_ == curSchema.schemaId)
    }
    if (rewritable.size <= 1) return -1L
    val carried = rewritable.flatMap { case (le, _, (_, entries)) =>
      entries
        .filter(_.status != 2) // DELETED entries are not live
        .map { e =>
          (e.copy(status = 0,
            snapshotId = Some(e.snapshotId.getOrElse(le.addedSnapshotId)),
            sequenceNumber = Some(e.sequenceNumber.getOrElse(
              if (e.status == 1) le.sequenceNumber else 0L))),
            le.content == 1)
        }
    }
    val (del, data) = carried.partition(_._2)
    val groups =
      data.map(_._1).grouped(math.max(1, targetEntries)).map("data" -> _).toSeq ++
        del.map(_._1).grouped(math.max(1, targetEntries)).map("deletes" -> _).toSeq
    commitManifests("replace", groups,
      baseList = keepL.map { case (le, rows, _) => (le, rows) })
  }

  /** ADD FILES (Iceberg's add_files procedure): registers the plain
    * parquet files under `srcDir` — hive `col=value` layout for the
    * current spec's identity partitions — into THIS table as one append
    * snapshot, referencing them IN PLACE (absolute paths; nothing moves
    * or rewrites; O(files) footer reads lift per-file bounds). The
    * incremental estate-onboarding path: adopt() bootstraps a table over
    * one directory, addFiles() keeps absorbing further directories.
    * Already-referenced files reject loudly (the procedure's
    * check_duplicate_files posture — double-registering a file would
    * double its rows). */
  def addFiles(srcDir: String): Long = {
    val src = new Path(srcDir)
    require(fs.exists(src), s"iceberg add_files: no such directory $srcDir")
    val referenced = IcebergTable.load(spark, location).planFiles()
      .map(IcebergTable.pathKey).toSet
    val dup = ParquetStats.listParquet(fs, src).map(p =>
      IcebergTable.pathKey(fs.makeQualified(p).toString)).filter(referenced)
    require(dup.isEmpty,
      s"iceberg add_files: ${dup.size} file(s) already referenced by the " +
        s"table (first: ${dup.head}) — double-registering duplicates rows")
    adoptDataFiles(src)
  }

  /** ADOPT the plain parquet files under `srcRoot` as one append
    * snapshot — the data-file half of [[IcebergWriter.adopt]] and
    * [[addFiles]]: identity partition values parsed from the hive
    * `col=value` dirs, per-file bounds lifted from parquet footers,
    * files referenced IN PLACE (absolute paths; nothing moves). */
  private def adoptDataFiles(srcRoot: Path = root): Long = {
    val sch = curSchema
    val spec = curSpec
    val files = ParquetStats.listParquet(fs, srcRoot).filterNot(p =>
      HivePartitionedRead.relDir(srcRoot, p).split("/").headOption.contains("metadata"))
    require(files.nonEmpty, s"iceberg adopt: no parquet files under $srcRoot")
    // one DISTRIBUTED footer job over the estate (Iceberg's own
    // add_files runs the stat collection as a Spark job too) — never a
    // sequential per-file driver walk
    val footers = ParquetStats.readFooters(spark, files)
    val entries = files.map { p =>
      val dirs = HivePartitionedRead.segments(HivePartitionedRead.relDir(srcRoot, p)).toMap
      val partVals: Map[String, Any] = spec.fields.map { pf =>
        val v = dirs.getOrElse(pf.name, throw new IllegalArgumentException(
          s"iceberg adopt: $p lacks a hive dir for partition column ${pf.name}"))
        pf.name -> partValue(v, sch.byId(pf.sourceId).dataType, epochDays = false)
      }.toMap
      val footer = footers(p.toString)
      val (lower, upper, nulls) = bounds(sch, footer)
      fileEntry(p, content = 0, footer.rows, footer.size,
        partVals, lower, upper, Nil, nulls)
    }
    commitManifests("append", Seq("data" -> entries))
  }

  /** EXPIRE SNAPSHOTS + file GC (Iceberg's expire_snapshots): keeps
    * the newest `keepLast` snapshots on the CURRENT ancestry plus every
    * ref/tag target, drops the rest from metadata, then deletes files
    * referenced ONLY by dropped snapshots — manifest lists, manifests
    * and content files alike. Time travel to kept snapshots is
    * untouched; expired ids fail loudly at read, which is the point.
    * Returns (snapshots dropped, files deleted). */
  def expireSnapshots(keepLast: Int = 1): (Int, Int) = {
    require(keepLast >= 1, "iceberg: expireSnapshots needs keepLast >= 1")
    val all = currentMeta.snapshots
    val byId = all.map(s => s.id -> s).toMap
    val ancestry = scala.collection.mutable.ArrayBuffer[Long]()
    var cur = currentMeta.currentSnapshotId
    while (cur.isDefined) {
      ancestry += cur.get
      cur = byId.get(cur.get).flatMap(_.parentId)
    }
    val keepIds = (ancestry.take(keepLast) ++
      currentMeta.refs.values.map(_.snapshotId)).toSet
    val dropped = all.filterNot(s => keepIds(s.id))
    if (dropped.isEmpty) return (0, 0)

    def resolve(p: String): Path = {
      val hasScheme = p.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:.*")
      if (hasScheme || p.startsWith("/")) new Path(p) else new Path(root, p)
    }
    def referenced(s: IceSnapshot): Set[String] = {
      val lst = resolve(s.manifestList)
      val les = IcebergAvro.readManifestList(conf, lst)
      (Seq(fs.makeQualified(lst).toString) ++
        les.flatMap { le =>
          val mp = resolve(le.path)
          fs.makeQualified(mp).toString +:
            IcebergAvro.readManifest(conf, mp)._2.map(en =>
              fs.makeQualified(resolve(en.filePath)).toString)
        }).toSet
    }
    val kept = all.filter(s => keepIds(s.id)).flatMap(referenced).toSet
    val doomed = dropped.flatMap(referenced).toSet -- kept
    // COMMIT FIRST, delete after (Iceberg's own expire order): deleting
    // before the commit point means a crash — or a lost catalog CAS on
    // an arbitrated/REST table — leaves the still-current metadata
    // advertising snapshots whose manifest lists are gone. After a
    // successful commit the dropped files are unreferenced by ANY
    // retained metadata, so a crash mid-delete only strands orphans
    // (cleaned by the next expire/vacuum), never breaks a reader.
    writeMetadata(currentMeta.copy(
      snapshots = all.filter(s => keepIds(s.id)),
      snapshotLog = currentMeta.snapshotLog.filter {
        case (_, id) => keepIds(id) }))
    doomed.foreach(p => fs.delete(new Path(p), false))
    (dropped.size, doomed.size)
  }

  def tag(name: String, snapshotId: Long): Unit = {
    currentMeta.snapshot(snapshotId) // must exist
    writeMetadata(currentMeta.copy(
      refs = currentMeta.refs + (name -> IceRef(snapshotId, "tag"))))
  }

  // ---- data-file writing ---------------------------------------------------

  /** Derived partition Column for a transform (write path). Bucket is
    * graft's native codegen [[graft.expressions.IcebergBucket]] — the
    * spec's murmur3 seed-0 hash (Spark's `hash()` computes a DIFFERENT
    * function, seed 42) without the per-row boxing a Scala UDF would put
    * on the data-write hot path. */
  private def transformColumn(pf: IcePartField): Column = {
    val src = curSchema.byId(pf.sourceId)
    val c = col(src.name)
    pf.transform match {
      case "identity" => c
      case "day" => src.dataType match {
        case DateType => unix_date(c)
        case _ => floor(unix_micros(c).cast("double") / lit(86400e6)).cast("int")
      }
      case t if t.startsWith("truncate[") =>
        val w = t.stripPrefix("truncate[").stripSuffix("]").toInt
        src.dataType match {
          case StringType => substring(c, 1, w)
          case _ => (c.cast("long") - pmod(c.cast("long"), lit(w.toLong))).cast(src.dataType)
        }
      case t if t.startsWith("bucket[") =>
        val n = t.stripPrefix("bucket[").stripSuffix("]").toInt
        src.dataType match {
          case IntegerType | LongType | StringType | DateType =>
            org.apache.spark.sql.graftshim.ColumnExpr.column(
              graft.expressions.IcebergBucket(
                org.apache.spark.sql.graftshim.ColumnExpr.expression(c), n))
          case other => throw new IllegalArgumentException(
            s"iceberg writer: bucket over $other unsupported")
        }
      case other => throw new IllegalArgumentException(
        s"iceberg writer: unsupported transform $other")
    }
  }

  /** Writes `df` as parquet under data/ (hive-derived dirs when
    * partitioned; data files keep EVERY table column) and returns manifest
    * entries with footer-derived bounds. */
  private def writeDataFiles(df: DataFrame,
      materializedLineage: Boolean = false): Seq[IcebergAvro.ManifestEntry] = {
    val sch = curSchema
    val spec = curSpec
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    // parquet field ids make the files resolvable by id for OTHER readers
    // (materialized lineage columns use the v3 spec's RESERVED ids)
    val lineageCols =
      if (!materializedLineage) Nil
      else Seq("_row_id" -> 2147483540L,
        "_last_updated_sequence_number" -> 2147483539L).map { case (n, id) =>
        val md = new MetadataBuilder().putLong("parquet.field.id", id).build()
        col(n).as(n, md)
      }
    val withIds = df.select(sch.fields.map { f =>
      val md = new MetadataBuilder().putLong("parquet.field.id", f.id.toLong).build()
      col(f.name).as(f.name, md)
    } ++ lineageCols: _*)
    val derived = spec.fields.zipWithIndex.map { case (pf, i) => (s"__icep_$i", pf) }
    val staged = derived.foldLeft(withIds) { case (d, (n, pf)) =>
      d.withColumn(n, transformColumn(pf))
    }
    // INT64 micros, not INT96 (CommitIo.stage): the Iceberg spec REQUIRES
    // int64 micros for timestamp columns (and INT96 carries no footer stats)
    graft.lake.CommitIo.stage(spark, root) { tmp =>
      val writer = staged.write.mode("overwrite")
      (if (derived.nonEmpty) writer.partitionBy(derived.map(_._1): _*) else writer)
        .parquet(tmp.toString)
    } { (rel, i) =>
      new Path(root, if (rel.isEmpty) f"data/$nonce-$i%05d.parquet"
        else f"data/$rel/$nonce-$i%05d.parquet")
    }.map { case (dest, rel, footer) =>
      // hive dirs of the derived columns → typed partition values
      val dirs = HivePartitionedRead.segments(rel).toMap
      val partVals: Map[String, Any] = derived.map { case (n, pf) =>
        pf.name -> partValue(dirs.getOrElse(n, None), IcebergTransforms.resultType(
          pf.transform, sch.byId(pf.sourceId).dataType), epochDays = true)
      }.toMap
      val (lower, upper, nulls) = bounds(sch, footer)
      fileEntry(dest, content = 0, footer.rows, footer.size,
        partVals, lower, upper, Nil, nulls)
    }
  }

  /** Typed partition value of a decoded hive dir value (None = null).
    * Day-transform dirs hold the epoch-day int (`epochDays`); identity
    * date dirs hold yyyy-MM-dd. */
  private def partValue(v: Option[String], dt: DataType, epochDays: Boolean): Any =
    v match {
      case None => null
      case Some(raw) => dt match {
        case IntegerType => raw.toInt
        case LongType => raw.toLong
        case StringType => raw
        case BooleanType => raw.toBoolean
        case DateType =>
          (if (epochDays) raw.toIntOption else None)
            .getOrElse(java.time.LocalDate.parse(raw).toEpochDay.toInt)
        case other => throw new IllegalArgumentException(
          s"iceberg: unsupported partition value type $other")
      }
    }

  /** Per-field-id lower/upper bounds and null counts from a footer. */
  private def bounds(sch: IceSchema, footer: ParquetStats.FileFooter)
      : (Map[Int, Array[Byte]], Map[Int, Array[Byte]], Map[Int, Long]) = {
    val lower = scala.collection.mutable.Map[Int, Array[Byte]]()
    val upper = scala.collection.mutable.Map[Int, Array[Byte]]()
    val nulls = scala.collection.mutable.Map[Int, Long]()
    sch.fields.foreach { f =>
      footer.nulls.get(f.name).foreach(nulls(f.id) = _)
      footer.stats.get(f.name).foreach { st =>
        for {
          lo <- IcebergMeta.encodeBound(f.typeStr, st.min)
          hi <- IcebergMeta.encodeBound(f.typeStr, st.max)
        } { lower(f.id) = lo; upper(f.id) = hi }
      }
    }
    (lower.toMap, upper.toMap, nulls.toMap)
  }

  /** Plain parquet write of an auxiliary (delete) file set. Returns
    * (path, rows, bytes) per produced file. */
  private def writeParquet(df: DataFrame, kind: String): Seq[(Path, Long, Long)] = {
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    graft.lake.CommitIo.stage(spark, root) { tmp =>
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    } { (_, i) => new Path(root, f"data/$kind-$nonce-$i%05d.parquet")
    }.map { case (dest, _, footer) => (dest, footer.rows, footer.size) }
  }

  private def fileEntry(p: Path, content: Int, rows: Long, bytes: Long,
      partVals: Map[String, Any],
      lower: Map[Int, Array[Byte]], upper: Map[Int, Array[Byte]],
      equalityIds: Seq[Int],
      nulls: Map[Int, Long] = Map.empty): IcebergAvro.ManifestEntry =
    IcebergAvro.ManifestEntry(
      status = 1, snapshotId = None,
      sequenceNumber = None, // null → INHERITED from the manifest-list entry
      content = content,
      filePath = fs.makeQualified(p).toString,
      fileFormat = "PARQUET",
      partition = partVals,
      recordCount = rows, fileSizeBytes = bytes,
      nullCounts = nulls, nanCounts = Map.empty,
      lowerBounds = lower, upperBounds = upper,
      equalityIds = equalityIds)

  private def commit(operation: String, manifestContent: String,
      entries: Seq[IcebergAvro.ManifestEntry],
      summaryExtras: Map[String, String] = Map.empty): Long =
    commitManifests(operation, Seq(manifestContent -> entries), summaryExtras)

  /** One native snapshot carrying one manifest PER (content, entries)
    * group — what lets a row-level statement (SQL UPDATE / MERGE) land
    * its delete files AND its data files atomically in a single commit,
    * the same row-delta shape Iceberg's own engines produce (delete
    * manifests and data manifests share the commit's sequence number;
    * v2 rules make same-sequence data files invisible to the equality
    * deletes, so the commit is self-consistent). Empty groups write no
    * manifest. `baseList` is the manifest list the new one extends
    * (empty for a `replace`). Deletion-vector (puffin) entries bump the
    * table to format-version 3. */
  private def commitManifests(operation: String,
      groups: Seq[(String, Seq[IcebergAvro.ManifestEntry])],
      summaryExtras: Map[String, String] = Map.empty,
      materializedGroups: Set[Int] = Set.empty,
      baseList: Seq[(IcebergAvro.ManifestFileEntry, (Long, Long, Long))] = listState): Long = {
    val formatVersion =
      if (groups.exists(_._2.exists(_.fileFormat == "PUFFIN")))
        math.max(3, currentMeta.formatVersion)
      else currentMeta.formatVersion
    var list = baseList
    val seq = currentMeta.lastSequenceNumber + 1
    val snapId = seq * 31L + 1000L // deliberately != seq: catches id/seq mix-ups
    // per-ATTEMPT nonce in manifest/list names: two racing writers opened
    // at the same state derive the same snapId, and a deterministic name
    // would let the CAS LOSER's staged avro overwrite the winner's
    // committed one (the metadata.json race, one level down — caught by
    // IcebergExportSpec's arbitration test). Spec imposes no naming
    // scheme here; files are referenced by absolute path.
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val ts = { val now = System.currentTimeMillis(); lastTs = math.max(now, lastTs + 1); lastTs }
    val sch = curSchema
    val spec = curSpec

    // manifest avro
    val partFields = spec.fields.map { pf =>
      val src = sch.byId(pf.sourceId)
      val avroType = IcebergTransforms.resultType(pf.transform, src.dataType) match {
        case IntegerType => "int"
        case LongType => "long"
        case StringType => "string"
        case BooleanType => "boolean"
        case DateType => "date"
        case other => throw new IllegalArgumentException(
          s"iceberg writer: unsupported partition value type $other")
      }
      (pf.name, avroType, pf.fieldId)
    }
    val mSchema = IcebergAvro.manifestSchema(partFields)
    val dataFileSchema = mSchema.getField("data_file").schema()
    val partSchema = dataFileSchema.getField("partition").schema()

    // v3 ROW LINEAGE assignment (r15): when the table tracks lineage
    // (next-row-id present), every ADDED data file gets an explicit
    // first_row_id from the running cursor — rows then read
    // `_row_id = first_row_id + position` by inheritance. EXISTING
    // entries (manifest rewrites) keep their recorded first_row_id, so
    // compaction-free maintenance preserves ids for free.
    val lineageBase = currentMeta.nextRowId
    var rowIdCursor = lineageBase.getOrElse(0L)
    val groupsAssigned = lineageBase match {
      case None => groups
      case Some(_) => groups.zipWithIndex.map { case ((content, entries), gi) =>
        // materialized-lineage groups (r16 rewrites, r16b updates): the
        // ids ride IN those files (v3 rewrite contract) — first_row_id
        // stays null so readers serve the columns, and the cursor must
        // NOT advance for them (no new rows minted). Other data groups
        // in the SAME commit (upsert's fresh inserts) still take cursor
        // ids — next-row-id advances by exactly their row count.
        if (materializedGroups(gi)) content -> entries
        else content -> entries.map { e =>
          if (e.content == 0 && e.status == 1 && e.firstRowId.isEmpty) {
            val assigned = e.copy(firstRowId = Some(rowIdCursor))
            rowIdCursor += e.recordCount
            assigned
          } else e
        }
      }
    }
    for (((manifestContent, entries), gi) <- groupsAssigned.zipWithIndex if entries.nonEmpty) {
    val records = entries.map { e =>
      val r = new org.apache.avro.generic.GenericData.Record(mSchema)
      r.put("status", e.status)
      r.put("snapshot_id", e.snapshotId.map(Long.box).orNull)
      r.put("sequence_number", e.sequenceNumber.map(Long.box).orNull)
      r.put("file_sequence_number", null)
      val df = new org.apache.avro.generic.GenericData.Record(dataFileSchema)
      df.put("content", e.content)
      df.put("file_path", e.filePath)
      df.put("file_format", e.fileFormat)
      val pr = new org.apache.avro.generic.GenericData.Record(partSchema)
      e.partition.foreach { case (k, v) => pr.put(k, v) }
      df.put("partition", pr)
      df.put("record_count", e.recordCount)
      df.put("file_size_in_bytes", e.fileSizeBytes)
      df.put("null_value_counts", kvRecords(mSchema, "null_value_counts", "k121_v122",
        e.nullCounts.map { case (k, v) => k -> Long.box(v) }))
      df.put("lower_bounds", kvRecords(mSchema, "lower_bounds", "k126_v127",
        e.lowerBounds.map { case (k, v) => k -> java.nio.ByteBuffer.wrap(v) }))
      df.put("upper_bounds", kvRecords(mSchema, "upper_bounds", "k129_v130",
        e.upperBounds.map { case (k, v) => k -> java.nio.ByteBuffer.wrap(v) }))
      df.put("equality_ids",
        if (e.equalityIds.isEmpty) null
        else { val l = new java.util.ArrayList[Integer](); e.equalityIds.foreach(l.add(_)); l })
      df.put("referenced_data_file", e.referencedDataFile.orNull)
      df.put("content_offset", e.contentOffset.map(Long.box).orNull)
      df.put("content_size_in_bytes", e.contentSizeInBytes.map(Long.box).orNull)
      df.put("first_row_id", e.firstRowId.map(Long.box).orNull)
      r.put("data_file", df)
      r
    }
    val mPath = new Path(root, s"metadata/mf-$snapId-$nonce-m$gi.avro")
    val mLen = IcebergAvro.writeAvro(conf, mPath, mSchema, Map(
      "schema" -> IcebergMeta.renderSchemaJson(sch),
      "schema-id" -> sch.schemaId.toString,
      "partition-spec" -> IcebergMeta.renderSpecFieldsJson(spec),
      "partition-spec-id" -> spec.specId.toString,
      "format-version" -> formatVersion.toString,
      "content" -> manifestContent), records)

    // field summaries over this manifest's entries (identity fields only)
    val summaries = spec.fields.map { pf =>
      val src = sch.byId(pf.sourceId)
      val vals = entries.flatMap(_.partition.get(pf.name))
      val nonNull = vals.filter(_ != null)
      val bounds: Option[(Array[Byte], Array[Byte])] =
        if (nonNull.isEmpty) None
        else {
          val typeStr = IcebergMeta.typeString(
            IcebergTransforms.resultType(pf.transform, src.dataType))
          def enc(v: Any) = IcebergMeta.encodeBound(typeStr, v.toString)
          val sorted = nonNull.sortWith((a, b) => lt(a, b))
          for (lo <- enc(sorted.head); hi <- enc(sorted.last)) yield (lo, hi)
        }
      IcebergAvro.FieldSummary(
        containsNull = vals.contains(null) || vals.size < entries.size,
        containsNan = Some(false),
        lowerBound = bounds.map(_._1), upperBound = bounds.map(_._2))
    }

    // status-aware list counts: appends mint ADDED (status 1) entries;
    // rewriteManifests carries EXISTING (status 0) ones — and its
    // entries' explicit inherited seqs must pull min_sequence_number
    // DOWN, or a conformant reader could prune old delete manifests
    // out of applicability
    val newEntry = IcebergAvro.ManifestFileEntry(
      fs.makeQualified(mPath).toString, mLen, spec.specId,
      content = if (manifestContent == "deletes") 1 else 0,
      sequenceNumber = seq,
      minSequenceNumber = (entries.flatMap(_.sequenceNumber) :+ seq).min,
      addedSnapshotId = snapId,
      addedFiles = entries.count(_.status == 1),
      existingFiles = entries.count(_.status == 0), deletedFiles = 0,
      partitions = summaries,
      // lineage tables record the manifest's inheritance base too
      // (entries carry explicit ids; the base serves list-only readers)
      firstRowId = entries.filter(e => e.content == 0 && e.status == 1)
        .flatMap(_.firstRowId).minOption)
    val rows = (s: Int) =>
      entries.filter(_.status == s).map(_.recordCount).sum
    list = list :+ (newEntry, (rows(1), rows(0), 0L))
    } // per-group manifest loop

    val listPath = new Path(root, s"metadata/snap-$snapId-$nonce.avro")
    IcebergAvro.writeAvro(conf, listPath, IcebergAvro.ManifestListSchema,
      Map("format-version" -> formatVersion.toString),
      list.map { case (e, rc) => IcebergAvro.manifestListRecord(e, rc) })

    writeMetadata(currentMeta.copy(
      formatVersion = formatVersion,
      lastSequenceNumber = seq,
      currentSnapshotId = Some(snapId),
      snapshots = currentMeta.snapshots :+ IceSnapshot(
        snapId, currentMeta.currentSnapshotId, seq, ts,
        fs.makeQualified(listPath).toString, operation, Some(sch.schemaId),
        summaryExtras = summaryExtras,
        firstRowId = lineageBase),
      snapshotLog = currentMeta.snapshotLog :+ (ts, snapId),
      refs = currentMeta.refs + ("main" -> IceRef(snapId, "branch")),
      nextRowId = lineageBase.map(_ => rowIdCursor)), list)
    snapId
  }

  /** Sort partition values for summary bounds (same-type values only). */
  private def lt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Int, y: Int) => x < y
    case (x: Long, y: Long) => x < y
    case (x: String, y: String) => x < y
    case _ => false
  }

  private def kvRecords(mSchema: org.apache.avro.Schema, field: String,
      recName: String, m: Map[Int, AnyRef]): AnyRef = {
    if (m.isEmpty) return null
    val dataFile = mSchema.getField("data_file").schema()
    val arr = dataFile.getField(field).schema().getTypes.get(1) // ["null", array]
    val item = arr.getElementType
    val out = new java.util.ArrayList[org.apache.avro.generic.GenericRecord]()
    m.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val r = new org.apache.avro.generic.GenericData.Record(item)
      r.put("key", k); r.put("value", v)
      out.add(r)
    }
    out
  }

  /** Publishes `next` (with manifest-list state `nextList`) as the next
    * metadata version and only then makes both this writer's state: a
    * lost race or failed write leaves the writer at what is on disk, so
    * a retry on a stale writer loses again instead of stacking on its
    * own unpublished snapshot. Once the publish returns the commit is
    * made, so nothing after it may fail the op. */
  private def writeMetadata(next: IceMeta,
      nextList: Seq[(IcebergAvro.ManifestFileEntry, (Long, Long, Long))] = listState): Unit = {
    restCommit match {
      case Some(fn) =>
        // catalog-side commit: POST requirements(base) + updates(base→next);
        // 409 surfaces as ConcurrentModificationException from the client.
        // Adopt the CATALOG's committed metadata as the new truth (it may
        // normalize e.g. refs.main / snapshot-log) and rebase on it.
        currentMeta = fn(restBase, next)
        restBase = currentMeta
        listState = nextList
      case None =>
        val v = metaVersion + 1
        // arbitrated commits stage to a UNIQUE vN-<nonce> name (accepted
        // by every reader's version regex) and the catalog's version
        // pointer decides the commit (reference: catalog_type='rest',
        // catalog_bridge.h) — an overwrite-rename store cannot arbitrate
        // via the hint file
        val rel =
          if (arbiter.isDefined)
            s"metadata/v$v-${java.util.UUID.randomUUID().toString.take(8)}.metadata.json"
          else s"metadata/v$v.metadata.json"
        CommitIo.publish(fs, new Path(root, rel), IcebergMeta.render(next).getBytes("UTF-8"),
          arbiter.map(CommitIo.Cas(_, v, rel)))
        metaVersion = v
        currentMeta = next
        listState = nextList
        // the hint file stays as a CACHE for catalog-less readers, written
        // best-effort like HadoopTableOperations.writeVersionHint: readers
        // probe forward past a stale hint (IcebergTable.findMetadata), and
        // under an arbiter the pointer is authoritative
        try {
          val hint = fs.create(new Path(root, "metadata/version-hint.text"), true)
          try hint.write(v.toString.getBytes("UTF-8"))
          finally hint.close()
        } catch { case scala.util.control.NonFatal(_) => () }
    }
  }
}

object IcebergWriter {

  /** Snapshot-summary keys for the streaming sink's idempotence record. */
  val StreamQueryKey = "graft.stream.query-id"
  val StreamBatchKey = "graft.stream.batch-id"
  /** Create a fresh table at `location` (cleared first). `partition`:
    * (source column, transform) pairs; transforms: identity, day,
    * bucket[N], truncate[W]. */
  def create(spark: SparkSession, location: String, schema: StructType,
      partition: Seq[(String, String)] = Nil,
      arbiter: Option[graft.lake.CommitArbiter] = None): IcebergWriter = {
    val p = new Path(location)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    fs.mkdirs(new Path(p, "metadata"))
    val fields = schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      IceField(i + 1, f.name, required = false, f.dataType,
        IcebergMeta.typeString(f.dataType))
    }
    val sch = IceSchema(0, fields)
    val specFields = partition.zipWithIndex.map { case ((src, transform), i) =>
      val srcField = fields.find(_.name == src).getOrElse(
        throw new IllegalArgumentException(s"iceberg: partition source $src not in schema"))
      val name = transform match {
        case "identity" => src
        case t if t.startsWith("bucket[") => s"${src}_bucket"
        case t if t.startsWith("truncate[") => s"${src}_trunc"
        case t => s"${src}_$t"
      }
      IcePartField(name, transform, srcField.id, 1000 + i)
    }
    val qualifiedRoot = fs.makeQualified(p)
    // VARIANT columns are a v3 type — tables carrying one start at
    // format-version 3 (same bump rule the DV delete path applies)
    val v0 = if (schema.fields.exists(_.dataType ==
      org.apache.spark.sql.types.VariantType)) 3 else 2
    val meta0 = IceMeta(v0, java.util.UUID.randomUUID().toString,
      qualifiedRoot.toString,
      0L, fields.map(_.id).maxOption.getOrElse(0), 0, Seq(sch), 0,
      Seq(IcePartSpec(0, specFields)), 999 + partition.size,
      Map.empty, None, Nil, Nil, Map.empty)
    new IcebergWriter(spark, location, meta0, 0, Nil, writeInitial = true,
      arbiter)
  }

  /** ADOPT an existing plain-parquet directory as an Iceberg table IN
    * PLACE — Iceberg's own migrate / add_files adoption path (the spec's
    * procedures; the reference's catalog likewise registers EXISTING
    * locations, catalog_bridge.h). No data file is read past its FOOTER
    * and none is moved or rewritten: table metadata is built over the
    * files where they stand — identity partitioning parsed from the hive
    * `col=value` layout, per-file column bounds lifted from parquet
    * footers so min/max skipping works from the first read. Files
    * predating the table carry no parquet field ids, so the metadata
    * records `schema.name-mapping.default` (the spec's fallback column
    * resolution for id-less files), and reads inject identity partition
    * values from the manifests (the constants rule) because hive-layout
    * files do not contain those columns. At 100 TB this is the adoption
    * path: O(files) driver footer reads, zero data movement. */
  def adopt(spark: SparkSession, location: String,
      partitionColumns: Seq[String] = Nil): IcebergWriter = {
    val p = new Path(location)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(!fs.exists(new Path(p, "metadata")),
      s"iceberg adopt: $location already has a metadata directory — " +
        "adopt() is for plain parquet layouts")
    val inferred = spark.read.parquet(location).schema
    partitionColumns.foreach(c => require(inferred.fieldNames.contains(c),
      s"iceberg adopt: partition column $c not found " +
        s"(have ${inferred.fieldNames.mkString(", ")})"))
    val fields = inferred.fields.toSeq.zipWithIndex.map { case (f, i) =>
      IceField(i + 1, f.name, required = false, f.dataType,
        IcebergMeta.typeString(f.dataType))
    }
    val sch = IceSchema(0, fields)
    val specFields = partitionColumns.zipWithIndex.map { case (c, i) =>
      IcePartField(c, "identity", fields.find(_.name == c).get.id, 1000 + i)
    }
    // the spec's name-mapping property: field-id resolution for files
    // that carry no parquet field ids (every adopted file)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = om.createArrayNode()
    fields.foreach { f =>
      val o = arr.addObject()
      o.put("field-id", f.id); o.putArray("names").add(f.name)
    }
    fs.mkdirs(new Path(p, "metadata"))
    val meta0 = IceMeta(2, java.util.UUID.randomUUID().toString,
      fs.makeQualified(p).toString, 0L,
      fields.map(_.id).maxOption.getOrElse(0), 0, Seq(sch), 0,
      Seq(IcePartSpec(0, specFields)), 999 + partitionColumns.size,
      Map("schema.name-mapping.default" -> om.writeValueAsString(arr)),
      None, Nil, Nil, Map.empty)
    val w = new IcebergWriter(spark, location, meta0, 0, Nil,
      writeInitial = true, None)
    w.adoptDataFiles()
    w
  }

  /** Open a real Iceberg table RESOLVED BY NAME through a standard REST
    * catalog, with every commit arbitrated by the catalog's
    * requirements/updates CAS (the reference's `catalog_type = 'rest'`
    * deployment, README.md:29-32; iceberg_bridge.h:117-133). The writer
    * stages data files + manifests straight to the table's storage
    * location; `metadata.json` materialization moves to the service —
    * a stale handle's next commit 409s (surfaced as
    * ConcurrentModificationException: reopen and retry). */
  def openRest(spark: SparkSession, catalog: rest.IcebergRestCatalog,
      ns: Seq[String], name: String): IcebergWriter = {
    val lr = catalog.loadTable(ns, name)
    val meta = lr.metadata
    val conf = spark.sessionState.newHadoopConf()
    val listState = meta.currentSnapshotId.map { sid =>
      IcebergAvro.readManifestListWithRows(conf,
        new Path(meta.snapshot(sid).manifestList))
    }.getOrElse(Nil)
    val w = new IcebergWriter(spark, meta.location, meta, 0, listState,
      writeInitial = false, None)
    w.lastTs = (0L +: meta.snapshotLog.map(_._1)).max
    w.restCommit = Some((base, cur) => catalog.commitTable(ns, name,
      rest.RestCommit.requirements(base), rest.RestCommit.updates(base, cur))
      .metadata)
    w
  }

  /** [[openRest]] variant for MULTI-TABLE TRANSACTIONS (r15): commits
    * are CAPTURED as (base, staged) metadata pairs instead of posted —
    * data files and manifests land on the table's storage immediately
    * (the heavy IO, outside any catalog arbitration), but the catalog
    * pointer does not move. [[rest.IcebergRestTransaction.commit]]
    * sends every captured table's requirements+updates as ONE
    * CommitTransactionRequest. Returns (writer, captured-changes
    * accessor). The handle is CONSUMED by the transaction — reopen
    * through the catalog for further commits. */
  def openRestStaged(spark: SparkSession, catalog: rest.IcebergRestCatalog,
      ns: Seq[String], name: String): (IcebergWriter, () => Seq[(IceMeta, IceMeta)]) = {
    val lr = catalog.loadTable(ns, name)
    val meta = lr.metadata
    val conf = spark.sessionState.newHadoopConf()
    val listState = meta.currentSnapshotId.map { sid =>
      IcebergAvro.readManifestListWithRows(conf,
        new Path(meta.snapshot(sid).manifestList))
    }.getOrElse(Nil)
    val w = new IcebergWriter(spark, meta.location, meta, 0, listState,
      writeInitial = false, None)
    w.lastTs = (0L +: meta.snapshotLog.map(_._1)).max
    val captured = scala.collection.mutable.ArrayBuffer[(IceMeta, IceMeta)]()
    w.restCommit = Some((base, cur) => { captured += ((base, cur)); cur })
    (w, () => captured.toSeq)
  }

  /** Capturing writer over STAGED metadata that is not registered
    * anywhere yet (r15; stage-create CTAS): data files + manifests land
    * at the staged location, commits are captured (base, staged) pairs
    * for [[rest.IcebergRestTransaction.createAndCommit]] to replay
    * through one assert-create transaction. */
  def openStagedMeta(spark: SparkSession,
      meta: IceMeta): (IcebergWriter, () => Seq[(IceMeta, IceMeta)]) = {
    val w = new IcebergWriter(spark, meta.location, meta, 0, Nil,
      writeInitial = false, None)
    val captured = scala.collection.mutable.ArrayBuffer[(IceMeta, IceMeta)]()
    w.restCommit = Some((base, cur) => { captured += ((base, cur)); cur })
    (w, () => captured.toSeq)
  }

  /** REOPEN an existing table for further commits — the cross-process
    * half of the write bridge (a fresh connector/exporter process must
    * resume committing where the last one stopped). Loads the current
    * metadata.json (version-hint or highest vN), seeds the carried
    * manifest-list state from the current snapshot's manifest list
    * (row counts included — no manifest re-reads), and continues the
    * version/sequence/timestamp chains. The table must be at its
    * original location (manifest paths are stored absolute). */
  def open(spark: SparkSession, location: String,
      arbiter: Option[graft.lake.CommitArbiter] = None): IcebergWriter = {
    val conf = spark.sessionState.newHadoopConf()
    val metaDir = new Path(location, "metadata")
    val fs = metaDir.getFileSystem(conf)
    val metaPath =
      // under an arbiter the catalog's version pointer is authoritative
      // (the hint file is only a cache and may be stale)
      arbiter.flatMap(_.currentVersion()) match {
        case Some((_, rel)) => new Path(location, rel)
        case None => IcebergTable.findMetadata(conf, metaDir)
      }
    val in = fs.open(metaPath)
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val meta = IcebergMeta.parse(json)
    val version = metaPath.getName match {
      case IcebergTable.VersionedMetadata(n) => n.toInt
      case _ => throw new IllegalStateException(s"unversioned $metaPath")
    }
    val listState = meta.currentSnapshotId.map { sid =>
      IcebergAvro.readManifestListWithRows(conf,
        new Path(meta.snapshot(sid).manifestList))
    }.getOrElse(Nil)
    val w = new IcebergWriter(spark, location, meta, version, listState,
      writeInitial = false, arbiter)
    w.lastTs = (0L +: meta.snapshotLog.map(_._1)).max
    w
  }
}
