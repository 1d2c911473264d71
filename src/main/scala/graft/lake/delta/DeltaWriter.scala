package graft.lake.delta

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{CommitIo, HivePartitionedRead, ParquetStats, RowDeletes}

/** Minimal Delta Lake WRITER conforming to the published transaction
  * protocol (delta-io/delta PROTOCOL.md): parquet data files under
  * hive-style partition dirs, `_delta_log/%020d.json` commits of
  * newline-delimited actions, per-file `stats` JSON, classic
  * `%020d.checkpoint.parquet` + `_last_checkpoint`.
  *
  * Exists for the same two purposes as [[graft.lake.iceberg.IcebergWriter]]:
  * (a) round-trip receipts for [[DeltaTable]] — no Delta artifacts exist
  * in this sandbox, so the specs build REAL Delta layouts and read them
  * back; (b) an export seam. Intentionally narrow: create / append /
  * copy-on-write deleteWhere / checkpoint — plus the two reader
  * features [[DeltaTable]] implements, so the round-trip specs cover
  * them: COLUMN MAPPING (name/id mode tables: physical `col-<n>` names
  * + field ids in the files, physical keys in partitionValues/stats,
  * the matching protocol bump) and DELETION VECTORS (`deleteWhereDv`
  * attaches a DV instead of rewriting — the protocol's
  * merge-on-read-style delete).
  */
final class DeltaWriter private (
    spark: SparkSession,
    val location: String,
    schema: StructType,
    partitionColumns: Seq[String],
    columnMapping: Option[String],
    enableCdf: Boolean = false,
    enableIct: Boolean = false,
    enableRowTracking: Boolean = false) {

  private val mapper = new ObjectMapper()
  /** VARIANT columns (r13): the protocol's `variantType` reader+writer
    * feature — files store the spec's binary (metadata, value) pair,
    * which Spark 4's parquet source writes/reads natively for
    * VariantType; stats are never emitted for variant columns (no
    * ordering), so pruning simply skips them. */
  private def hasVariant: Boolean =
    schema.exists(_.dataType == org.apache.spark.sql.types.VariantType)
  private def conf: Configuration = spark.sessionState.newHadoopConf()
  private val root = new Path(location)
  private val fs = root.getFileSystem(conf)
  private val logDir = new Path(root, "_delta_log")

  private var version = -1L
  // live file state mirrored for checkpoint/deleteWhere: path -> (add node)
  private val live = scala.collection.mutable.LinkedHashMap[String, ObjectNode]()
  /** Unexpired REMOVE tombstones committed by this writer — checkpoints
    * must carry them (the protocol's vacuum contract: a checkpoint-seeded
    * reader learns which removed files still await retention from the
    * checkpoint, not from replaying the cleaned log prefix). Best-effort
    * across reopen: a fresh writer starts empty, so its checkpoints omit
    * tombstones older than itself — conservative (external VACUUMs skip
    * them; files linger, nothing breaks). */
  private val tombstones = scala.collection.mutable.LinkedHashMap[String, ObjectNode]()
  private var dvEnabled = false
  private var v2CpEnabled = false
  private var twEnabled = false
  // IN-COMMIT TIMESTAMPS (writer feature `inCommitTimestamp`): the
  // protocol's clock-skew-proof commit time — monotonically increasing,
  // carried INSIDE the commit (commitInfo.inCommitTimestamp) instead of
  // read off file mtimes a copy/restore can scramble. Restored by open().
  private var lastIct = 0L
  // ROW TRACKING (writer features `rowTracking` + its prerequisite
  // `domainMetadata`, r16b — Delta's row-lineage counterpart to Iceberg
  // v3): every committed add takes a fresh `baseRowId` span from the
  // `delta.rowTracking` domain's high-water mark and
  // `defaultRowCommitVersion` = its commit; fresh ids read as
  // baseRowId + row_index, rewrites carry ids in MATERIALIZED columns
  // that override per row (null = fresh fallback, per protocol).
  // Highest assigned row id so far (-1 = none); restored by open().
  private var rowIdHwm = -1L
  if (enableRowTracking) {
    require(!schema.fieldNames.exists(DeltaWriter.MatCols.contains),
      s"delta rowTracking: schema collides with the materialized " +
        s"lineage column names ${DeltaWriter.MatCols.mkString(", ")}")
    require(columnMapping.isEmpty,
      "delta rowTracking: combination with column mapping is not built here")
  }

  // logical -> physical column name (identity without column mapping)
  private val phys: Map[String, String] = columnMapping match {
    case None => schema.fieldNames.map(n => n -> n).toMap
    case Some(_) => schema.fieldNames.zipWithIndex.map {
      case (n, i) => n -> s"col-${i + 1}" }.toMap
  }

  private def dataSchema: StructType =
    StructType(schema.fields.filterNot(f => partitionColumns.contains(f.name)))

  /** Rename to physical and (id mode) stamp parquet field ids so the
    * files carry what the mode makes authoritative. */
  private def toPhysical(df: DataFrame): DataFrame = {
    if (columnMapping.isEmpty) return df
    df.select(df.columns.toIndexedSeq.map { c =>
      val fid = schema.fieldIndex(c) + 1L
      val md = new MetadataBuilder().putLong("parquet.field.id", fid).build()
      col(c).as(phys(c), md)
    }: _*)
  }

  // ---- commits -------------------------------------------------------------

  /** `operation` (when given) rides as a `commitInfo` action — the
    * freeform audit record OSS Delta writes on every commit; it is what
    * makes the `#history` metadata view informative. RESTORE builds its
    * own tagged commitInfo (the one operation changes() keys on).
    *
    * The writer's state (version, row-id high-water mark, in-commit
    * clock, live files, tombstones, protocol feature flags) advances only
    * once the log entry is published: a failed publish leaves the writer
    * exactly as it was, so a retry publishes the NEXT version, never a
    * hole, and re-declares any feature the lost commit would have. */
  private def commit(actions0: Seq[ObjectNode],
      operation: String = null): Long = {
    val next = version + 1
    var hwm = rowIdHwm
    var ict = lastIct
    // ROW-TRACKING assignment — the single commit chokepoint: every add
    // that does not already carry a baseRowId (re-adds of DV'd files
    // deepCopy the original and keep theirs, per protocol) takes the
    // next id span and this commit's version; the same commit then
    // records the advanced high-water mark in the `delta.rowTracking`
    // domainMetadata action (protocol requirement — a writer that
    // assigns ids must publish the watermark it consumed up to).
    val actions =
      if (!enableRowTracking) actions0
      else {
        var assigned = false
        actions0.foreach { n =>
          if (n.has("add")) {
            val a = n.get("add").asInstanceOf[ObjectNode]
            if (!a.has("baseRowId")) {
              val rows = Option(a.get("stats")).filterNot(_.isNull)
                .map(s => mapper.readTree(s.asText())
                  .path("numRecords").asLong(-1L)).getOrElse(-1L)
              require(rows >= 0L, "delta rowTracking: add action without " +
                "numRecords stats — cannot size its baseRowId span")
              a.put("baseRowId", hwm + 1L)
              a.put("defaultRowCommitVersion", next)
              hwm += rows
              assigned = true
            }
          }
        }
        if (!assigned) actions0
        else {
          val dm = mapper.createObjectNode()
          val d = dm.putObject("domainMetadata")
          d.put("domain", "delta.rowTracking")
          d.put("configuration", s"""{"rowIdHighWaterMark":$hwm}""")
          d.put("removed", false)
          actions0 :+ dm
        }
      }
    val all =
      if (operation == null && !enableIct) actions
      else {
        val info = mapper.createObjectNode()
        val ci = info.putObject("commitInfo")
        if (operation != null) ci.put("operation", operation)
        ci.put("timestamp", System.currentTimeMillis())
        if (enableIct) {
          // per the protocol: strictly monotone, first action of the
          // commit, authoritative over file mtime for time travel
          ict = math.max(ict + 1, System.currentTimeMillis())
          ci.put("inCommitTimestamp", ict)
        }
        info +: actions
      }
    // commits never overwrite, per protocol
    CommitIo.publish(fs, new Path(logDir, f"$next%020d.json"),
      all.map(mapper.writeValueAsString).mkString("\n").getBytes("UTF-8"))
    version = next
    rowIdHwm = hwm
    lastIct = ict
    // live files, the tombstone ledger and the feature flags replay the
    // published actions in order: a remove retires its path, a re-add of
    // the same path (DV replacement) supersedes the pending tombstone
    actions.foreach { n =>
      if (n.has("protocol")) {
        val feats = n.get("protocol").path("readerFeatures")
        def has(f: String) = (0 until feats.size).exists(i => feats.get(i).asText() == f)
        dvEnabled = has("deletionVectors")
        v2CpEnabled = has("v2Checkpoint")
        twEnabled = has("typeWidening")
      }
      if (n.has("remove")) {
        val path = relOf(n.get("remove"))
        live.remove(path)
        tombstones(path) = n.get("remove").deepCopy()
      }
      if (n.has("add")) {
        val path = relOf(n.get("add"))
        live(path) = n
        tombstones.remove(path)
      }
    }
    version
  }

  /** Protocol action for the current feature set plus the prospective
    * `dv` / `v2Cp` / `tw` flags of the commit that carries it (the flags
    * themselves flip when that commit publishes). Legacy versions when
    * they suffice (1,2 base; 2,5 name-mode column mapping), the
    * table-features form (3,7 + explicit lists) once DVs or id mode
    * need it. */
  private def protocolAction(dv: Boolean = dvEnabled, v2Cp: Boolean = v2CpEnabled,
      tw: Boolean = twEnabled): ObjectNode = {
    val n = mapper.createObjectNode()
    val pr = n.putObject("protocol")
    // changeDataFeed is a WRITER-ONLY feature per the protocol (any
    // reader can scan the table; cdc actions are not file actions)
    val readerFeats =
      (if (columnMapping.isDefined) Seq("columnMapping") else Nil) ++
        (if (dv) Seq("deletionVectors") else Nil) ++
        (if (v2Cp) Seq("v2Checkpoint") else Nil) ++
        (if (tw) Seq("typeWidening") else Nil) ++
        (if (hasVariant) Seq("variantType") else Nil)
    val writerFeats = readerFeats ++
      (if (enableCdf) Seq("changeDataFeed") else Nil) ++
      (if (enableIct) Seq("inCommitTimestamp") else Nil) ++
      // rowTracking is WRITER-ONLY (readers scan without ids; the
      // lineage columns are opt-in metadata) and requires domainMetadata
      (if (enableRowTracking) Seq("rowTracking", "domainMetadata") else Nil)
    if (dv || v2Cp || tw || hasVariant ||
        columnMapping.contains("id")) {
      pr.put("minReaderVersion", 3); pr.put("minWriterVersion", 7)
      val rf = pr.putArray("readerFeatures"); readerFeats.foreach(rf.add)
      val wf = pr.putArray("writerFeatures"); writerFeats.foreach(wf.add)
    } else if (enableIct || enableRowTracking) {
      // inCommitTimestamp / rowTracking / domainMetadata are
      // WRITER-ONLY: writer table features (7 + explicit list) without
      // raising the reader bar — a reader-v1/v2 engine reads these
      // tables fine (real Delta writers do the same; forcing
      // minReaderVersion 3 here would lock those readers out for no
      // reason). Legacy-implied writer features must be listed
      // explicitly once version 7 is in force.
      pr.put("minReaderVersion", if (columnMapping.isDefined) 2 else 1)
      pr.put("minWriterVersion", 7)
      // writerFeats already carries columnMapping (via readerFeats)
      // whenever name-mode mapping is on — version 7 lists everything
      val wf = pr.putArray("writerFeatures")
      writerFeats.foreach(wf.add)
    } else if (columnMapping.isDefined) {
      // legacy writer versions are CUMULATIVE: 5 (column mapping)
      // already implies 4's CDF — 6 would wrongly demand
      // identity-column support from external writers
      pr.put("minReaderVersion", 2)
      pr.put("minWriterVersion", 5)
    } else {
      pr.put("minReaderVersion", 1)
      // legacy writer version 4 = CDF + generated columns tier
      pr.put("minWriterVersion", if (enableCdf) 4 else 2)
    }
    n
  }

  /** Table schema as written to schemaString: under column mapping each
    * field carries its physicalName + id in metadata, per the protocol. */
  private def metaSchema: StructType =
    if (columnMapping.isEmpty) schema
    else StructType(schema.fields.map { f =>
      val md = new MetadataBuilder()
        .putLong("delta.columnMapping.id", schema.fieldIndex(f.name) + 1L)
        .putString("delta.columnMapping.physicalName", phys(f.name))
        .build()
      f.copy(metadata = md)
    })

  private def metaAction: ObjectNode = metaActionFor(metaSchema)

  private def metaActionFor(s: StructType): ObjectNode = {
    val n = mapper.createObjectNode()
    val m = n.putObject("metaData")
    m.put("id", java.util.UUID.randomUUID().toString)
    val fmt = m.putObject("format")
    fmt.put("provider", "parquet"); fmt.putObject("options")
    m.put("schemaString", s.json)
    val pc = m.putArray("partitionColumns")
    partitionColumns.foreach(pc.add)
    val cfg = m.putObject("configuration")
    if (enableCdf) cfg.put("delta.enableChangeDataFeed", "true")
    // absent enablement-version properties = enabled since creation,
    // per the protocol's inCommitTimestamp rules
    if (enableIct) cfg.put("delta.enableInCommitTimestamps", "true")
    if (enableRowTracking) {
      cfg.put("delta.enableRowTracking", "true")
      // the protocol resolves materialized lineage columns by NAME from
      // these properties (they are physical names outside the schema)
      cfg.put("delta.rowTracking.materializedRowIdColumnName",
        DeltaWriter.MatRowIdCol)
      cfg.put("delta.rowTracking.materializedRowCommitVersionColumnName",
        DeltaWriter.MatRowVerCol)
    }
    columnMapping.foreach { mode =>
      cfg.put("delta.columnMapping.mode", mode)
      cfg.put("delta.columnMapping.maxColumnId", schema.length.toString)
    }
    m.put("createdTime", 0L)
    n
  }

  /** TYPE WIDENING (the protocol's `typeWidening` reader feature):
    * widens column `name` to `to` as a METADATA-ONLY commit — existing
    * data files keep their narrower physical type and readers upcast
    * per the protocol's promotion table (Spark's vectorized parquet
    * reader performs the promotions natively). Commits the protocol
    * upgrade (table features + typeWidening) and a metaData action
    * whose field carries `delta.typeChanges` provenance, exactly the
    * shape OSS Delta's ALTER COLUMN TYPE writes. The promotion set is
    * the integral chain byte→short→int→long plus float→double and
    * integral→double (the lossless subset; decimal/date widenings are
    * not implemented and reject loudly). Returns a REOPENED writer —
    * this instance's schema state is pre-widen, so further writes must
    * go through the returned handle. */
  def widenColumn(name: String, to: DataType): DeltaWriter = {
    require(columnMapping.isEmpty,
      "delta: widenColumn over column mapping is not supported here")
    val f = schema.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"delta: no column $name"))
    val rank = Seq[DataType](ByteType, ShortType, IntegerType, LongType)
    val ok = (f.dataType, to) match {
      case (a, b) if rank.contains(a) && rank.contains(b) =>
        rank.indexOf(a) < rank.indexOf(b)
      case (FloatType, DoubleType) => true
      case (a, DoubleType) if rank.take(3).contains(a) => true
      case _ => false
    }
    require(ok, s"delta: cannot widen ${f.dataType} to $to " +
      "(supported: byte→short→int→long, float→double, byte/short/int→double)")
    def deltaName(dt: DataType): String = dt match {
      case ByteType => "byte"; case ShortType => "short"
      case IntegerType => "integer"; case LongType => "long"
      case FloatType => "float"; case DoubleType => "double"
      case other => throw new IllegalStateException(s"unreachable: $other")
    }
    // the protocol's per-field provenance record (delta.typeChanges in
    // the field metadata of schemaString): ONE ENTRY PER CHANGE,
    // accumulated — readers consult the oldest fromType to know the
    // narrowest physical encoding still on disk, so a second widen must
    // append, never replace
    val prior =
      if (f.metadata.contains("delta.typeChanges"))
        f.metadata.getMetadataArray("delta.typeChanges")
      else Array.empty[org.apache.spark.sql.types.Metadata]
    val md = new MetadataBuilder().withMetadata(f.metadata)
      .putMetadataArray("delta.typeChanges", prior :+ new MetadataBuilder()
        .putString("fromType", deltaName(f.dataType))
        .putString("toType", deltaName(to))
        .putLong("tableVersion", version + 1).build()).build()
    val widened = StructType(schema.fields.map(x =>
      if (x.name == name) x.copy(dataType = to, metadata = md) else x))
    commit(Seq(protocolAction(tw = true), metaActionFor(widened)),
      operation = "CHANGE COLUMN")
    DeltaWriter.open(spark, location)
  }

  /** Writes `df`'s rows as data files (hive dirs when partitioned,
    * partition columns dropped from the files per common writer
    * practice — partitionValues is authoritative) and returns their add
    * actions. */
  private def writeFiles(dfLogical: DataFrame): Seq[ObjectNode] = {
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    stagePartitioned(toPhysical(dfLogical)) { (rel, i) =>
      new Path(if (rel.isEmpty) root else new Path(root, rel), f"part-$nonce-$i%05d.parquet")
    }.map { case (dest, rel, footer) => addActionFor(dest, rel, footer) }
  }

  /** `df` written through [[graft.lake.CommitIo.stage]] in hive dirs of
    * the physical partition columns — INT64 micros timestamps, not INT96:
    * external Delta readers expect int64 and INT96 carries no footer
    * stats (→ no min/max skipping). */
  private def stagePartitioned(df: DataFrame)(dest: (String, Int) => Path)
      : Seq[(Path, String, ParquetStats.FileFooter)] =
    graft.lake.CommitIo.stage(spark, root) { tmp =>
      val writer = df.write.mode("overwrite")
      (if (partitionColumns.nonEmpty)
         writer.partitionBy(partitionColumns.map(phys): _*)
       else writer).parquet(tmp.toString)
    }(dest)

  /** Table-relative path of an add/remove/cdc action body: `path` is
    * RFC 2396 URI-encoded per the protocol (a `p=x%3Dy` dir is recorded
    * as `p=x%253Dy`), so every lookup decodes it. */
  private def relOf(a: com.fasterxml.jackson.databind.JsonNode): String =
    DeltaTable.decodePath(a.get("path").asText())

  /** Hive `k=v` dirs of a relative path → partitionValues (null = the
    * default partition). */
  private def putPartitionValues(pv: ObjectNode, rel: String): Unit =
    HivePartitionedRead.segments(rel).foreach {
      case (k, Some(v)) => pv.put(k, v)
      case (k, None) => pv.putNull(k)
    }

  /** Add action for the data file at `dest` (= root/`rel`/name, hive
    * dirs carrying partitionValues), with per-file stats JSON from the
    * parquet FOOTER (numRecords + top-level min/max/nullCount — the
    * columns FilePruner skips on). Shared by writeFiles (fresh files,
    * footers from [[graft.lake.CommitIo.stage]]) and convert (existing
    * files adopted in place, footers from one distributed
    * [[ParquetStats.readFooters]] job). */
  private def addActionFor(dest: Path, rel: String,
      footer: ParquetStats.FileFooter): ObjectNode = {
    val relPath = (if (rel.isEmpty) "" else s"$rel/") + dest.getName
    val (rows, stats) = (footer.rows, footer.stats)
    val n = mapper.createObjectNode()
    val a = n.putObject("add")
    a.put("path", DeltaTable.encodePath(relPath))
    putPartitionValues(a.putObject("partitionValues"), rel)
    a.put("size", footer.size)
    a.put("modificationTime", footer.mtime)
    a.put("dataChange", true)
    val st = mapper.createObjectNode()
    st.put("numRecords", rows)
    val minN = st.putObject("minValues")
    val maxN = st.putObject("maxValues")
    val nullN = st.putObject("nullCount")
    // stats keys are PHYSICAL names under column mapping (footer names
    // already are — the files were written physically)
    dataSchema.fields.foreach { f =>
      val pn = phys(f.name)
      footer.nulls.get(pn).foreach(nullN.put(pn, _))
      stats.get(pn).foreach { cs =>
        (cs.tag, f.dataType) match {
          case ("l", DateType) => // epoch days → ISO, the spec's form
            minN.put(pn, java.time.LocalDate.ofEpochDay(cs.min.toLong).toString)
            maxN.put(pn, java.time.LocalDate.ofEpochDay(cs.max.toLong).toString)
          case ("l", TimestampType | TimestampNTZType) =>
            // epoch micros → ISO-8601, the protocol's timestamp stat
            // form (raw longs would be unparseable to external readers)
            val z = f.dataType == TimestampType
            minN.put(pn, DeltaWriter.isoMicros(cs.min.toLong, z))
            maxN.put(pn, DeltaWriter.isoMicros(cs.max.toLong, z))
          case ("l", _) =>
            minN.put(pn, cs.min.toLong); maxN.put(pn, cs.max.toLong)
          case ("d", _) =>
            minN.put(pn, cs.min.toDouble); maxN.put(pn, cs.max.toDouble)
          case ("s", _) =>
            minN.put(pn, cs.min); maxN.put(pn, cs.max)
          case _ => ()
        }
      }
    }
    a.put("stats", mapper.writeValueAsString(st))
    n
  }

  /** Registers every parquet file already under the table root as an
    * add action of commit 0 — the data half of [[DeltaWriter.convert]]. */
  private def convertExisting(): Unit = {
    val files = ParquetStats.listParquet(fs, root).filterNot { f =>
      HivePartitionedRead.relDir(root, f).split("/").headOption.exists(d =>
        d.startsWith("_") || d.startsWith("."))
    }
    require(files.nonEmpty, s"delta convert: no parquet files under $root")
    // the adoption hot path: one DISTRIBUTED footer job over the whole
    // estate (real CONVERT TO DELTA does the same) — a sequential
    // driver-side footer read per file is hours at 10⁵–10⁶ files
    val footers = ParquetStats.readFooters(spark, files)
    val adds = files.map { f =>
      val rel = HivePartitionedRead.relDir(root, f)
      // every declared partition column must come from a hive dir — a
      // stray file outside the layout would otherwise read NULL for the
      // column while pruning treats it as unconstrained (silent wrong
      // data; the iceberg adopt path rejects identically)
      val dirs = HivePartitionedRead.segments(rel).map(_._1).toSet
      partitionColumns.foreach(c => require(dirs.contains(c),
        s"delta convert: $f lacks a hive dir for partition column $c"))
      addActionFor(f, rel, footers(f.toString))
    }
    commit(Seq(protocolAction(), metaAction) ++ adds, operation = "CONVERT")
  }

  /** Writes CHANGE-DATA files under `_change_data/` and returns their
    * `cdc` actions (dataChange=false — cdc files are not table data).
    * Input: logical data + partition columns + `_change_type`. Files
    * store physical column names like data files; partitionValues keys
    * are physical; the `_change_type` column is stored verbatim (it is
    * protocol-defined, outside column mapping). */
  private def writeCdcFiles(dfLogical: DataFrame): Seq[ObjectNode] = {
    val cols = dfLogical.columns.toIndexedSeq.map { c =>
      if (c == "_change_type" || columnMapping.isEmpty) col(c)
      else {
        val fid = schema.fieldIndex(c) + 1L
        val md = new MetadataBuilder().putLong("parquet.field.id", fid).build()
        col(c).as(phys(c), md)
      }
    }
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    def cdcDir(rel: String): String = if (rel.isEmpty) "_change_data" else s"_change_data/$rel"
    stagePartitioned(dfLogical.select(cols: _*)) { (rel, i) =>
      new Path(root, f"${cdcDir(rel)}/cdc-$nonce-$i%05d.parquet")
    }.map { case (dest, rel, footer) =>
      val n = mapper.createObjectNode()
      val a = n.putObject("cdc")
      a.put("path", DeltaTable.encodePath(s"${cdcDir(rel)}/${dest.getName}"))
      putPartitionValues(a.putObject("partitionValues"), rel)
      a.put("size", footer.size)
      a.put("dataChange", false)
      n
    }
  }

  def append(df: DataFrame): Long = {
    val addsN = writeFiles(df.select(schema.fieldNames.map(col).toIndexedSeq: _*))
    commit(addsN, operation = "WRITE")
  }

  /** Latest committed SetTransaction version per appId (the protocol's
    * `txn` action — Delta's native streaming-sink idempotence record,
    * exactly what OSS Delta's streaming writer emits). Replayed from the
    * log on open(), carried into checkpoints. */
  private[delta] val txns = scala.collection.mutable.Map[String, (Long, Long)]() // appId -> (version, lastUpdated)

  def txnVersion(appId: String): Long = txns.get(appId).map(_._1).getOrElse(-1L)

  /** Exactly-once streaming-sink APPEND: one Delta commit per
    * micro-batch, idempotent under Structured Streaming's batch replay
    * via the protocol's OWN mechanism — a `txn` action
    * `{appId, version=batchId}` rides in the same atomic commit as the
    * adds, so any Delta reader (not just graft) can see which batches
    * landed. A replayed batchId is a no-op; a skipped-backwards batchId
    * is a loud error (matches GraftTable.appendStreamBatch's contract). */
  def appendStreamBatch(df: DataFrame, batchId: Long,
      queryId: String = "default"): Long = {
    val last = txnVersion(queryId)
    if (batchId == last) return version // replay → idempotent skip
    require(batchId > last,
      s"delta: batchId $batchId < last committed $last for stream query '$queryId'")
    val addsN = writeFiles(df.select(schema.fieldNames.map(col).toIndexedSeq: _*))
    val ts = System.currentTimeMillis()
    val txn = mapper.createObjectNode()
    val t = txn.putObject("txn")
    t.put("appId", queryId); t.put("version", batchId); t.put("lastUpdated", ts)
    val v = commit(addsN :+ txn, operation = "STREAMING UPDATE")
    txns(queryId) = (batchId, ts)
    v
  }

  /** Parsed deletion-vector descriptor of an add action, if any. */
  private def dvDescOf(a: com.fasterxml.jackson.databind.JsonNode)
      : Option[DeletionVectors.Descriptor] =
    if (a.has("deletionVector") && !a.get("deletionVector").isNull) {
      val d = a.get("deletionVector")
      Some(DeletionVectors.Descriptor(
        d.get("storageType").asText(), d.get("pathOrInlineDv").asText(),
        if (d.has("offset") && !d.get("offset").isNull)
          Some(d.get("offset").asInt) else None,
        d.get("sizeInBytes").asInt, d.get("cardinality").asLong))
    } else None

  /** Position mask over the DVs of the live `adds` (None when none
    * carries one). */
  private def dvMask(adds: Seq[ObjectNode], path: Column, rowIndex: Column): Option[Column] = {
    val dvs: Map[String, RowDeletes.Dv] = adds.flatMap(n => dvDescOf(n.get("add")).map(d =>
      DeltaTable.pathKey(DeltaTable.resolve(location, relOf(n.get("add"))).toString) ->
        RowDeletes.DeltaDv(location, d))).toMap
    if (dvs.isEmpty) None else Some(RowDeletes.keep(spark, path, rowIndex, DeltaTable.pathKey, dvs))
  }

  /** One distributed read over any affected-file set — the shared front
    * end of the one-pass COW rewrite ops: logical data columns, DV masks
    * applied, partition columns injected through a broadcast
    * file→partition-values frame (so `cond` can reference them at any
    * partition count), plus the normalized source file key `__fp`. */
  private def readForRewrite(adds: Seq[ObjectNode]): DataFrame = {
    val paths = adds.map(n =>
      DeltaTable.resolve(location, relOf(n.get("add"))).toString)
    val physData0 = StructType(dataSchema.fields.map(f => f.copy(name = phys(f.name))))
    // row-tracking rewrites must carry each row's CURRENT lineage into
    // the new files: read the materialized columns (absent in
    // fresh-only files → nulls) and resolve them against the add's
    // baseRowId/defaultRowCommitVersion fallback HERE, so every
    // rewritten row leaves with concrete materialized values
    val physData =
      if (!enableRowTracking) physData0
      else StructType(physData0.fields ++ Seq(
        StructField(DeltaWriter.MatRowIdCol, LongType),
        StructField(DeltaWriter.MatRowVerCol, LongType)))
    var df = spark.read.schema(physData).parquet(paths: _*)
    dvMask(adds, ParquetStats.scanFilePath, col("_metadata.row_index"))
      .foreach(k => df = df.filter(k))
    val lineageCols: Seq[Column] =
      if (!enableRowTracking) Nil
      else {
        val byPath: Map[String, (Long, Long)] = adds.map { n =>
          val a = n.get("add")
          require(a.has("baseRowId") && a.has("defaultRowCommitVersion"),
            s"delta rowTracking: live file ${a.get("path").asText()} " +
              "carries no baseRowId — written before tracking? refusing")
          DeltaTable.pathKey(DeltaTable.resolve(location,
            relOf(a)).toString) ->
            ((a.get("baseRowId").asLong(), a.get("defaultRowCommitVersion").asLong()))
        }.toMap
        val bc = spark.sparkContext.broadcast(byPath)
        def const(pick: ((Long, Long)) => Long): Column =
          graft.expressions.FileConstant.column(
            DeltaTable.normPath(ParquetStats.scanFilePath), LongType,
            raw => bc.value.get(DeltaTable.pathKey(raw)) match {
              case Some(v) => Long.box(pick(v))
              case None => throw new IllegalStateException(
                s"delta rowTracking: file $raw missing from rewrite constants")
            })
        Seq(coalesce(col(DeltaWriter.MatRowIdCol),
            const(_._1) + col("_metadata.row_index"))
            .as(DeltaWriter.MatRowIdCol),
          coalesce(col(DeltaWriter.MatRowVerCol), const(_._2))
            .as(DeltaWriter.MatRowVerCol))
      }
    var out = df
      .withColumn("__fp", DeltaTable.normPath(ParquetStats.scanFilePath))
      .select((col("__fp") +:
        dataSchema.fieldNames.toIndexedSeq.map(c => col(phys(c)).as(c))) ++
        lineageCols: _*)
    if (partitionColumns.nonEmpty) {
      val pvSchema = StructType(StructField("__fp", StringType) +:
        partitionColumns.map(c => StructField(s"__pv_$c", StringType)))
      val pvRows = adds.map { n =>
        val pv = n.get("add").get("partitionValues")
        org.apache.spark.sql.Row.fromSeq(
          DeltaTable.pathKey(DeltaTable.resolve(location,
            relOf(n.get("add"))).toString) +:
            partitionColumns.map { c =>
              val v = pv.get(phys(c))
              if (v == null || v.isNull) null else v.asText()
            })
      }
      val pvDf = spark.createDataFrame(
        spark.sparkContext.parallelize(pvRows.toIndexedSeq, 1), pvSchema)
      out = out.join(broadcast(pvDf), Seq("__fp"))
      partitionColumns.foreach { c =>
        out = out.withColumn(c, col(s"__pv_$c").cast(schema(c).dataType))
      }
      out = out.drop(partitionColumns.map(c => s"__pv_$c"): _*)
    }
    out
  }

  /** Column set a COW rewrite writes back: the table schema plus (on a
    * row-tracking table) the two materialized lineage columns
    * readForRewrite resolved to concrete per-row values. */
  private def rewriteCols: Seq[String] =
    schema.fieldNames.toSeq ++
      (if (enableRowTracking) DeltaWriter.MatCols else Nil)

  /** The files among `adds` actually holding rows where `hitCol` is true
    * — one distributed probe returning O(files) paths, the exactness fix
    * for stats over-approximation (files whose stats admitted the
    * predicate but whose rows don't match are left untouched). */
  private def matchedFiles(adds: Seq[ObjectNode], df: DataFrame,
      hitCol: Column): Seq[ObjectNode] = {
    val fps = df.filter(hitCol).select("__fp").distinct()
      .collect().map(_.getString(0)).toSet
    adds.filter { n =>
      fps(DeltaTable.pathKey(DeltaTable.resolve(location,
        relOf(n.get("add"))).toString))
    }
  }

  /** COPY-ON-WRITE delete (Delta's base-protocol delete): files that
    * hold matching rows are rewritten without them; the commit removes
    * the old files and adds the rewrites. Untouched files are untouched
    * — O(affected files), not O(table) — and the whole rewrite is ONE
    * distributed read + ONE partition-aware write, however many
    * partitions the affected set spans (the old shape looped a
    * probe-and-rewrite job pair per partition group). */
  def deleteWhere(cond: Column): Long = {
    val t = DeltaTable.load(spark, location)
    val affected = t.planFiles(Some(cond)).toSet
    if (affected.isEmpty) return version
    val affectedAdds = live.view.filterKeys(affected).values.toSeq
    // nondeterministic cond (rand(), current_timestamp) would re-evaluate
    // per consuming job — kept/dropped sets could diverge between the
    // probe, the rewrite and the CDC frame (ADVICE r10). Pin ONE
    // evaluation of a `__hit` column via localCheckpoint and derive ALL
    // THREE from it; deterministic predicates skip the cost (their
    // re-evaluations agree by definition).
    // DELETE keeps rows where the predicate is NULL (tri-state SQL):
    // bare `!cond` would evaluate null and drop them — hence coalesce.
    val exprsDeterministic =
      org.apache.spark.sql.graftshim.ColumnExpr.expression(cond).deterministic
    val probe = {
      val d = readForRewrite(affectedAdds)
        .withColumn("__hit", coalesce(cond, lit(false)))
      if (exprsDeterministic) d else d.localCheckpoint()
    }
    // per-FILE zero-match pruning (stats over-approximation): a file
    // where the predicate matches nothing is left completely untouched —
    // no pointless rewrite, and (on CDF tables) no add+remove commit
    // without cdc files, which changes() would rightly reject. The probe
    // aggregates hits AND totals per file in its single pass, so the
    // "every row deleted" case below is driver arithmetic instead of a
    // second scan of the touched files (r16 opt).
    val perFile = probe.groupBy("__fp")
      .agg(count(lit(1)).as("__n"), count(when(col("__hit"), 1)).as("__hits"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val hitKeys = perFile.filter(_._3 > 0).map(_._1).toSet
    val touched = affectedAdds.filter { n =>
      hitKeys(DeltaTable.pathKey(DeltaTable.resolve(location,
        relOf(n.get("add"))).toString))
    }
    if (touched.isEmpty) return version
    val everyRowGone = perFile.filter(_._3 > 0).forall(t => t._3 == t._2)
    val tdf =
      if (exprsDeterministic)
        readForRewrite(touched).withColumn("__hit", coalesce(cond, lit(false)))
      else { // reuse the pinned frame — a re-read would re-roll the dice
        val touchedKeys = touched.map(n => DeltaTable.pathKey(DeltaTable
          .resolve(location, relOf(n.get("add"))).toString))
        probe.filter(col("__fp").isin(touchedKeys: _*))
      }
    val remaining = tdf.filter(!col("__hit"))
      .select(rewriteCols.map(col): _*)
    val newAdds: Seq[ObjectNode] =
      if (everyRowGone) Nil else writeFiles(remaining)
    val cdcActs =
      if (!enableCdf) Nil
      else writeCdcFiles(tdf.filter(col("__hit"))
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
        .withColumn("_change_type", lit("delete")))
    val removes = touched.map(n => removeAction(n))
    commit(cdcActs ++ removes ++ newAdds, operation = "DELETE")
  }

  /** remove action with EXTENDED file metadata (partitionValues, size —
    * the protocol's recommended shape): remove-only commits stay
    * CDF-reconstructible without cdc files (full-file deletes). */
  private def removeAction(addNode: ObjectNode): ObjectNode = {
    val a = addNode.get("add")
    val r = mapper.createObjectNode()
    val rm = r.putObject("remove")
    rm.put("path", a.get("path").asText())
    // real wall time, per protocol — VACUUM retention and checkpoint
    // tombstone expiry are measured from this stamp (0L read as
    // "expired at epoch", losing the tombstone everywhere)
    rm.put("deletionTimestamp", System.currentTimeMillis())
    rm.put("dataChange", true)
    rm.set[ObjectNode]("partitionValues", a.get("partitionValues").deepCopy())
    if (a.has("size")) rm.put("size", a.get("size").asLong())
    r
  }

  /** OPTIMIZE — bin-packing compaction, the protocol's convention:
    * live files below `smallBytes` are rewritten, per partition, into
    * fewer files; the commit's removes AND adds both carry
    * `dataChange = false`, so CDF readers and incremental consumers
    * correctly see no row-level change (changes() filters on the
    * flag). Files carrying a DELETION VECTOR fold their mask — the
    * rewrite drops the masked rows along with the DV. No-op unless a
    * partition has at least two candidates. */
  def optimize(smallBytes: Long = 32L * 1024 * 1024,
      targetBytes: Long = 128L * 1024 * 1024): Long = {
    val byPartition = live.values.toSeq
      .filter(_.get("add").path("size").asLong(Long.MaxValue) < smallBytes)
      .groupBy(_.get("add").get("partitionValues").toString)
      .filter(_._2.size >= 2)
    if (byPartition.isEmpty) return version
    val group = byPartition.values.flatten.toSeq
    // bin-pack: shrink the write to ceil(bytes/target) tasks so the
    // rewrite actually merges files instead of echoing the input split
    val totalBytes = group.map(_.get("add").path("size").asLong(0L)).sum
    val parts = math.max(1,
      math.ceil(totalBytes.toDouble / math.max(1L, targetBytes)).toInt)
    val rows = readForRewrite(group)
      .select(rewriteCols.map(col): _*)
      .coalesce(parts)
    val newAdds = writeFiles(rows)
    // row-conservation guard: OPTIMIZE must be a pure re-layout. A read
    // path that fails to resolve the input files (e.g. a path-key
    // normalization bug) would otherwise commit removes with no adds —
    // silent committed data loss. Stats are footer-exact on both sides.
    def recs(ns: Seq[ObjectNode]): Option[Long] = {
      val counts = ns.map(n => Option(n.get("add").get("stats"))
        .filterNot(_.isNull)
        .map(s => mapper.readTree(s.asText()).path("numRecords").asLong(-1L))
        .getOrElse(-1L))
      if (counts.exists(_ < 0)) None else Some(counts.sum)
    }
    (recs(group), recs(newAdds)) match {
      case (Some(inRecs), Some(outRecs)) =>
        // DV-masked inputs legitimately shrink (the rewrite folds the
        // deletes); stat-less files skip the check rather than guess
        require(outRecs == inRecs ||
            group.exists(n => dvDescOf(n.get("add")).isDefined),
          s"delta OPTIMIZE: rewrite produced $outRecs rows from $inRecs " +
            "— refusing to commit a lossy compaction")
      case _ => ()
    }
    newAdds.foreach(
      _.get("add").asInstanceOf[ObjectNode].put("dataChange", false))
    val removes = group.map { n =>
      val r = removeAction(n)
      r.get("remove").asInstanceOf[ObjectNode].put("dataChange", false)
      r
    }
    commit(removes ++ newAdds, operation = "OPTIMIZE")
  }

  /** VACUUM — delete content files under the table root that the
    * CURRENT version no longer references (rewritten/removed data
    * files, orphaned DV binaries) and whose mtime is older than
    * `retainMs` (the protocol's mtime-retention guidance; time travel
    * to versions that needed them stops working, which is VACUUM's
    * documented trade). Never touches `_delta_log`. Returns the number
    * of files deleted. */
  def vacuum(retainMs: Long = 7L * 24 * 3600 * 1000): Int = {
    val cutoff = System.currentTimeMillis() - retainMs
    val referenced: Set[String] = live.values.flatMap { n =>
      val a = n.get("add")
      val data = fs.makeQualified(
        DeltaTable.resolve(location, relOf(a))).toString
      val dv =
        if (a.has("deletionVector") && !a.get("deletionVector").isNull)
          dvDescOf(a).flatMap(_.filePath(location))
            .map(p => fs.makeQualified(p).toString)
        else None
      Seq(data) ++ dv
    }.toSet
    var deleted = 0
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val q = fs.makeQualified(st.getPath).toString
      val name = st.getPath.getName
      val inLog = q.contains("/_delta_log/")
      val content = name.endsWith(".parquet") || name.endsWith(".bin")
      if (!inLog && content && !referenced(q) &&
          st.getModificationTime < cutoff) {
        fs.delete(st.getPath, false)
        deleted += 1
      }
    }
    deleted
  }

  /** COPY-ON-WRITE UPDATE: affected files rewritten with `set`
    * assignments applied to matching rows; on a CDF table the commit
    * also carries update_preimage/update_postimage change rows — the
    * full four-value `_change_type` surface. */
  def updateWhere(cond: Column, set: Map[String, Column]): Long = {
    require(set.keySet.subsetOf(schema.fieldNames.toSet),
      s"delta: unknown update columns ${set.keySet -- schema.fieldNames}")
    require(!set.keySet.exists(partitionColumns.contains),
      "delta: partition-column updates not supported")
    val t = DeltaTable.load(spark, location)
    val affected = t.planFiles(Some(cond)).toSet
    if (affected.isEmpty) return version
    val affectedAdds = live.view.filterKeys(affected).values.toSeq
    // nondeterministic cond/set expressions (rand(), current_timestamp)
    // would re-evaluate per consuming job — the hit/miss split could
    // drop or duplicate rows, and a CDF postimage could disagree with
    // the rows actually written. Pin ONE evaluation via localCheckpoint
    // before fan-out; deterministic expressions skip the cost.
    val exprsDeterministic =
      org.apache.spark.sql.graftshim.ColumnExpr.expression(cond).deterministic &&
        set.values.forall(c =>
          org.apache.spark.sql.graftshim.ColumnExpr.expression(c).deterministic)
    // per-FILE zero-match pruning, then ONE distributed read + ONE
    // partition-aware write for every touched file (the old shape looped
    // per partition group; see deleteWhere). For a nondeterministic cond
    // the SAME pinned evaluation must decide both the touched-file set
    // and the hit/miss split — a separate probe evaluation can disagree
    // with the pinned rewrite (a file rewritten with zero cdc rows, or a
    // pinned hit in a file the probe skipped).
    val (touched, tdf) =
      if (exprsDeterministic) {
        val tch = matchedFiles(affectedAdds, readForRewrite(affectedAdds),
          coalesce(cond, lit(false)))
        (tch, readForRewrite(tch)
          .withColumn("__hit", coalesce(cond, lit(false))))
      } else {
        val pinned = readForRewrite(affectedAdds)
          .withColumn("__hit", coalesce(cond, lit(false)))
          .localCheckpoint()
        val fps = pinned.filter(col("__hit")).select("__fp")
          .distinct().collect().map(_.getString(0)).toSet
        val tch = affectedAdds.filter(n =>
          fps(DeltaTable.pathKey(DeltaTable.resolve(location,
            relOf(n.get("add"))).toString)))
        (tch, pinned.filter(col("__fp").isInCollection(fps)))
      }
    if (touched.isEmpty) return version
    val hit = tdf.filter(col("__hit")).drop("__hit")
    val miss = tdf.filter(!col("__hit")).drop("__hit")
    val updated = {
      val u0 = set.foldLeft(hit) { case (d, (c, e)) => d.withColumn(c, e) }
      // row tracking: a CHANGED row keeps its materialized row id but
      // its commit version becomes this commit — write null and let the
      // protocol's fresh-value fallback (defaultRowCommitVersion of the
      // new add) serve it, so the value is right even though the commit
      // version is not known until the log write
      val u = if (!enableRowTracking) u0
        else u0.withColumn(DeltaWriter.MatRowVerCol, lit(null).cast(LongType))
      if (exprsDeterministic) u else u.localCheckpoint()
    }
    val merged = miss.unionByName(updated)
      .select(rewriteCols.map(col): _*)
    val newAdds: Seq[ObjectNode] =
      if (merged.isEmpty) Nil else writeFiles(merged)
    val cdcActs =
      if (!enableCdf) Nil
      else {
        val sel = schema.fieldNames.map(col).toIndexedSeq
        writeCdcFiles(
          hit.select(sel: _*).withColumn("_change_type", lit("update_preimage"))
            .unionByName(updated.select(sel: _*)
              .withColumn("_change_type", lit("update_postimage"))))
      }
    val removes = touched.map(n => removeAction(n))
    commit(cdcActs ++ removes ++ newAdds, operation = "UPDATE")
  }

  /** Live add-file state as of `versionAsOf`, replayed from the raw log
    * (deep copies — callers may commit them verbatim). Loud when any
    * commit file ≤ versionAsOf is gone (log cleanup) or the table's
    * schema changed since (schema restore is not modeled). */
  private def replayLive(versionAsOf: Long): Map[String, ObjectNode] = {
    val out = scala.collection.mutable.LinkedHashMap[String, ObjectNode]()
    var schemaStr: String = null
    (0L to versionAsOf).foreach { v =>
      val p = new Path(logDir, f"$v%020d.json")
      require(fs.exists(p),
        s"delta: commit file for version $v is gone (log cleanup?) — " +
          s"state at $versionAsOf cannot be reconstructed")
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      text.split('\n').filter(_.trim.nonEmpty).foreach { line =>
        val n = mapper.readTree(line)
        if (n.has("metaData"))
          schemaStr = n.get("metaData").get("schemaString").asText()
        if (n.has("add")) {
          val node = mapper.createObjectNode()
          node.set[ObjectNode]("add", n.get("add").deepCopy())
          out(relOf(n.get("add"))) = node
        }
        if (n.has("remove")) out.remove(relOf(n.get("remove")))
      }
    }
    require(schemaStr == null ||
      org.apache.spark.sql.types.DataType.fromJson(schemaStr) == schema,
      s"delta: schema changed since version $versionAsOf — restore does " +
        "not model schema rollback")
    out.toMap
  }

  /** RESTORE (Delta's `RESTORE TABLE … VERSION AS OF`): rolls the table
    * back to `versionAsOf` as a NEW commit — files added since are
    * removed, files removed (or DV-mutated) since are re-added with
    * their as-of state; their BYTES must still exist (vacuumed files
    * fail loudly, naming the first missing one — Delta's own RESTORE
    * has the same constraint). History is preserved: time travel still
    * reads the undone versions. The commit is TAGGED with
    * `commitInfo.operation = RESTORE`, and a CDF reader's changes()
    * rejects ANY in-range commit bearing that tag — one-sided restore
    * commits (only removes, or only re-adds) would otherwise be
    * silently synthesized as deletes/inserts, replaying the rewind as
    * data changes (ADVICE r10). Metadata-scale work: a log replay plus
    * existence probes — no data IO. */
  def restore(versionAsOf: Long): Long = {
    require(versionAsOf >= 0 && versionAsOf <= version,
      s"delta: restore needs a version in [0, $version], got $versionAsOf")
    val target = replayLive(versionAsOf)
    val cur = live.toMap
    val removes = cur.keys.filterNot(target.contains).toSeq.sorted
    val readds = target.filter { case (p, node) =>
      !cur.contains(p) || cur(p).toString != node.toString
    }.toSeq.sortBy(_._1)
    if (removes.isEmpty && readds.isEmpty) return version // already there
    readds.foreach { case (rel, _) =>
      val p = DeltaTable.resolve(location, rel)
      require(fs.exists(p),
        s"delta: restore to $versionAsOf needs $rel, which no longer " +
          "exists (vacuumed) — the version is not restorable")
    }
    val actions = removes.map(p => removeAction(cur(p))) ++
      readds.map(_._2.deepCopy())
    // tag through commit() so an ICT table gets ONE commitInfo carrying
    // both the RESTORE operation and the in-commit timestamp
    commit(actions, operation = "RESTORE")
  }

  /** DELETION-VECTOR delete: instead of rewriting files, attach (or
    * extend) a per-file bitmap of deleted row indexes — the protocol's
    * merge-on-read-style delete. O(deleted rows) IO instead of
    * O(affected files) rewrite. Commit shape per the protocol: the
    * protocol-upgrade action (first DV only), then remove(old file
    * state) BEFORE add(same path + new DV) so replay by (path, dv)
    * identity reconciles. Bitmaps are built executor-side
    * ([[graft.lake.RowDeletes.fold]]). */
  def deleteWhereDv(cond: Column): Long = {
    val t = DeltaTable.load(spark, location)
    dvDeleteCore(t.planFiles(Some(cond)).toSet,
      df => df.filter(coalesce(cond, lit(false))))
  }

  /** KEYED DV delete: rows whose `keyCol` appears in `keys` gain DV
    * masks — the mirror-sync primitive (a key-set predicate cannot ride
    * a Column, and a COW rewrite would amplify writes). Every live file
    * is scanned to locate matching row positions — the true cost of a
    * keyed delete on Delta, which has no equality-delete file concept;
    * the WRITES stay O(matched rows) (bitmaps), never a rewrite. */
  def deleteMatchingDv(keys: DataFrame, keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "delta: deleteMatchingDv needs key columns")
    val t = DeltaTable.load(spark, location)
    dvDeleteCore(t.planFiles(None).toSet, keyMatcher(keys, keyCols))
  }

  /** Row matcher of a keyed DV delete: the rows whose `keyCols` equal a
    * row of `keys`, compared as strings. `=` never matches a NULL (SQL
    * MERGE), so keys holding one are dropped before the null-safe join. */
  private def keyMatcher(keys: DataFrame, keyCols: Seq[String]): DataFrame => DataFrame = {
    val k = keys.select(keyCols.map(c => col(c).cast("string")): _*).na.drop().distinct()
    df => RowDeletes.semiJoin(df, keyCols.map(c => df(c).cast("string")), k)
  }

  private def dvDeleteCore(affected: Set[String],
      rowMatcher: DataFrame => DataFrame): Long =
    dvDeleteActions(affected, rowMatcher) match {
      case None => version
      case Some((actions, cdcFrames)) =>
        val cdcActs =
          if (cdcFrames.isEmpty) Nil
          else writeCdcFiles(cdcFrames.reduce(_ unionByName _))
        commit(cdcActs ++ actions, operation = "DELETE")
    }

  /** The action list of a DV delete WITHOUT committing — remove + DV'd
    * re-add per touched file (plus the protocol flip on first use) and
    * the CDF delete frames. Shared by [[dvDeleteCore]] (commits it as a
    * delete) and [[upsertKeys]] (lands it in the same commit as the
    * merge's adds). None = nothing matched. */
  private def dvDeleteActions(affected: Set[String],
      rowMatcher: DataFrame => DataFrame)
      : Option[(Seq[ObjectNode], Seq[DataFrame])] = {
    if (affected.isEmpty) return None

    // ONE distributed read over every affected file, however many
    // partition groups: `cond` can reference partition columns, which
    // are injected through a broadcast file→partition-values frame
    // (scan()'s shape) instead of per-group literal loops — one Spark
    // job per DV delete, not one per partition (r09 verdict #4 minor)
    val affectedNodes = affected.toSeq.sorted.map(rel => rel -> live(rel))
    val keyToRel: Map[String, String] = affectedNodes.map { case (rel, _) =>
      DeltaTable.pathKey(DeltaTable.resolve(location, rel).toString) -> rel
    }.toMap
    // files that already carry a DV: their masked rows are ALREADY
    // deleted — they must not re-enter the new delta's row set (the
    // mask-union keeps the bitmap correct either way, but a CDF table
    // would re-emit a delete for an already-deleted row)
    val notAlreadyDeleted =
      dvMask(affectedNodes.map(_._2), col("__fp"), col("__ri")).getOrElse(lit(true))
    val cdcFrames = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val deletedByFile = locally {
      val paths = affectedNodes.map { case (rel, _) =>
        DeltaTable.resolve(location, rel).toString }
      val physData = StructType(dataSchema.fields.map(f => f.copy(name = phys(f.name))))
      // metadata columns captured on the raw file relation (they don't
      // survive arbitrary projection), then rename to logical
      var df = spark.read.schema(physData).parquet(paths: _*)
        .withColumn("__fp", ParquetStats.scanFilePath)
        .withColumn("__ri", col("_metadata.row_index"))
      df = df.select((col("__fp") +: col("__ri") +:
        dataSchema.fieldNames.toIndexedSeq.map(c => col(phys(c)).as(c))): _*)
      if (partitionColumns.nonEmpty) {
        val pvSchema = StructType(StructField("__fpk", StringType) +:
          partitionColumns.map(c => StructField(s"__pv_$c", StringType)))
        val pvRows = affectedNodes.map { case (rel, n) =>
          val pv = n.get("add").get("partitionValues")
          org.apache.spark.sql.Row.fromSeq(
            DeltaTable.pathKey(DeltaTable.resolve(location, rel).toString) +:
              partitionColumns.map { c =>
                val v = pv.get(phys(c))
                if (v == null || v.isNull) null else v.asText()
              })
        }
        val pvDf = spark.createDataFrame(
          spark.sparkContext.parallelize(pvRows.toIndexedSeq, 1), pvSchema)
        df = df.join(broadcast(pvDf),
          DeltaTable.normPath(col("__fp")) === col("__fpk"))
        partitionColumns.foreach { c =>
          df = df.withColumn(c, col(s"__pv_$c").cast(schema(c).dataType))
        }
        df = df.drop("__fpk" +: partitionColumns.map(c => s"__pv_$c"): _*)
      }
      val newlyDeleted = rowMatcher(df).filter(notAlreadyDeleted)
      if (enableCdf)
        cdcFrames += newlyDeleted
          .select(schema.fieldNames.map(col).toIndexedSeq: _*)
          .withColumn("_change_type", lit("delete"))
      RowDeletes.fold(newlyDeleted.select(col("__fp"), col("__ri")), DeltaTable.pathKey)
    }

    // zero-match (e.g. a pure-append mirror sync range where every
    // touched key is new): commit NOTHING — no zero-action commit file,
    // no table-features protocol flip (mirrors the zero-match guard in
    // deleteWhere/updateWhere)
    if (deletedByFile.isEmpty) return None
    val actions = scala.collection.mutable.ArrayBuffer[ObjectNode]()
    if (!dvEnabled) actions += protocolAction(dv = true)

    deletedByFile.toSeq.map { case (k, bm) => keyToRel(k) -> bm }
      .sortBy(_._1).foreach { case (rel, bitmap) =>
      val node = live(rel)
      val a = node.get("add")
      locally {
        // a file may already carry a DV: the replacement must include it
        // (the descriptor REPLACES, so union the old bitmap in)
        dvDescOf(a).foreach(d =>
          bitmap.union(DeletionVectors.load(conf, location, d)))
        val desc = DeletionVectors.write(conf, location, bitmap)
        val rm = mapper.createObjectNode()
        val r = rm.putObject("remove")
        r.put("path", a.get("path").asText())
        r.put("deletionTimestamp", System.currentTimeMillis())
        r.put("dataChange", true)
        actions += rm
        val newNode = node.deepCopy()
        val na = newNode.get("add").asInstanceOf[ObjectNode]
        val dn = na.putObject("deletionVector")
        dn.put("storageType", desc.storageType)
        dn.put("pathOrInlineDv", desc.pathOrInlineDv)
        desc.offset.foreach(dn.put("offset", _))
        dn.put("sizeInBytes", desc.sizeInBytes)
        dn.put("cardinality", desc.cardinality)
        // stats bounds are no longer tight once rows are masked
        if (na.has("stats")) {
          val st = mapper.readTree(na.get("stats").asText()).asInstanceOf[ObjectNode]
          st.put("tightBounds", false)
          na.put("stats", mapper.writeValueAsString(st))
        }
        actions += newNode
      }
    }
    // on a CDF table the DV commit also carries its delete change rows
    // (cdc actions are authoritative for CDF readers, so the DV'd adds
    // in this commit are correctly ignored by the feed)
    Some((actions.toSeq, cdcFrames.toSeq))
  }

  /** SQL MERGE's keyed upsert as ONE Delta commit: deletion-vector
    * masks retiring the source keys' current rows + add actions for the
    * source's rows, riding one atomic log entry — the single-commit
    * shape OSS Delta's MERGE produces (O(matched) bitmap writes, no
    * data-file rewrite, exported files untouched). On a CDF table the
    * commit carries authoritative cdc actions for both the delete
    * pre-images and the inserted rows, so a feed reader replays the
    * merge exactly. Callers must pass a PINNED source (evaluated once —
    * the key probe and the file write both consume it). */
  def upsertKeys(source: DataFrame, keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "delta: upsertKeys needs key columns")
    val src = source.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val t = DeltaTable.load(spark, location)
    // ROW TRACKING (r16b): a keyed MERGE's matched rows are UPDATES —
    // they must keep the retired target row's row id (materialized,
    // with a null commit version → the new add's default serves this
    // commit); unmatched rows stay fresh (null materialized id → the
    // baseRowId fallback mints). One key join against the live rows'
    // (key → id) projection decides the split; ambiguous multi-row
    // matches refuse (which id would the update carry?). MUST run (and
    // eagerly pin) BEFORE the DV delete below mutates the live state —
    // the retired rows are exactly the ones whose ids are carried.
    val writeSrc =
      if (!enableRowTracking || live.isEmpty) src
      else {
        val tgtKeys = readForRewrite(live.values.toSeq)
          .groupBy(keyCols.map(col): _*)
          .agg(min(col(DeltaWriter.MatRowIdCol)).as("__graft_rid"),
            count(lit(1)).as("__graft_n"))
        val joined = src.join(tgtKeys, keyCols, "left").localCheckpoint()
        val dup = joined.filter(col("__graft_n") > 1L).limit(1)
          .select(keyCols.map(col): _*).collect()
        require(dup.isEmpty,
          s"delta rowTracking: upsertKeys needs unique key rows in the " +
            s"target — key ${dup.headOption.getOrElse("")} matches " +
            "multiple live rows, so the carried row id would be ambiguous")
        joined.select(schema.fieldNames.map(col).toIndexedSeq ++ Seq(
          col("__graft_rid").as(DeltaWriter.MatRowIdCol),
          lit(null).cast(LongType).as(DeltaWriter.MatRowVerCol)): _*)
      }
    val (dvActs, dvCdc) =
      dvDeleteActions(t.planFiles(None).toSet, keyMatcher(src, keyCols))
        .getOrElse((Nil, Nil))
    val addsN = writeFiles(writeSrc)
    // a pure-insert merge (no matched keys) is a blind append — CDF
    // synthesis covers it; a mixed commit needs authoritative cdc rows
    val cdcActs =
      if (!enableCdf || dvActs.isEmpty) Nil
      else {
        val sel = schema.fieldNames.map(col).toIndexedSeq
        val inserts = src.select(sel: _*).withColumn("_change_type", lit("insert"))
        writeCdcFiles((dvCdc :+ inserts).reduce(_ unionByName _))
      }
    commit(cdcActs ++ dvActs ++ addsN, operation = "MERGE")
  }

  // ---- checkpoints ---------------------------------------------------------

  private val dvType = StructType(Seq(
    StructField("storageType", StringType),
    StructField("pathOrInlineDv", StringType),
    StructField("offset", IntegerType),
    StructField("sizeInBytes", IntegerType),
    StructField("cardinality", LongType)))
  private def addType = StructType(Seq(
    StructField("path", StringType),
    StructField("partitionValues", MapType(StringType, StringType, true)),
    StructField("size", LongType),
    StructField("modificationTime", LongType),
    StructField("dataChange", BooleanType),
    StructField("stats", StringType),
    StructField("deletionVector", dvType, true)) ++
    // row-tracking tables must checkpoint the per-add id spans — a
    // checkpoint-seeded reader otherwise has no fresh-id base
    (if (enableRowTracking) Seq(
      StructField("baseRowId", LongType, true),
      StructField("defaultRowCommitVersion", LongType, true)) else Nil))
  // the protocol REQUIRES checkpoints to carry every live domainMetadata
  private val domainType = StructType(Seq(
    StructField("domain", StringType),
    StructField("configuration", StringType),
    StructField("removed", BooleanType)))
  private def domainStructs: Seq[org.apache.spark.sql.Row] =
    if (!enableRowTracking || rowIdHwm < 0L) Nil
    else Seq(org.apache.spark.sql.Row("delta.rowTracking",
      s"""{"rowIdHighWaterMark":$rowIdHwm}""", false))
  private val protoType = StructType(Seq(
    StructField("minReaderVersion", IntegerType),
    StructField("minWriterVersion", IntegerType),
    StructField("readerFeatures", ArrayType(StringType), true),
    StructField("writerFeatures", ArrayType(StringType), true)))
  // the protocol REQUIRES checkpoints to preserve the newest txn action
  // per appId — dropping them would reset streaming-sink idempotence for
  // checkpoint-seeded readers
  private val txnType = StructType(Seq(
    StructField("appId", StringType),
    StructField("version", LongType),
    StructField("lastUpdated", LongType, true)))
  private def txnStructs: Seq[org.apache.spark.sql.Row] =
    txns.toSeq.sortBy(_._1).map { case (app, (v, ts)) =>
      org.apache.spark.sql.Row(app, v, ts) }
  private val metaType = StructType(Seq(
    StructField("id", StringType),
    StructField("schemaString", StringType),
    StructField("partitionColumns", ArrayType(StringType)),
    StructField("configuration", MapType(StringType, StringType, true))))
  private val removeType = StructType(Seq(
    StructField("path", StringType),
    StructField("deletionTimestamp", LongType),
    StructField("dataChange", BooleanType),
    StructField("partitionValues", MapType(StringType, StringType, true), true),
    StructField("size", LongType, true)))

  import org.apache.spark.sql.Row

  /** (protocol struct, metaData struct, one add struct per live file) —
    * shared between the classic and v2 checkpoint writers. */
  private def checkpointStructs: (Row, Row, Seq[Row]) = {
    val protoNode = protocolAction().get("protocol")
    def featureList(key: String): Seq[String] =
      if (protoNode.has(key)) {
        val it = protoNode.get(key).elements()
        val b = Seq.newBuilder[String]
        while (it.hasNext) b += it.next().asText()
        b.result()
      } else null
    val protoStruct = Row(protoNode.get("minReaderVersion").asInt(),
      protoNode.get("minWriterVersion").asInt(),
      featureList("readerFeatures"), featureList("writerFeatures"))
    // the checkpoint's metaData must carry the SAME configuration the
    // log's metaData action does — dropping delta.enableChangeDataFeed
    // here would make checkpoint-seeded readers see a non-CDF table
    val cfg: Map[String, String] =
      (if (enableCdf) Map("delta.enableChangeDataFeed" -> "true")
       else Map.empty[String, String]) ++
        (if (enableIct) Map("delta.enableInCommitTimestamps" -> "true")
         else Map.empty[String, String]) ++
        (if (enableRowTracking) Map(
          "delta.enableRowTracking" -> "true",
          "delta.rowTracking.materializedRowIdColumnName" ->
            DeltaWriter.MatRowIdCol,
          "delta.rowTracking.materializedRowCommitVersionColumnName" ->
            DeltaWriter.MatRowVerCol)
         else Map.empty[String, String]) ++
        columnMapping.map(mode => Map(
          "delta.columnMapping.mode" -> mode,
          "delta.columnMapping.maxColumnId" -> schema.length.toString))
          .getOrElse(Map.empty[String, String])
    val metaStruct = Row(java.util.UUID.randomUUID().toString,
      metaSchema.json, partitionColumns, cfg)
    val addStructs = live.values.toSeq.map { n =>
      val a = n.get("add")
      val pvIt = a.get("partitionValues").fields()
      val pv = scala.collection.mutable.Map[String, String]()
      while (pvIt.hasNext) {
        val e = pvIt.next()
        pv(e.getKey) = if (e.getValue.isNull) null else e.getValue.asText()
      }
      val dvRow =
        if (a.has("deletionVector") && !a.get("deletionVector").isNull) {
          val d = a.get("deletionVector")
          Row(d.get("storageType").asText(), d.get("pathOrInlineDv").asText(),
            if (d.has("offset") && !d.get("offset").isNull)
              d.get("offset").asInt() else null,
            d.get("sizeInBytes").asInt(), d.get("cardinality").asLong())
        } else null
      // dataChange is FALSE in checkpoints, per protocol: checkpoint
      // actions reconstruct STATE; a checkpoint-seeded CDF/incremental
      // reader must not mistake an OPTIMIZE'd file for a row change
      val base = Seq[Any](a.get("path").asText(), pv.toMap,
        a.get("size").asLong(), a.get("modificationTime").asLong(),
        false, a.get("stats").asText(), dvRow)
      Row(base ++ (if (!enableRowTracking) Nil else Seq(
        if (a.has("baseRowId")) Long.box(a.get("baseRowId").asLong()) else null,
        if (a.has("defaultRowCommitVersion"))
          Long.box(a.get("defaultRowCommitVersion").asLong()) else null)): _*)
    }
    (protoStruct, metaStruct, addStructs)
  }

  /** Unexpired remove-tombstone structs for checkpoints (protocol vacuum
    * contract; expiry follows the 7-day default retention). */
  private def tombstoneStructs: Seq[Row] = {
    val cutoff = System.currentTimeMillis() - 7L * 24 * 3600 * 1000
    tombstones.values.toSeq
      .filter(_.path("deletionTimestamp").asLong(0L) >= cutoff)
      .map { r =>
        val pv =
          if (r.has("partitionValues") && !r.get("partitionValues").isNull) {
            val it = r.get("partitionValues").fields()
            val m = scala.collection.mutable.Map[String, String]()
            while (it.hasNext) {
              val e = it.next()
              m(e.getKey) = if (e.getValue.isNull) null else e.getValue.asText()
            }
            m.toMap
          } else null
        Row(r.get("path").asText(), r.get("deletionTimestamp").asLong(),
          false, pv,
          if (r.has("size")) Long.box(r.get("size").asLong()) else null)
      }
  }

  /** Single-file parquet write of `rows` under `schema`, renamed to
    * `dest` (Spark writes a directory; the log wants one file). */
  private def writeSingleParquet(rows: Seq[Row], rowSchema: StructType,
      dest: Path): Unit = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), rowSchema)
    graft.lake.CommitIo.stage(spark, root) { tmp =>
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    } { (_, _) => dest }
  }

  private def writeLastCheckpoint(sizeActions: Long,
      parts: Option[Int] = None): Unit = {
    val lc = mapper.createObjectNode()
    lc.put("version", version)
    lc.put("size", sizeActions)
    parts.foreach(lc.put("parts", _))
    val out = fs.create(new Path(logDir, "_last_checkpoint"), true)
    try out.write(mapper.writeValueAsString(lc).getBytes("UTF-8"))
    finally out.close()
  }

  /** Classic checkpoint of the CURRENT state + the `_last_checkpoint`
    * pointer — what lets a reader skip the log prefix. `parts > 1`
    * writes the multi-part layout (`%020d.checkpoint.%010d.%010d
    * .parquet`, adds round-robined, non-file actions in part 1) that
    * large production tables have. */
  def checkpoint(parts: Int = 1): Unit = {
    require(version >= 0, "delta: nothing to checkpoint")
    require(parts >= 1, s"delta: checkpoint parts $parts")
    val cpSchema = StructType(Seq(
      StructField("protocol", protoType, true),
      StructField("metaData", metaType, true),
      StructField("add", addType, true),
      StructField("remove", removeType, true),
      StructField("txn", txnType, true)) ++
      (if (enableRowTracking)
        Seq(StructField("domainMetadata", domainType, true)) else Nil))
    // row-tracking checkpoints carry a sixth action column — pad the
    // positional rows so arity tracks the schema
    def r(proto: Any, meta: Any, add: Any, rm: Any, txn: Any,
        dom: Any = null): Row =
      if (enableRowTracking) Row(proto, meta, add, rm, txn, dom)
      else Row(proto, meta, add, rm, txn)
    val (proto, meta, adds) = checkpointStructs
    val txnRows = txnStructs.map(t => r(null, null, null, null, t))
    val rmRows = tombstoneStructs.map(x => r(null, null, null, x, null))
    val domRows = domainStructs.map(d => r(null, null, null, null, null, d))
    if (parts == 1) {
      val rows = r(proto, null, null, null, null) +:
        r(null, meta, null, null, null) +:
        (txnRows ++ domRows ++
          adds.map(a => r(null, null, a, null, null)) ++ rmRows)
      writeSingleParquet(rows, cpSchema,
        new Path(logDir, f"$version%020d.checkpoint.parquet"))
    } else {
      val byPart = adds.zipWithIndex.groupBy(_._2 % parts)
      (1 to parts).foreach { p =>
        val partAdds = byPart.getOrElse(p - 1, Nil).map(_._1)
        val rows =
          (if (p == 1) Seq(r(proto, null, null, null, null),
            r(null, meta, null, null, null)) ++ txnRows ++ domRows ++ rmRows
           else Nil) ++ partAdds.map(a => r(null, null, a, null, null))
        writeSingleParquet(rows, cpSchema,
          new Path(logDir, f"$version%020d.checkpoint.$p%010d.$parts%010d.parquet"))
      }
    }
    writeLastCheckpoint(
      live.size.toLong + 2 + txns.size + rmRows.size + domRows.size,
      if (parts == 1) None else Some(parts))
  }

  /** V2 checkpoint (reader feature `v2Checkpoint`): uuid-named top-level
    * `%020d.checkpoint.<uuid>.parquet` holding the non-file actions plus
    * a `checkpointMetadata` action and `sidecar` pointers; the add
    * actions themselves go to a parquet sidecar under
    * `_delta_log/_sidecars/`. Commits the protocol upgrade first (a
    * table whose checkpoints are v2 must demand the feature, per the
    * protocol), so a pre-upgrade reader rejects rather than misreads. */
  def checkpointV2(): Unit = {
    require(version >= 0, "delta: nothing to checkpoint")
    if (!v2CpEnabled) commit(Seq(protocolAction(v2Cp = true)))
    val (proto, meta, adds) = checkpointStructs
    // sidecar: file actions only (adds + unexpired remove tombstones)
    val sidecarSchema = StructType(Seq(
      StructField("add", addType, true),
      StructField("remove", removeType, true)))
    val sidecarName = s"${java.util.UUID.randomUUID()}.parquet"
    val sidecarPath = new Path(new Path(logDir, "_sidecars"), sidecarName)
    writeSingleParquet(
      adds.map(Row(_, null)) ++ tombstoneStructs.map(Row(null, _)),
      sidecarSchema, sidecarPath)
    val scStatus = fs.getFileStatus(sidecarPath)
    // top-level: protocol + metaData + checkpointMetadata + sidecar refs
    val cpMetaType = StructType(Seq(
      StructField("version", LongType),
      StructField("tags", MapType(StringType, StringType, true), true)))
    val sidecarType = StructType(Seq(
      StructField("path", StringType),
      StructField("sizeInBytes", LongType),
      StructField("modificationTime", LongType),
      StructField("tags", MapType(StringType, StringType, true), true)))
    val topSchema = StructType(Seq(
      StructField("protocol", protoType, true),
      StructField("metaData", metaType, true),
      StructField("checkpointMetadata", cpMetaType, true),
      StructField("sidecar", sidecarType, true),
      StructField("txn", txnType, true)) ++
      (if (enableRowTracking)
        Seq(StructField("domainMetadata", domainType, true)) else Nil))
    def r(proto: Any, meta: Any, cpm: Any, sc: Any, txn: Any,
        dom: Any = null): Row =
      if (enableRowTracking) Row(proto, meta, cpm, sc, txn, dom)
      else Row(proto, meta, cpm, sc, txn)
    val rows = Seq(
      r(proto, null, null, null, null),
      r(null, meta, null, null, null),
      r(null, null, Row(version, null), null, null),
      r(null, null, null,
        Row(sidecarName, scStatus.getLen, scStatus.getModificationTime, null),
        null)) ++ txnStructs.map(t => r(null, null, null, null, t)) ++
      domainStructs.map(d => r(null, null, null, null, null, d))
    val uuid = java.util.UUID.randomUUID().toString
    writeSingleParquet(rows, topSchema,
      new Path(logDir, f"$version%020d.checkpoint.$uuid.parquet"))
    writeLastCheckpoint(live.size.toLong + 3 + txns.size + domainStructs.size)
  }
}

object DeltaWriter {

  /** Epoch micros → ISO-8601 at UTC (Z-suffixed for TimestampType,
    * bare local form for NTZ), microsecond precision. */
  private[delta] def isoMicros(us: Long, utcSuffix: Boolean): String = {
    val ldt = java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC)
    val base = ldt.format(java.time.format.DateTimeFormatter
      .ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSSSSS"))
    if (utcSuffix) base + "Z" else base
  }

  /** Fresh table at `location` (cleared first): version 0 carries
    * protocol + metaData, per the protocol's creation shape.
    * `columnMapping`: None | Some("name") | Some("id"). */
  /** Reopens an existing Delta table for FURTHER commits (the mirror
    * steady state — create() starts from scratch). Replays the raw JSON
    * log: live add actions, current metaData (schema / partition
    * columns / CDF flag), protocol features. Requires the full commit
    * log from version 0 (loud otherwise — a cleaned log would silently
    * forget live files) and no column mapping (physical-name state is
    * not reconstructed). */
  def open(spark: SparkSession, location: String): DeltaWriter = {
    val mapper = new ObjectMapper()
    val logDir = new Path(location, "_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(logDir), s"delta: no _delta_log under $location")
    val CommitRe = """(\d{20})\.json""".r
    val commits = fs.listStatus(logDir).toSeq.map(_.getPath)
      .flatMap(p => p.getName match {
        case CommitRe(v) => Some((v.toLong, p)); case _ => None
      }).sortBy(_._1)
    require(commits.nonEmpty, s"delta: empty log under $location")
    require(commits.map(_._1) == (0L until commits.size.toLong),
      s"delta: open() needs the full log from version 0 " +
        s"(have ${commits.map(_._1).mkString(",")})")
    var schemaStr: String = null
    var partitionCols: Seq[String] = Nil
    var cdf = false
    var dvFeature = false
    var v2cp = false
    var tw = false
    var ict = false
    var maxIct = 0L
    var rowTracking = false
    var hwm = -1L
    val live = scala.collection.mutable.LinkedHashMap[String, ObjectNode]()
    val txnSeen = scala.collection.mutable.Map[String, (Long, Long)]()
    commits.foreach { case (_, p) =>
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      text.split('\n').filter(_.trim.nonEmpty).foreach { line =>
        val n = mapper.readTree(line)
        if (n.has("metaData")) {
          val m = n.get("metaData")
          schemaStr = m.get("schemaString").asText()
          val pcs = Seq.newBuilder[String]
          val it = m.path("partitionColumns").elements()
          while (it.hasNext) pcs += it.next().asText()
          partitionCols = pcs.result()
          cdf = m.path("configuration")
            .path("delta.enableChangeDataFeed").asText("") == "true"
          require(m.path("configuration").path("delta.columnMapping.mode")
            .asText("none") == "none",
            "delta: open() does not reconstruct column-mapping state")
          rowTracking = m.path("configuration")
            .path("delta.enableRowTracking").asText("") == "true"
          if (rowTracking) {
            // this writer materializes under ITS column names — a table
            // whose config names others would get silently-ignored
            // lineage columns on rewrite: refuse loudly
            val idCol = m.path("configuration")
              .path("delta.rowTracking.materializedRowIdColumnName")
              .asText("")
            val verCol = m.path("configuration")
              .path("delta.rowTracking.materializedRowCommitVersionColumnName")
              .asText("")
            require(idCol == MatRowIdCol && verCol == MatRowVerCol,
              s"delta: open() cannot adopt row tracking with foreign " +
                s"materialized column names ($idCol, $verCol)")
          }
        }
        if (n.has("protocol")) {
          val fts = n.get("protocol").path("writerFeatures")
          if (fts.isArray) {
            val it = fts.elements()
            while (it.hasNext) it.next().asText() match {
              case "deletionVectors" => dvFeature = true
              case "v2Checkpoint" => v2cp = true
              case "typeWidening" => tw = true
              case "inCommitTimestamp" => ict = true
              case _ => ()
            }
          }
        }
        if (n.has("add")) {
          val node = mapper.createObjectNode()
          node.set[ObjectNode]("add", n.get("add").deepCopy())
          live(DeltaTable.decodePath(n.get("add").get("path").asText())) = node
        }
        if (n.has("remove"))
          live.remove(DeltaTable.decodePath(n.get("remove").path("path").asText()))
        if (n.has("txn")) {
          val t = n.get("txn")
          txnSeen(t.get("appId").asText()) =
            (t.get("version").asLong(), t.path("lastUpdated").asLong(0L))
        }
        if (n.has("commitInfo"))
          maxIct = math.max(maxIct,
            n.get("commitInfo").path("inCommitTimestamp").asLong(0L))
        if (n.has("domainMetadata")) {
          val d = n.get("domainMetadata")
          if (d.path("domain").asText("") == "delta.rowTracking" &&
              !d.path("removed").asBoolean(false))
            hwm = mapper.readTree(d.path("configuration").asText("{}"))
              .path("rowIdHighWaterMark").asLong(-1L)
        }
      }
    }
    require(schemaStr != null, s"delta: no metaData action under $location")
    val schema = org.apache.spark.sql.types.DataType.fromJson(schemaStr)
      .asInstanceOf[StructType]
    val w = new DeltaWriter(spark, location, schema, partitionCols, None,
      cdf, enableIct = ict, enableRowTracking = rowTracking)
    w.version = commits.map(_._1).max
    live.foreach { case (rel, node) => w.live(rel) = node }
    txnSeen.foreach { case (app, v) => w.txns(app) = v }
    w.dvEnabled = dvFeature
    w.v2CpEnabled = v2cp
    w.twEnabled = tw
    w.lastIct = maxIct // the monotone chain continues across processes
    w.rowIdHwm = hwm // fresh spans continue above every assigned id
    w
  }

  /** CONVERT TO DELTA, in place — the protocol's adoption path (OSS
    * Delta's `CONVERT TO DELTA parquet.&#96;/path&#96;`): every parquet file
    * already under `location` becomes an add action of commit 0, with
    * partitionValues parsed from the hive `col=value` layout and
    * per-file stats JSON lifted from the parquet FOOTERS — so min/max
    * file skipping works from the first read. No data file is read past
    * its footer, moved, or rewritten; at 100 TB conversion is ONE
    * distributed footer job over the file list (executor-side
    * [[graft.lake.ParquetStats.readFooters]]; only the O(files) stat
    * rows come back to the driver) and one log write. The returned
    * writer is live: subsequent appends/deletes/updates land as normal
    * commits. */
  def convert(spark: SparkSession, location: String,
      partitionColumns: Seq[String] = Nil): DeltaWriter = {
    val p = new Path(location)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(!fs.exists(new Path(p, "_delta_log")),
      s"delta convert: $location already has a _delta_log")
    // hive partition discovery types the partition columns; data columns
    // come from the footers — exactly what CONVERT TO DELTA infers
    val schema = spark.read.parquet(location).schema
    partitionColumns.foreach(c => require(schema.fieldNames.contains(c),
      s"delta convert: partition column $c not found " +
        s"(have ${schema.fieldNames.mkString(", ")})"))
    fs.mkdirs(new Path(p, "_delta_log"))
    val w = new DeltaWriter(spark, location, schema, partitionColumns, None)
    w.convertExisting()
    w
  }

  def create(spark: SparkSession, location: String, schema: StructType,
      partitionColumns: Seq[String] = Nil,
      columnMapping: Option[String] = None,
      enableCdf: Boolean = false,
      enableIct: Boolean = false,
      enableRowTracking: Boolean = false): DeltaWriter = {
    require(columnMapping.forall(Set("name", "id").contains),
      s"delta: columnMapping mode $columnMapping")
    val p = new Path(location)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    fs.mkdirs(new Path(p, "_delta_log"))
    val w = new DeltaWriter(spark, location, schema, partitionColumns,
      columnMapping, enableCdf, enableIct, enableRowTracking)
    w.commit(Seq(w.protocolAction(), w.metaAction))
    w
  }

  /** Materialized lineage column names this writer records in the table
    * configuration (`delta.rowTracking.materialized*ColumnName`) — the
    * protocol resolves them from config, so any conformant reader finds
    * them; fixed here (collision with the user schema is refused at
    * creation). */
  private[delta] val MatRowIdCol = "_graft_row_id_phys"
  private[delta] val MatRowVerCol = "_graft_row_commit_phys"
  private[delta] val MatCols = Seq(MatRowIdCol, MatRowVerCol)
}
