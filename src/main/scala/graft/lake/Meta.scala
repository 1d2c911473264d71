package graft.lake

/** Metadata model for the graft lake table format.
  *
  * Deliberately Iceberg-shaped (cf. the reference's table metadata +
  * snapshot machinery, pg_lakehouse_iceberg/src/operations/commit_ops.c:41-86
  * and src/catalog/pg_catalog.cpp) but self-contained. Since r04 the layout
  * follows Iceberg's manifest-list indirection so that METADATA WRITTEN PER
  * COMMIT IS O(THE COMMIT'S OWN FILES), never O(table history):
  *
  * {{{
  *   metadata/v00042.json   — snapshot LOG: one pointer-sized entry per
  *                            snapshot (id, parent, ts, op, manifest-list
  *                            path, summary counts). No file lists inline.
  *   metadata/ml-….json     — manifest list of ONE snapshot: the paths of
  *                            the manifests whose union is its file state.
  *   metadata/mf-….json     — immutable manifest: data-file + delete-file
  *                            entries (with per-column stats) written by
  *                            one commit (or one manifest merge).
  * }}}
  *
  * An append commit writes: one manifest holding its new files, one
  * manifest list (= parent's manifest pointers + the new one), and the new
  * vN.json. Parent file lists are NEVER rewritten — r03's verdict flagged
  * the previous single-document model (every commit re-serialized the full
  * history's file lists) as O(snapshots × files): a streaming sink at one
  * commit per micro-batch made the document multi-GB by 10k batches. To
  * keep the manifest list bounded, small manifests are merged into one when
  * the list exceeds `manifest.merge.min-count` (amortized O(files/threshold)
  * per commit, exactly Iceberg's merge-on-write posture). The snapshot log
  * itself is O(snapshots) pointer entries; `maintain()`/`expireSnapshots`
  * bounds that dimension.
  *
  * Manifests and manifest lists are immutable once written (content-nonce
  * names), so they are shared across snapshots by pointer — rollback is a
  * pointer copy — and cached JVM-wide by path.
  *
  * Sequence-number semantics follow Iceberg v2 equality deletes: a delete
  * file with sequence number t applies to data files with sequence s < t.
  * We use the snapshot id as the sequence number (ids are a dense 1..N
  * ordinal, so they double as commit order).
  */

/** Per-column min/max/null stats extracted from parquet footers at commit
  * time. `tag` picks the comparison domain: "l" = integral (long; also date
  * days / timestamp micros), "d" = floating, "s" = UTF-8 string. min/max are
  * stored as strings so the JSON codec never guesses numeric widths.
  */
case class ColStats(tag: String, min: String, max: String, nulls: Long)

/** One live data file as the metadata-aggregate fold sees it, whatever
  * its format: `file.stats` keyed by logical column name, `file.rowCount`
  * exact, `nulls` = the null counts the format knows, by logical column
  * name (absent = unknown, never zero). */
final case class AggEntry(file: DataFileMeta, nulls: Map[String, Long])

case class DataFileMeta(
    path: String,           // relative to table location, e.g. data/[p=v/]s1-f<nonce>-00000.parquet
    seq: Long,              // sequence number = id of the committing snapshot
    rowCount: Long,
    sizeBytes: Long,
    partitionValues: Map[String, String], // hive-style; NULL_PARTITION for null
    stats: Map[String, ColStats],
    // per-column bloom-filter sidecars (blooms/bf-….bin, table-relative),
    // keyed by the column's PHYSICAL name at write time — file-level
    // point-lookup skipping on columns min/max can't discriminate
    // (write.bloom.columns; Iceberg puffin / Delta bloom-index analog).
    // Metadata written before the field existed deserializes null.
    blooms: Map[String, String] = Map.empty) {
  def bloomsOr: Map[String, String] = if (blooms == null) Map.empty else blooms
}

/** `kind`: "eq" = equality delete (key-column rows; applies by null-safe
  * anti-join on the table's key columns) or "pos" = positional delete
  * (Iceberg v2's second delete type: full data-file URI + row ordinal,
  * applies by anti-join on `_metadata.file_path`/`row_index`) — the
  * delete path for tables WITHOUT key columns. Metadata written before the
  * field existed deserializes kind=null → treated as "eq". `nullSafe`
  * marks equality files written at the table's key types whose NULL keys
  * match NULL; older files (false) were matched with `=`, so their NULL
  * keys match nothing. */
case class DeleteFileMeta(
    path: String,
    seq: Long,
    rowCount: Long,
    kind: String = "eq",
    nullSafe: Boolean = false) {
  def kindOr: String = if (kind == null) "eq" else kind
}

/** One immutable manifest document (metadata/mf-….json). */
case class Manifest(
    dataFiles: Seq[DataFileMeta],
    deleteFiles: Seq[DeleteFileMeta]) {
  def data: Seq[DataFileMeta] = if (dataFiles == null) Nil else dataFiles
  def deletes: Seq[DeleteFileMeta] = if (deleteFiles == null) Nil else deleteFiles
}

/** Pointer-sized summary of ONE manifest, carried in the manifest list so
  * that planning can size bin-packing and skip whole manifests WITHOUT
  * loading them (Iceberg's manifest-list partition summaries; cf. the
  * reference's staged scan planning, scan_ops.c:60-120, one level up).
  *
  * `partitionValues`: per partition-DIR-name, the sorted distinct hive
  * values covering EVERY data file in the manifest — a column is present
  * only when all files carry it and the distinct count is small (≤
  * [[Meta.SummaryValueCap]]); an absent column means "unknown", never
  * skip. `bytes` is the serialized manifest size (the bin-pack key). */
case class ManifestSummary(
    nData: Int,
    nDeletes: Int,
    bytes: Long,
    partitionValues: Map[String, Seq[String]] = Map.empty,
    // sequence-number range over the manifest's data+delete entries —
    // lets incremental/CDC reads of one commit skip manifests that
    // cannot hold its files. Real seqs are >= 1; minSeq < 1 (absent
    // field deserializes 0) or an inverted range means UNKNOWN → load.
    minSeq: Long = 0L,
    maxSeq: Long = -1L,
    // folded per-column min/max/null bounds over the manifest's DATA
    // files, keyed by FIELD ID as a string (rename-proof: a dropped-and-
    // re-added column's new id misses every old summary → conservative
    // load; cf. Iceberg's manifest-list lower_bounds/upper_bounds). A
    // column is present only when EVERY data file carries a comparable
    // stat for it under its schema epoch. `rows` = total data rows;
    // <= 0 (absent field deserializes 0) means UNKNOWN.
    columnRanges: Map[String, ColStats] = Map.empty,
    rows: Long = -1L) {
  def pvals: Map[String, Seq[String]] =
    if (partitionValues == null) Map.empty else partitionValues

  def ranges: Map[String, ColStats] =
    if (columnRanges == null) Map.empty else columnRanges

  /** May this manifest hold entries of sequence `seq`? Conservative:
    * unknown ranges answer true. */
  def covers(seq: Long): Boolean =
    minSeq < 1 || maxSeq < minSeq || (minSeq <= seq && seq <= maxSeq)
}

/** One snapshot's manifest list (metadata/ml-….json): ordered manifest
  * paths relative to the table location, plus (since r06) one
  * [[ManifestSummary]] per path. Lists written before summaries existed
  * deserialize `summaries == null` → every consumer falls back to
  * loading the manifests. */
case class ManifestList(manifests: Seq[String], summaries: Seq[ManifestSummary] = null) {
  /** paths zipped with their summaries; None per-entry when the list
    * predates summaries (or was written with a mismatched count). */
  def entries: Seq[(String, Option[ManifestSummary])] =
    if (summaries == null || summaries.length != manifests.length)
      manifests.map(_ -> None)
    else manifests.zip(summaries.map(Some(_)))
}

/** Pointer-sized snapshot entry as persisted in the vN.json log. The
  * summary counts exist so metadata tables and conflict checks never need
  * to load manifests. `addedDataFiles` counts the data files first written
  * BY this commit (file seq == snapshot id). */
case class SnapshotRef(
    id: Long,
    parentId: Long,
    timestampMs: Long,
    operation: String,      // append | delete | update | upsert | overwrite | replace (row-preserving rewrite) | rollback
    manifestList: String,   // metadata/ml-….json, relative to table location
    addedDataFiles: Int,
    nDataFiles: Int,
    nDeleteFiles: Int,
    totalRows: Long)

/** One schema epoch: the table schema in force for data files written at
  * sequence >= `fromSeq`, with a stable FIELD ID per column (`ids(i)` is
  * the id of the i-th DDL field). Field ids are Iceberg's rename/drop
  * mechanism: a rename is a new epoch with the same ids and a new name, a
  * drop removes the id, and the read path matches an old file's physical
  * columns to the current schema BY ID — metadata-only DDL, old files
  * never rewritten. */
case class SchemaEpoch(fromSeq: Long, ddl: String, ids: Seq[Int])

/** Persisted form of the table metadata document (vN.json). */
case class TableMetadataDoc(
    formatVersion: Int,
    version: Long,
    schemaDdl: String,
    partitionColumns: Seq[String],
    keyColumns: Seq[String],
    currentSnapshotId: Long,
    snapshots: Seq[SnapshotRef],
    properties: Map[String, String] = Map.empty,
    schemaLog: Seq[SchemaEpoch] = Nil,          // empty → single epoch = schemaDdl
    refs: Map[String, Long] = Map.empty,        // named snapshot tags
    branches: Map[String, Long] = Map.empty)    // writable refs: branch → head id

/** In-memory snapshot: the pointer entry plus LAZY file lists resolved
  * through the manifest cache — `dataFiles`/`deleteFiles` keep the exact
  * shape every caller had before the r04 manifest indirection, but touching
  * them is what loads manifests; code that only needs counts reads the
  * summary fields and never does IO. */
class Snapshot(
    val id: Long,
    val parentId: Long,
    val timestampMs: Long,
    val operation: String,
    val manifestList: String,
    val addedDataFiles: Int,
    val nDataFiles: Int,
    val nDeleteFiles: Int,
    val totalRows: Long,
    resolver: ManifestResolver) {

  def ref: SnapshotRef = SnapshotRef(id, parentId, timestampMs, operation,
    manifestList, addedDataFiles, nDataFiles, nDeleteFiles, totalRows)

  /** Manifest paths + summaries (reads only the manifest list). */
  lazy val manifestEntries: Seq[(String, Option[ManifestSummary])] =
    resolver.manifestList(manifestList).entries

  def manifestPaths: Seq[String] = manifestEntries.map(_._1)

  private lazy val loaded: Seq[Manifest] = resolver.manifests(manifestPaths)

  def dataFiles: Seq[DataFileMeta] = loaded.flatMap(_.data)

  /** Delete files of the snapshot. With summaries, only the manifests
    * that actually HOLD deletes are loaded — at a million-file table the
    * scan's delete-side planning no longer walks the data inventory. */
  def deleteFiles: Seq[DeleteFileMeta] =
    if (manifestEntries.forall(_._2.isDefined)) {
      val holding = manifestEntries.collect {
        case (p, Some(s)) if s.nDeletes > 0 => p
      }
      if (holding.isEmpty) Nil else resolver.manifests(holding).flatMap(_.deletes)
    } else loaded.flatMap(_.deletes)

  /** Manifests whose summary seq-range covers `seq` (unknown → load). */
  private def manifestsCovering(seq: Long): Seq[Manifest] = {
    val paths = manifestEntries.collect {
      case (p, None) => p
      case (p, Some(s)) if s.covers(seq) => p
    }
    if (paths.isEmpty) Nil else resolver.manifests(paths)
  }

  /** Data files written at exactly sequence `seq` — the incremental/CDC
    * read of one commit. Loads only seq-covering manifests, so a tailing
    * consumer of a long-history table pays O(the commit's manifests),
    * not O(the table's file inventory) per micro-batch. */
  def dataFilesAt(seq: Long): Seq[DataFileMeta] =
    manifestsCovering(seq).flatMap(_.data).filter(_.seq == seq)

  /** Delete files written at exactly sequence `seq` (see dataFilesAt). */
  def deleteFilesAt(seq: Long): Seq[DeleteFileMeta] =
    manifestsCovering(seq).flatMap(_.deletes).filter(_.seq == seq)

  /** Data files from manifests whose summary passes `keep`; entries
    * without a summary always load (conservative). Callers prove their
    * own `keep` sound — a skipped manifest's files must be irrelevant to
    * the caller's computation. */
  def dataFilesWhere(keep: ManifestSummary => Boolean): Seq[DataFileMeta] = {
    val paths = manifestEntries.collect {
      case (p, None) => p
      case (p, Some(s)) if keep(s) => p
    }
    if (paths.isEmpty) Nil else resolver.manifests(paths).flatMap(_.data)
  }
}

/** Reads manifest lists / manifests by table-relative path (impl caches —
  * both are immutable once written). */
trait ManifestResolver {
  def manifestList(relPath: String): ManifestList
  def manifest(relPath: String): Manifest
  /** Bulk load; impls may parallelize on an IO pool. Preserves order. */
  def manifests(relPaths: Seq[String]): Seq[Manifest] = relPaths.map(manifest)
}

/** In-memory table metadata: persisted doc fields + resolved snapshots. */
case class TableMetadata(
    formatVersion: Int,
    version: Long,          // metadata version (vN.json)
    schemaDdl: String,      // CURRENT Spark DDL, parsed with StructType.fromDDL
    partitionColumns: Seq[String],
    keyColumns: Seq[String],// equality-delete key (MoR delete/update)
    currentSnapshotId: Long,// -1 if no snapshot yet
    snapshots: Seq[Snapshot],
    properties: Map[String, String] = Map.empty, // table properties (Iceberg-style)
    schemaLog: Seq[SchemaEpoch] = Nil,
    refs: Map[String, Long] = Map.empty,
    branches: Map[String, Long] = Map.empty) {

  /** null-safe properties (metadata written before the field existed
    * deserializes it as null). */
  def props: Map[String, String] =
    if (properties == null) Map.empty else properties

  /** null-safe named snapshot refs (tags). Values re-box defensively:
    * Jackson deserializes Map[String, Long] VALUES as Integer when they
    * fit (generic erasure — unlike case-class Long fields), and an
    * Integer unboxed as Long throws ClassCastException. */
  def tags: Map[String, Long] =
    if (refs == null) Map.empty
    // upcast FIRST: binding the value as Long would itself unbox (CCE) —
    // the erased map really holds Integers after a JSON round-trip
    else (refs: Map[String, Any]).map { case (k, v) =>
      k -> v.asInstanceOf[Number].longValue()
    }

  /** null-safe writable branch refs (branch name → head snapshot id);
    * same defensive re-box as [[tags]]. */
  def branchHeads: Map[String, Long] =
    if (branches == null) Map.empty
    else (branches: Map[String, Any]).map { case (k, v) =>
      k -> v.asInstanceOf[Number].longValue()
    }

  /** Schema epochs, oldest first; tables created before schemaLog existed
    * (or that never ran rename/drop DDL) read as one epoch covering all
    * sequence numbers, with positional field ids. */
  def epochs: Seq[SchemaEpoch] =
    if (schemaLog == null || schemaLog.isEmpty)
      Seq(SchemaEpoch(Long.MinValue, schemaDdl,
        0 until org.apache.spark.sql.types.StructType.fromDDL(schemaDdl).length))
    else schemaLog

  /** Index into `epochs` of the schema in force for files written at
    * sequence `seq` (ties broken toward the LATER epoch — two DDLs
    * between commits share a fromSeq and the second wins). */
  def epochIndexFor(seq: Long): Int = {
    val es = epochs
    var best = 0
    var i = 1
    while (i < es.length) { if (es(i).fromSeq <= seq) best = i; i += 1 }
    best
  }

  def snapshot(id: Long): Snapshot =
    snapshots.find(_.id == id).getOrElse(
      throw new IllegalArgumentException(s"no snapshot $id; have ${snapshots.map(_.id).mkString(",")}"))

  def currentSnapshot: Option[Snapshot] =
    if (currentSnapshotId < 0) None else Some(snapshot(currentSnapshotId))

  def toDoc: TableMetadataDoc = TableMetadataDoc(formatVersion, version, schemaDdl,
    partitionColumns, keyColumns, currentSnapshotId, snapshots.map(_.ref),
    if (properties == null) Map.empty else properties,
    if (schemaLog == null) Nil else schemaLog,
    if (refs == null) Map.empty else refs,
    if (branches == null) Map.empty else branches)
}

object Meta {
  val NullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Max distinct partition values recorded per column in a
    * [[ManifestSummary]] — beyond this the column is dropped from the
    * summary (unknown → the manifest is always loaded). Bounds summary
    * size however many files a merged manifest accumulates. */
  val SummaryValueCap = 100

  /** Builds the pointer-sized summary of a manifest. A partition column
    * enters the summary only when EVERY data file carries a value for it
    * (older epochs may predate a partition-spec change) and the distinct
    * count stays under [[SummaryValueCap]] — the summary must be a sound
    * over-approximation of the manifest's contents or skipping would
    * drop rows. */
  def summarize(mf: Manifest, bytes: Long,
      rangeCols: Seq[(String, Int)] = Nil,
      statKey: (DataFileMeta, String) => String = (_, n) => n): ManifestSummary = {
    val data = mf.data
    val cols: Seq[String] =
      data.headOption.map(_.partitionValues.keys.toSeq.sorted).getOrElse(Nil)
    val pv = cols.flatMap { c =>
      val vs = scala.collection.mutable.LinkedHashSet[String]()
      var ok = true
      val it = data.iterator
      while (ok && it.hasNext) {
        it.next().partitionValues.get(c) match {
          case Some(v) => vs += v; if (vs.size > SummaryValueCap) ok = false
          case None => ok = false
        }
      }
      if (ok) Some(c -> vs.toSeq.sorted) else None
    }.toMap
    val seqs = data.map(_.seq) ++ mf.deletes.map(_.seq)
    val (lo, hi) = if (seqs.isEmpty) (0L, -1L) else (seqs.min, seqs.max)
    val ranges =
      if (data.isEmpty) Map.empty[String, ColStats]
      else rangeCols.flatMap { case (name, id) =>
        foldRange(data, name, statKey).map(id.toString -> _)
      }.toMap
    ManifestSummary(data.size, mf.deletes.size, bytes, pv, lo, hi,
      ranges, data.map(_.rowCount).sum)
  }

  /** Longest string bound recorded in a manifest range — longer text
    * bounds are dropped (conservative) instead of bloating the manifest
    * list (Iceberg truncates bounds to 16 bytes; dropping avoids the
    * round-up subtlety of truncating an upper bound). */
  val RangeStringCap = 64

  /** Fold one column's per-file stats into a manifest-wide bound.
    * None (column omitted from the summary → manifest always loads) when
    * any data file lacks the stat under its epoch's key, tags disagree
    * (e.g. a type widen changed the comparison domain), a bound fails to
    * parse in its own tag domain, or a string bound is non-ASCII (parquet
    * min/max use unsigned byte order; Java compareTo agrees only on
    * ASCII) or over [[RangeStringCap]]. Files whose bounds are absent
    * (all-NULL column chunk) contribute only their null count — sound:
    * such files can never satisfy a comparison on the column anyway. */
  private def foldRange(
      data: Seq[DataFileMeta],
      name: String,
      statKey: (DataFileMeta, String) => String): Option[ColStats] = {
    var tag: String = null
    var lo: String = null
    var hi: String = null
    var nulls = 0L
    val it = data.iterator
    while (it.hasNext) {
      val f = it.next()
      f.stats.get(statKey(f, name)) match {
        case None => return None
        case Some(st) =>
          if (tag == null) tag = st.tag else if (tag != st.tag) return None
          nulls += st.nulls
          if (st.min != null && st.max != null) {
            if (!rangeComparable(tag, st.min) || !rangeComparable(tag, st.max))
              return None
            if (lo == null || statCompare(tag, st.min, lo).exists(_ < 0)) lo = st.min
            if (hi == null || statCompare(tag, st.max, hi).exists(_ > 0)) hi = st.max
          }
      }
    }
    if (tag == null || lo == null || hi == null) None
    else Some(ColStats(tag, lo, hi, nulls))
  }

  private def rangeComparable(tag: String, v: String): Boolean = tag match {
    case "l" => v.toLongOption.isDefined
    case "d" => v.toDoubleOption.isDefined
    case "c" => try { BigDecimal(v); true } catch { case _: Throwable => false }
    case "s" => v.length <= RangeStringCap && v.forall(_ <= 127)
    case _ => false
  }

  private def statCompare(tag: String, a: String, b: String): Option[Int] = tag match {
    case "l" => for (x <- a.toLongOption; y <- b.toLongOption)
      yield java.lang.Long.compare(x, y)
    case "d" => for (x <- a.toDoubleOption; y <- b.toDoubleOption)
      yield java.lang.Double.compare(x, y)
    case "c" => try Some(BigDecimal(a).compare(BigDecimal(b)))
      catch { case _: Throwable => None }
    case "s" => Some(a.compareTo(b))
    case _ => None
  }

  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    // forward-compat: ignore fields a newer writer may add
    m.configure(com.fasterxml.jackson.databind.DeserializationFeature
      .FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }

  def fromDoc(d: TableMetadataDoc, resolver: ManifestResolver): TableMetadata =
    TableMetadata(d.formatVersion, d.version, d.schemaDdl, d.partitionColumns,
      d.keyColumns, d.currentSnapshotId,
      (if (d.snapshots == null) Nil else d.snapshots).map(r =>
        new Snapshot(r.id, r.parentId, r.timestampMs, r.operation, r.manifestList,
          r.addedDataFiles, r.nDataFiles, r.nDeleteFiles, r.totalRows, resolver)),
      if (d.properties == null) Map.empty else d.properties,
      if (d.schemaLog == null) Nil else d.schemaLog,
      if (d.refs == null) Map.empty else d.refs,
      if (d.branches == null) Map.empty else d.branches)

  def toJson(m: TableMetadataDoc): String =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(m)
  def docFromJson(s: String): TableMetadataDoc =
    mapper.readValue(s, classOf[TableMetadataDoc])

  def toJson(m: Manifest): String = mapper.writeValueAsString(m)
  def manifestFromJson(s: String): Manifest =
    mapper.readValue(s, classOf[Manifest])

  def toJson(m: ManifestList): String = mapper.writeValueAsString(m)
  def manifestListFromJson(s: String): ManifestList =
    mapper.readValue(s, classOf[ManifestList])
}
