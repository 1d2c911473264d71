package graft.lake.hudi

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.lake.{AggEntry, BlobCache, DataFileMeta, FilePruner, HivePartitionedRead, Meta}

/** Read-only Apache Hudi table reader — COPY_ON_WRITE and (since r09)
  * MERGE_ON_READ — the third real-format interop surface (with Delta,
  * this completes the reference's "future support" list,
  * pg_lakehouse_iceberg/README.md:9). Parses the published Hudi table
  * layout directly:
  *
  *  - `.hoodie/hoodie.properties` (table type / partition fields).
  *  - the timeline: `<instant>.commit` / `<instant>.deltacommit` files
  *    of COMPLETED commits, JSON `partitionToWriteStats` naming every
  *    written file — state is timeline-driven, NO directory listing of
  *    data dirs (the same O(metadata) posture as the Iceberg/Delta
  *    readers; data-dir listing is exactly what Hudi's timeline exists
  *    to avoid). `.replacecommit` instants (clustering /
  *    insert_overwrite) replay too: their partitionToReplaceFileIds
  *    retires the listed file groups while their write stats add the
  *    replacements (r10). `.savepoint`/`.restore` are REJECTED loudly —
  *    they rewind state this replay does not model.
  *  - FILE SLICES: data files are `<fileId>_<writeToken>_<instant>.parquet`;
  *    an upsert/compaction rewrites a file group as a NEW slice of the
  *    same fileId at a later instant, and the snapshot is the LATEST
  *    slice per file group. Time travel reads the latest slice ≤ an
  *    instant.
  *  - MERGE_ON_READ log files
  *    (`.<fileId>_<baseInstant>.log.<v>_<token>`, [[HudiLog]]): delta
  *    commits append Avro record blocks to a slice; the snapshot view
  *    merges them onto the base rows LATEST-PER-KEY (by instant order,
  *    the documented semantics of the default overwrite-with-latest
  *    payload), honoring the `_hoodie_is_deleted` soft-delete field.
  *    Logs bind to their base slice; compaction's new base slice
  *    orphans them naturally. DELETE/COMMAND log blocks (engine-version
  *    dependent payloads) are rejected loudly rather than misread.
  *
  * Schema derives from the newest slice's parquet footer minus the five
  * `_hoodie_*` meta columns — self-describing, no Avro schema-registry
  * dependency. Partition pruning lowers hive-style partition dirs onto
  * [[FilePruner]] identity pruning (sound for MOR too: a slice's log
  * records live in its file group's partition).
  *
  * Scale: timeline replay is O(commits) driver-side metadata; base
  * files are ordinary distributed parquet scans; log decode runs one
  * executor task per log file; the merge is ONE shuffle keyed by record
  * key over only the file groups being read — the same shape Hudi's
  * own snapshot query pays.
  */
final class HudiTable private (
    spark: SparkSession,
    val location: String,
    val schema: StructType,
    partitionFields: Seq[String],
    slices: Seq[HudiTable.Slice], // latest slice per file group
    /** Highest g-number ever MINTED in this timeline, live or retired —
      * a reopened writer must seed its file-id counter above this:
      * replacecommit retirement is permanent (clean() dooms every slice
      * of a retired id forever), so re-minting a retired id would let a
      * later clean delete the new group's live files. */
    private[hudi] val maxSeenFileSeq: Int,
    /** The ONE base file whose parquet footer supplied the schema (the
      * table is self-describing — no schema registry). Exposed so
      * zero-data-IO receipts can account for the single O(1) footer
      * read a reload performs. */
    val schemaProbePath: String,
    /** hoodie.datasource.write.hive_style_partitioning from
      * hoodie.properties: the writer DECLARED `k=v` partition dirs —
      * the precondition for serving partition columns from the path
      * (see [[scanInternal]]'s hive-layout read). */
    private[hudi] val hiveStylePartitioning: Boolean = false,
    /** hoodie.table.keygenerator.class when recorded: partition paths
      * are the keygen's rendering of the partition fields, so only the
      * identity-rendering generators are path-extraction safe. */
    private[hudi] val keygenClass: Option[String] = None) {

  def partitionColumns: Seq[String] = partitionFields

  /** True when any live slice carries log files (MOR with uncompacted
    * deltas) — the scan then takes the merged view. */
  def hasLogFiles: Boolean = slices.exists(_.logs.nonEmpty)

  private[lake] def liveSlices: Seq[HudiTable.Slice] = slices

  private def toDataFileMeta(s: HudiTable.Slice): DataFileMeta = {
    val pvals = HivePartitionedRead.segments(s.partitionPath).map { case (k, v) =>
      k -> v.getOrElse(Meta.NullPartition) }.toMap
    DataFileMeta(s.path, 0L, s.numWrites, 0L, pvals, Map.empty)
  }

  /** Live base files surviving partition pruning (receipt hook). */
  /** TIMELINE metadata view — one row per completed instant on the
    * `.hoodie` timeline: instant, action (commit | deltacommit |
    * replacecommit | savepoint | restore). Pure directory listing,
    * O(instants), no data IO. Served over SQL as
    * `` `graft-hudi`.`path#timeline` ``. */
  def timelineDf: DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = new Path(location, ".hoodie")
    val fs = meta.getFileSystem(conf)
    val actions = Set("commit", "deltacommit", "replacecommit",
      "clean", "savepoint", "restore")
    val rows = fs.listStatus(meta).toSeq
      .flatMap { st =>
        val n = st.getPath.getName
        n.split('.') match {
          case Array(instant, action) if actions(action) =>
            Some((instant, action))
          case _ => None
        }
      }.sortBy(_._1).map { case (i, a) => Row(i, a) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("instant", StringType),
        StructField("action", StringType))))
  }

  def planFiles(filter: Option[Column] = None): Seq[String] = {
    val metas = slices.map(toDataFileMeta)
    FilePruner.prune(metas, filter, partitionFields, schema).map(_.path)
  }

  /** Per-partition live state — the `#partitions` metadata view
    * (Iceberg's `<table>.partitions` symmetry): latest file slices
    * aggregated by partition path, from timeline state alone — zero data
    * IO. `num_writes` sums base-slice commit-stat row counts (log deltas
    * not folded in — an estimate on MOR, exact on COW); both `num_writes`
    * and `size_bytes` report -1 when ANY slice's commit stats predate the
    * recording (unknown ≠ 0 — a partial sum would silently undercount;
    * one posture for the whole row, r12 ADVICE). */
  def partitionsDf: DataFrame = {
    val rows = slices.groupBy(_.partitionPath).toSeq.sortBy(_._1)
      .map { case (part, ss) =>
        val bytes =
          if (ss.forall(_.sizeBytes >= 0)) ss.map(_.sizeBytes).sum else -1L
        val writes =
          if (ss.forall(_.numWrites >= 0)) ss.map(_.numWrites).sum else -1L
        Row(part, ss.size.toLong, writes,
          bytes, ss.map(_.logs.size.toLong).sum)
      }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("partition", StringType),
        StructField("file_group_count", LongType),
        StructField("num_writes", LongType),
        StructField("size_bytes", LongType),
        StructField("log_file_count", LongType))))
  }

  /** Log files of the pruned slices, in merge order (receipt hook). */
  def planLogFiles(filter: Option[Column] = None): Seq[String] = {
    val keep = planFiles(filter).toSet
    slices.filter(s => keep(s.path)).flatMap(_.logs).sortBy(_.ord).map(_.path)
  }

  /** Base files an incremental pull from `begin` (exclusive) must read —
    * only file groups TOUCHED after `begin` (rewritten slice, or log
    * deltas past it): the O(changed) receipt hook. */
  def planIncrementalFiles(begin: String,
      filter: Option[Column] = None): Seq[String] = {
    val keep = planFiles(filter).toSet
    slices.filter(s => keep(s.path) &&
      (s.instant > begin || s.logs.exists(_.instant > begin))).map(_.path)
  }

  def scan(filter: Option[Column] = None): DataFrame =
    scanInternal(filter, withCommitTime = false)

  /** (bytes, rows) of the pruned live base slices, from commit stats
    * alone (HoodieWriteStat's numWrites/fileSizeInBytes) — feeds the
    * DSv2 bridge's `estimateStatistics`. Bytes is -1 (unknown) when any
    * live slice's commit predates size recording; rows excludes
    * uncompacted log deltas (estimate). */
  def scanStats(filter: Option[Column] = None): (Long, Long) = {
    val keep = planFiles(filter).toSet
    val live = slices.filter(s => keep(s.path))
    val bytes = if (live.forall(_.sizeBytes >= 0)) live.map(_.sizeBytes).sum else -1L
    (bytes, live.filter(_.numWrites >= 0).map(_.numWrites).sum)
  }

  /** The metadata-aggregate fold over every live BASE slice as an
    * [[AggEntry]] (row count from its commit's HoodieWriteStat; commit
    * stats carry no column bounds or null counts) — or None (refuse) when
    * the counts cannot be exact: any uncompacted log delta while
    * `refuseOnLogs` (the snapshot view's per-key merge collapses upserts
    * and drops soft-deleted rows; the read_optimized view serves base
    * slices by contract and passes false), or a slice whose commit stats
    * predate numWrites recording (unknown ≠ zero). Snapshot state is
    * already O(file groups) driver metadata, so this is a driver loop. */
  private[lake] def foldAggSlices[B](zero: B, refuseOnLogs: Boolean)(
      seq: (B, AggEntry) => B): Option[B] = {
    var acc = zero
    for (s <- slices) {
      if (refuseOnLogs && s.logs.nonEmpty) return None
      if (s.numWrites < 0) return None // unknown row count
      acc = seq(acc, AggEntry(toDataFileMeta(s), Map.empty))
    }
    Some(acc)
  }

  /** READ-OPTIMIZED QUERY (hudi's second query type): base file slices
    * only, log deltas ignored — columnar-scan speed at the cost of
    * freshness bounded by the last compaction. On a COW table (or a
    * compacted MOR table) this equals the snapshot view; on a MOR table
    * with uncompacted deltas it serves the pre-delta base state, which
    * is exactly the documented trade. Map-only: plain parquet scan of
    * the pruned base files, never a merge shuffle. */
  def scanReadOptimized(filter: Option[Column] = None): DataFrame = {
    val keep = planFiles(filter).toSet
    val live = slices.filter(s => keep(s.path))
    if (live.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val out = baseReader(live, schema)
      .parquet(live.map(s => new Path(location, s.path).toString): _*)
    filter.map(out.filter).getOrElse(out)
  }

  /** Snapshot with each record's LAST-UPDATE instant as a leading
    * `_hoodie_commit_time` column (the writer preserves carried-over
    * rows' original instants, per Hudi's own COW/compaction semantics —
    * that is what makes incremental pulls exact). */
  private[hudi] def scanWithCommitTime(filter: Option[Column] = None): DataFrame =
    scanInternal(filter, withCommitTime = true)

  /** INCREMENTAL QUERY (hudi's incremental pull, the third of its three
    * query types): the latest state of every record whose last update
    * landed at an instant STRICTLY AFTER `begin` (and at or before this
    * snapshot's load instant — load with [[HudiTable.loadAsOf]] to cap
    * the range). Output: `commit_instant` (the record's last-update
    * instant) + the data columns; soft-deleted records are dropped, as
    * in the snapshot view.
    *
    * Scale shape: file groups untouched since `begin` are skipped
    * ENTIRELY from driver metadata (timeline-driven, no data IO —
    * [[planIncrementalFiles]]); a pure-COW range is then MAP-ONLY (the
    * rewritten slices are already one-row-per-key merged states, so
    * filtering `_hoodie_commit_time > begin` needs no shuffle); only
    * ranges with log deltas pay the per-key merge shuffle, over the
    * touched groups only. */
  def incrementalFrom(begin: String, filter: Option[Column] = None): DataFrame = {
    val keepPaths = planIncrementalFiles(begin, filter).toSet
    val affected = slices.filter(s => keepPaths(s.path))
    val outSchema = StructType(
      StructField("commit_instant", StringType) +: schema.fields)
    if (affected.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema)
    val withMeta =
      if (!affected.exists(_.logs.nonEmpty)) {
        // COW fast path: no shuffle — read rewritten slices, filter rows
        // (verified hive layouts serve partition columns from dirs here
        // too, so a partition-filtered incremental pull prunes statically)
        baseReader(affected, fullSchema)
          .parquet(affected.map(s => new Path(location, s.path).toString): _*)
      } else mergedRows(affected) // MOR: per-key merge over touched groups
    val out = withMeta
      .filter(col("_hoodie_commit_time") > begin)
      .select((col("_hoodie_commit_time").as("commit_instant") +:
        schema.fieldNames.map(col).toSeq).toIndexedSeq: _*)
    filter.map(out.filter).getOrElse(out)
  }

  /** Verified hive-layout base for `live` slices (r15): the writer
    * DECLARED hive-style partitioning (hoodie.properties), the keygen —
    * when recorded — renders partition fields identically (the
    * Simple/Complex generators; a timestamp-based keygen formats, so
    * the path is NOT the field value), every slice path is
    * `f1=v1/…/file`, and every dir value is in CANONICAL form for its
    * column type (parse + re-render reproduces it exactly, which
    * guarantees the dir-parsed value equals the in-file value the
    * keygen derived the path from). The scan then reads with `basePath`
    * so Spark serves the partition columns from directory discovery —
    * a genuine partitioned relation: static AND dynamic partition
    * pruning apply, and the columns stop being read from every file.
    * Any anomaly falls back to the plain read (in-file values
    * authoritative) — a missed optimization, never a wrong value. */
  private def hiveBaseFor(live: Seq[HudiTable.Slice]): Option[String] = {
    if (partitionFields.isEmpty || !hiveStylePartitioning ||
        !graft.lake.HivePartitionedRead.enabled(spark)) return None
    val safeGens = Set("SimpleKeyGenerator", "ComplexKeyGenerator",
      "SimpleAvroKeyGenerator", "ComplexAvroKeyGenerator",
      "NonpartitionedKeyGenerator")
    // the keygen must be RECORDED and in the verbatim-rendering set
    // (r16, advice): an absent hoodie.table.keygenerator.class on an
    // external table may hide a timestamp-based keygen whose path
    // rendering reformats a string field — canonicalFor(StringType)
    // cannot detect that, so unrecorded refuses (exact-or-fall-back).
    if (!keygenClass.exists(k => safeGens.contains(k.split('.').last)))
      return None
    val partFields = partitionFields.map(f =>
      schema.fields.find(_.name == f).getOrElse(return None))
    graft.lake.HivePartitionedRead.verifiedBaseCanonical(
      live.map(s => new Path(location, s.path).toString).toIndexedSeq,
      partFields)
  }

  /** The reader for `live` base files: plain parquet, or hive-discovery
    * (basePath) when [[hiveBaseFor]] verifies the layout. */
  private def baseReader(live: Seq[HudiTable.Slice],
      readSchema: StructType): org.apache.spark.sql.DataFrameReader = {
    val rdr = spark.read.schema(readSchema)
    hiveBaseFor(live).map(rdr.option("basePath", _)).getOrElse(rdr)
  }

  private def scanInternal(filter: Option[Column],
      withCommitTime: Boolean): DataFrame = {
    val keep = planFiles(filter).toSet
    val live = slices.filter(s => keep(s.path))
    val outCols = (if (withCommitTime) Seq("_hoodie_commit_time") else Nil) ++
      schema.fieldNames
    val outSchema =
      if (withCommitTime) StructType(
        StructField("_hoodie_commit_time", StringType) +: schema.fields)
      else schema
    if (live.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], outSchema)
    val out =
      if (!live.exists(_.logs.nonEmpty)) {
        // no deltas: distributed parquet scan (COW fast path); verified
        // hive layouts read partition columns from dirs (DPP-capable)
        baseReader(live, if (withCommitTime) fullSchema else outSchema)
          .parquet(live.map(s => new Path(location, s.path).toString): _*)
          .select(outCols.map(col).toIndexedSeq: _*)
      } else mergedScan(live, outCols)
    filter.map(out.filter).getOrElse(out)
  }

  private lazy val fullSchema = StructType(
    HudiTable.MetaColumns.map(StructField(_, StringType)) ++ schema.fields)

  /** MOR snapshot view: base rows ∪ log records → latest per record
    * key → drop soft-deleted. One shuffle (the per-key max_by). */
  private def mergedScan(live: Seq[HudiTable.Slice],
      outCols: Seq[String]): DataFrame =
    mergedRows(live)
      .select(outCols.map(col).toIndexedSeq: _*)

  /** Latest surviving version per record key over `live` slices' base +
    * log rows, full meta schema retained. */
  private def mergedRows(live: Seq[HudiTable.Slice]): DataFrame = {
    // merge order: zero-padded "<instant>-<logversion>-<record idx>"
    // sorts base rows (their commit instant, version 0) before any
    // later delta, and deltas in append order
    // every live slice has a real base path — a slice whose commit stats
    // predate numWrites recording (-1, unknown) still READS; only the
    // metadata-aggregate path refuses on it
    val base = spark.read.schema(fullSchema)
      .parquet(live.map(s => new Path(location, s.path).toString): _*)
      .withColumn("__ord",
        concat(col("_hoodie_commit_time"), lit("-0000-000000000")))
      .withColumn("__del", lit(false))

    val logRefs = live.flatMap(s => s.logs).sortBy(_.ord)
    val bcConf = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    val loc = location
    val dataSchema = fullSchema
    val logRows = spark.sparkContext
      .parallelize(logRefs, math.max(1, logRefs.size))
      .flatMap { ref =>
        val withDel = StructType(dataSchema.fields :+
          StructField(HudiLog.IsDeletedField, BooleanType))
        val blocks = HudiLog.readLogFile(bcConf.value.value,
          new Path(loc, ref.path))
        blocks.iterator.flatMap { b =>
          b.blockType match {
            case HudiLog.AvroDataBlock =>
              val writerSchema = new org.apache.avro.Schema.Parser()
                .parse(b.headers.getOrElse(HudiLog.HeaderSchema,
                  throw new IllegalStateException(
                    s"hudi log: data block without SCHEMA header in ${ref.path}")))
              val reader = new org.apache.avro.generic.GenericDatumReader[
                org.apache.avro.generic.GenericRecord](writerSchema)
              HudiLog.parseAvroDataBlock(b.content).iterator.zipWithIndex.map {
                case (bytes, i) =>
                  val r = HudiLog.decodeRow(reader, writerSchema, withDel, bytes, null)
                  val del = r.get(withDel.length - 1) match {
                    case b: java.lang.Boolean => b.booleanValue(); case _ => false
                  }
                  Row.fromSeq(r.toSeq.dropRight(1) :+
                    f"${ref.instant}-${ref.version}%04d-$i%09d" :+ del)
              }
            case other => throw new IllegalStateException(
              s"hudi log: block type $other in ${ref.path} not supported " +
                "(delete/command block payloads are engine-version dependent; " +
                "deletes must ride _hoodie_is_deleted data records)")
          }
        }
      }
    val logDf = spark.createDataFrame(logRows, StructType(dataSchema.fields ++ Seq(
      StructField("__ord", StringType), StructField("__del", BooleanType))))

    val unioned = base.unionByName(logDf)
    val payload = fullSchema.fieldNames :+ "__del"
    unioned
      .groupBy(col("_hoodie_record_key").as("__k"))
      .agg(max_by(struct(payload.toIndexedSeq.map(col): _*), col("__ord")).as("r"))
      .select("r.*")
      .filter(!col("__del"))
      .select(fullSchema.fieldNames.map(col).toIndexedSeq: _*)
  }
}

object HudiTable {

  private val mapper = new ObjectMapper()

  /** Content-keyed read cache for completed timeline instant files
    * (r17 opt): a table with N commits re-reads ALL N instant JSONs on
    * every load, and one DML entry loads the table ~10× (each writer op
    * replays the timeline) — O(commits²) small-file reads per entry.
    * Completed instants are immutable by the timeline protocol, and the
    * key is (path, mtime, length) so any rewrite — including a rebuilt
    * work dir at the same path — misses and re-reads. Raw JSON strings
    * (metadata-plane, never query results). */
  private val instantCache = new BlobCache[String, String](1024)
  private[hudi] def readInstantFile(fs: org.apache.hadoop.fs.FileSystem,
      st: org.apache.hadoop.fs.FileStatus): String =
    instantCache.get(s"${st.getPath}:${st.getModificationTime}:${st.getLen}") {
      val in = fs.open(st.getPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }

  /** One log file bound to a base slice. `ord` orders deltas for the
    * merge (instant, then log version). */
  final case class LogRef(path: String, instant: String, version: Int) {
    def ord: String = f"$instant-$version%04d"
  }

  final case class Slice(fileId: String, instant: String,
      partitionPath: String, path: String, numWrites: Long,
      logs: Seq[LogRef] = Nil, sizeBytes: Long = -1L)

  val MetaColumns: Seq[String] = Seq("_hoodie_commit_time",
    "_hoodie_commit_seqno", "_hoodie_record_key",
    "_hoodie_partition_path", "_hoodie_file_name")

  def load(spark: SparkSession, location: String): HudiTable =
    loadAsOf(spark, location, instant = null)

  /** Snapshot as of `instant` (inclusive; null = latest). */
  def loadAsOf(spark: SparkSession, location: String, instant: String): HudiTable = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = new Path(location, ".hoodie")
    val fs = meta.getFileSystem(conf)
    require(fs.exists(meta), s"hudi: no .hoodie under $location")

    val props = new java.util.Properties()
    val pin = fs.open(new Path(meta, "hoodie.properties"))
    try props.load(pin) finally pin.close()
    val tableType = props.getProperty("hoodie.table.type", "COPY_ON_WRITE")
    require(tableType == "COPY_ON_WRITE" || tableType == "MERGE_ON_READ",
      s"hudi: table type $tableType unsupported")
    val partitionFields = Option(props.getProperty("hoodie.table.partition.fields"))
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)

    val timelineSt = fs.listStatus(meta).toSeq
    val timeline = timelineSt.map(_.getPath)

    // TIMELINE ARCHIVAL guard: graft's table state is the ACTIVE-timeline
    // replay (commit write stats name every file slice — the same
    // metadata-first posture as the Delta/Iceberg readers, and what makes
    // planning O(commits) with zero data-dir listing). Hudi's archival
    // process MOVES old instants to `.hoodie/archived`, so slices written
    // only by archived commits would silently vanish from a replay —
    // reject loudly instead of serving a partial table. (Real Hudi
    // recovers listings from storage or the `.hoodie/metadata` files
    // index; see the metadata-table scope note below.) The `archived`
    // dir itself commonly exists EMPTY from table creation — only actual
    // archive files reject.
    val archivedDir = new Path(meta, "archived")
    if (fs.exists(archivedDir)) {
      val archived = fs.listStatus(archivedDir)
        .filter(st => st.isFile && st.getLen > 0)
      require(archived.isEmpty,
        s"hudi: timeline has ${archived.length} archived instant file(s) " +
          s"under $archivedDir — this reader reconstructs state from the " +
          "ACTIVE timeline only, and reading through an archived timeline " +
          "would silently drop file slices committed before the archival " +
          "boundary. Disable archival or keep the full timeline active.")
    }
    // METADATA TABLE scope (r14, documented): `.hoodie/metadata` — Hudi's
    // internal MOR table of partition→file listings (HFile base files) —
    // exists to avoid O(objects) storage listing on object stores. Graft
    // never lists data directories in the first place (state is
    // timeline-authoritative above), so the files index adds nothing at
    // this reader's scope and its presence is simply ignored; the
    // archived-timeline guard above rejects the one layout where the
    // active timeline alone would under-report state.

    // replay understands `.commit`/`.deltacommit`/`.replacecommit`
    // instants (r10 adds replacecommit — clustering / insert_overwrite:
    // its partitionToReplaceFileIds RETIRES the listed file groups while
    // its write stats add the replacement slices). `.savepoint` /
    // `.restore` remain rejected loudly: they rewind table state in ways
    // this replay does not model, and ignoring them would serve rolled-
    // back data.
    val UnsupportedRe = """\d+\.(savepoint|restore)""".r
    val unsupported = timeline.map(_.getName).collect {
      case n @ UnsupportedRe(kind) => s"$n ($kind)"
    }
    require(unsupported.isEmpty,
      s"hudi: timeline has completed instants this reader does not " +
        s"replay — ${unsupported.mkString(", ")}; reading through them " +
        "would return rolled-back state")

    // time travel BEHIND the cleaner's retention would plan slices whose
    // files the cleaner deleted — reject loudly up front instead of
    // failing file-not-found mid-scan (the cleaner's documented trade)
    if (instant != null) {
      val CleanRe = """(\d+)\.clean""".r
      timelineSt.filter(st => CleanRe.matches(st.getPath.getName))
        .sortBy(_.getPath.getName).lastOption.foreach { p =>
          val json = readInstantFile(fs, p)
          val keep = mapper.readTree(json)
            .path("earliestCommitToRetain").asText("")
          require(keep.isEmpty || instant >= keep,
            s"hudi: as-of instant $instant predates the cleaner's " +
              s"earliestCommitToRetain $keep — those file slices are gone")
        }
    }
    val CommitRe = """(\d+)\.(commit|deltacommit|replacecommit)""".r
    val commits = timelineSt
      .flatMap(p => p.getPath.getName match {
        case CommitRe(t, kind) if instant == null || t <= instant => Some((t, kind, p))
        case _ => None
      }).sortBy(_._1)
    require(commits.nonEmpty, s"hudi: no completed commits under $location" +
      (if (instant != null) s" at or before $instant" else ""))

    // timeline replay: latest BASE slice per file group wins; log-file
    // write stats collect separately and bind to their base instant
    val groups = scala.collection.mutable.LinkedHashMap[String, Slice]()
    val logs = scala.collection.mutable.ArrayBuffer[(String, String, LogRef)]() // (fileId, baseInstant, ref)
    val FileIdNumRe = """g(\d+)""".r
    var maxSeenFileSeq = 0
    def sawFileId(fid: String): Unit = fid match {
      case FileIdNumRe(n) =>
        maxSeenFileSeq = math.max(maxSeenFileSeq, n.toInt)
      case _ => ()
    }
    // every base path ever committed, in commit order — the schema
    // fallback when retirement leaves zero live groups
    val seenBasePaths = scala.collection.mutable.ArrayBuffer[String]()
    commits.foreach { case (t, kind, p) =>
      val json = readInstantFile(fs, p)
      val n = mapper.readTree(json)
      val parts = n.path("partitionToWriteStats").fields()
      while (parts.hasNext) {
        val e = parts.next()
        val it = e.getValue.elements()
        while (it.hasNext) {
          val st = it.next()
          val fileId = st.path("fileId").asText()
          val path = st.path("path").asText()
          val name = new Path(path).getName
          name match {
            case HudiLog.LogFileRe(fid, baseInstant, v, _) =>
              require(tableType == "MERGE_ON_READ",
                s"hudi: log file $name in a COPY_ON_WRITE timeline")
              require(kind == "deltacommit",
                s"hudi: log file $name outside a deltacommit")
              logs += ((if (fileId.nonEmpty) fileId else fid, baseInstant,
                LogRef(path, t, v.toInt)))
            case _ =>
              // numWrites absent from the write stat = UNKNOWN (-1), not
              // an empty file: metadata aggregates must refuse on it
              // (unknown ≠ 0 — the shared exact-or-refuse doctrine)
              val s = Slice(fileId, t, e.getKey, path,
                if (st.hasNonNull("numWrites")) st.get("numWrites").asLong
                else -1L,
                sizeBytes = st.path("fileSizeInBytes").asLong(-1L))
              // commits replay in instant order, so a later slice replaces
              groups(fileId) = s
              sawFileId(fileId)
              seenBasePaths += path
          }
        }
      }
      // replacecommit: the listed file groups are RETIRED as of this
      // instant (clustering / insert_overwrite) — group ids never
      // revive; their logs orphan out with the slice binding below
      if (kind == "replacecommit") {
        val rp = n.path("partitionToReplaceFileIds").fields()
        while (rp.hasNext) {
          val ids = rp.next().getValue.elements()
          while (ids.hasNext) {
            val fid = ids.next().asText()
            groups.remove(fid)
            sawFileId(fid)
          }
        }
      }
    }
    // bind logs to the SURVIVING slice of their file group; logs whose
    // base instant predates the latest slice were compacted away
    val slices = groups.values.toSeq.map { s =>
      val mine = logs.collect {
        case (fid, baseInstant, ref) if fid == s.fileId && baseInstant == s.instant => ref
      }.sortBy(_.ord)
      s.copy(logs = mine.toSeq)
    }

    // schema: newest live slice's footer minus hudi meta columns. When
    // retirement (insert_overwrite / deletePartition) leaves ZERO live
    // groups the table is legitimately empty, not corrupt — fall back to
    // the newest committed base file that still exists on disk (retired
    // but not yet cleaned) so the table stays loadable and the writer
    // reopenable; only a table with no surviving file at all rejects.
    val sample = slices.sortBy(_.instant).lastOption
      .map(s => new Path(location, s.path))
      .orElse(seenBasePaths.reverseIterator
        .map(rel => new Path(location, rel)).find(fs.exists))
      .getOrElse(throw new IllegalStateException(
        s"hudi: no live file groups and no surviving base files under " +
          s"$location — schema cannot be inferred"))
    // footer-only schema read on the driver: load() runs once per commit
    // on write paths and once per consumer on read paths — the old
    // spark.read.parquet(sample).schema fired a one-task inference JOB
    // per load for the same footer bytes
    val full = graft.lake.ParquetStats.sparkSchema(spark, sample)
    val schema = StructType(full.fields.filterNot(f => MetaColumns.contains(f.name)))

    new HudiTable(spark, location, schema, partitionFields, slices,
      maxSeenFileSeq, sample.toString,
      hiveStylePartitioning = props.getProperty(
        "hoodie.datasource.write.hive_style_partitioning", "false") == "true",
      keygenClass = Option(props.getProperty("hoodie.table.keygenerator.class")))
  }
}
