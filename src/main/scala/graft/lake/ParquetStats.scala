package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.column.statistics._
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation

import scala.jdk.CollectionConverters._

/** Footer-only stats extraction at commit time: row count + per-column
  * min/max/nulls, merged across row groups. O(1 footer read) per file on the
  * driver — no data pages are touched, mirroring how Iceberg collects file
  * metrics at write time and how the reference's planner consults file-level
  * metadata before scheduling scan tasks
  * (pg_lakehouse_iceberg/src/operations/scan_ops.c:240-276).
  *
  * Only domains the pruner can compare are kept: integral (incl. date days
  * and µs timestamps), floating, decimal (rescaled to exact decimal
  * strings), and UTF-8 strings. INT96 timestamps, binaries etc. yield no
  * stats → never pruned on.
  */
object ParquetStats {

  /** Runs `body` with parquet timestamps written as INT64 micros. INT96
    * (Spark's legacy default output type) carries no footer statistics —
    * disabling min/max pruning on timestamp columns — and is a
    * spec-conformance bug for every interop format graft writes (the
    * Iceberg spec REQUIRES int64 micros; Delta/Hudi engines expect the
    * same). Scoped set/restore so the rest of the session keeps its
    * configured format. */
  def withMicrosTimestamps[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Spark schema of ONE parquet file from its footer only — no Spark job.
    * `spark.read.parquet(file).schema` schedules a one-task inference job
    * per call (~30–50 ms of driver round-trips at any data size); table
    * loads on a busy timeline pay it once per load. Spark-written files
    * carry the exact Catalyst schema as footer key-value metadata (the
    * same source distributed inference prefers); foreign files fall back
    * to Spark's own parquet→Catalyst converter under the session conf.
    * Single-file semantics match the read-path sampling this replaces.
    * Returned nullable (`asNullable`) exactly like the
    * `spark.read.parquet(...).schema` it replaces: DataSource forces file
    * schemas nullable, and readers over OTHER files (Hudi base+log merge)
    * may legitimately hold nulls where this one file's footer says
    * REQUIRED — a non-nullable user schema would silently corrupt them. */
  def sparkSchema(spark: org.apache.spark.sql.SparkSession,
      file: Path): org.apache.spark.sql.types.StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val fmd = r.getFooter.getFileMetaData
      Option(fmd.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
        .flatMap(j => scala.util.Try(
          org.apache.spark.sql.types.DataType.fromJson(j)
            .asInstanceOf[org.apache.spark.sql.types.StructType]).toOption)
        .getOrElse(new org.apache.spark.sql.execution.datasources.parquet
          .ParquetToSparkSchemaConverter(spark.sessionState.conf)
          .convert(fmd.getSchema)) match {
        case st => allNullable(st).asInstanceOf[org.apache.spark.sql.types.StructType]
      }
    } finally r.close()
  }

  /** Recursive nullable rewrite (StructType.asNullable is private[sql]). */
  private def allNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = allNullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(allNullable(a.elementType), containsNull = true)
      case m: MapType =>
        MapType(allNullable(m.keyType), allNullable(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** `_metadata.file_path` of a parquet scan as the plain Hadoop path
    * string table metadata records. Spark serves the column URL-encoded
    * (a `p=50%off` dir reads back as `p=50%25off`, a space as `%20`), so
    * path keys built from the raw column miss every file whose path has
    * such a character. '+' is protected first: URL decoding would turn it
    * into a space. The decoder is invoked directly rather than through
    * `url_decode`, a runtime-replaceable function that scan frames spliced
    * into an already-optimized plan would carry unreplaced. */
  def scanFilePath: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, UrlCodec}
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    import org.apache.spark.sql.functions.{col, lit, replace}
    import org.apache.spark.sql.graftshim.ColumnExpr
    val encoded = replace(col("_metadata.file_path"), lit("+"), lit("%2B"))
    ColumnExpr.column(StaticInvoke(UrlCodec.getClass,
      org.apache.spark.sql.types.StringType, "decode",
      Seq(ColumnExpr.expression(encoded), Literal(true))))
  }

  /** Every `.parquet` file under `dir` (recursive), sorted by path. */
  def listParquet(fs: FileSystem, dir: Path): Seq[Path] = {
    val out = scala.collection.mutable.ArrayBuffer[Path]()
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet")) out += f
    }
    out.sortBy(_.toString).toSeq
  }

  /** Total record count of a parquet file (or every .parquet under a
    * directory) from footers only — no data pages, no Spark job. */
  def rowCount(conf: Configuration, path: Path): Long = {
    val fs = path.getFileSystem(conf)
    val files = if (fs.getFileStatus(path).isDirectory) listParquet(fs, path) else Seq(path)
    files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** One file's adoption payload: everything a metadata-only convert /
    * adopt / commit needs — footer row count, column stats and null
    * counts (kept apart: an all-NULL column has no min/max, so no `stats`
    * entry, but an exact null count), plus the FileStatus fields. */
  final case class FileFooter(rows: Long, stats: Map[String, ColStats],
      nulls: Map[String, Long], size: Long, mtime: Long)

  /** Footer payloads for MANY files, keyed by `_.toString` of the input
    * paths. Above `threshold` files the reads run as a SPARK JOB
    * (mapPartitions over the path list, collect only the O(files) stat
    * rows) — the shape real CONVERT TO DELTA / Iceberg add_files use. A
    * sequential driver walk over a 100 TB estate (10⁵–10⁶ files) is
    * hours of object-store round-trips on one node; distributed it is
    * seconds on the cluster (r12, VERDICT #2). Small batches stay on
    * the driver: a job's scheduling latency would dominate. */
  def readFooters(spark: org.apache.spark.sql.SparkSession, paths: Seq[Path],
      threshold: Int = 64): Map[String, FileFooter] = {
    val conf = spark.sessionState.newHadoopConf()
    if (paths.lengthCompare(threshold) <= 0)
      paths.map(p => p.toString -> footer(conf, p)).toMap
    else {
      val bcConf = spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(conf))
      val slices = math.min(paths.length,
        math.max(1, spark.sparkContext.defaultParallelism * 2))
      spark.sparkContext.parallelize(paths.map(_.toString), slices)
        .mapPartitions { it =>
          val c = bcConf.value.value
          it.map(s => s -> footer(c, new Path(s)))
        }.collect().toMap
    }
  }

  /** One file's [[FileFooter]]: one status call serves both the
    * size/mtime fields and the footer reader. */
  def footer(conf: Configuration, file: Path): FileFooter = {
    val st = file.getFileSystem(conf).getFileStatus(file)
    val (rows, stats, nulls) = read(HadoopInputFile.fromStatus(st, conf))
    FileFooter(rows, stats, nulls, st.getLen, st.getModificationTime)
  }

  /** @return (rowCount, per-column stats, per-column null counts) */
  def read(conf: Configuration, file: Path): (Long, Map[String, ColStats], Map[String, Long]) =
    read(HadoopInputFile.fromPath(file, conf))

  private def read(in: HadoopInputFile): (Long, Map[String, ColStats], Map[String, Long]) = {
    val reader = ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rowCount = blocks.map(_.getRowCount).sum
      // merge chunk stats per dotted column path across all row groups
      val acc = scala.collection.mutable.Map[String, (String, String, String, Long, Boolean)]()
      // (tag, min, max, nulls, valid)
      for (b <- blocks; cc <- b.getColumns.asScala) {
        val name = cc.getPath.toDotString
        val st = cc.getStatistics
        val logical = cc.getPrimitiveType.getLogicalTypeAnnotation
        val cur = extract(st, logical)
        val prev = acc.get(name)
        acc(name) = (prev, cur) match {
          case (None, Some((tag, mn, mx, nulls))) => (tag, mn, mx, nulls, true)
          case (Some((tag, pmn, pmx, pn, true)), Some((tag2, mn, mx, nulls))) if tag == tag2 =>
            (tag, minOf(tag, pmn, mn), maxOf(tag, pmx, mx), pn + nulls, true)
          case (Some(p), _) => (p._1, p._2, p._3, p._4, false) // any gap → invalid
          case (None, None) => ("", "", "", 0L, false)
        }
      }
      val stats = acc.collect { case (name, (tag, mn, mx, nulls, true)) =>
        name -> ColStats(tag, mn, mx, nulls)
      }.toMap
      val nulls = blocks.flatMap(_.getColumns.asScala).groupBy(_.getPath.toDotString)
        .collect { case (name, ccs) if ccs.forall(c =>
            c.getStatistics != null && c.getStatistics.isNumNullsSet) =>
          name -> ccs.map(_.getStatistics.getNumNulls).sum }
      (rowCount, stats, nulls)
    } finally reader.close()
  }

  /** @return (tag, min, max, nulls) or None when stats are unusable */
  private def extract(st: Statistics[_], logical: LogicalTypeAnnotation): Option[(String, String, String, Long)] = {
    if (st == null || st.isEmpty || !st.isNumNullsSet) return None
    val nulls = st.getNumNulls
    if (!st.hasNonNullValue) return None
    // decimal columns (reference type bridge: iceberg_bridge.h:59; its
    // README schema uses `amount DECIMAL`): parquet stores the UNSCALED
    // value in int32/int64/binary depending on precision — rescale into
    // plain decimal strings under tag "c" so the pruner compares exactly
    val decScale: Option[Int] = logical match {
      case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => Some(d.getScale)
      case _ => None
    }
    def dec(unscaled: java.math.BigInteger, scale: Int): String =
      new java.math.BigDecimal(unscaled, scale).toPlainString
    // int64 timestamps normalize to MICROS — the stats domain every
    // consumer assumes (isoMicros renderers, pruning literals). Foreign
    // files legally store MILLIS or NANOS; recording their raw values
    // would compare ~1000x-off bounds and silently prune live files.
    // min floors / max ceils on the lossy NANOS path (bounds must stay
    // conservative).
    val tsUnit: Option[LogicalTypeAnnotation.TimeUnit] = logical match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        Some(t.getUnit)
      case _ => None
    }
    def tsMicros(v: Long, roundUp: Boolean): Long = tsUnit.get match {
      case LogicalTypeAnnotation.TimeUnit.MILLIS => Math.multiplyExact(v, 1000L)
      case LogicalTypeAnnotation.TimeUnit.MICROS => v
      case LogicalTypeAnnotation.TimeUnit.NANOS =>
        if (roundUp) -Math.floorDiv(-v, 1000L) else Math.floorDiv(v, 1000L)
    }
    (st, decScale) match {
      case (s: IntStatistics, Some(sc)) =>
        Some(("c", dec(java.math.BigInteger.valueOf(s.getMin.toLong), sc),
          dec(java.math.BigInteger.valueOf(s.getMax.toLong), sc), nulls))
      case (s: LongStatistics, Some(sc)) =>
        Some(("c", dec(java.math.BigInteger.valueOf(s.getMin), sc),
          dec(java.math.BigInteger.valueOf(s.getMax), sc), nulls))
      case (s: BinaryStatistics, Some(sc)) => // fixed_len_byte_array: big-endian two's complement
        Some(("c", dec(new java.math.BigInteger(s.genericGetMin.getBytes), sc),
          dec(new java.math.BigInteger(s.genericGetMax.getBytes), sc), nulls))
      case (s: IntStatistics, None) => Some(("l", s.getMin.toLong.toString, s.getMax.toLong.toString, nulls))
      case (s: LongStatistics, None) if tsUnit.isDefined =>
        Some(("l", tsMicros(s.getMin, roundUp = false).toString,
          tsMicros(s.getMax, roundUp = true).toString, nulls))
      case (s: LongStatistics, None) => Some(("l", s.getMin.toString, s.getMax.toString, nulls))
      case (s: FloatStatistics, None) => Some(("d", s.getMin.toDouble.toString, s.getMax.toDouble.toString, nulls))
      case (s: DoubleStatistics, None) => Some(("d", s.getMin.toString, s.getMax.toString, nulls))
      case (s: BinaryStatistics, None) if logical.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        truncatedRange(s.genericGetMin.toStringUsingUTF8, s.genericGetMax.toStringUsingUTF8)
          .map { case (mn, mx) => ("s", mn, mx, nulls) }
      case _ => None
    }
  }

  /** Max stored length for string min/max. A document table's text column
    * would otherwise copy whole documents into every metadata version
    * (Iceberg truncates at 16 bytes for the same reason). */
  private val MaxStatLen = 64

  /** Truncation that preserves pruning soundness: a truncated MIN is a
    * prefix, i.e. ≤ the true min; a truncated MAX must be bumped to a
    * string ≥ the true max (prefix with last char incremented). If the
    * bump is impossible (all 64 chars are ￿) the range is unusable →
    * no stats for the column. */
  private def truncatedRange(mn: String, mx: String): Option[(String, String)] = {
    val lo = if (mn.length <= MaxStatLen) mn else mn.substring(0, MaxStatLen)
    if (mx.length <= MaxStatLen) return Some((lo, mx))
    // bump only an ASCII char: incrementing into surrogate ranges would
    // put invalid UTF-16 in the metadata JSON, and the pruner only
    // compares ASCII bounds anyway (parquet uses unsigned byte order)
    val prefix = mx.substring(0, MaxStatLen).toCharArray
    var i = prefix.length - 1
    while (i >= 0 && prefix(i) >= 0x7F) i -= 1
    if (i < 0) None
    else {
      prefix(i) = (prefix(i) + 1).toChar
      Some((lo, new String(prefix, 0, i + 1)))
    }
  }

  private def minOf(tag: String, a: String, b: String): String = tag match {
    case "l" => if (a.toLong <= b.toLong) a else b
    case "d" => if (a.toDouble <= b.toDouble) a else b
    case "c" => if (BigDecimal(a) <= BigDecimal(b)) a else b
    case _ => if (a.compareTo(b) <= 0) a else b
  }
  private def maxOf(tag: String, a: String, b: String): String = tag match {
    case "l" => if (a.toLong >= b.toLong) a else b
    case "d" => if (a.toDouble >= b.toDouble) a else b
    case "c" => if (BigDecimal(a) >= BigDecimal(b)) a else b
    case _ => if (a.compareTo(b) >= 0) a else b
  }
}
