package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.types._

/** Verified hive-layout reads for the interop connectors (r15): when a
  * format's data files PHYSICALLY sit in `k=v` partition directories
  * whose parsed values provably equal the format metadata's
  * authoritative partition values, the scan is built as a genuine
  * hive-partitioned relation (`basePath` + a user schema containing the
  * partition columns) instead of injecting per-file constants. Spark
  * then owns the partition columns end to end: static partition pruning
  * AND — the point — DYNAMIC PARTITION PRUNING apply to interop estates
  * exactly as they do to graft-native tables (DppSpec pins that path):
  * a selective dim filter on a fact⋈dim join prunes fact partitions at
  * execution via the reused broadcast. At 100 TB that is the difference
  * between scanning every partition of the fact table and only the ones
  * the dim rows name — the reference's static pruning posture
  * (pg_lakehouse_iceberg scan_ops.c:60-120) lifted to runtime.
  *
  * Eligibility is exact-or-fall-back, per file, decided on the DRIVER
  * from strings it already holds (no IO): ANY anomaly — non-hive
  * layout, differing depths, a dir value that does not round-trip to
  * the metadata's authoritative value, an ambiguous rendering — keeps
  * the format's authoritative injection path. A miss is only a missed
  * optimization, never a wrong value.
  *
  * The value check is RENDER-EQUALITY, not re-parsing: Spark's
  * partition discovery casts the unescaped dir string to the declared
  * type, so if `canonicalString(authoritative) == unescape(rawDir)`
  * the cast provably yields the authoritative value. Types whose
  * canonical string form is ambiguous (timestamps: zone/format;
  * float/double/decimal: trailing zeros, exponents) are simply never
  * eligible.
  */
object HivePartitionedRead {

  def enabled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.interop.hivePartitionedRead.enabled")
      .forall(_ == "true")

  // ---- the Hive `k=v` path codec shared by the four table formats -------

  /** The single ENCODER (Hudi's partition paths; Spark's partitionBy
    * escapes graft/Delta/Iceberg dirs): Hive's escapePathName set plus
    * '}', as %XX. Without it a value containing '/' or '=' corrupts the
    * partition layout — readers split the path on those. */
  def escape(s: String): String = {
    val specials = "\"#%'*/:=?\\^[]{}"
    val sb = new StringBuilder
    s.foreach { c =>
      if (c < ' ' || c.toInt == 0x7F || specials.indexOf(c.toInt) >= 0)
        sb.append(f"%%${c.toInt}%02X")
      else sb.append(c)
    }
    sb.toString
  }

  /** The single DECODER: Spark's own unescapePathName — what its
    * partition discovery applies to the same dirs, so every format reads
    * a dir value exactly as Spark does. Malformed escapes ("50%off",
    * "%-1", "%+1", a trailing "%4") stay literal. */
  def unescape(s: String): String = ExternalCatalogUtils.unescapePathName(s)

  /** Hive `k=v` segments of a relative dir path ("" = none), in path
    * order: dir name → decoded value, None for the default (NULL)
    * partition. Segments without '=' are skipped. */
  def segments(rel: String): Seq[(String, Option[String])] =
    rel.split('/').toSeq.filter(_.contains('=')).map { seg =>
      val eq = seg.indexOf('=')
      val raw = seg.substring(eq + 1)
      seg.substring(0, eq) ->
        (if (raw == Meta.NullPartition) None else Some(unescape(raw)))
    }

  /** Dir of `file` relative to `base` ("" for a direct child). Compares
    * URI paths only, so a qualified listing result and an unqualified
    * base agree on any scheme (file:, s3a://bucket, graftfs:). */
  def relDir(base: Path, file: Path): String = {
    val b = base.toUri.getPath.stripSuffix("/")
    val d = file.getParent.toUri.getPath
    if (d == b) "" else d.stripPrefix(b + "/")
  }

  /** Strict decoder: every '%' must begin a two-HEX-DIGIT escape, else
    * None. Engines' unescapePathName implementations differ on
    * malformed escapes (parseInt-based ones accept "+1"; digit-checked
    * ones keep it literal) — a dir value my decode and Spark's decode
    * could disagree on must never pass eligibility, so malformed
    * escapes REFUSE instead of guessing. On well-formed input every
    * implementation agrees. */
  def unescapeStrict(s: String): Option[String] = {
    if (s.indexOf('%') < 0) return Some(s)
    def hexVal(c: Char): Int =
      if (c >= '0' && c <= '9') c - '0'
      else if (c >= 'a' && c <= 'f') c - 'a' + 10
      else if (c >= 'A' && c <= 'F') c - 'A' + 10
      else -1
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%') {
        if (i + 2 >= s.length) return None
        val h = hexVal(s.charAt(i + 1)); val l = hexVal(s.charAt(i + 2))
        if (h < 0 || l < 0) return None
        sb.append(((h << 4) | l).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    Some(sb.toString)
  }

  /** Splits `path` as `<base>/<d1=v1>/…/<dk=vk>/<file>`: the n dirs
    * immediately above the file must each be a `name=value` fragment.
    * Returns (base, dir names, raw dir values). None = the layout is
    * not this shape (fall back). Dir names are NOT assumed to equal
    * column names — some writers name partition dirs internally (the
    * caller maps position → target column and renames after the read). */
  def splitLayoutN(path: String, n: Int): Option[(String, Seq[String], Seq[String])] = {
    val segs = path.split('/')
    // need at least one base segment (scheme/root) + n dirs + filename
    if (segs.length < n + 2) return None
    val dirSegs = segs.slice(segs.length - 1 - n, segs.length - 1)
    val names = new Array[String](n)
    val raws = new Array[String](n)
    var i = 0
    while (i < n) {
      val seg = dirSegs(i)
      val eq = seg.indexOf('=')
      if (eq <= 0 || eq == seg.length - 1) return None
      names(i) = seg.substring(0, eq)
      raws(i) = seg.substring(eq + 1)
      i += 1
    }
    if (names.toSet.size != n) return None // duplicate dir names: ambiguous
    Some((segs.dropRight(n + 1).mkString("/"), names.toSeq, raws.toSeq))
  }

  /** [[splitLayoutN]] constrained to exact expected dir names. */
  def splitLayout(path: String, partNames: Seq[String]): Option[(String, Seq[String])] =
    splitLayoutN(path, partNames.length) match {
      case Some((b, names, raws)) if names == partNames => Some((b, raws))
      case _ => None
    }

  /** Does the dir fragment provably cast to the authoritative EXTERNAL
    * value? render-equality per the class doc; unsupported runtime
    * types answer false (ineligible, never wrong). */
  def matchesAuthoritative(raw: String, auth: Any): Boolean =
    unescapeStrict(raw) match {
      case None => false // malformed escape: decoders may disagree — refuse
      case Some(u) => auth match {
        case null => raw == Meta.NullPartition
        case s: String => s.nonEmpty && s != Meta.NullPartition && u == s
        case i: java.lang.Integer => u == i.toString
        case l: java.lang.Long => u == l.toString
        case sh: java.lang.Short => u == sh.toString
        case b: java.lang.Byte => u == b.toString
        case b: java.lang.Boolean => u == b.toString
        case d: java.sql.Date => u == d.toString
        case d: java.time.LocalDate => u == d.toString
        case _ => false
      }
    }

  /** Is the dir fragment in CANONICAL form for `dt` — i.e. parsing and
    * re-rendering reproduces it exactly? Used when the dir itself is
    * the declared derivation of the value (Hudi hive-style
    * partitioning: the keygen renders the field into the path, and the
    * same field rides in the file — canonical form guarantees the
    * dir-parsed value equals the in-file value the writer derived it
    * from). "default" (Hudi's non-hive null sentinel) is ambiguous
    * against a literal string and never eligible.
    *
    * StringType requires the fragment to be ESCAPE-FREE (r16, advice):
    * with no independent authority, a '%' in the dir is ambiguous —
    * Hudi defaults `hoodie.datasource.write.partitionpath.urlencode`
    * to false, so a field value containing a literal %XX sequence
    * (e.g. "100%25") is written verbatim, while Spark's partition
    * discovery unescapes it to a DIFFERENT value ("100%"). Numeric /
    * date / boolean canonical forms can never contain '%', so only
    * strings carried the hazard. A %-free fragment is served verbatim
    * by every decoder, escaped or not. Values with '%' fall back to
    * the plain read — missed optimization, never a wrong value. */
  def canonicalFor(raw: String, dt: DataType): Boolean = {
    if (raw == Meta.NullPartition) return true
    val u = unescapeStrict(raw).getOrElse(return false) // malformed: refuse
    if (u.isEmpty || u == Meta.NullPartition || u == "default") return false
    try dt match {
      case StringType => raw.indexOf('%') < 0
      case IntegerType => u == u.toInt.toString
      case LongType => u == u.toLong.toString
      case ShortType => u == u.toShort.toString
      case ByteType => u == u.toByte.toString
      case BooleanType => u == "true" || u == "false"
      case DateType => u == java.time.LocalDate.parse(u).toString
      case _ => false
    } catch { case _: Exception => false }
  }

  /** Verifies every file path shares ONE base and its dir values match
    * the per-file authoritative values (`authOf(i)` aligned with
    * `partNames`). Returns the common basePath when eligible. */
  def verifiedBase(files: IndexedSeq[String], partNames: Seq[String],
      authOf: Int => Seq[Any]): Option[String] =
    verifiedBaseNamed(files, partNames.length, authOf)
      .filter(_._2 == partNames).map(_._1)

  /** As [[verifiedBase]] with writer-chosen dir names: every file must
    * carry the SAME n `name=value` dirs (names consistent in order) and
    * every value must match the per-file authority. Returns
    * (basePath, dir names). */
  def verifiedBaseNamed(files: IndexedSeq[String], n: Int,
      authOf: Int => Seq[Any]): Option[(String, Seq[String])] = {
    if (n == 0 || files.isEmpty) return None
    var base: String = null
    var dirNames: Seq[String] = null
    var i = 0
    while (i < files.length) {
      splitLayoutN(files(i), n) match {
        case None => return None
        case Some((b, names, raws)) =>
          if (b.isEmpty) return None
          if (base == null) { base = b; dirNames = names }
          else if (base != b || dirNames != names) return None
          val auth = authOf(i)
          var j = 0
          while (j < raws.length) {
            if (!matchesAuthoritative(raws(j), auth(j))) return None
            j += 1
          }
      }
      i += 1
    }
    Option((base, dirNames))
  }

  /** As [[verifiedBase]] but with canonical-form checking only (no
    * independent authority — Hudi hive-style layouts). */
  def verifiedBaseCanonical(files: IndexedSeq[String],
      partCols: Seq[StructField]): Option[String] = {
    if (partCols.isEmpty || files.isEmpty) return None
    val names = partCols.map(_.name)
    var base: String = null
    var i = 0
    while (i < files.length) {
      splitLayout(files(i), names) match {
        case None => return None
        case Some((b, raws)) =>
          if (b.isEmpty) return None
          if (base == null) base = b
          else if (base != b) return None
          var j = 0
          while (j < raws.length) {
            if (!canonicalFor(raws(j), partCols(j).dataType)) return None
            j += 1
          }
      }
      i += 1
    }
    Option(base)
  }

  /** Hive-partitioned read of `files` under `basePath`: the partition
    * columns come from directory discovery (values verified by the
    * caller), the data columns from the files; a data file that ALSO
    * contains a partition column physically never reads it (Spark
    * serves overlapping names from the partition values — IO saved,
    * same as the injection path's column drop). */
  def read(spark: SparkSession, format: String, basePath: String,
      dataSchema: StructType, partCols: Seq[StructField],
      files: Seq[String], options: Map[String, String] = Map.empty): DataFrame =
    spark.read.option("basePath", basePath)
      .options(options) // rides into HadoopFsRelation.options (rule metadata)
      .schema(StructType(dataSchema.fields ++ partCols))
      .format(format).load(files: _*)
}
