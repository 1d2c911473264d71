package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.expressions.DvKeep
import graft.lake.delta.{DeletionVectors, RoaringBitmapArray}
import graft.lake.iceberg.Puffin

/** The one module that applies row deletes, for graft, Iceberg and Delta:
  * the sequence-number rule, the (file, row index) bitmap fold, the
  * deletion-vector mask, and the null-safe join that applies equality
  * deletes and position-delete files. Each format keeps its own
  * file-key rule (how a path normalizes to its metadata's key) and its
  * own blob decoder. */
object RowDeletes {

  /** Index of the first of the ascending delete sequences `seqs` that
    * applies to a data file of sequence `fileSeq`: to lower sequences, or
    * lower-or-equal when `inclusive` (Iceberg v2 position deletes and
    * DVs). Files with equal indexes share one delete set (the suffix). */
  def applicable(seqs: IndexedSeq[Long], fileSeq: Long, inclusive: Boolean): Int = {
    var i = seqs.length
    while (i > 0 && (seqs(i - 1) > fileSeq || (inclusive && seqs(i - 1) == fileSeq))) i -= 1
    i
  }

  /** Folds (file path, row index) rows into one bitmap per `key(path)`
    * that `keepKey` admits. Tasks ship serialized partials; the driver
    * unions O(files × tasks) compressed bitmaps, never O(rows). */
  def fold(positions: DataFrame, key: String => String,
      keepKey: String => Boolean = _ => true): Map[String, RoaringBitmapArray] = {
    val spark = positions.sparkSession
    import spark.implicits._
    positions.as[(String, Long)].mapPartitions { it =>
      val m = scala.collection.mutable.HashMap[String, RoaringBitmapArray]()
      it.foreach { case (fp, i) =>
        val k = key(fp)
        if (keepKey(k)) m.getOrElseUpdate(k, RoaringBitmapArray()).add(i)
      }
      m.iterator.map { case (k, bm) => (k, bm.serialize()) }
    }.collect().toSeq.groupMapReduce(_._1)(p => RoaringBitmapArray.deserialize(p._2)) {
      (a, b) => a.union(b); a
    }
  }

  /** One data file's deletion vector. */
  sealed trait Dv extends Serializable
  final case class DeltaDv(location: String, d: DeletionVectors.Descriptor) extends Dv
  final case class PuffinDv(path: String, offset: Long, length: Long) extends Dv

  /** The deletion-vector mask: true iff the row at (`path`, `rowIndex`)
    * is not deleted. A file whose `key(path)` is in `dvs` takes that DV;
    * any other file keeps every row. Executors resolve each file once per
    * task and read each DV blob once; nothing data-sized reaches the
    * driver. */
  def keep(spark: SparkSession, path: Column, rowIndex: Column,
      key: String => String, dvs: Map[String, Dv]): Column = {
    val sc = spark.sparkContext
    val bcConf = sc.broadcast(new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf()))
    val bcDvs = sc.broadcast(dvs)
    DvKeep.column(path, rowIndex, raw => {
      val k = key(raw)
      bcDvs.value.get(k).map(dvBitmap(bcConf.value.value, k, _)).orNull
    })
  }

  /** DV bitmaps by blob identity (the Delta key holds the descriptor: an
    * extended DV replaces it, and a file-only key would serve the old). */
  private val dvBitmaps = new BlobCache[String, RoaringBitmapArray](256)

  private def dvBitmap(conf: Configuration, fileKey: String, dv: Dv): RoaringBitmapArray =
    dv match {
      case DeltaDv(loc, d) => dvBitmaps.get(s"delta:$loc#$fileKey#${d.pathOrInlineDv}")(
        DeletionVectors.load(conf, loc, d))
      case PuffinDv(p, off, len) =>
        dvBitmaps.get(s"iceberg:$p#$off")(Puffin.readDv(conf, new Path(p), off, len))
    }

  /** The (file key, row index) rows of the position-delete parquet
    * `files`, read at the spec's `(file_path, pos)` schema, for
    * [[antiJoin]]/[[semiJoin]] on (`key(path)`, row index). Rows whose
    * file key is in `skip` are dropped (Iceberg v3: a data file with a DV
    * takes its DV, which superseded its position deletes). */
  def positions(spark: SparkSession, files: Seq[String], key: Column => Column,
      skip: Set[String] = Set.empty): DataFrame = {
    val pd = spark.read.schema("file_path STRING, pos BIGINT").parquet(files: _*)
      .select(key(col("file_path")).as("file_key"), col("pos"))
    if (skip.isEmpty) pd else pd.filter(!col("file_key").isin(skip.toSeq: _*))
  }

  /** Rows of `data` that no key row matches: `on(i)` is compared
    * null-safe with the i-th column of `keys`, as Iceberg v2 defines
    * equality deletes. Callers read delete files at the schema their
    * metadata records, so such a read pays no schema-inference job. */
  def antiJoin(data: DataFrame, on: Seq[Column], keys: DataFrame): DataFrame =
    keyJoin(data, on, keys, "left_anti")

  /** Rows of `data` that some key row matches, by [[antiJoin]]'s rule. */
  def semiJoin(data: DataFrame, on: Seq[Column], keys: DataFrame): DataFrame =
    keyJoin(data, on, keys, "left_semi")

  private def keyJoin(data: DataFrame, on: Seq[Column], keys: DataFrame,
      how: String): DataFrame = {
    val k = keys.toDF(keys.columns.indices.map(i => s"__rowdel_k$i"): _*)
    data.join(k, on.zipWithIndex.map { case (c, i) => c <=> k(s"__rowdel_k$i") }
      .reduce(_ && _), how)
  }
}
