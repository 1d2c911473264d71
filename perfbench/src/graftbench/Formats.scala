package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.lake.GraftTable
import graft.lake.delta.{DeltaTable, DeltaWriter}
import graft.lake.hudi.{HudiTable, HudiWriter}
import graft.lake.iceberg.{IcebergTable, IcebergWriter}

/** Read side of one table, opened fresh by [[Lake.load]]. */
trait LakeReader {
  /** Files the scan of `filter` would read after pruning. */
  def planFiles(filter: Option[Column]): Int
  def scan(filter: Option[Column]): DataFrame
  /** Snapshot the reader sees, for a later [[Lake.loadAt]]. */
  def snapshot: String
}

/** One keyed table `(id, p, v, s)` partitioned by `p`, driven through a
  * format's public writer and reader. Writers stay open across commits,
  * as a long-running ingest job keeps them; every read opens the table
  * afresh from storage. */
trait Lake {
  def format: String
  def location: String
  def append(df: DataFrame): Unit
  def streamAppend(df: DataFrame, batchId: Long): Unit
  def upsert(df: DataFrame): Unit
  /** Copy-on-write or equality delete of rows whose key is in `ids`. */
  def deleteRewrite(ids: Seq[Long]): Unit
  /** Deletion-vector or log delete of rows whose key is in `ids`. */
  def deleteMasked(ids: Seq[Long]): Unit
  def maintain(): Unit
  def load(): LakeReader
  def loadAt(snapshot: String): LakeReader
}

object Lake {
  val Formats: Seq[String] = Seq("graft", "delta", "iceberg", "hudi")

  val Schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("p", IntegerType),
    StructField("v", LongType), StructField("s", StringType)))

  val Columns: Seq[String] = Schema.fieldNames.toSeq

  def frame(spark: SparkSession, rows: Seq[LakeRow]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r.id, r.p, r.v, r.s)), 1), Schema)

  def keys(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    val sp = spark; import sp.implicits._
    ids.toDF("id")
  }

  def keyFilter(ids: Seq[Long]): Column = col("id").isin(ids: _*)

  /** Creates an empty table of `format` at `location`. */
  def create(spark: SparkSession, format: String, location: String): Lake = format match {
    case "graft" => new GraftLake(spark, location,
      GraftTable.createEmpty(spark, location, Schema, partitionBy = Seq("p"),
        keyColumns = Seq("id")))
    case "delta" => new DeltaLake(spark, location,
      DeltaWriter.create(spark, location, Schema, partitionColumns = Seq("p")))
    case "iceberg" => new IcebergLake(spark, location,
      IcebergWriter.create(spark, location, Schema, partition = Seq("p" -> "identity")))
    case "hudi" => new HudiLake(spark, location,
      HudiWriter.create(spark, location, Schema, partitionFields = Seq("p"),
        keyField = "id", tableType = "MERGE_ON_READ"))
  }

  /** One timed SQL op: planning (`analyze`) and execution (`exec`) as
    * child spans, with the distinct parquet files the execution opened. */
  def sqlOp[T](spark: SparkSession, rec: Recorder, name: String, query: String)(
      answer: DataFrame => T): Option[T] =
    rec.op(name) {
      val df = rec.call("analyze") {
        val d = spark.sql(query)
        d.queryExecution.executedPlan
        d
      }
      val (out, files) =
        CountingLocalFileSystem.parquetFilesOpened(rec.call("exec")(answer(df)))
      rec.note("sql.files_read", files)
      out
    }
}

final class GraftLake(spark: SparkSession, val location: String, t: GraftTable) extends Lake {
  def format = "graft"
  def append(df: DataFrame): Unit = t.append(df)
  def streamAppend(df: DataFrame, batchId: Long): Unit = t.appendStreamBatch(df, batchId, "bench")
  def upsert(df: DataFrame): Unit = t.upsert(df)
  def deleteRewrite(ids: Seq[Long]): Unit = t.delete(Lake.keyFilter(ids))
  def deleteMasked(ids: Seq[Long]): Unit = t.deleteKeys(Lake.keys(spark, ids))
  def maintain(): Unit = t.compact()
  private def reader(g: GraftTable, asOf: Long): LakeReader = new LakeReader {
    def planFiles(f: Option[Column]) = g.planFiles(f, asOf).size
    def scan(f: Option[Column]) = g.scan(f, asOf).select(Lake.Columns.map(col): _*)
    def snapshot = (if (asOf >= 0) asOf else g.meta.currentSnapshotId).toString
  }
  def load(): LakeReader = reader(GraftTable.load(spark, location), -1L)
  def loadAt(s: String): LakeReader = reader(GraftTable.load(spark, location), s.toLong)
}

final class DeltaLake(spark: SparkSession, val location: String, w: DeltaWriter) extends Lake {
  def format = "delta"
  def append(df: DataFrame): Unit = w.append(df)
  def streamAppend(df: DataFrame, batchId: Long): Unit = w.appendStreamBatch(df, batchId, "bench")
  def upsert(df: DataFrame): Unit = w.upsertKeys(df, Seq("id"))
  def deleteRewrite(ids: Seq[Long]): Unit = w.deleteWhere(Lake.keyFilter(ids))
  def deleteMasked(ids: Seq[Long]): Unit = w.deleteMatchingDv(Lake.keys(spark, ids), Seq("id"))
  def maintain(): Unit = w.optimize()
  private def reader(t: DeltaTable, version: Long): LakeReader = new LakeReader {
    def planFiles(f: Option[Column]) = t.planFiles(f).size
    def scan(f: Option[Column]) = t.scan(f).select(Lake.Columns.map(col): _*)
    def snapshot = version.toString
  }
  def load(): LakeReader = {
    val v = DeltaTable.latestVersion(spark, location)
    reader(DeltaTable.loadVersion(spark, location, v), v)
  }
  def loadAt(s: String): LakeReader =
    reader(DeltaTable.loadVersion(spark, location, s.toLong), s.toLong)
}

final class IcebergLake(spark: SparkSession, val location: String, w: IcebergWriter) extends Lake {
  def format = "iceberg"
  def append(df: DataFrame): Unit = w.append(df)
  def streamAppend(df: DataFrame, batchId: Long): Unit = w.appendStreamBatch(df, batchId, "bench")
  def upsert(df: DataFrame): Unit = w.upsertKeys(df, Seq("id"))
  def deleteRewrite(ids: Seq[Long]): Unit = w.equalityDelete(Lake.keys(spark, ids))
  def deleteMasked(ids: Seq[Long]): Unit = w.deleteWhereDv(Lake.keyFilter(ids), requireMatch = false)
  def maintain(): Unit = w.compact()
  private def reader(t: IcebergTable, snap: Long): LakeReader = new LakeReader {
    def planFiles(f: Option[Column]) = t.planFiles(f, snap).size
    def scan(f: Option[Column]) = t.scan(f, snap).select(Lake.Columns.map(col): _*)
    def snapshot = (if (snap >= 0) snap else t.currentSnapshotId).toString
  }
  def load(): LakeReader = reader(IcebergTable.load(spark, location), -1L)
  def loadAt(s: String): LakeReader = reader(IcebergTable.load(spark, location), s.toLong)
}

final class HudiLake(spark: SparkSession, val location: String, w: HudiWriter) extends Lake {
  def format = "hudi"
  @volatile private var lastInstant: String = null
  private def track(instant: String): Unit = if (instant != null && instant.nonEmpty) lastInstant = instant
  def append(df: DataFrame): Unit = track(w.insert(df))
  def streamAppend(df: DataFrame, batchId: Long): Unit = track(w.appendStreamBatch(df, batchId, "bench"))
  def upsert(df: DataFrame): Unit = track(w.upsertLog(df))
  def deleteRewrite(ids: Seq[Long]): Unit =
    track(w.deleteLogWhere(Lake.keyFilter(ids), requireMatch = false))
  def deleteMasked(ids: Seq[Long]): Unit = track(w.deleteMatchingLog(Lake.keys(spark, ids), "id"))
  def maintain(): Unit = { track(w.compact()); w.clean() }
  private def reader(t: HudiTable, instant: String): LakeReader = new LakeReader {
    def planFiles(f: Option[Column]) = t.planFiles(f).size + t.planLogFiles(f).size
    def scan(f: Option[Column]) = t.scan(f).select(Lake.Columns.map(col): _*)
    def snapshot = instant
  }
  def load(): LakeReader = reader(HudiTable.load(spark, location), lastInstant)
  def loadAt(s: String): LakeReader = reader(HudiTable.loadAsOf(spark, location, s), s)
}
