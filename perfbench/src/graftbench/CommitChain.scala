package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

/** Table shape and op sizes. No commit history is installed to measure
  * them from, so they are chosen (see perfbench/README.md). */
object CommitChain {
  /** Every commit writes to several partitions. */
  val Partitions = 4
  /** Initial rows, and rows per append, stream batch and upsert: one pass
    * of the schedule takes about 13 s on 4 cores. */
  val InitialRows = 2000
  val Batch = 100
  /** Share of upsert rows whose key is already live: each upsert runs both
    * the update and the insert path. */
  val UpsertHitShare = 0.5
  /** Keys per delete: a few files per table are rewritten or masked. */
  val DeleteKeys = 20
  /** Per-round step, the same on every format; a round applies it to each
    * format in turn, and the schedule repeats. */
  val Steps: IndexedSeq[String] = IndexedSeq("append", "stream_append", "read", "upsert",
    "stream_replay", "delete_rewrite", "read", "sql", "delete_masked", "maintain")

  def toLakeRow(x: Row): LakeRow =
    LakeRow(x.getAs[Long]("id"), x.getAs[Int]("p"), x.getAs[Long]("v"), x.getAs[String]("s"))
}

/** Round-robin commit chain on one keyed, partitioned table per format.
  * Every format receives the same seeded batches, so each table must end
  * equal to one in-benchmark reference model (key -> row). */
final class CommitChain(spark: SparkSession, seed: Long) extends Workload {
  import CommitChain._

  private val r = Gen.rng(seed, "commit_chain")
  private var lakes: Seq[Lake] = Nil
  private val model = mutable.LinkedHashMap[Long, LakeRow]()
  private val live = mutable.ArrayBuffer[Long]()
  private var nextKey = 0L
  private var version = 0L
  private var batchId = 0L
  private var lastWritten = -1L
  private var rowsDone, userBytes = 0L
  private var upsertRows, upsertHits = 0L
  private var step = 0
  private var sqlTable = ""

  private def fresh(n: Int): Seq[LakeRow] = (0 until n).map { _ =>
    val id = nextKey; nextKey += 1
    Gen.row(r, id, Partitions, version)
  }

  private def pickLive(n: Int): Seq[Long] = {
    val out = mutable.LinkedHashSet[Long]()
    while (out.size < math.min(n, live.size)) out += live(r.nextInt(live.size))
    out.toSeq
  }

  private def put(rows: Seq[LakeRow]): Unit = rows.foreach { x =>
    if (!model.contains(x.id)) live += x.id
    model(x.id) = x
  }
  private def remove(ids: Seq[Long]): Unit = {
    ids.foreach(model.remove)
    val gone = ids.toSet
    live.filterInPlace(k => !gone(k))
  }

  def build(dir: String): Unit = {
    val init = fresh(InitialRows)
    // the graft table lives in the SQL catalog's warehouse
    val warehouse = spark.conf.get("spark.sql.catalog.bench.warehouse")
    sqlTable = s"chain_${new java.io.File(dir).getName.replaceAll("[^a-zA-Z0-9_]", "_")}"
    lakes = Lake.Formats.map { f =>
      val l = Lake.create(spark, f, if (f == "graft") s"$warehouse/$sqlTable" else s"$dir/$f")
      l.append(Lake.frame(spark, init))
      l
    }
    put(init)
  }

  def warmup(): Unit = {
    val untimed = new Recorder(spark.sparkContext, traced = false)
    Steps.indices.foreach(i => round(i, untimed))
    require(!untimed.ops.exists(_.failed), "commit_chain warm-up failed")
    rowsDone = 0; userBytes = 0; upsertRows = 0; upsertHits = 0
  }

  /** Runs `op` on every format as one timed op each. */
  private def each(kind: String, rec: Recorder, bytes: Long)(op: Lake => Unit): Unit =
    lakes.foreach { l =>
      rec.op(s"${l.format}.$kind")(op(l))
      rec.note(s"${l.format}.user_bytes", bytes.toDouble)
    }

  def cycle: Int = Steps.length

  def round(i: Int, rec: Recorder): Unit = {
    val kind = Steps(step % Steps.length)
    step += 1
    version += 1
    kind match {
      case "append" =>
        val rows = fresh(Batch)
        val df = Lake.frame(spark, rows)
        val bytes = rows.map(_.userBytes).sum
        each(kind, rec, bytes)(_.append(df))
        put(rows); lastWritten = rows.last.id
        rowsDone += rows.size * lakes.size; userBytes += bytes * lakes.size
      case "stream_append" =>
        batchId += 1
        val rows = fresh(Batch)
        val df = Lake.frame(spark, rows)
        val bytes = rows.map(_.userBytes).sum
        each(kind, rec, bytes)(_.streamAppend(df, batchId))
        put(rows); lastWritten = rows.last.id
        rowsDone += rows.size * lakes.size; userBytes += bytes * lakes.size
      case "stream_replay" =>
        // the last batch id again, with different rows: must add nothing
        val df = Lake.frame(spark, fresh(Batch))
        each(kind, rec, 0L)(_.streamAppend(df, batchId))
      case "upsert" =>
        val hits = pickLive((Batch * UpsertHitShare).toInt)
          .map(id => Gen.row(r, id, Partitions, version))
        val rows = hits ++ fresh(Batch - hits.size)
        val df = Lake.frame(spark, rows)
        val bytes = rows.map(_.userBytes).sum
        each(kind, rec, bytes)(_.upsert(df))
        put(rows); lastWritten = hits.headOption.getOrElse(rows.last).id
        upsertRows += rows.size; upsertHits += hits.size
        rowsDone += rows.size * lakes.size; userBytes += bytes * lakes.size
      case "delete_rewrite" | "delete_masked" =>
        val ids = pickLive(DeleteKeys)
        each(kind, rec, 8L * ids.size)(l =>
          if (kind == "delete_rewrite") l.deleteRewrite(ids) else l.deleteMasked(ids))
        remove(ids)
        rowsDone += ids.size * lakes.size; userBytes += 8L * ids.size * lakes.size
      case "maintain" =>
        each(kind, rec, 0L)(_.maintain())
      case "sql" =>
        // catalog query on the graft table: resolves the current snapshot
        val p = r.nextInt(Partitions)
        val got = Lake.sqlOp(spark, rec, "sql.agg", "SELECT count(*) AS n, min(id) AS lo, " +
            s"max(id) AS hi FROM bench.$sqlTable WHERE p = $p") { df =>
          val row = df.head()
          (row.getLong(0), row.getLong(1), row.getLong(2))
        }
        val ids = model.values.filter(_.p == p).map(_.id)
        val want = (ids.size.toLong, ids.min, ids.max)
        if (got.exists(_ != want)) {
          rec.failLast()
          System.err.println(s"perfbench: sql count/min/max of partition $p returned $got, want $want")
        }
      case "read" =>
        val k = lastWritten
        val want = model.get(k).toSeq
        lakes.foreach { l =>
          val f = Some(col("id") === k)
          val out = rec.op(s"${l.format}.read") {
            val t = rec.call("load")(l.load())
            val planned = rec.call("plan")(t.planFiles(f))
            (t, planned, rec.call("scan")(t.scan(f).collect().toSeq.map(toLakeRow)))
          }
          // the pruning ratio's denominator is counted outside the timed op
          out.foreach { case (t, planned, _) =>
            if (rec.tracing) {
              rec.note(s"${l.format}.files_planned", planned)
              rec.note(s"${l.format}.files_total", rec.aside(t.planFiles(None)))
            }
          }
          val got = out.map(_._3)
          if (got.exists(_ != want)) {
            rec.failLast()
            System.err.println(s"perfbench: ${l.format} read of key $k returned $got, want $want")
          }
        }
    }
  }

  def verify(rec: Recorder): Seq[String] = lakes.flatMap { l =>
    val rows = l.load().scan(None).collect().toSeq.map(toLakeRow)
    val got = rows.map(x => x.id -> x).toMap
    if (rows.size != got.size) Some(s"${l.format}: ${rows.size - got.size} duplicate keys")
    else if (got != model.toMap) {
      val missing = model.keySet -- got.keySet
      val extra = got.keySet -- model.keySet
      val changed = model.keySet.intersect(got.keySet).count(k => got(k) != model(k))
      Some(s"${l.format}: ${missing.size} rows missing, ${extra.size} extra, $changed differ " +
        s"from the reference model")
    } else None
  }

  def rows: Long = rowsDone

  private def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length else Option(f.listFiles).toSeq.flatten.map(dirBytes).sum

  def inputs: Seq[(String, Any)] = {
    val liveBytes = model.values.map(_.userBytes).sum
    Seq(
      "formats" -> Lake.Formats.mkString(","),
      "initial_rows" -> InitialRows,
      "rows_per_batch" -> Batch,
      "partitions" -> Partitions,
      "upsert_hit_share" -> f"${if (upsertRows > 0) upsertHits.toDouble / upsertRows else 0.0}%.3f",
      "keys_per_delete" -> DeleteKeys,
      "schedule" -> Steps.mkString(","),
      "live_rows_at_end" -> model.size,
      "live_bytes_at_end" -> liveBytes,
      "files_per_table_at_end" -> lakes.map(l => s"${l.format}=${l.load().planFiles(None)}").mkString(","),
      "metadata_working_set" -> ("every commit publishes new metadata, so each fresh load " +
        "reads at least one uncached document; caps: GraftTable metaCache 256, BlobCache " +
        "4096, Hudi instant cache 1024"))
  }

  override def report(bytesWritten: Long): Seq[(String, Double, String)] = {
    val liveBytes = model.values.map(_.userBytes).sum.toDouble * lakes.size
    val onDisk = lakes.map(l => dirBytes(new java.io.File(l.location))).sum
    Seq("write_amp" -> (bytesWritten / math.max(1.0, userBytes.toDouble), "ratio"),
      "space_amp" -> (onDisk / math.max(1.0, liveBytes), "ratio"))
      .map { case (k, (v, u)) => (k, v, u) }
  }
}
