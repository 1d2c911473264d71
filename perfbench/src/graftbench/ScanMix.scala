package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

object ScanMix {
  val Partitions = 4
  val Appends = 4
  val RowsPerAppend = 1500
  val UpsertRows = 300
  val UpsertHitShare = 2.0 / 3
  val DeleteKeys = 100
  /** Width of a range scan as a share of the key space. */
  val RangeShare = 0.02
  /** Per-round op kind; lake kinds run once per format, SQL kinds once. */
  val Steps: IndexedSeq[String] = IndexedSeq("point", "range", "agg", "travel", "sql_agg", "sql_dpp")
  val Labels: IndexedSeq[String] = IndexedSeq("north", "south", "east", "west")
}

/** Read-only ops on pre-built tables: every op opens the table afresh and
  * answers one query. Answers are checked after the run against plain
  * `spark.read.parquet` over the generator's own copy of each state. */
final class ScanMix(spark: SparkSession, seed: Long) extends Workload {
  import ScanMix._

  private val r = Gen.rng(seed, "scan_mix")
  private var lakes: Seq[Lake] = Nil
  private var rawDir, sqlTable = ""
  /** Per format: snapshot after the appends, before upsert and delete. */
  private var appended = Map.empty[String, String]
  private var totalFiles = Map.empty[String, Int]
  private var sqlAggPushed, sqlDppPlanned = false
  private var maxKey = 0L
  /** (op index, format, kind, parameter, answer) of every timed op. */
  private val answers = mutable.ArrayBuffer[(Int, String, String, Long, Any)]()
  private var expected: (Seq[LakeRow], Seq[LakeRow]) = null

  def build(dir: String): Unit = {
    // inputs: clustered appends, then an upsert and a delete
    val batches = (0 until Appends).map(a => (0 until RowsPerAppend).map { i =>
      Gen.row(r, a.toLong * RowsPerAppend + i, Partitions, 0L)
    })
    maxKey = Appends.toLong * RowsPerAppend
    val model = mutable.LinkedHashMap[Long, LakeRow]()
    batches.flatten.foreach(x => model(x.id) = x)
    val appendedRows = model.values.toSeq
    val keys = Gen.shuffle(r, model.keys.toIndexedSeq)
    val hits = keys.take((UpsertRows * UpsertHitShare).toInt).map(id => Gen.row(r, id, Partitions, 1L))
    val upsert = hits ++ (0 until UpsertRows - hits.size).map(i => Gen.row(r, maxKey + i, Partitions, 1L))
    maxKey += UpsertRows - hits.size
    upsert.foreach(x => model(x.id) = x)
    val deleted = keys.slice(hits.size, hits.size + DeleteKeys)
    deleted.foreach(model.remove)

    // the generator's raw output: each state as plain parquet
    rawDir = s"$dir/raw"
    Lake.frame(spark, appendedRows).write.parquet(s"$rawDir/appended")
    Lake.frame(spark, model.values.toSeq).write.parquet(s"$rawDir/final")
    val sp = spark; import sp.implicits._
    Labels.zipWithIndex.map { case (l, p) => (p, l) }.toDF("p", "label")
      .write.parquet(s"$rawDir/dim")
    spark.read.parquet(s"$rawDir/dim").createOrReplaceTempView("scan_dim")

    val warehouse = spark.conf.get("spark.sql.catalog.bench.warehouse")
    sqlTable = new java.io.File(dir).getName.replaceAll("[^a-zA-Z0-9_]", "_")
    lakes = Lake.Formats.map { f =>
      val loc = if (f == "graft") s"$warehouse/$sqlTable" else s"$dir/$f"
      val l = Lake.create(spark, f, loc)
      batches.foreach(b => l.append(Lake.frame(spark, b)))
      val snap = l.load().snapshot
      l.upsert(Lake.frame(spark, upsert))
      l.deleteMasked(deleted)
      appended += f -> snap
      l
    }
    totalFiles = lakes.map(l => l.format -> l.load().planFiles(None)).toMap
  }

  def warmup(): Unit = {
    val agg = spark.sql(sqlAgg(0))
    sqlAggPushed = agg.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.isEmpty
    sqlDppPlanned = spark.sql(sqlDpp(Labels(0))).queryExecution.executedPlan.toString
      .contains("dynamicpruningexpression")
    // warm-up: one full schedule, untimed
    val untimed = new Recorder(spark.sparkContext, traced = false)
    Steps.indices.foreach(i => round(i, untimed))
    require(!untimed.ops.exists(_.failed), "scan_mix warm-up failed")
    answers.clear()
  }

  private def sqlAgg(p: Int) =
    s"SELECT count(*) AS n, min(id) AS lo, max(id) AS hi FROM bench.$sqlTable " +
      s"VERSION AS OF ${appended("graft")} WHERE p = $p"
  private def sqlDpp(label: String) =
    s"SELECT d.label, count(*) AS n, sum(f.v) AS sv FROM bench.$sqlTable " +
      s"VERSION AS OF ${appended("graft")} f JOIN scan_dim d ON f.p = d.p " +
      s"WHERE d.label = '$label' GROUP BY d.label"

  private def countSum(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val row = df.agg(count(lit(1)), sum(col("v"))).head()
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  private var step = 0

  def cycle: Int = Steps.length

  def round(i: Int, rec: Recorder): Unit = {
    val kind = Steps(step % Steps.length)
    step += 1
    kind match {
      case "sql_agg" =>
        val p = r.nextInt(Partitions)
        val got = Lake.sqlOp(spark, rec, "sql.agg", sqlAgg(p)) { df =>
          val row = df.head()
          (row.getLong(0), row.getLong(1), row.getLong(2))
        }
        got.foreach(a => answers += ((rec.ops.length - 1, "sql", kind, p.toLong, a)))
      case "sql_dpp" =>
        val p = r.nextInt(Partitions)
        val got = Lake.sqlOp(spark, rec, "sql.dpp", sqlDpp(Labels(p))) { df =>
          df.collect().toSeq.map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
        }
        got.foreach(a => answers += ((rec.ops.length - 1, "sql", kind, p.toLong, a)))
      case _ =>
        val param = kind match {
          case "point" => r.nextLong(maxKey)
          case "range" => r.nextLong(maxKey)
          case _ => 0L
        }
        val width = (maxKey * RangeShare).toLong
        val filter: Option[Column] = kind match {
          case "point" => Some(col("id") === param)
          case "range" => Some(col("id") >= param && col("id") < param + width)
          case _ => None
        }
        lakes.foreach { l =>
          val got = rec.op(s"${l.format}.$kind") {
            val t = rec.call("load")(
              if (kind == "travel") l.loadAt(appended(l.format)) else l.load())
            val planned = rec.call("plan")(t.planFiles(filter))
            rec.note(s"${l.format}.files_planned", planned)
            rec.note(s"${l.format}.files_total", totalFiles(l.format))
            rec.call("scan") {
              val df = t.scan(filter)
              kind match {
                case "point" => df.collect().toSeq.map(CommitChain.toLakeRow)
                case "agg" => df.groupBy("p").agg(count(lit(1)), sum(col("v"))).collect()
                  .map(x => x.getInt(0) -> (x.getLong(1), x.getLong(2))).toMap
                case _ => countSum(df)
              }
            }
          }
          got.foreach(a => answers += ((rec.ops.length - 1, l.format, kind, param, a)))
        }
    }
  }

  /** Expected answer of one op, from the raw parquet states. */
  private def expect(kind: String, param: Long): Any = {
    val (appendedRows, finalRows) = expected
    val width = (maxKey * RangeShare).toLong
    def cs(xs: Seq[LakeRow]) = (xs.size.toLong, xs.map(_.v).sum)
    kind match {
      case "point" => finalRows.filter(_.id == param)
      case "range" => cs(finalRows.filter(x => x.id >= param && x.id < param + width))
      case "agg" => finalRows.groupBy(_.p).map { case (p, xs) => p -> cs(xs) }
      case "travel" => cs(appendedRows)
      case "sql_agg" =>
        val xs = appendedRows.filter(_.p == param)
        (xs.size.toLong, xs.map(_.id).min, xs.map(_.id).max)
      case "sql_dpp" =>
        Seq((Labels(param.toInt), cs(appendedRows.filter(_.p == param))))
          .map { case (l, (n, s)) => (l, n, s) }
    }
  }

  private var rowsMatched = 0L

  def verify(rec: Recorder): Seq[String] = {
    def read(name: String) =
      spark.read.parquet(s"$rawDir/$name").collect().toSeq.map(CommitChain.toLakeRow)
    expected = (read("appended"), read("final"))
    answers.foreach { case (idx, fmt, kind, param, got) =>
      val want = expect(kind, param)
      rowsMatched += (want match {
        case xs: Seq[_] if kind == "point" => xs.size.toLong
        case (n: Long, _) => n
        case (n: Long, _, _) => n
        case m: Map[_, _] => m.values.map { case (n: Long, _) => n; case _ => 0L }.sum
        case Seq((_, n: Long, _)) => n
        case _ => 0L
      })
      val ok = got == want
      if (!ok) {
        rec.fail(idx)
        System.err.println(s"perfbench: $fmt $kind($param) answered $got, want $want")
      }
    }
    Nil
  }

  def rows: Long = rowsMatched

  def inputs: Seq[(String, Any)] = Seq(
    "formats" -> Lake.Formats.mkString(","),
    "rows_per_table" -> (Appends * RowsPerAppend + UpsertRows - (UpsertRows * UpsertHitShare).toInt - DeleteKeys),
    "commits_per_table" -> s"$Appends appends, 1 upsert ($UpsertRows rows, hit share ${"%.3f".format(UpsertHitShare)}), 1 masked delete ($DeleteKeys keys)",
    "files_per_table" -> totalFiles.toSeq.sortBy(_._1).map { case (f, n) => s"$f=$n" }.mkString(","),
    "range_selectivity" -> RangeShare,
    "point_selectivity" -> f"${1.0 / maxKey}%.6f",
    "sql_agg_pushed_to_metadata" -> sqlAggPushed,
    "sql_dpp_in_plan" -> sqlDppPlanned,
    "metadata_working_set" -> ("tables never change after setup, so every metadata read " +
      "after warm-up hits the caches (GraftTable metaCache 256, BlobCache 4096, Hudi " +
      "instant cache 1024, Tables schema cache 256)"))
}
