package graft.lake

import java.io.IOException

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.{FaultFs, TestSpark}
import graft.lake.delta.{DeltaTable, DeltaWriter}
import graft.lake.hudi.{HudiTable, HudiWriter}
import graft.lake.iceberg.{IcebergTable, IcebergWriter}

/** Injected IO faults in the shared staged-file write path
  * ([[CommitIo.stage]]) and in the commit publish ([[CommitIo.publish]]),
  * through [[FaultFs]]: a failed commit must leave no staging dir behind,
  * a writer whose publish failed must not drift from what is on disk, and
  * a torn commit-point write must leave the table at its pre-op state. */
class StagedWriteFaultSpec extends AnyFunSuite {
  import StagedWriteFaultSpec.Format
  import TestSpark._

  FaultFs.register(spark.sparkContext.hadoopConfiguration)

  private def freshDir(name: String): String = {
    val loc = FaultFs.uri(new java.io.File(s"target/graft-fault-test/$name").getAbsolutePath)
    val p = new Path(loc)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    loc
  }

  private def rows(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"p${i % 2}", i * 1.5)).toDF("id", "p", "v")
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).toSeq.sorted

  /** A Delta log entry: `N.json` itself, or a hidden tmp file publishing it. */
  private def isLogEntry(p: Path): Boolean =
    p.getParent.getName == "_delta_log" && """\d{20}\.json""".r.findFirstIn(p.getName).isDefined

  /** Parsed actions of every published Delta log entry, by version. */
  private def logActions(loc: String): Seq[(Long, Seq[com.fasterxml.jackson.databind.JsonNode])] = {
    val logDir = new Path(loc, "_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    val mapper = new ObjectMapper()
    fs.listStatus(logDir).map(_.getPath)
      .filter(_.getName.matches("\\d{20}\\.json")).sortBy(_.getName).toSeq.map { c =>
        val in = fs.open(c)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        c.getName.take(20).toLong -> text.split('\n').filter(_.nonEmpty).map(mapper.readTree).toSeq
      }
  }

  test("delta: a failed log create leaves the writer unchanged; the retry is contiguous") {
    val loc = freshDir("delta-retry")
    val w = DeltaWriter.create(spark, loc, rows(0 until 0).schema, partitionColumns = Seq("p"))
    w.append(rows(0 until 8))
    FaultFs.failCreate(1)(isLogEntry)
    try intercept[IOException](w.append(rows(8 until 16)))
    finally FaultFs.clear()
    w.append(rows(8 until 16))
    // rewrites every live file: a writer that kept the failed attempt's
    // adds would remove (and re-read) files no commit ever added
    w.optimize(smallBytes = Long.MaxValue)

    val commits = logActions(loc)
    assert(commits.map(_._1) == commits.indices.map(_.toLong),
      s"log versions must be contiguous: ${commits.map(_._1)}")
    val added = scala.collection.mutable.Set[String]()
    commits.foreach { case (v, actions) =>
      actions.foreach { n =>
        if (n.has("remove")) {
          val path = n.get("remove").get("path").asText()
          assert(added(path), s"version $v removes $path, which no commit added")
        }
        if (n.has("add")) added += n.get("add").get("path").asText()
      }
    }
    assert(ids(DeltaTable.load(spark, loc).scan()) == (0L until 16L))
  }

  test("delta: a retried first deletion-vector delete still declares the feature") {
    val loc = freshDir("delta-dv-retry")
    val w = DeltaWriter.create(spark, loc, rows(0 until 0).schema, partitionColumns = Seq("p"))
    w.append(rows(0 until 8))
    FaultFs.failCreate(1)(isLogEntry)
    try intercept[IOException](w.deleteWhereDv(col("id") < 3L))
    finally FaultFs.clear()
    w.deleteWhereDv(col("id") < 3L)

    val commits = logActions(loc)
    def firstVersion(p: com.fasterxml.jackson.databind.JsonNode => Boolean): Option[Long] =
      commits.collectFirst { case (v, actions) if actions.exists(p) => v }
    val declared = firstVersion(n => n.has("protocol") && {
      val fs = n.get("protocol").path("readerFeatures")
      (0 until fs.size).exists(i => fs.get(i).asText() == "deletionVectors")
    })
    val used = firstVersion(n => n.has("add") && n.get("add").has("deletionVector"))
    assert(used.isDefined, "the retried delete must publish deletion-vector adds")
    assert(declared.exists(_ <= used.get),
      s"deletion vectors first used at version ${used.get} but declared at $declared")
    assert(ids(DeltaTable.load(spark, loc).scan()) == (3L until 8L))
  }

  test("iceberg: a failed version-hint write neither fails the commit nor drifts the writer") {
    val loc = freshDir("iceberg-hint")
    val w = IcebergWriter.create(spark, loc, rows(0 until 0).schema,
      partition = Seq("p" -> "identity"))
    w.append(rows(0 until 4))
    FaultFs.failCreate(1)(_.getName == "version-hint.text")
    try w.append(rows(4 until 8)) finally FaultFs.clear()
    // a writer that kept its pre-commit manifest list would drop 4..7 here
    w.append(rows(8 until 12))
    assert(ids(IcebergTable.load(spark, loc).scan()) == (0L until 12L))
  }

  /** (format, fresh empty table's write op, fresh reader's row ids). */
  private val formats: Seq[(String, String => (DataFrame => Unit), String => Seq[Long])] = Seq(
    ("graft", { loc =>
      val t = GraftTable.createEmpty(spark, loc, rows(0 until 0).schema, partitionBy = Seq("p"))
      df => t.append(df)
    }, loc => ids(GraftTable.load(spark, loc).scan())),
    ("delta", { loc =>
      val w = DeltaWriter.create(spark, loc, rows(0 until 0).schema, partitionColumns = Seq("p"))
      df => w.append(df)
    }, loc => ids(DeltaTable.load(spark, loc).scan())),
    ("iceberg", { loc =>
      val w = IcebergWriter.create(spark, loc, rows(0 until 0).schema,
        partition = Seq("p" -> "identity"))
      df => w.append(df)
    }, loc => ids(IcebergTable.load(spark, loc).scan())),
    ("hudi", { loc =>
      val w = HudiWriter.create(spark, loc, rows(0 until 0).schema,
        partitionFields = Seq("p"), keyField = "id")
      df => w.insert(df)
    }, loc => ids(HudiTable.load(spark, loc).scan())))

  private def rowsOf(df: DataFrame): Seq[(Long, String, Double)] =
    df.select("id", "p", "v").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq.sortBy(_._1)

  private val keyed: Seq[Format] = Seq(
    Format("graft",
      (loc, df) => GraftTable.create(spark, loc, df, partitionBy = Seq("p"), keyColumns = Seq("id")),
      (loc, df) => GraftTable.load(spark, loc).upsert(df),
      loc => rowsOf(GraftTable.load(spark, loc).scan()),
      "metadata", """v(\d{5})\.json""".r),
    Format("delta",
      (loc, df) => DeltaWriter.create(spark, loc, df.schema, partitionColumns = Seq("p")).append(df),
      (loc, df) => DeltaWriter.open(spark, loc).upsertKeys(df, Seq("id")),
      loc => rowsOf(DeltaTable.load(spark, loc).scan()),
      "_delta_log", """(\d{20})\.json""".r),
    Format("iceberg",
      (loc, df) => IcebergWriter.create(spark, loc, df.schema,
        partition = Seq("p" -> "identity")).append(df),
      (loc, df) => IcebergWriter.open(spark, loc).upsertKeys(df, Seq("id")),
      loc => rowsOf(IcebergTable.load(spark, loc).scan()),
      "metadata", """v(\d+)\.metadata\.json""".r),
    Format("hudi",
      (loc, df) => HudiWriter.create(spark, loc, df.schema, partitionFields = Seq("p"),
        keyField = "id").insert(df),
      (loc, df) => HudiWriter.open(spark, loc).upsert(df),
      loc => rowsOf(HudiTable.load(spark, loc).scan()),
      ".hoodie", """(\d+)\.commit""".r))

  keyed.foreach { f =>
    test(s"${f.name}: a torn commit-point write leaves the pre-op table; a fresh retry lands") {
      import spark.implicits._
      val pre = rows(0 until 8)
      val src = (4 until 12).map(i => (i.toLong, s"p${i % 2}", -i.toDouble)).toDF("id", "p", "v")
      val post = (rowsOf(pre).filter(_._1 < 4) ++ rowsOf(src)).sortBy(_._1)
      def commits(loc: String): Seq[(Long, Path)] = {
        val dir = new Path(loc, f.commitDir)
        dir.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(dir).toSeq
          .map(_.getPath).flatMap(p => p.getName match {
            case f.commitRe(v) => Some((v.toLong, p))
            case _ => None
          })
      }
      // the commit point of the upsert, as an identical twin table gets it
      val twin = freshDir(s"torn-${f.name}-twin")
      f.create(twin, pre)
      f.upsert(twin, src)
      val (_, twinHead) = commits(twin).maxBy(_._1)
      val fs = twinHead.getFileSystem(spark.sessionState.newHadoopConf())
      val bytes = { val in = fs.open(twinHead)
        try in.readAllBytes() finally in.close() }
      // Delta: cut at the line boundary after the last `remove` — what a
      // line-by-line log reader would take for a committed partial commit
      val keep =
        if (f.name != "delta") bytes.length / 2
        else {
          val text = new String(bytes, "UTF-8")
          val lastRemove = text.lastIndexOf("{\"remove\"")
          assert(lastRemove >= 0, "the delta upsert must retire rows with a remove")
          text.indexOf('\n', lastRemove) + 1
        }
      assert(keep > 0 && keep < bytes.length)

      val loc = freshDir(s"torn-${f.name}")
      f.create(loc, pre)
      val head = commits(loc).map(_._1).max
      FaultFs.tearCreate(1, keep)(p =>
        p.getParent.getName == f.commitDir && f.commitRe.findFirstIn(p.getName).isDefined)
      val e = try intercept[Exception](f.upsert(loc, src)) finally FaultFs.clear()
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("injected torn write")), e.toString)
      assert(f.read(loc) == rowsOf(pre), "a torn commit must leave the pre-op table")

      f.upsert(loc, src)
      assert(commits(loc).map(_._1).max == head + 1, "the retry publishes the next version")
      assert(f.read(loc) == post)
    }
  }

  formats.foreach { case (name, open, read) =>
    test(s"$name: a failed staged-file rename leaves no staging dir and no commit") {
      val loc = freshDir(s"rename-$name")
      val write = open(loc)
      write(rows(0 until 4))
      // the first move of a staged file out of the staging dir (Spark's
      // own task-commit renames stay inside it)
      FaultFs.failRename(1)(p =>
        p.getName.endsWith(".parquet") && !p.toString.contains("/_tmp"))
      val e = try intercept[Exception](write(rows(4 until 12))) finally FaultFs.clear()
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("injected rename failure")),
        e.toString)
      val root = new Path(loc)
      val left = root.getFileSystem(spark.sessionState.newHadoopConf())
        .listStatus(root).map(_.getPath.getName).filter(_.startsWith("_tmp"))
      assert(left.isEmpty, s"staging dirs left behind: ${left.mkString(", ")}")
      assert(read(loc) == (0L until 4L), "the failed commit must publish nothing")
    }
  }
}

object StagedWriteFaultSpec {
  /** One format's commit protocol for the torn-write arms. */
  final case class Format(
      name: String,
      /** creates a keyed table holding `df` at the location */
      create: (String, DataFrame) => Unit,
      /** a fresh writer's keyed upsert of `df` */
      upsert: (String, DataFrame) => Unit,
      /** a fresh reader's rows */
      read: String => Seq[(Long, String, Double)],
      /** commit-point dir and version-file pattern (group 1 = version) */
      commitDir: String,
      commitRe: scala.util.matching.Regex)
}
