package graft.lake

import java.io.IOException

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.{FaultFs, TestSpark}
import graft.lake.delta.{DeltaTable, DeltaWriter}
import graft.lake.hudi.{HudiTable, HudiWriter}
import graft.lake.iceberg.{IcebergTable, IcebergWriter}

/** Injected IO faults in the shared staged-file write path
  * ([[CommitIo.stage]]) and in Delta's log publish, through [[FaultFs]]:
  * a failed commit must leave no staging dir behind, and a writer whose
  * publish failed must not drift from what is on disk. */
class StagedWriteFaultSpec extends AnyFunSuite {
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

  test("delta: a failed log create leaves the writer unchanged; the retry is contiguous") {
    val loc = freshDir("delta-retry")
    val w = DeltaWriter.create(spark, loc, rows(0 until 0).schema, partitionColumns = Seq("p"))
    w.append(rows(0 until 8))
    FaultFs.failCreate(1)(p => p.getParent.getName == "_delta_log" && p.getName.endsWith(".json"))
    try intercept[IOException](w.append(rows(8 until 16)))
    finally FaultFs.clear()
    w.append(rows(8 until 16))
    // rewrites every live file: a writer that kept the failed attempt's
    // adds would remove (and re-read) files no commit ever added
    w.optimize(smallBytes = Long.MaxValue)

    val logDir = new Path(loc, "_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    val commits = fs.listStatus(logDir).map(_.getPath)
      .filter(_.getName.matches("\\d{20}\\.json")).sortBy(_.getName).toSeq
    assert(commits.map(_.getName.take(20).toLong) == commits.indices.map(_.toLong),
      s"log versions must be contiguous: ${commits.map(_.getName)}")
    val mapper = new ObjectMapper()
    val added = scala.collection.mutable.Set[String]()
    commits.foreach { c =>
      val in = fs.open(c)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      text.split('\n').filter(_.nonEmpty).map(mapper.readTree).foreach { n =>
        if (n.has("remove")) {
          val path = n.get("remove").get("path").asText()
          assert(added(path), s"${c.getName} removes $path, which no commit added")
        }
        if (n.has("add")) added += n.get("add").get("path").asText()
      }
    }
    assert(ids(DeltaTable.load(spark, loc).scan()) == (0L until 16L))
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
