package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.lake.delta.{DeltaTable, DeltaWriter}
import graft.lake.hudi.{HudiTable, HudiWriter}
import graft.lake.iceberg.{IcebergTable, IcebergWriter}

/** Partition values that need the Hive path codec — '/', '=', '%', '}',
  * a space, and NULL — written by each of the four formats and read back
  * through an equality-pruned scan: each value's scan returns exactly its
  * rows, from fewer files than the table holds. */
class PartitionRoundTripSpec extends AnyFunSuite {
  import TestSpark._

  private val values: Seq[String] = Seq("a/b", "x=y", "50%", "}", "with space", null)

  private lazy val data: DataFrame = {
    import spark.implicits._
    values.indices.flatMap(i => Seq(i * 10L, i * 10L + 1L).map(id => (id, values(i), id * 0.5)))
      .toDF("id", "p", "v")
  }

  private def freshDir(name: String): String = {
    val d = new java.io.File(s"target/graft-partition-roundtrip-test/$name").getAbsolutePath
    val p = new Path(d)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    d
  }

  /** (format, write `data` to a fresh table, fresh reader: filter →
    * (files planned, scanned frame)). */
  private val formats: Seq[(String, String => Unit, String => Option[Column] => (Int, DataFrame))] = Seq(
    ("graft", loc => GraftTable.create(spark, loc, data, partitionBy = Seq("p")), { loc =>
      val t = GraftTable.load(spark, loc)
      f => (t.planFiles(f).size, t.scan(f))
    }),
    ("delta", loc => DeltaWriter.create(spark, loc, data.schema, partitionColumns = Seq("p"))
      .append(data), { loc =>
      val t = DeltaTable.load(spark, loc)
      f => (t.planFiles(f).size, t.scan(f))
    }),
    ("iceberg", loc => IcebergWriter.create(spark, loc, data.schema,
      partition = Seq("p" -> "identity")).append(data), { loc =>
      val t = IcebergTable.load(spark, loc)
      f => (t.planFiles(f).size, t.scan(f))
    }),
    ("hudi", loc => HudiWriter.create(spark, loc, data.schema, partitionFields = Seq("p"),
      keyField = "id").insert(data), { loc =>
      val t = HudiTable.load(spark, loc)
      f => (t.planFiles(f).size, t.scan(f))
    }))

  formats.foreach { case (name, write, reader) =>
    test(s"$name: every escaped or null partition value prunes to exactly its rows") {
      val loc = freshDir(name)
      write(loc)
      val read = reader(loc)
      val (allFiles, all) = read(None)
      assert(all.count() == data.count())
      values.indices.foreach { i =>
        val v = values(i)
        val f = if (v == null) col("p").isNull else col("p") === v
        val (files, df) = read(Some(f))
        val got = df.select("id", "p").collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
        assert(got == Seq((i * 10L, v), (i * 10L + 1L, v)), s"value ${String.valueOf(v)}")
        assert(files >= 1 && files < allFiles, s"value ${String.valueOf(v)}: $files of $allFiles files")
      }
    }
  }
}
