package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

import graft.{Tables, TestSpark}
import graft.lake.delta.DeltaWriter
import graft.lake.hudi.HudiWriter
import graft.lake.iceberg.IcebergWriter

/** Property test for the metadata aggregate pushdown, table-driven over
  * the four table formats: for a randomized predicate grammar over a
  * partition column (with a NULL partition in play), grouped and
  * ungrouped COUNT/MIN/MAX over each format must equal the same SQL over
  * the raw source — REGARDLESS of whether the metadata fast path or the
  * scan fallback executes. Wrong-but-fast is the failure mode this pins
  * down. Which path ran is irrelevant to the property, but a run in which
  * no query collapses to metadata proves nothing, so each format must
  * answer at least one query with no `Aggregate` left in its optimized
  * plan. */
class AggPushdownPropertySpec extends AnyFunSuite {
  import TestSpark._

  private val cat = "graft_aggprop"
  private val warehouse =
    new java.io.File("target/graft-lake-test/aggprop-wh").getAbsolutePath

  private lazy val src = {
    val s = Tables.orders(spark, sf).withColumn("p",
      when(col("o_orderkey") % 11 === 0, lit(null: String))
        .otherwise(col("o_orderstatus")))
    s.createOrReplaceTempView("aggprop_src")
    s
  }

  private def fresh(loc: String): String = {
    val p = new Path(loc)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    loc
  }

  /** Per format: build the table partitioned by `p` from [[src]] and
    * return the relation the queries read. */
  private val formats: Seq[(String, () => String)] = Seq(
    "graft" -> { () =>
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.lake.sql.GraftSqlCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
      GraftTable.create(spark, fresh(s"$warehouse/t"), src, partitionBy = Seq("p"))
      s"$cat.t"
    },
    "graft-iceberg" -> { () =>
      val loc = fresh(s"$warehouse-interop/iceberg")
      IcebergWriter.create(spark, loc, src.schema,
        partition = Seq("p" -> "identity")).append(src)
      s"`graft-iceberg`.`$loc`"
    },
    "graft-delta" -> { () =>
      val loc = fresh(s"$warehouse-interop/delta")
      DeltaWriter.create(spark, loc, src.schema, partitionColumns = Seq("p")).append(src)
      s"`graft-delta`.`$loc`"
    },
    "graft-hudi" -> { () =>
      val loc = fresh(s"$warehouse-interop/hudi")
      HudiWriter.create(spark, loc, src.schema, partitionFields = Seq("p"),
        keyField = "o_orderkey").insert(src)
      s"`graft-hudi`.`$loc`"
    })

  /** The seeded predicate grammar: 40 WHERE clauses, the same for every
    * format. */
  private lazy val predicates: Seq[String] = {
    val rnd = new Random(42)
    val lits = Seq("'F'", "'O'", "'P'")
    def leaf(): String = rnd.nextInt(8) match {
      case 0 => s"p = ${lits(rnd.nextInt(3))}"
      case 1 => s"p <> ${lits(rnd.nextInt(3))}"
      case 2 => s"p < ${lits(rnd.nextInt(3))}"
      case 3 => s"p >= ${lits(rnd.nextInt(3))}"
      case 4 => s"p IN (${lits(rnd.nextInt(3))}, ${lits(rnd.nextInt(3))})"
      case 5 => "p IS NULL"
      case 6 => "p IS NOT NULL"
      case _ => s"p <=> ${lits(rnd.nextInt(3))}"
    }
    def pred(depth: Int): String =
      if (depth == 0) leaf()
      else rnd.nextInt(3) match {
        case 0 => s"(${pred(depth - 1)} AND ${pred(depth - 1)})"
        case 1 => s"(${pred(depth - 1)} OR ${pred(depth - 1)})"
        case _ => s"(NOT ${pred(depth - 1)})"
      }
    (1 to 40).map(_ => pred(rnd.nextInt(3)))
  }

  /** (name, select list, GROUP BY p?). The count-only shapes are the ones
    * a format without column stats (Hudi) can answer from metadata. */
  private val shapes = Seq(
    ("flat", "count(*) AS n, count(p) AS c, min(o_orderkey) AS mn, max(o_orderkey) AS mx", false),
    ("grouped", "p, count(*) AS n, max(o_orderkey) AS mx", true),
    ("flat counts", "count(*) AS n, count(p) AS c", false),
    ("grouped counts", "p, count(*) AS n, count(p) AS c", true))

  private def sql(from: String, w: String, shape: (String, String, Boolean)): String =
    s"SELECT ${shape._2} FROM $from WHERE $w" + (if (shape._3) " GROUP BY p" else "")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private lazy val truth: Map[(Int, String), Seq[String]] =
    (for { (w, i) <- predicates.zipWithIndex; s <- shapes } yield
      (i, s._1) -> rows(spark.sql(sql("aggprop_src", w, s)))).toMap

  for ((fmt, build) <- formats) {
    val suffix = if (fmt == "graft") "" else s" ($fmt)"
    test(s"randomized partition predicates: pushdown == source SQL$suffix") {
      val from = build()
      var collapsed = 0
      for ((w, i) <- predicates.zipWithIndex; s <- shapes) {
        val q = spark.sql(sql(from, w, s))
        if (q.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.isEmpty)
          collapsed += 1
        assert(rows(q) == truth((i, s._1)),
          s"$fmt case ${i + 1} ${s._1} diverged for WHERE $w")
      }
      assert(collapsed > 0,
        s"$fmt: no query collapsed to metadata — the property ran only the scan path")
      info(s"$fmt: $collapsed of ${predicates.size * shapes.size} queries answered from metadata")
    }
  }
}
