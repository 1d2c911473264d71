package graft.lake

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** DYNAMIC PARTITION PRUNING on lake tables: because NativeScanRule
  * substitutes a genuine hive-partitioned parquet relation, in the
  * operator-optimization batch that runs before Spark's own PartitionPruning
  * batch, that rule applies unmodified — a selective dim filter on a
  * fact⋈dim join prunes fact partitions AT RUNTIME via the reused
  * broadcast. At 100 TB this is the difference between scanning every
  * partition of the fact table and only the ones the dim rows name.
  * Nothing graft-specific runs here; the spec PINS the capability so a
  * regression in the substitution shape (e.g. an alias Spark's rule can't
  * trace) is caught. */
class DppSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("selective dim filter dynamically prunes fact partitions") {
    val cat = "graft_dpp"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.sql.GraftSqlCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      "/root/repo/target/graft-lake-test/dpp-wh")
    val o = Tables.orders(spark, sf)
    val loc = "/root/repo/target/graft-lake-test/dpp-wh/facts"
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    GraftTable.create(spark, loc, o, partitionBy = Seq("o_orderstatus"))
    // the dim must be a FILE source: a LocalRelation dim constant-folds
    // its filter away and Spark sees no selective predicate to prune with
    val dimPath = "/root/repo/target/graft-lake-test/dpp-wh/dim"
    Seq(("F", "finished"), ("O", "open"), ("P", "pending"))
      .toDF("status", "label")
      .write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("graft_dpp_dim")

    val q = spark.sql(
      s"""SELECT d.label, count(*) AS n
          FROM $cat.facts f JOIN graft_dpp_dim d ON f.o_orderstatus = d.status
          WHERE d.label = 'finished'
          GROUP BY d.label""")
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("dynamicpruningexpression"),
      s"expected runtime partition pruning in:\n$physical")
    val rows = q.collect()
    assert(rows.length == 1)
    assert(rows(0).getString(0) == "finished")
    assert(rows(0).getLong(1) == o.filter(col("o_orderstatus") === "F").count())
  }
}
