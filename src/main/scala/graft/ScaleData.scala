package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scales the driver-generated test corpus by an integer factor for
  * nonlinearity hunting (`runMain graft.ScaleData <srcDir> <dstDir> <k>`):
  * each fact table becomes k copies with every key FAMILY shifted by
  * i × (max(family)+1) per copy — o_custkey shifts exactly like c_custkey,
  * l_orderkey like o_orderkey — so join cardinalities scale linearly and
  * copies never cross-join. Dimension tables (region/nation) stay fixed,
  * TPC-H style. Text/embedding payloads are duplicated verbatim: a 10×
  * corpus then contains 10-way duplicate families, which is exactly the
  * shape a dedup pipeline meets at scale.
  *
  * This is a bench HARNESS tool (the r03 verdict asked for one 10× run to
  * expose nonlinearities before they matter at 100 TB) — correctness gates
  * keep running on the driver's own parquet.
  */
object ScaleData {

  /** column → key family; every column of a family shifts by the same
    * per-copy offset, preserving referential joins inside each copy. */
  private val familyOf: Map[String, String] = Map(
    "c_custkey" -> "custkey", "o_custkey" -> "custkey",
    "o_orderkey" -> "orderkey", "l_orderkey" -> "orderkey",
    "p_partkey" -> "partkey", "l_partkey" -> "partkey",
    "s_suppkey" -> "suppkey", "l_suppkey" -> "suppkey",
    "event_id" -> "event_id", "user_id" -> "user_id",
    "doc_id" -> "doc_id", "vec_id" -> "vec_id")

  /** family → table+column holding its primary domain (for max lookup). */
  private val familyDomain: Map[String, (String, String)] = Map(
    "custkey" -> ("customer", "c_custkey"),
    "orderkey" -> ("orders", "o_orderkey"),
    "partkey" -> ("part", "p_partkey"),
    "suppkey" -> ("supplier", "s_suppkey"),
    "event_id" -> ("events", "event_id"),
    "user_id" -> ("events", "user_id"),
    "doc_id" -> ("documents", "doc_id"),
    "vec_id" -> ("embeddings", "vec_id"))

  private val copiedAsIs = Seq("region", "nation")

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleData <srcDir> <dstDir> <factor>")
    val Array(src, dst, kStr) = args
    val k = kStr.toInt
    require(k >= 1)
    val spark = GraftSession()

    val shifts: Map[String, Long] = familyDomain.map { case (fam, (table, c)) =>
      fam -> (Tables(spark, src, table).agg(max(col(c))).head().getLong(0) + 1L)
    }

    for (name <- Tables.names) {
      val df = Tables(spark, src, name)
      val out =
        if (copiedAsIs.contains(name) || k == 1) df
        else (0 until k).map(i => shifted(df, i, shifts)).reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scale] $name -> $dst/$name.parquet")
    }
    spark.stop()
  }

  private def shifted(df: DataFrame, i: Int, shifts: Map[String, Long]): DataFrame =
    df.select(df.columns.toIndexedSeq.map { c =>
      familyOf.get(c) match {
        case Some(fam) if i > 0 => (col(c) + lit(i * shifts(fam))).as(c)
        case _ => col(c)
      }
    }: _*)
}
