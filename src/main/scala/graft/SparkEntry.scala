package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Relational.q04JoinMultiway(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.all ++ graft.queries.Lake.all ++
      graft.queries.Dedup.all ++ graft.queries.Ann.all ++
      graft.queries.Text.all ++ graft.queries.Multimodal.all ++
      graft.queries.Pipeline.all ++ graft.queries.Curation.all ++
      graft.queries.BpeTokenizer.all ++ graft.streaming.Stream.all

  /** The named entries, or every entry when `names` is empty, sorted by
    * name. An unknown name is an error, not an empty run. */
  def select(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown entries: ${unknown.mkString(", ")}")
    all.toSeq.filter { case (n, _) => names.isEmpty || names.contains(n) }.sortBy(_._1)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracles ++ graft.queries.Lake.oracles ++
      graft.queries.Dedup.oracles ++ graft.queries.Ann.oracles ++
      graft.queries.Text.oracles ++ graft.queries.Multimodal.oracles ++
      graft.queries.Pipeline.oracles ++ graft.queries.Curation.oracles ++
      graft.queries.BpeTokenizer.oracles ++ graft.streaming.Stream.oracles
}
