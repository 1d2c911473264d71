package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}
import graft.lake.delta.DeltaWriter
import graft.lake.hudi.HudiWriter
import graft.lake.iceberg.IcebergWriter

/** Native-scan substitution for lake tables of all four formats
  * ([[graft.lake.sql.NativeScanRule]]): reads through `graft-iceberg` /
  * `graft-delta` / `graft-hudi` and graft catalog tables must execute the
  * format reader's own vectorized plan — no `RowDataSourceScanExec` V1
  * bridge node (its per-row InternalRow→Row→InternalRow boundary is the
  * cost the rule removes) — while returning exactly the rows the V1
  * fallback returns (`spark.graft.nativeScan.enabled=false` pins the
  * fallback). DataFrame-chain filters (added AFTER `.load()` or
  * `spark.table` analyzed the relation) must still reach file pruning,
  * which is why the rule runs at optimizer time. */
class InteropNativeScanSpec extends AnyFunSuite {
  import TestSpark._

  private def freshDir(name: String): String = {
    val d = s"/root/repo/target/graft-interop-native-test/$name"
    val p = new Path(d)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    d
  }

  private lazy val orders = Tables.orders(spark, sf)

  /** collect() does not traverse AdaptiveSparkPlanExec (the injection
    * join adds an exchange, so interop plans are AQE-wrapped now) —
    * flatten through it. */
  private def flatten(p: SparkPlan): Seq[SparkPlan] =
    (p +: p.children.flatMap(flatten)) ++ (p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        flatten(a.inputPlan)
      case _ => Nil
    })
  private def v1Nodes(p: SparkPlan): Seq[RowDataSourceScanExec] =
    flatten(p).collect { case r: RowDataSourceScanExec => r }
  private def fileScans(p: SparkPlan): Seq[FileSourceScanExec] =
    flatten(p).collect { case f: FileSourceScanExec => f }

  /** Rows of `df` under the V1 fallback (substitution disabled). */
  private def fallbackRows(build: => DataFrame): Seq[String] = {
    spark.conf.set("spark.graft.nativeScan.enabled", "false")
    try build.collect().map(_.toString).sorted.toSeq
    finally spark.conf.set("spark.graft.nativeScan.enabled", "true")
  }

  test("iceberg SQL read: native parquet scan, no V1 row boundary, parity") {
    val loc = freshDir("ice")
    val w = IcebergWriter.create(spark, loc, orders.schema,
      partition = Seq("o_orderstatus" -> "identity"))
    w.append(orders)

    def q = spark.sql(
      s"""SELECT o_orderkey, o_totalprice FROM `graft-iceberg`.`$loc`
          WHERE o_orderstatus = 'F' AND o_orderkey % 3 = 0""")
    val plan = q.queryExecution.executedPlan
    assert(v1Nodes(plan).isEmpty,
      s"interop read must not execute through the V1 bridge:\n$plan")
    val scans = fileScans(plan)
    assert(scans.nonEmpty, s"native substitution must surface parquet scans:\n$plan")
    // the query's own predicate reaches the parquet scan (pushed by the
    // continuing optimizer fixpoint, not re-applied post-boundary)
    assert(scans.exists(_.toString.contains("o_orderkey")),
      s"data filter must push into the parquet scan:\n${scans.mkString("\n")}")
    // and column pruning reaches the read schema
    assert(scans.forall(!_.schema.fieldNames.contains("o_orderpriority")),
      s"pruned column must not be read:\n${scans.map(_.schema).mkString("\n")}")
    assert(q.collect().map(_.toString).sorted.toSeq == fallbackRows(q))
  }

  test("DataFrame-chain filter still file-prunes at optimizer time") {
    val loc = freshDir("ice-chain")
    val w = IcebergWriter.create(spark, loc, orders.schema,
      partition = Seq("o_orderstatus" -> "identity"))
    w.append(orders)
    val total = graft.lake.iceberg.IcebergTable.load(spark, loc).planFiles().size
    assert(total >= 2, "identity layout must split files by status")

    // the relation is analyzed at load(); the filter arrives after — the
    // optimizer-time substitution must still hand it to FilePruner
    val q = spark.read.format("graft-iceberg").load(loc)
      .filter(col("o_orderstatus") === "F").select("o_orderkey")
    val scans = fileScans(q.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    val filesRead = scans.map(_.relation.location.inputFiles.length).sum
    assert(filesRead < total,
      s"manifest pruning must skip non-F files ($filesRead of $total read)")
    assert(q.count() == orders.filter(col("o_orderstatus") === "F").count())
  }

  test("delta read with live deletion vectors: native plan, parity") {
    val loc = freshDir("delta-dv")
    val w = DeltaWriter.create(spark, loc, orders.schema)
    w.append(orders)
    w.deleteWhereDv(col("o_orderpriority") === "1-URGENT")

    def q = spark.read.format("graft-delta").load(loc)
      .filter(col("o_orderkey") % 2 === 0).select("o_orderkey", "o_orderpriority")
    val plan = q.queryExecution.executedPlan
    assert(v1Nodes(plan).isEmpty, s"no V1 bridge:\n$plan")
    assert(fileScans(plan).nonEmpty)
    assert(q.collect().map(_.toString).sorted.toSeq == fallbackRows(q))
    assert(q.filter(col("o_orderpriority") === "1-URGENT").count() == 0,
      "DV mask must apply inside the native plan")
  }

  test("hudi MOR read with live log deltas: native plan, parity") {
    val loc = freshDir("hudi-mor")
    val w = HudiWriter.create(spark, loc, orders.schema,
      partitionFields = Seq("o_orderstatus"), keyField = "o_orderkey",
      tableType = "MERGE_ON_READ")
    w.insert(orders)
    // log-only mutations: an upsert of changed rows + a soft delete
    w.upsertLog(orders.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0))
    w.deleteLogWhere(col("o_orderkey") % 7 === 0)

    def q = spark.sql(
      s"SELECT o_orderkey, o_totalprice FROM `graft-hudi`.`$loc` " +
        "WHERE o_orderstatus = 'O'")
    val plan = q.queryExecution.executedPlan
    assert(v1Nodes(plan).isEmpty, s"no V1 bridge:\n$plan")
    assert(q.collect().map(_.toString).sorted.toSeq == fallbackRows(q))
  }

  test("metadata aggregate through a DataFrame chain collapses to a local row") {
    val loc = freshDir("ice-agg")
    val w = IcebergWriter.create(spark, loc, orders.schema,
      partition = Seq("o_orderstatus" -> "identity"))
    w.append(orders)

    val q = spark.read.format("graft-iceberg").load(loc)
      .filter(col("o_orderstatus") === "F")
      .agg(count(lit(1)).as("n"), min("o_orderkey").as("mn"))
    val plan = q.queryExecution.executedPlan
    assert(fileScans(plan).isEmpty && v1Nodes(plan).isEmpty,
      s"metadata-answerable aggregate must not scan data:\n$plan")
    val want = orders.filter(col("o_orderstatus") === "F")
    val row = q.head()
    assert(row.getLong(0) == want.count())
    assert(row.getLong(1) == want.agg(min("o_orderkey")).head().getLong(0))
  }

  test("time travel + metadata tables stay correct under substitution") {
    val loc = freshDir("delta-tt")
    val w = DeltaWriter.create(spark, loc, orders.schema)
    w.append(orders.filter(col("o_orderkey") % 2 === 0)) // v1
    w.append(orders.filter(col("o_orderkey") % 2 === 1)) // v2

    val v1 = spark.read.format("graft-delta").option("versionAsOf", "1").load(loc)
    assert(v1Nodes(v1.queryExecution.executedPlan).isEmpty)
    assert(v1.count() == orders.filter(col("o_orderkey") % 2 === 0).count())
    // metadata views read through the same substitution path
    val hist = spark.sql(s"SELECT * FROM `graft-delta`.`$loc#history`")
    assert(hist.count() == 3) // create + two appends
    // #files: live add actions, zero data IO (r11 — Iceberg's `.files`
    // symmetry); totals reconcile with the table's own counts
    val files = spark.sql(s"SELECT * FROM `graft-delta`.`$loc#files`")
    assert(files.count() > 0)
    assert(files.agg(sum("num_records")).head().getLong(0) == orders.count())
    intercept[Exception] {
      spark.sql(s"SELECT * FROM `graft-delta`.`$loc#nope`").collect()
    }
  }

  test("#partitions metadata view reconciles per-partition state (all three formats)") {
    // iceberg: record_count/file_count per identity partition from
    // manifests alone; an equality delete surfaces as a delete-file count
    val iloc = freshDir("ice-parts")
    val iw = IcebergWriter.create(spark, iloc, orders.schema,
      partition = Seq("o_orderstatus" -> "identity"))
    iw.append(orders)
    iw.equalityDelete(orders.filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey"))
    val iparts = spark.sql(s"SELECT * FROM `graft-iceberg`.`$iloc#partitions`")
    val wantParts = orders.select("o_orderstatus").distinct().count()
    // global (unpartitioned-spec) delete files may add a delete-only row
    assert(iparts.filter(col("file_count") > 0).count() == wantParts)
    assert(iparts.agg(sum("record_count")).head().getLong(0) == orders.count())
    assert(iparts.agg(sum("equality_delete_file_count")).head().getLong(0) > 0)

    // delta: num_records from stats; a DV delete reports masked rows so
    // records - masked = scan-visible count
    val dloc = freshDir("delta-parts")
    val dw = DeltaWriter.create(spark, dloc, orders.schema,
      partitionColumns = Seq("o_orderstatus"))
    dw.append(orders)
    val gone = orders.filter(col("o_orderpriority") === "1-URGENT").count()
    dw.deleteWhereDv(col("o_orderpriority") === "1-URGENT")
    val dparts = spark.sql(s"SELECT * FROM `graft-delta`.`$dloc#partitions`")
    assert(dparts.count() == wantParts)
    val d = dparts.agg(sum("num_records"), sum("dv_masked_records")).head()
    assert(d.getLong(0) == orders.count())
    assert(d.getLong(0) - d.getLong(1) ==
      spark.read.format("graft-delta").load(dloc).count())
    assert(d.getLong(1) == gone)

    // hudi: file groups + commit-stat row counts per partition path
    val hloc = freshDir("hudi-parts")
    val hw = HudiWriter.create(spark, hloc, orders.schema,
      partitionFields = Seq("o_orderstatus"), keyField = "o_orderkey")
    hw.insert(orders)
    val hparts = spark.sql(s"SELECT * FROM `graft-hudi`.`$hloc#partitions`")
    assert(hparts.count() == wantParts)
    assert(hparts.agg(sum("num_writes")).head().getLong(0) == orders.count())
    assert(hparts.filter(col("size_bytes") <= 0).count() == 0)

    intercept[Exception] {
      spark.sql(s"SELECT * FROM `graft-hudi`.`$hloc#nope`").collect()
    }
  }

  test("iceberg #history: ancestry flags survive a rollback") {
    val loc = freshDir("ice-hist")
    val w = IcebergWriter.create(spark, loc, orders.schema)
    val s1 = w.append(orders.filter(col("o_orderkey") % 3 === 0))
    val s2 = w.append(orders.filter(col("o_orderkey") % 3 === 1))
    w.rollbackTo(s1)
    val s3 = w.append(orders.filter(col("o_orderkey") % 3 === 2))
    val hist = spark.sql(s"SELECT * FROM `graft-iceberg`.`$loc#history`")
      .collect().map(r => r.getLong(1) -> r.getBoolean(3)).toMap
    assert(hist(s1) && hist(s3), "current lineage must flag ancestors")
    assert(!hist(s2), "a rolled-back snapshot is not a current ancestor")
    assert(hist.size == 3)
  }

  test("row-level SQL commands keep their DSv2 relations (command guard)") {
    val loc = freshDir("ice-dml")
    val w = IcebergWriter.create(spark, loc, orders.schema)
    w.append(orders)
    val before = orders.count()
    val gone = orders.filter(col("o_orderpriority") === "1-URGENT").count()
    spark.sql(
      s"DELETE FROM `graft-iceberg`.`$loc` WHERE o_orderpriority = '1-URGENT'")
    assert(spark.read.format("graft-iceberg").load(loc).count() == before - gone,
      "DELETE must still land through the connector under the optimizer rule")
  }

  test("graft catalog table: DataFrame-chain filter still file-prunes") {
    val cat = "graft_native_chain"
    val wh = freshDir("graft-chain-wh")
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.sql.GraftSqlCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    // two commits over disjoint key ranges: file min/max stats decide a
    // key range without any partition column
    val cut = orders.agg(expr("percentile_approx(o_orderkey, 0.5)")).head().getLong(0)
    val t = GraftTable.create(spark, s"$wh/t", orders.filter(col("o_orderkey") < cut))
    t.append(orders.filter(col("o_orderkey") >= cut))
    val total = t.planFiles().size

    // the relation is analyzed by spark.table; the filter arrives after
    val q = spark.table(s"$cat.t").filter(col("o_orderkey") < cut)
    val planned = graft.lake.sql.PlanFiles.planned(q)
    assert(planned > 0 && planned < total,
      s"stats pruning must skip the upper range's files ($planned of $total planned)")
    assert(q.count() == orders.filter(col("o_orderkey") < cut).count())
  }
}
