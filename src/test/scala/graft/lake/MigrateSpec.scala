package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}
import graft.lake.delta.{DeltaTable, DeltaWriter}
import graft.lake.iceberg.{IcebergTable, IcebergWriter}

/** IN-PLACE ADOPTION of existing plain-parquet data — Delta's
  * `CONVERT TO DELTA` ([[DeltaWriter.convert]]) and Iceberg's
  * migrate / add_files ([[IcebergWriter.adopt]]): at 100 TB the adoption
  * path must be O(files) FOOTER reads with zero data movement, so every
  * test pins (a) no file rewritten (same paths, same mtimes), (b) reads
  * identical to the source parquet — including identity partition
  * columns, which hive-layout files do NOT contain (Iceberg injects them
  * from manifest constants), and (c) footer-lifted stats actually prune
  * from the very first read. */
class MigrateSpec extends AnyFunSuite {
  import TestSpark._

  private def freshDir(name: String): String = {
    val d = s"/root/repo/target/graft-migrate-test/$name"
    val p = new Path(d)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    d
  }

  private lazy val orders = Tables.orders(spark, sf)

  private def fileState(loc: String, skipDirs: Set[String]): Map[String, Long] = {
    val p = new Path(loc)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(p, true)
    val out = scala.collection.mutable.Map[String, Long]()
    while (it.hasNext) {
      val f = it.next()
      val top = f.getPath.toString.stripPrefix(
        fs.makeQualified(p).toString + "/").split("/").head
      if (f.getPath.getName.endsWith(".parquet") && !skipDirs(top))
        out(f.getPath.toString) = f.getModificationTime
    }
    out.toMap
  }

  test("CONVERT TO DELTA in place: zero rewrite, parity, pruning, live writer") {
    val loc = freshDir("delta-convert")
    orders.write.partitionBy("o_orderstatus").parquet(loc)
    val before = fileState(loc, Set("_delta_log"))
    assert(before.size >= 3, "hive layout must split by status")

    val w = DeltaWriter.convert(spark, loc, Seq("o_orderstatus"))
    // in place: the very same files, untouched
    assert(fileState(loc, Set("_delta_log")) == before,
      "convert must not move or rewrite any data file")
    val t = DeltaTable.load(spark, loc)
    // parity incl. partition column values
    assert(t.scan().orderBy("o_orderkey").collect().toSeq ==
      orders.select(t.schema.fieldNames.map(col).toIndexedSeq: _*)
        .orderBy("o_orderkey").collect().toSeq)
    // partition pruning + footer-stats min/max skipping from commit 0
    assert(t.planFiles(Some(col("o_orderstatus") === "F")).size <
      t.planFiles().size, "partition pruning")
    val kMax = orders.agg(max("o_orderkey")).head().getLong(0)
    assert(t.planFiles(Some(col("o_orderkey") > kMax)).isEmpty,
      "footer stats must skip every file for an out-of-range predicate")
    // the returned writer is live: a delete lands as commit 1
    val gone = orders.filter(col("o_orderpriority") === "1-URGENT").count()
    w.deleteWhere(col("o_orderpriority") === "1-URGENT")
    assert(DeltaTable.load(spark, loc).scan().count() == orders.count() - gone)
    // re-convert rejects loudly
    intercept[IllegalArgumentException] {
      DeltaWriter.convert(spark, loc, Seq("o_orderstatus"))
    }
  }

  test("convert rejects files outside the declared hive layout") {
    val loc = freshDir("delta-convert-stray")
    orders.limit(100).write.partitionBy("o_orderstatus").parquet(loc)
    // a stray file at the ROOT: its rows would read the partition column
    // as NULL while pruning treats the file as unconstrained — must fail
    orders.limit(5).drop("o_orderstatus")
      .coalesce(1).write.parquet(s"$loc/__stray_tmp")
    val fs = new Path(loc).getFileSystem(spark.sessionState.newHadoopConf())
    val stray = fs.listStatus(new Path(s"$loc/__stray_tmp"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.rename(stray, new Path(loc, "stray.parquet"))
    fs.delete(new Path(s"$loc/__stray_tmp"), true)
    // loud failure either way: Spark's own conflicting-layout error at
    // schema inference, or the convert guard naming the missing hive dir
    val e = intercept[Exception] {
      DeltaWriter.convert(spark, loc, Seq("o_orderstatus"))
    }
    assert(e.getMessage.contains("hive dir") ||
      e.getMessage.toLowerCase.contains("conflicting"), e.getMessage)
  }

  test("iceberg adopt in place: zero rewrite, injected partition values, pruning") {
    val loc = freshDir("ice-adopt")
    orders.write.partitionBy("o_orderstatus").parquet(loc)
    val before = fileState(loc, Set("metadata"))

    IcebergWriter.adopt(spark, loc, Seq("o_orderstatus"))
    assert(fileState(loc, Set("metadata")) == before,
      "adopt must not move or rewrite any data file")
    val t = IcebergTable.load(spark, loc)
    // files predate the table → no parquet field ids → name mapping
    assert(t.meta.properties.get("schema.name-mapping.default")
      .exists(_.contains("o_orderkey")), "name mapping must be recorded")
    // parity: hive-layout files do NOT contain o_orderstatus — the values
    // below exist ONLY via manifest-constant injection
    assert(t.scan().orderBy("o_orderkey").collect().toSeq ==
      orders.select(t.schema.fieldNames.map(col).toIndexedSeq: _*)
        .orderBy("o_orderkey").collect().toSeq)
    assert(t.scan().filter(col("o_orderstatus").isNull).count() == 0,
      "injected partition values must never be null")
    // partition values never add a join or exchange. Since r15 the
    // verified hive layout serves them through partition DISCOVERY (a
    // genuine partitioned relation — DPP-capable, see InteropDppSpec);
    // with the hive read disabled the memoized file_constant projection
    // is the pinned fallback.
    val scanPlan = t.scan().queryExecution.executedPlan.toString
    assert(!scanPlan.contains("Join") && !scanPlan.contains("Exchange"),
      s"identity constants must not add a join/exchange:\n$scanPlan")
    assert(!scanPlan.contains("file_constant"),
      s"verified hive layout must use partition discovery, not injection:\n$scanPlan")
    spark.conf.set("spark.graft.interop.hivePartitionedRead.enabled", "false")
    try {
      val injected = t.scan()
      assert(injected.queryExecution.executedPlan.toString.contains("file_constant"),
        "fallback path must keep the file_constant injection")
      assert(injected.filter(col("o_orderstatus").isNull).count() == 0)
    } finally spark.conf.unset("spark.graft.interop.hivePartitionedRead.enabled")
    // partition pruning + footer-bound skipping from snapshot 1
    assert(t.planFiles(Some(col("o_orderstatus") === "F")).size <
      t.planFiles().size, "partition pruning")
    val kMax = orders.agg(max("o_orderkey")).head().getLong(0)
    assert(t.planFiles(Some(col("o_orderkey") > kMax)).isEmpty,
      "footer bounds must skip every file for an out-of-range predicate")

    // the adopted table keeps living: a writer append + a MoR delete land
    // and read back alongside the adopted files (mixed provenance scan)
    val w2 = IcebergWriter.open(spark, loc)
    val extra = orders.limit(100)
      .withColumn("o_orderkey", -col("o_orderkey") - 1)
    w2.append(extra)
    w2.equalityDelete(orders.filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey"))
    val want = orders.count() + extra.count() -
      orders.filter(col("o_orderpriority") === "1-URGENT").count()
    assert(IcebergTable.load(spark, loc).scan().count() == want)

    intercept[IllegalArgumentException] { IcebergWriter.adopt(spark, loc) }
  }

  test("add_files absorbs an EXTERNAL parquet directory into a live table") {
    val loc = freshDir("ice-addfiles")
    val ext = freshDir("ice-addfiles-ext")
    val half1 = orders.filter(col("o_orderkey") % 2 === 0)
    val half2 = orders.filter(col("o_orderkey") % 2 === 1)
    half1.write.partitionBy("o_orderstatus").parquet(loc)
    half2.write.partitionBy("o_orderstatus").parquet(ext)
    val w = IcebergWriter.adopt(spark, loc, Seq("o_orderstatus"))
    val extBefore = fileState(ext, Set.empty)
    w.addFiles(ext)
    // external files registered in place — outside the table root
    assert(fileState(ext, Set.empty) == extBefore,
      "add_files must not move or rewrite external files")
    val t = IcebergTable.load(spark, loc)
    assert(t.scan().count() == orders.count())
    assert(t.scan().filter(col("o_orderstatus").isNull).count() == 0)
    assert(t.planFiles(Some(col("o_orderstatus") === "F")).size <
      t.planFiles().size, "pruning spans adopted + added files")
    // double-registering the same directory rejects loudly
    val e = intercept[IllegalArgumentException] { w.addFiles(ext) }
    assert(e.getMessage.contains("already referenced"), e.getMessage)
    // a MoR delete lands across both provenances
    w.equalityDelete(orders.filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey"))
    assert(IcebergTable.load(spark, loc).scan().count() ==
      orders.filter(col("o_orderpriority") =!= "1-URGENT").count())
  }

  test("adopt with a date identity partition round-trips typed dir values") {
    val loc = freshDir("ice-adopt-date")
    val src = orders.select(col("o_orderkey"), col("o_totalprice"),
      to_date(col("o_orderdate")).as("o_orderdate"))
    src.write.partitionBy("o_orderdate").parquet(loc)
    IcebergWriter.adopt(spark, loc, Seq("o_orderdate"))
    val t = IcebergTable.load(spark, loc)
    assert(t.scan().orderBy("o_orderkey").collect().toSeq ==
      src.select(t.schema.fieldNames.map(col).toIndexedSeq: _*)
        .orderBy("o_orderkey").collect().toSeq)
    val d0 = src.agg(min("o_orderdate")).head().getDate(0)
    assert(t.planFiles(Some(col("o_orderdate") === d0)).size <
      t.planFiles().size, "date identity pruning over adopted dirs")
  }

  test("SQL connectors serve adopted tables directly") {
    val loc = freshDir("adopt-sql")
    orders.write.partitionBy("o_orderstatus").parquet(loc)
    IcebergWriter.adopt(spark, loc, Seq("o_orderstatus"))
    val n = spark.sql(
      s"SELECT count(*) AS n FROM `graft-iceberg`.`$loc` " +
        "WHERE o_orderstatus = 'F'").head().getLong(0)
    assert(n == orders.filter(col("o_orderstatus") === "F").count())

    val dloc = freshDir("convert-sql")
    orders.write.parquet(dloc)
    DeltaWriter.convert(spark, dloc)
    val m = spark.sql(
      s"SELECT count(*) AS n FROM `graft-delta`.`$dloc` " +
        "WHERE o_orderstatus = 'F'").head().getLong(0)
    assert(m == orders.filter(col("o_orderstatus") === "F").count())
  }

  test("footer collection is a distributed job on multi-thousand-file estates") {
    // distributed-vs-sequential EQUIVALENCE first: same payloads per file
    val eqLoc = freshDir("footers-eq")
    orders.limit(500).repartition(20).write.parquet(eqLoc)
    val fs = new Path(eqLoc).getFileSystem(spark.sessionState.newHadoopConf())
    def parquets(loc: String): Seq[Path] = {
      val out = scala.collection.mutable.ArrayBuffer[Path]()
      val it = fs.listFiles(new Path(loc), true)
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.endsWith(".parquet")) out += f
      }
      out.toSeq
    }
    val eqFiles = parquets(eqLoc)
    val seqMap = ParquetStats.readFooters(spark, eqFiles, threshold = Int.MaxValue)
    val distMap = ParquetStats.readFooters(spark, eqFiles, threshold = 0)
    assert(seqMap == distMap, "executor-side footer payloads must equal driver-side")

    // the SCALE receipt: a multi-thousand-file estate adopts through the
    // distributed path (a Spark job actually runs during convert), rows
    // and stats intact — the shape that holds at 10⁵–10⁶ files
    val big = freshDir("footers-estate")
    orders.repartition(1200).write.parquet(big) // 1200-file estate
    val nFiles = parquets(big).size
    assert(nFiles >= 1000, s"estate should be multi-thousand-ish, got $nFiles")
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val t0 = System.nanoTime()
    val w = DeltaWriter.convert(spark, big)
    val convertSecs = (System.nanoTime() - t0) / 1e9
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(jobsAfter > jobsBefore,
      "convert over a large estate must run its footer collection as a Spark job")
    val t = DeltaTable.load(spark, big)
    assert(t.planFiles().size == nFiles)
    assert(t.scan().count() == orders.count())
    info(f"converted $nFiles-file estate in $convertSecs%.1f s (footers executor-side)")
  }

  /** A foreign hive layout whose dir values were written RAW (e.g. Hudi's
    * default urlencode=false): `p=50%off` and `p=a%-1` hold malformed
    * escapes, which Spark's decoder keeps literal. */
  private val rawValues = Seq("50%off", "a%-1")

  private def writeRawLayout(loc: String): Unit = {
    import spark.implicits._
    rawValues.zipWithIndex.foreach { case (v, i) =>
      Seq((i * 10L, i.toDouble), (i * 10L + 1L, i + 0.5)).toDF("id", "v")
        .coalesce(1).write.parquet(s"$loc/p=$v")
    }
  }

  private def assertRawValuesReadBack(plan: Option[org.apache.spark.sql.Column] => Int,
      scan: Option[org.apache.spark.sql.Column] => org.apache.spark.sql.DataFrame): Unit = {
    rawValues.zipWithIndex.foreach { case (v, i) =>
      val got = scan(Some(col("p") === v)).select("id", "p").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
      assert(got == Seq((i * 10L, v), (i * 10L + 1L, v)), s"partition value $v")
      assert(plan(Some(col("p") === v)) == 1, s"pruned plan for $v")
    }
    assert(scan(None).select("p").distinct().collect().map(_.getString(0)).toSet ==
      rawValues.toSet)
  }

  test("convert and adopt read malformed-escape dir values literally, as Spark does") {
    val d = freshDir("delta-raw-escapes")
    writeRawLayout(d)
    DeltaWriter.convert(spark, d, Seq("p"))
    val dt = DeltaTable.load(spark, d)
    assertRawValuesReadBack(f => dt.planFiles(f).size, dt.scan(_))

    val i = freshDir("ice-raw-escapes")
    writeRawLayout(i)
    IcebergWriter.adopt(spark, i, Seq("p"))
    val ice = IcebergTable.load(spark, i)
    assertRawValuesReadBack(f => ice.planFiles(f).size, ice.scan(_))
  }
}
