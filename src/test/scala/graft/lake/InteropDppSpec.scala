package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}
import graft.lake.delta.DeltaWriter
import graft.lake.hudi.HudiWriter
import graft.lake.iceberg.IcebergWriter

/** DYNAMIC PARTITION PRUNING on the interop connectors (r15): the
  * verified hive-layout read ([[HivePartitionedRead]]) makes the
  * substituted native plans genuine hive-partitioned relations, so
  * Spark's own PartitionPruning rule inserts a runtime IN-filter on the
  * fact side of a selective dim⋈fact join — fact partitions the dim
  * rows do not name are never scanned. Graft-native tables have had
  * this since the substitution landed (DppSpec); this spec pins the
  * same capability for graft-iceberg / graft-delta / graft-hudi, plus
  * the fall-back soundness arm (layout anomalies keep the authoritative
  * injection path and stay correct). */
class InteropDppSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshDir(name: String): String = {
    val d = s"/root/repo/target/graft-interop-dpp-test/$name"
    val p = new Path(d)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    d
  }

  private lazy val orders = Tables.orders(spark, sf)

  /** The dim must be a FILE source: a LocalRelation dim constant-folds
    * its filter away and Spark sees nothing to prune with. */
  private lazy val dimView: String = {
    val dimPath = freshDir("dim")
    Seq(("F", "finished"), ("O", "open"), ("P", "pending"))
      .toDF("status", "label")
      .write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("interop_dpp_dim")
    "interop_dpp_dim"
  }

  /** File scans under `p`, recursing through AQE stage leaves and
    * reused exchanges (AQE wraps executed subtrees in QueryStageExec
    * LEAVES, which plain collect never enters). */
  private def scans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    p.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(qs.plan)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        scans(r.child)
    }.flatten.distinct

  private def assertDpp(fmt: String, loc: String): Unit = {
    val q = spark.sql(
      s"""SELECT d.label, count(*) AS n
          FROM `$fmt`.`$loc` f JOIN $dimView d ON f.o_orderstatus = d.status
          WHERE d.label = 'finished'
          GROUP BY d.label""")
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("dynamicpruningexpression"),
      s"$fmt: expected runtime partition pruning in:\n$physical")
    val rows = q.collect()
    assert(rows.length == 1 && rows(0).getString(0) == "finished")
    assert(rows(0).getLong(1) ==
      orders.filter(col("o_orderstatus") === "F").count(), s"$fmt count")
    // FILE-COUNT receipt: after execution, the fact-side scan's metrics
    // must show FEWER files read than the fact table holds — the
    // runtime filter actually pruned, not just appeared in the plan
    val factScans = scans(q.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains(loc)))
    assert(factScans.nonEmpty, s"$fmt: no fact-side file scan found")
    val readFiles = factScans.map(_.metrics("numFiles").value).sum
    val allFiles = factScans.map(_.relation.location.inputFiles.length).sum
    assert(readFiles < allFiles,
      s"$fmt: runtime pruning must cut files read ($readFiles of $allFiles)")
  }

  test("selective dim filter dynamically prunes iceberg fact partitions") {
    val loc = freshDir("ice")
    IcebergWriter.create(spark, loc, orders.schema,
      partition = Seq("o_orderstatus" -> "identity")).append(orders)
    assertDpp("graft-iceberg", loc)
  }

  test("selective dim filter dynamically prunes delta fact partitions") {
    val loc = freshDir("delta")
    DeltaWriter.create(spark, loc, orders.schema,
      partitionColumns = Seq("o_orderstatus")).append(orders)
    assertDpp("graft-delta", loc)
  }

  test("selective dim filter dynamically prunes hudi fact partitions") {
    val loc = freshDir("hudi")
    HudiWriter.create(spark, loc, orders.schema,
      partitionFields = Seq("o_orderstatus"), keyField = "o_orderkey")
      .insert(orders)
    assertDpp("graft-hudi", loc)
  }

  test("bucket[N] estates get RUNTIME bucket pruning (r16, verdict #3)") {
    // Spark's stock DPP needs the join key to BE a partition column; a
    // bucket[4] estate joins on the SOURCE column, so InteropBucketDppRule
    // maps the dim values through IcebergBucket into the verified bucket
    // dir column — executed-plan + numFiles receipts, plus equality vs
    // the rule disabled (pruning must never change results)
    val loc = freshDir("ice-bucket-dpp")
    IcebergWriter.create(spark, loc, orders.schema,
      partition = Seq("o_orderkey" -> "bucket[4]")).append(orders)
    // dim: keys labeled by their Iceberg bucket — the selective filter
    // keeps ONE bucket's keys, so 3 of 4 bucket dirs must prune away
    val bucketOf = org.apache.spark.sql.graftshim.ColumnExpr.column(
      graft.expressions.IcebergBucket(
        org.apache.spark.sql.graftshim.ColumnExpr.expression(col("k")), 4))
    val dimPath = freshDir("bucket-dim")
    orders.select(col("o_orderkey").as("k")).distinct().limit(64)
      .withColumn("label", when(bucketOf === 0, "hit").otherwise("other"))
      .write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("bucket_dpp_dim")
    def run(): (Long, org.apache.spark.sql.DataFrame) = {
      val q = spark.sql(
        s"""SELECT count(*) AS n
            FROM `graft-iceberg`.`$loc` f JOIN bucket_dpp_dim d
              ON f.o_orderkey = d.k
            WHERE d.label = 'hit'""")
      (q.collect()(0).getLong(0), q)
    }
    val (n, q) = run()
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("dynamicpruningexpression"),
      s"expected runtime bucket pruning in:\n$physical")
    val factScans = scans(q.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains(loc)))
    assert(factScans.nonEmpty, "no fact-side file scan found")
    val readFiles = factScans.map(_.metrics("numFiles").value).sum
    val allFiles = factScans.map(_.relation.location.inputFiles.length).sum
    assert(allFiles >= 4, s"bucket[4] estate should hold >= 4 files, got $allFiles")
    assert(readFiles < allFiles,
      s"runtime bucket pruning must cut files read ($readFiles of $allFiles)")
    // soundness: identical count with dynamic pruning disabled
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
    val plain = try run()._1
    finally spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.enabled")
    assert(n == plain, "bucket pruning changed the result")
    assert(n > 0, "the probe must actually match rows")
  }

  test("hudi UNRECORDED keygen refuses the hive read and stays correct (r16)") {
    // an external table whose hoodie.properties omits
    // hoodie.table.keygenerator.class may hide a timestamp-based keygen
    // that REFORMATS a string field into the path — eligibility now
    // requires the keygen to be recorded AND verbatim-rendering
    // (advice r16). With the property stripped, the scan must fall
    // back to the plain read (partition columns from the files) and
    // serve identical values.
    val loc = freshDir("hudi-nokeygen")
    HudiWriter.create(spark, loc, orders.schema,
      partitionFields = Seq("o_orderstatus"), keyField = "o_orderkey")
      .insert(orders)
    // the data-column predicate keeps AggPushdown from answering the
    // whole query out of metadata — a real file scan must appear
    def agg() = spark.read.format("graft-hudi").load(loc)
      .filter(col("o_orderkey") % 2 === 0)
      .groupBy("o_orderstatus").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val withKeygen = agg()
    // our writer records the keygen (real Hudi does too) — the hive
    // read is active: the scan relation is genuinely dir-partitioned
    def factPartitioned(): Boolean = {
      val q = spark.read.format("graft-hudi").load(loc)
        .filter(col("o_orderkey") % 2 === 0)
        .groupBy("o_orderstatus").count()
      q.collect()
      val ss = scans(q.queryExecution.executedPlan)
      assert(ss.nonEmpty, "expected a file scan in the executed plan")
      ss.flatMap(_.relation.partitionSchema.fieldNames)
        .contains("o_orderstatus")
    }
    assert(factPartitioned(), "recorded safe keygen must keep the hive read")
    // strip the property, as an older/external writer would
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(loc, ".hoodie/hoodie.properties")
    val fs = p.getFileSystem(conf)
    val props = new java.util.Properties()
    val in = fs.open(p); try props.load(in) finally in.close()
    assert(props.remove("hoodie.table.keygenerator.class") != null)
    fs.delete(p, false)
    val out = fs.create(p, false)
    try props.store(out, "keygen stripped") finally out.close()
    assert(!factPartitioned(), "unrecorded keygen must refuse the hive read")
    assert(agg() == withKeygen, "fallback read drifted from the hive read")
  }

  test("runtime BLOOM filters reach interop scans on NON-partition join keys (r15)") {
    // the other half of runtime filtering: Spark's InjectRuntimeFilter
    // adds a bloom-filter semi-filter on the fact side of a selective
    // shuffle join keyed on an ORDINARY column — row-group/row pruning
    // where DPP (partition-level) cannot apply. Works on the substituted
    // interop plans because they are plain file scans; this pins it.
    val loc = freshDir("ice-bloom")
    IcebergWriter.create(spark, loc, orders.schema).append(orders) // unpartitioned
    val dimPath = freshDir("bloom-dim")
    orders.filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"))
      .write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("interop_bloom_dim")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      val q = spark.sql(
        s"""SELECT count(*) AS n
            FROM `graft-iceberg`.`$loc` f
            JOIN interop_bloom_dim d ON f.o_orderkey = d.k
            WHERE d.prio = '1-URGENT'""")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected a runtime bloom filter on the fact scan:\n$plan")
      assert(q.head().getLong(0) ==
        orders.filter(col("o_orderkey") % 97 === 0)
          .filter(col("o_orderpriority") === "1-URGENT").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
      spark.conf.unset(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    }
  }

  test("hive-layout read serves the EXACT metadata partition values") {
    // rows and partition values must be identical between the hive
    // read and the injection path (the soundness equivalence)
    val loc = freshDir("ice-eq")
    IcebergWriter.create(spark, loc, orders.schema,
      partition = Seq("o_orderstatus" -> "identity")).append(orders)
    def all() = spark.read.format("graft-iceberg").load(loc)
      .groupBy("o_orderstatus").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val hive = all()
    spark.conf.set("spark.graft.interop.hivePartitionedRead.enabled", "false")
    val injected = try all()
    finally spark.conf.unset("spark.graft.interop.hivePartitionedRead.enabled")
    assert(hive == injected, "hive-layout read drifted from injection")
    assert(hive == orders.groupBy("o_orderstatus").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  test("layout anomalies fall back to injection and stay correct") {
    // a file moved OUT of its hive dir (manifest values stay
    // authoritative): verifiedBase must refuse, the scan must keep the
    // injected constants, and results must not change
    val loc = freshDir("ice-anomaly")
    IcebergWriter.create(spark, loc, orders.schema,
      partition = Seq("o_orderstatus" -> "identity")).append(orders)
    val t = graft.lake.iceberg.IcebergTable.load(spark, loc)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(loc).getFileSystem(conf)
    // relocate one data file to a non-hive dir and rewrite NOTHING else:
    // iceberg manifests address files by absolute path, so rewriting the
    // manifest is what a real mover would do — simulate by pointing a
    // fresh table at a flat COPY of the files via add_files-style
    // adoption is heavy; instead assert the DRIVER-side eligibility
    // refusals directly on the helper (unit arms), and the type-level
    // refusal end-to-end below
    import graft.lake.{HivePartitionedRead => H}
    assert(H.splitLayout("/w/t/data/k=1/f.parquet", Seq("k")) ==
      Some(("/w/t/data", Seq("1"))))
    assert(H.splitLayout("/w/t/data/f.parquet", Seq("k")).isEmpty)
    assert(H.splitLayout("/w/t/data/j=1/f.parquet", Seq("k")).isEmpty)
    assert(H.splitLayout("/w/t/data/k=/f.parquet", Seq("k")).isEmpty)
    // mismatched value vs authority refuses
    assert(H.verifiedBase(IndexedSeq("/b/k=2/f.parquet"), Seq("k"),
      _ => Seq(Int.box(1))).isEmpty)
    // differing bases refuse
    assert(H.verifiedBase(
      IndexedSeq("/b1/k=1/f.parquet", "/b2/k=1/g.parquet"), Seq("k"),
      _ => Seq(Int.box(1))).isEmpty)
    // canonical-form refusals (hudi arm): zero-padded, non-bool, default
    import org.apache.spark.sql.types._
    assert(!H.canonicalFor("007", IntegerType))
    assert(H.canonicalFor("7", IntegerType))
    assert(!H.canonicalFor("default", StringType))
    assert(H.canonicalFor("__HIVE_DEFAULT_PARTITION__", IntegerType))
    assert(!H.canonicalFor("2020-1-5", DateType))
    assert(H.canonicalFor("2020-01-05", DateType))
    // escaped values round-trip through the shared codec: '=' and '/'
    // are %-escaped in dirs; malformed escapes stay literal, as Spark's
    // partition discovery keeps them
    assert(H.unescape("a%3Db%2Fc") == "a=b/c")
    assert(H.unescape(H.escape("a/b=c}%")) == "a/b=c}%")
    Seq("50%off", "a%-1", "a%+1b", "a%4").foreach(v => assert(H.unescape(v) == v, v))
    assert(H.segments("k=a%3Db/__x/j=__HIVE_DEFAULT_PARTITION__") ==
      Seq("k" -> Some("a=b"), "j" -> None))
    assert(H.matchesAuthoritative("a%3Db%2Fc", "a=b/c"))
    // MALFORMED escapes refuse outright: decoders disagree on them
    // (parseInt-based ones accept '%+1'; digit-checked ones keep it
    // literal), so eligibility must never rest on either guess
    assert(H.unescapeStrict("a%+1b").isEmpty)
    assert(H.unescapeStrict("a%4").isEmpty)
    assert(!H.matchesAuthoritative("a%+1b", "a%+1b"))
    assert(!H.canonicalFor("a%zz", StringType))
    // string canonical form is ESCAPE-FREE (r16, advice): with no
    // independent authority, a well-formed %XX is ambiguous — Hudi's
    // default urlencode=false writes "100%25" verbatim as the FIELD
    // value, Spark discovery decodes it to "100%". Refuse any '%'.
    assert(!H.canonicalFor("100%25", StringType))
    assert(!H.canonicalFor("a%3Db", StringType))
    assert(H.canonicalFor("plain-value", StringType))
    // ...but matchesAuthoritative (authority-backed paths) still
    // accepts well-formed escapes: decoded == authoritative is proof
    assert(H.matchesAuthoritative("100%25", "100%"))

    // END-TO-END refusal: a NON-IDENTITY transform in the spec (bucket
    // dirs hold derived hashes, not column values) is never
    // dir-eligible — the scan falls back to reading the source column
    // from the files and stays exact
    val evLoc = freshDir("ice-bucket")
    val ev = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    IcebergWriter.create(spark, evLoc, ev.schema,
      partition = Seq("o_orderkey" -> "bucket[4]")).append(ev)
    val got = spark.read.format("graft-iceberg").load(evLoc)
      .groupBy("o_orderstatus").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val want = ev.groupBy("o_orderstatus").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == want, "non-identity transform fallback drifted")
  }
}
