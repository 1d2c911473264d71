package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}
import graft.lake.delta.DeltaWriter
import graft.lake.hudi.HudiWriter
import graft.lake.iceberg.IcebergWriter

/** DSv2 batch read connectors for the interop formats (r11) — the
  * reference's headline usage is plain SQL over an Iceberg table
  * (pg_lakehouse_iceberg/README.md:40-58), so the connector surface and
  * its pushdown/broadcast behavior get plan-audit receipts here:
  *  - `spark.read.format("graft-*").load(path)` returns the same rows as
  *    the Scala API for all three formats,
  *  - WHERE filters appear in `PushedFilters` of the produced scan (file
  *    pruning happens inside the bridged plan),
  *  - column pruning narrows `ReadSchema` of the inner parquet scan,
  *  - metadata-derived `estimateStatistics` makes a small interop table
  *    BROADCAST in a join (without it the V1 bridge reports "huge"),
  *  - time-travel reader options hit the right snapshot per format,
  *  - direct SQL over the path (`` FROM `graft-iceberg`.`loc` ``)
  *    resolves through [[graft.lake.sql.GraftInteropPathRule]]. */
class InteropSqlSpec extends AnyFunSuite {
  import TestSpark._

  private def freshDir(name: String): String = {
    val d = s"/root/repo/target/graft-interop-sql-test/$name"
    val p = new Path(d)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    d
  }

  private lazy val orders = Tables.orders(spark, sf)

  test("graft-iceberg reader: rows match Scala API; filter pushes; ref time travel") {
    val loc = freshDir("ice")
    val w = IcebergWriter.create(spark, loc, orders.schema,
      partition = Seq("o_orderstatus" -> "identity"))
    val s1 = w.append(orders.filter(col("o_orderkey") % 2 === 0))
    w.append(orders.filter(col("o_orderkey") % 2 === 1))
    w.tag("halfway", s1)

    val df = spark.read.format("graft-iceberg").load(loc)
    assert(df.count() == orders.count())

    // the filter must prune FILES at plan time. Under the native-scan
    // substitution the identity partition column is served from injected
    // manifest constants and can vanish from the plan text, so assert
    // the property itself: fewer data files planned with the filter.
    def filesPlanned(d: org.apache.spark.sql.DataFrame): Int =
      graft.lake.sql.PlanFiles.planned(d)
    val q = df.filter(col("o_orderstatus") === "F").select("o_orderkey")
    val qAll = df.select("o_orderkey")
    if (filesPlanned(qAll) > 0) // native substitution path
      assert(filesPlanned(q) < filesPlanned(qAll),
        s"filter must prune planned files (${filesPlanned(q)} of ${filesPlanned(qAll)})")
    else { // V1 fallback: the filter shows in the DSv2 scan description
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") && plan.contains("o_orderstatus"),
        s"filter must reach the DSv2 scan:\n$plan")
    }

    val tagged = spark.read.format("graft-iceberg")
      .option("ref", "halfway").load(loc)
    assert(tagged.count() == orders.filter(col("o_orderkey") % 2 === 0).count())
    val bySnap = spark.read.format("graft-iceberg")
      .option("snapshot-id", s1.toString).load(loc)
    assert(bySnap.count() == tagged.count())
  }

  test("graft-delta reader: versionAsOf option and direct SQL on path") {
    val loc = freshDir("delta")
    val w = DeltaWriter.create(spark, loc, orders.schema)
    w.append(orders.filter(col("o_orderkey") % 2 === 0)) // v1
    w.append(orders.filter(col("o_orderkey") % 2 === 1)) // v2

    val cur = spark.read.format("graft-delta").load(loc)
    assert(cur.count() == orders.count())
    val v1 = spark.read.format("graft-delta").option("versionAsOf", "1").load(loc)
    assert(v1.count() == orders.filter(col("o_orderkey") % 2 === 0).count())

    // direct SQL over the path — the GraftInteropPathRule surface
    val n = spark.sql(s"SELECT count(*) AS n FROM `graft-delta`.`$loc`")
      .head().getLong(0)
    assert(n == orders.count())
    val filtered = spark.sql(
      s"SELECT o_orderkey FROM `graft-delta`.`$loc` WHERE o_orderstatus = 'F'")
    assert(filtered.count() ==
      orders.filter(col("o_orderstatus") === "F").count())
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("o_orderstatus"),
      s"SQL WHERE must reach the DSv2 scan:\n$plan")
  }

  test("graft-hudi reader: as.of.instant + read_optimized query type") {
    val loc = freshDir("hudi")
    val w = HudiWriter.create(spark, loc, orders.schema,
      partitionFields = Seq("o_orderstatus"), keyField = "o_orderkey",
      tableType = "MERGE_ON_READ")
    val i1 = w.insert(orders)
    w.deleteLogWhere(col("o_orderpriority") === "1-URGENT")

    val cur = spark.read.format("graft-hudi").load(loc)
    assert(cur.count() ==
      orders.filter(col("o_orderpriority") =!= "1-URGENT").count())
    val pre = spark.read.format("graft-hudi").option("as.of.instant", i1).load(loc)
    assert(pre.count() == orders.count())
    // read_optimized ignores the uncompacted delete log
    val ro = spark.read.format("graft-hudi")
      .option("query.type", "read_optimized").load(loc)
    assert(ro.count() == orders.count())
    intercept[IllegalArgumentException] {
      spark.read.format("graft-hudi").option("query.type", "bogus").load(loc)
    }
  }

  test("interop stats: small iceberg table broadcasts in a join") {
    val loc = freshDir("ice-dim")
    val nation = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, loc, nation.schema)
    w.append(nation)

    val dim = spark.read.format("graft-iceberg").load(loc)
    val joined = orders.limit(1000)
      .join(dim, col("o_custkey") % 25 === col("n_nationkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"manifest stats must make the 25-row iceberg dim broadcast:\n$plan")
  }

  test("iceberg aggregate pushdown: COUNT/MIN/MAX answered from manifests alone (r11)") {
    val o = Tables.orders(spark, sf)
    val loc = freshDir("ice-agg")
    val w = IcebergWriter.create(spark, loc, o.schema,
      partition = Seq("o_orderstatus" -> "identity"))
    w.append(o)
    val df = spark.read.format("graft-iceberg").load(loc)
    df.createOrReplaceTempView("ice_agg")
    val q = spark.sql(
      """SELECT count(*) AS n, count(o_custkey) AS nc,
                min(o_orderkey) AS mn, max(o_orderkey) AS mx
         FROM ice_agg WHERE o_orderstatus = 'F'""")
    val plan = q.queryExecution.executedPlan.toString
    // V1 path answers via GraftAggScan; the native-scan rule collapses
    // the whole aggregate to a LocalTableScan — both are metadata-only
    assert(plan.contains("GraftAggScan") || plan.contains("LocalTableScan"),
      s"aggregate must collapse to the metadata scan:\n$plan")
    val want = o.filter(col("o_orderstatus") === "F")
    val row = q.head()
    assert(row.getLong(0) == want.count())
    assert(row.getLong(1) == want.filter(col("o_custkey").isNotNull).count())
    assert(row.getLong(2) == want.agg(min("o_orderkey")).head().getLong(0))
    assert(row.getLong(3) == want.agg(max("o_orderkey")).head().getLong(0))
    // ZERO data IO, proven the AggPushdownSpec way: delete every data
    // file — the metadata answer must still come back identical
    val t = graft.lake.iceberg.IcebergTable.load(spark, loc)
    val fs = new Path(loc).getFileSystem(spark.sessionState.newHadoopConf())
    t.planFiles().foreach(p => fs.delete(new Path(p), false))
    val again = spark.sql(
      "SELECT count(*) AS n FROM ice_agg WHERE o_orderstatus = 'F'").head()
    assert(again.getLong(0) == want.count(),
      "metadata-only count must not touch data files")
  }

  test("iceberg aggregate pushdown refuses when deletes are live (r11)") {
    val o = Tables.orders(spark, sf)
    val loc = freshDir("ice-agg-dv")
    val w = IcebergWriter.create(spark, loc, o.schema)
    w.append(o)
    w.equalityDelete(o.filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey"))
    val q = spark.read.format("graft-iceberg").load(loc)
      .agg(count(lit(1)).as("n"))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("GraftAggScan"),
      s"deletes make manifest counts upper bounds — must fall back:\n$plan")
    assert(q.head().getLong(0) ==
      o.filter(col("o_orderpriority") =!= "1-URGENT").count())
  }

  test("delta aggregate pushdown: COUNT/MIN/MAX answered from the log alone (r11)") {
    val o = Tables.orders(spark, sf)
    val loc = freshDir("delta-agg")
    val w = DeltaWriter.create(spark, loc, o.schema,
      partitionColumns = Seq("o_orderstatus"))
    w.append(o)
    val df = spark.read.format("graft-delta").load(loc)
    df.createOrReplaceTempView("delta_agg")
    val q = spark.sql(
      """SELECT count(*) AS n, count(o_custkey) AS nc,
                min(o_orderkey) AS mn, max(o_orderdate) AS mx
         FROM delta_agg WHERE o_orderstatus = 'F'""")
    val plan = q.queryExecution.executedPlan.toString
    // V1 GraftAggScan or the native rule's LocalTableScan — both metadata-only
    assert(plan.contains("GraftAggScan") || plan.contains("LocalTableScan"),
      s"aggregate must collapse to the metadata scan:\n$plan")
    val want = o.filter(col("o_orderstatus") === "F")
    val row = q.head()
    assert(row.getLong(0) == want.count())
    assert(row.getLong(1) == want.filter(col("o_custkey").isNotNull).count())
    assert(row.getLong(2) == want.agg(min("o_orderkey")).head().getLong(0))
    assert(row.get(3) == want.agg(max("o_orderdate")).head().get(0))
    // MIN over a DOUBLE column must refuse (NaN-blind parquet bounds)
    val dq = spark.sql("SELECT min(o_totalprice) AS mp FROM delta_agg")
    val dplan = dq.queryExecution.executedPlan.toString
    assert(!dplan.contains("GraftAggScan") && dplan.contains("FileScan"),
      s"double min/max must fall back to a real scan:\n$dplan")
    assert(dq.head().getDouble(0) ==
      o.agg(min("o_totalprice")).head().getDouble(0))
    // ZERO data IO: delete every data file — the answer must not change
    val t = graft.lake.delta.DeltaTable.load(spark, loc)
    val fs = new Path(loc).getFileSystem(spark.sessionState.newHadoopConf())
    t.planFiles().foreach(p => fs.delete(new Path(loc, p), false))
    val again = spark.sql(
      "SELECT count(*) AS n FROM delta_agg WHERE o_orderstatus = 'F'").head()
    assert(again.getLong(0) == want.count(),
      "metadata-only count must not touch data files")
  }

  test("delta aggregate pushdown refuses when deletion vectors are live (r11)") {
    val o = Tables.orders(spark, sf)
    val loc = freshDir("delta-agg-dv")
    val w = DeltaWriter.create(spark, loc, o.schema)
    w.append(o)
    w.deleteWhereDv(col("o_orderpriority") === "1-URGENT")
    val q = spark.read.format("graft-delta").load(loc)
      .agg(count(lit(1)).as("n"))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("GraftAggScan"),
      s"DVs make log counts upper bounds — must fall back:\n$plan")
    assert(q.head().getLong(0) ==
      o.filter(col("o_orderpriority") =!= "1-URGENT").count())
  }

  test("SQL INSERT INTO / df.write append land native commits on all three formats (r11)") {
    val o = Tables.orders(spark, sf)
    val base = o.filter(col("o_orderkey") % 3 === 0)
    val extra = o.filter(col("o_orderkey") % 3 === 1).limit(50)
      .select(o.columns.map(c =>
        if (c == "o_orderkey") (-col(c) - 1).as(c) else col(c)).toIndexedSeq: _*)
    extra.createOrReplaceTempView("interop_insert_src")
    val wantRows = base.count() + extra.count()

    // iceberg: SQL INSERT INTO over the path (the reference's README INSERT)
    val iloc = freshDir("ice-insert")
    IcebergWriter.create(spark, iloc, o.schema,
      partition = Seq("o_orderstatus" -> "identity")).append(base)
    spark.sql(s"INSERT INTO `graft-iceberg`.`$iloc` SELECT * FROM interop_insert_src")
    val it = graft.lake.iceberg.IcebergTable.load(spark, iloc)
    assert(it.scan(None).count() == wantRows, "iceberg INSERT must be a native snapshot")
    assert(spark.read.format("graft-iceberg").load(iloc).count() == wantRows)

    // delta: DataFrame-writer append
    val dloc = freshDir("delta-insert")
    DeltaWriter.create(spark, dloc, o.schema,
      partitionColumns = Seq("o_orderstatus")).append(base)
    extra.write.format("graft-delta").mode("append").save(dloc)
    assert(graft.lake.delta.DeltaTable.load(spark, dloc).scan(None).count() == wantRows,
      "delta df.write append must be a native commit")

    // hudi: SQL INSERT INTO (keyed table; INSERT = fresh groups, no dedup)
    val hloc = freshDir("hudi-insert")
    HudiWriter.create(spark, hloc, o.schema,
      partitionFields = Seq("o_orderstatus"), keyField = "o_orderkey").insert(base)
    spark.sql(s"INSERT INTO `graft-hudi`.`$hloc` SELECT * FROM interop_insert_src")
    assert(graft.lake.hudi.HudiTable.load(spark, hloc).scan(None).count() == wantRows,
      "hudi INSERT must be a native deltacommit/commit")

    // overwrite refuses loudly; time-travel resolutions are read-only
    intercept[Throwable] {
      extra.write.format("graft-delta").mode("overwrite").save(dloc)
    }
    intercept[Throwable] {
      extra.write.format("graft-delta").option("versionAsOf", "0")
        .mode("append").save(dloc)
    }
  }

  test("CREATE TABLE … USING graft-* LOCATION: the reference's full DDL UX (r11)") {
    // pg_lakehouse_iceberg/README.md:22-44: CREATE TABLE orders USING
    // iceberg_am WITH (location=…) then INSERT / SELECT / JOIN against
    // local tables — the same statements against the session catalog,
    // resolved through the TableProvider (V2SessionCatalog path).
    val o = Tables.orders(spark, sf)
    val locs = Map(
      "graft-iceberg" -> freshDir("ddl-ice"),
      "graft-delta" -> freshDir("ddl-delta"),
      "graft-hudi" -> freshDir("ddl-hudi"))
    IcebergWriter.create(spark, locs("graft-iceberg"), o.schema,
      partition = Seq("o_orderstatus" -> "identity")).append(o)
    DeltaWriter.create(spark, locs("graft-delta"), o.schema,
      partitionColumns = Seq("o_orderstatus")).append(o)
    HudiWriter.create(spark, locs("graft-hudi"), o.schema,
      partitionFields = Seq("o_orderstatus"), keyField = "o_orderkey").insert(o)

    o.filter(col("o_orderkey") % 101 === 0)
      .select((-col("o_orderkey") - 1).as("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
      .createOrReplaceTempView("ddl_insert_src")
    val nExtra = spark.table("ddl_insert_src").count()
    assert(nExtra > 0)

    for ((fmt, loc) <- locs) {
      val t = "ddl_" + fmt.replace("-", "_")
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t USING `$fmt` LOCATION '$loc'")
      assert(spark.sql(s"SELECT count(*) FROM $t").head().getLong(0) == o.count(),
        s"$fmt: catalog-registered SELECT")
      spark.sql(s"INSERT INTO $t SELECT * FROM ddl_insert_src")
      assert(spark.sql(s"SELECT count(*) FROM $t").head().getLong(0) ==
        o.count() + nExtra, s"$fmt: INSERT INTO by name must land")
      // the README's local-table join
      val j = spark.sql(
        s"""SELECT count(*) FROM $t o JOIN ddl_insert_src s
            ON o.o_orderkey = s.o_orderkey""").head().getLong(0)
      assert(j == nExtra, s"$fmt: join with a local table")
      spark.sql(s"DROP TABLE $t")
    }
  }

  test("SQL DELETE FROM lands native row-level delete commits on all three formats (r11)") {
    val o = Tables.orders(spark, sf)
    val keep = o.filter(col("o_orderpriority") =!= "1-URGENT")

    // delta: protocol COW delete
    val dloc = freshDir("delta-del")
    DeltaWriter.create(spark, dloc, o.schema,
      partitionColumns = Seq("o_orderstatus")).append(o)
    spark.sql(s"DELETE FROM `graft-delta`.`$dloc` WHERE o_orderpriority = '1-URGENT'")
    assert(graft.lake.delta.DeltaTable.load(spark, dloc).scan(None).count()
      == keep.count(), "delta SQL DELETE")
    // zero-match DELETE is a no-op, not an error
    spark.sql(s"DELETE FROM `graft-delta`.`$dloc` WHERE o_orderpriority = 'nope'")

    // iceberg: v3 deletion-vector delete (no data-file rewrite)
    val iloc = freshDir("ice-del")
    IcebergWriter.create(spark, iloc, o.schema,
      partition = Seq("o_orderstatus" -> "identity")).append(o)
    val beforeFiles = graft.lake.iceberg.IcebergTable.load(spark, iloc)
      .planFiles().toSet
    spark.sql(s"DELETE FROM `graft-iceberg`.`$iloc` WHERE o_orderpriority = '1-URGENT'")
    val it = graft.lake.iceberg.IcebergTable.load(spark, iloc)
    assert(it.scan(None).count() == keep.count(), "iceberg SQL DELETE")
    assert(it.planFiles().toSet == beforeFiles,
      "DV delete must not rewrite data files")
    spark.sql(s"DELETE FROM `graft-iceberg`.`$iloc` WHERE o_orderpriority = 'nope'")

    // hudi MOR: soft-delete log records
    val hloc = freshDir("hudi-del")
    HudiWriter.create(spark, hloc, o.schema,
      partitionFields = Seq("o_orderstatus"), keyField = "o_orderkey",
      tableType = "MERGE_ON_READ").insert(o)
    spark.sql(s"DELETE FROM `graft-hudi`.`$hloc` WHERE o_orderpriority = '1-URGENT'")
    assert(graft.lake.hudi.HudiTable.load(spark, hloc).scan(None).count()
      == keep.count(), "hudi SQL DELETE")
    spark.sql(s"DELETE FROM `graft-hudi`.`$hloc` WHERE o_orderpriority = 'nope'")

    // a COW hudi table loud-rejects (rewrite-for-DELETE is an operator
    // decision, not a connector default)
    val cloc = freshDir("hudi-del-cow")
    HudiWriter.create(spark, cloc, o.schema,
      partitionFields = Nil, keyField = "o_orderkey").insert(o)
    intercept[Throwable] {
      spark.sql(s"DELETE FROM `graft-hudi`.`$cloc` WHERE o_orderpriority = '1-URGENT'")
    }
  }

  test("column pruning narrows the inner parquet ReadSchema") {
    val loc = freshDir("ice-prune")
    val w = IcebergWriter.create(spark, loc, orders.schema)
    w.append(orders)
    val two = spark.read.format("graft-iceberg").load(loc)
      .select("o_orderkey", "o_totalprice")
    // the bridge projects BEFORE the row boundary; the inner plan's
    // parquet scan must therefore read just the two columns (+ nothing)
    assert(two.columns.toSeq == Seq("o_orderkey", "o_totalprice"))
    assert(two.count() == orders.count())
  }

  test("CREATE TABLE over a FRESH location + INSERT + CTAS materialize native tables (r11)") {
    orders.createOrReplaceTempView("create_src_orders")
    val orderCols = """o_orderkey BIGINT, o_custkey BIGINT,
      o_orderstatus STRING, o_totalprice DOUBLE,
      o_orderdate TIMESTAMP, o_orderpriority STRING"""

    // iceberg: declared columns + partition option; the catalog table
    // exists before the physical table does — SELECT sees it empty,
    // the first INSERT materializes a REAL partitioned Iceberg table
    val iceLoc = freshDir("create-ice")
    spark.sql("DROP TABLE IF EXISTS fresh_ice")
    spark.sql(s"""CREATE TABLE fresh_ice ($orderCols)
      USING `graft-iceberg`
      OPTIONS ('partition.columns'='o_orderstatus')
      LOCATION '$iceLoc'""")
    assert(spark.sql("SELECT count(*) FROM fresh_ice").head().getLong(0) == 0,
      "uncreated table must read as empty")
    spark.sql("INSERT INTO fresh_ice SELECT * FROM create_src_orders")
    assert(spark.sql("SELECT count(*) FROM fresh_ice").head().getLong(0) ==
      orders.count())
    val it = graft.lake.iceberg.IcebergTable.load(spark, iceLoc)
    assert(it.scan().count() == orders.count(),
      "the independent iceberg reader must see the created table")
    val pruned = it.planFiles(Some(col("o_orderstatus") === "F")).size
    assert(pruned < it.planFiles(None).size,
      "partition.columns must land as a real identity partition spec")
    spark.sql("DROP TABLE fresh_ice")

    // delta: CTAS — create + first commit in one statement, partitioned
    // via the standard PARTITIONED BY clause
    val dLoc = freshDir("create-delta")
    spark.sql("DROP TABLE IF EXISTS ctas_delta")
    spark.sql(s"""CREATE TABLE ctas_delta USING `graft-delta`
      PARTITIONED BY (o_orderstatus) LOCATION '$dLoc'
      AS SELECT * FROM create_src_orders""")
    assert(new Path(dLoc, "o_orderstatus=F").getFileSystem(
        spark.sessionState.newHadoopConf())
      .exists(new Path(dLoc, "o_orderstatus=F")),
      "PARTITIONED BY must land as hive partition dirs in the delta layout")
    assert(spark.sql("SELECT count(*) FROM ctas_delta").head().getLong(0) ==
      orders.count())
    assert(graft.lake.delta.DeltaTable.load(spark, dLoc).scan().count() ==
      orders.count(), "the independent delta reader must see the CTAS table")
    spark.sql("DROP TABLE ctas_delta")

    // delta table OPTIONS: CDF + in-commit timestamps land on the
    // created table; unknown delta.* options reject instead of being
    // silently dropped
    val oLoc = freshDir("create-delta-opts")
    spark.sql("DROP TABLE IF EXISTS ctas_delta_opts")
    spark.sql(s"""CREATE TABLE ctas_delta_opts USING `graft-delta`
      OPTIONS ('delta.enableChangeDataFeed'='true',
               'delta.enableInCommitTimestamps'='true')
      LOCATION '$oLoc' AS SELECT * FROM create_src_orders""")
    val changes = graft.lake.delta.DeltaTable.changes(spark, oLoc, 1L, 1L)
    assert(changes.filter(col("_change_type") === "insert").count() ==
      orders.count(), "CDF option must make the CTAS commit change-readable")
    val logP = new Path(oLoc, "_delta_log/00000000000000000001.json")
    val logTxt = scala.io.Source.fromInputStream(logP.getFileSystem(
      spark.sessionState.newHadoopConf()).open(logP), "UTF-8").mkString
    assert(logTxt.contains("inCommitTimestamp"),
      "ICT option must stamp the CTAS commit")
    spark.sql("DROP TABLE ctas_delta_opts")
    intercept[Exception] {
      spark.sql(s"""CREATE TABLE ctas_delta_bad USING `graft-delta`
        OPTIONS ('delta.appendOnly'='true')
        LOCATION '${freshDir("create-delta-bad")}'
        AS SELECT * FROM create_src_orders""")
    }
    spark.sql("DROP TABLE IF EXISTS ctas_delta_bad")
    intercept[Exception] { // hudi: same stray-option posture
      spark.sql(s"""CREATE TABLE ctas_hudi_bad USING `graft-hudi`
        OPTIONS ('recordkey.field'='o_orderkey',
                 'hoodie.index.type'='BLOOM')
        LOCATION '${freshDir("create-hudi-bad")}'
        AS SELECT * FROM create_src_orders""")
    }
    spark.sql("DROP TABLE IF EXISTS ctas_hudi_bad")
    // DEFERRED create (column list, no AS SELECT): the rejection must
    // fire AT the CREATE/first-resolution, not at the first INSERT —
    // the CREATE-time validation path, distinct from CTAS's write path
    spark.sql("DROP TABLE IF EXISTS fresh_delta_bad")
    intercept[Exception] {
      spark.sql(s"""CREATE TABLE fresh_delta_bad (id BIGINT, v STRING)
        USING `graft-delta` OPTIONS ('delta.appendOnly'='true')
        LOCATION '${freshDir("create-delta-bad2")}'""")
      // some catalog paths defer provider resolution past CREATE — a
      // SELECT forces it; either statement may throw, INSERT never runs
      spark.sql("SELECT * FROM fresh_delta_bad").collect()
    }
    spark.sql("DROP TABLE IF EXISTS fresh_delta_bad")

    // hudi: record key via OPTIONS (Hudi tables are keyed by
    // construction); the created table upserts like any native one
    val hLoc = freshDir("create-hudi")
    spark.sql("DROP TABLE IF EXISTS fresh_hudi")
    spark.sql(s"""CREATE TABLE fresh_hudi ($orderCols)
      USING `graft-hudi`
      OPTIONS ('recordkey.field'='o_orderkey', 'partition.columns'='o_orderstatus')
      LOCATION '$hLoc'""")
    spark.sql("INSERT INTO fresh_hudi SELECT * FROM create_src_orders")
    assert(spark.sql("SELECT count(*) FROM fresh_hudi").head().getLong(0) ==
      orders.count())
    val ht = graft.lake.hudi.HudiTable.load(spark, hLoc)
    assert(ht.scan().count() == orders.count())
    graft.lake.hudi.HudiWriter.open(spark, hLoc)
      .upsert(orders.limit(10).withColumn("o_orderpriority", lit("upserted")))
    assert(graft.lake.hudi.HudiTable.load(spark, hLoc).scan().count() ==
      orders.count(), "created hudi table must upsert by key, not duplicate")
    spark.sql("DROP TABLE fresh_hudi")

    // missing record key rejects loudly at materialization
    val h2 = freshDir("create-hudi-nokey")
    spark.sql("DROP TABLE IF EXISTS fresh_hudi_nokey")
    spark.sql(s"CREATE TABLE fresh_hudi_nokey (k BIGINT, v STRING) " +
      s"USING `graft-hudi` LOCATION '$h2'")
    val e = intercept[Exception] {
      spark.sql("INSERT INTO fresh_hudi_nokey VALUES (1, 'a')")
    }
    assert(e.getMessage.contains("record key"), s"got: ${e.getMessage}")
    spark.sql("DROP TABLE fresh_hudi_nokey")
  }

  test("iceberg metadata tables via the connector: #snapshots / #files (r11)") {
    val loc = freshDir("ice-metatbl")
    val w = IcebergWriter.create(spark, loc, orders.schema)
    val s1 = w.append(orders.filter(col("o_orderkey") % 2 === 0))
    w.append(orders.filter(col("o_orderkey") % 2 === 1))
    val t = graft.lake.iceberg.IcebergTable.load(spark, loc)

    // path-fragment SQL — the `tbl.snapshots` UX over a path
    val snaps = spark.sql(s"SELECT * FROM `graft-iceberg`.`$loc#snapshots`")
    assert(snaps.columns.contains("snapshot_id") &&
      snaps.columns.contains("operation"))
    assert(snaps.count() == 2)
    assert(spark.sql(
      s"SELECT count(*) FROM `graft-iceberg`.`$loc#snapshots` " +
        "WHERE operation = 'append'").head().getLong(0) == 2)

    // reader-option form; `files` respects time travel
    val files = spark.read.format("graft-iceberg")
      .option("metadata", "files").load(loc)
    assert(files.count() == t.planFiles(None).size)
    val filesAt = spark.read.format("graft-iceberg")
      .option("metadata", "files").option("snapshot-id", s1.toString).load(loc)
    assert(filesAt.count() == t.planFiles(None, s1).size)
    assert(filesAt.count() < files.count())

    // unknown fragments / wrong-format fragments reject loudly
    intercept[Exception] {
      spark.sql(s"SELECT * FROM `graft-iceberg`.`$loc#bogus`").collect()
    }
    intercept[Exception] {
      spark.sql(s"SELECT * FROM `graft-delta`.`$loc#snapshots`").collect()
    }

    // delta #history: DESCRIBE HISTORY shape from the log listing
    val dLoc = freshDir("delta-metatbl")
    val wd = DeltaWriter.create(spark, dLoc, orders.schema)
    wd.append(orders.limit(100))                   // v1
    wd.deleteWhere(col("o_orderkey") % 2 === 0)    // v2
    val hist = spark.sql(s"SELECT * FROM `graft-delta`.`$dLoc#history`")
    assert(hist.columns.toSeq == Seq("version", "timestamp", "operation"))
    assert(hist.count() == 3) // v0 create + append + delete
    // commits carry commitInfo operations (OSS Delta's audit record)
    assert(hist.filter(col("operation") === "WRITE").count() == 1)
    assert(hist.filter(col("operation") === "DELETE").count() == 1)

    // hudi #timeline: completed instants as a view
    val hLoc = freshDir("hudi-metatbl")
    val wh = HudiWriter.create(spark, hLoc, orders.schema,
      partitionFields = Seq.empty, keyField = "o_orderkey",
      tableType = "MERGE_ON_READ")
    wh.insert(orders.limit(100))
    wh.deleteLogWhere(col("o_orderkey") % 2 === 0)
    val tl = spark.sql(s"SELECT * FROM `graft-hudi`.`$hLoc#timeline`")
    assert(tl.columns.toSeq == Seq("instant", "action"))
    assert(tl.count() == 2)
    assert(tl.filter(col("action") === "deltacommit").count() >= 1)
  }

  // ---- r11 wave 4: UPDATE / MERGE / SQL time travel ------------------------

  private def hudiInstants(loc: String): Int = {
    val p = new Path(loc, ".hoodie")
    p.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(p)
      .count { s =>
        val n = s.getPath.getName
        n.endsWith(".commit") || n.endsWith(".deltacommit") ||
          n.endsWith(".replacecommit")
      }
  }

  test("SQL UPDATE lands ONE native commit per format; zero-match is a no-op (r11)") {
    import graft.lake.iceberg.IcebergTable
    import graft.lake.delta.DeltaTable
    val updated = orders.count()
    val expect3 = orders.filter(col("o_orderkey") % 3 === 0).count()

    // iceberg: single row-delta snapshot — DV masks + rewritten rows,
    // the pre-update data files provably NOT rewritten
    val iceLoc = freshDir("ice-upd")
    val wi = IcebergWriter.create(spark, iceLoc, orders.schema)
    wi.append(orders)
    val t0 = IcebergTable.load(spark, iceLoc)
    val snapsBefore = t0.meta.snapshots.length
    val filesBefore = t0.planFiles(None).toSet
    spark.sql(s"UPDATE `graft-iceberg`.`$iceLoc` SET o_orderpriority = 'sql-updated' " +
      "WHERE o_orderkey % 3 = 0")
    val t1 = IcebergTable.load(spark, iceLoc)
    assert(t1.meta.snapshots.length == snapsBefore + 1,
      "iceberg UPDATE must be ONE snapshot (deletes + data in one row-delta commit)")
    assert(filesBefore.subsetOf(t1.planFiles(None).toSet),
      "iceberg UPDATE must not rewrite data files (DV masks)")
    val ice = t1.scan()
    assert(ice.count() == updated)
    assert(ice.filter(col("o_orderpriority") === "sql-updated").count() == expect3)
    assert(ice.filter(col("o_orderkey") % 3 === 0 &&
      col("o_orderpriority") =!= "sql-updated").count() == 0)
    // zero-match: SQL no-op, no commit
    spark.sql(s"UPDATE `graft-iceberg`.`$iceLoc` SET o_orderpriority = 'x' " +
      "WHERE o_orderkey < -1000000")
    assert(IcebergTable.load(spark, iceLoc).meta.snapshots.length ==
      snapsBefore + 1, "zero-match UPDATE must not commit")

    // delta: one protocol COW update commit
    val dLoc = freshDir("delta-upd")
    val wd = DeltaWriter.create(spark, dLoc, orders.schema)
    wd.append(orders)
    val vBefore = DeltaTable.load(spark, dLoc).version
    spark.sql(s"UPDATE `graft-delta`.`$dLoc` SET o_orderpriority = 'sql-updated' " +
      "WHERE o_orderkey % 3 = 0")
    val td = DeltaTable.load(spark, dLoc)
    assert(td.version == vBefore + 1, "delta UPDATE must be one commit")
    assert(td.scan().filter(col("o_orderpriority") === "sql-updated").count() == expect3)
    assert(td.scan().count() == updated)

    // hudi MOR: one deltacommit (keyed upsert of the rewritten rows)
    val hLoc = freshDir("hudi-upd")
    val wh = HudiWriter.create(spark, hLoc, orders.schema,
      partitionFields = Seq("o_orderstatus"), keyField = "o_orderkey",
      tableType = "MERGE_ON_READ")
    wh.insert(orders)
    val instBefore = hudiInstants(hLoc)
    spark.sql(s"UPDATE `graft-hudi`.`$hLoc` SET o_orderpriority = 'sql-updated' " +
      "WHERE o_orderkey % 3 = 0")
    assert(hudiInstants(hLoc) == instBefore + 1, "hudi UPDATE must be one deltacommit")
    val th = graft.lake.hudi.HudiTable.load(spark, hLoc)
    assert(th.scan().filter(col("o_orderpriority") === "sql-updated").count() == expect3)
    assert(th.scan().count() == updated)
    // record-key / partition-field updates reject loudly
    val e = intercept[Exception] {
      spark.sql(s"UPDATE `graft-hudi`.`$hLoc` SET o_orderkey = 0 WHERE o_orderkey = 1")
    }
    assert(e.getMessage.contains("record-key"), s"got: ${e.getMessage}")
  }

  test("SQL MERGE INTO upserts through ONE native commit per format (r11)") {
    import graft.lake.iceberg.IcebergTable
    import graft.lake.delta.DeltaTable
    val matched = orders.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_orderpriority", lit("merged"))
    val fresh = orders.filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_orderkey", -col("o_orderkey") - 1)
      .withColumn("o_orderpriority", lit("merged-new"))
    matched.unionByName(fresh).createOrReplaceTempView("interop_merge_src")
    val expectTotal = orders.count() + fresh.count()
    val expectMerged = matched.count()

    def checkRows(df: org.apache.spark.sql.DataFrame): Unit = {
      assert(df.count() == expectTotal)
      assert(df.filter(col("o_orderpriority") === "merged").count() == expectMerged)
      assert(df.filter(col("o_orderpriority") === "merged-new").count() == fresh.count())
      assert(df.filter(col("o_orderkey") >= 0 && col("o_orderkey") % 10 === 0 &&
        col("o_orderpriority") =!= "merged").count() == 0)
    }
    def mergeSql(fmt: String, loc: String): String =
      s"""MERGE INTO `$fmt`.`$loc` t USING interop_merge_src s
          ON t.o_orderkey = s.o_orderkey
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *"""

    // iceberg: one overwrite snapshot (equality-delete + data manifests)
    val iceLoc = freshDir("ice-merge")
    IcebergWriter.create(spark, iceLoc, orders.schema).append(orders)
    val snapsBefore = IcebergTable.load(spark, iceLoc).meta.snapshots.length
    spark.sql(mergeSql("graft-iceberg", iceLoc))
    val t1 = IcebergTable.load(spark, iceLoc)
    assert(t1.meta.snapshots.length == snapsBefore + 1,
      "iceberg MERGE must be ONE snapshot")
    checkRows(t1.scan())

    // delta: one commit carrying DV removes + adds
    val dLoc = freshDir("delta-merge")
    DeltaWriter.create(spark, dLoc, orders.schema).append(orders)
    val vBefore = DeltaTable.load(spark, dLoc).version
    spark.sql(mergeSql("graft-delta", dLoc))
    val td = DeltaTable.load(spark, dLoc)
    assert(td.version == vBefore + 1, "delta MERGE must be one commit")
    checkRows(td.scan())

    // hudi MOR: one deltacommit; MERGE key must equal the record key
    val hLoc = freshDir("hudi-merge")
    val wh = HudiWriter.create(spark, hLoc, orders.schema,
      partitionFields = Seq("o_orderstatus"), keyField = "o_orderkey",
      tableType = "MERGE_ON_READ")
    wh.insert(orders)
    val instBefore = hudiInstants(hLoc)
    spark.sql(mergeSql("graft-hudi", hLoc))
    assert(hudiInstants(hLoc) == instBefore + 1, "hudi MERGE must be one deltacommit")
    checkRows(graft.lake.hudi.HudiTable.load(spark, hLoc).scan())
    orders.dropDuplicates("o_custkey")
      .createOrReplaceTempView("interop_merge_bykey_src")
    val wrongKey = intercept[Exception] {
      spark.sql(s"""MERGE INTO `graft-hudi`.`$hLoc` t USING interop_merge_bykey_src s
        ON t.o_custkey = s.o_custkey
        WHEN MATCHED THEN UPDATE SET *""")
    }
    assert(wrongKey.getMessage.contains("record key"), s"got: ${wrongKey.getMessage}")
  }

  test("SQL MERGE delete shape + cardinality violation (r11)") {
    import graft.lake.delta.DeltaTable
    val dLoc = freshDir("delta-merge-del")
    DeltaWriter.create(spark, dLoc, orders.schema).append(orders)
    orders.filter(col("o_orderkey") % 5 === 0).select("o_orderkey")
      .createOrReplaceTempView("interop_merge_del_src")
    val vBefore = DeltaTable.load(spark, dLoc).version
    spark.sql(s"""MERGE INTO `graft-delta`.`$dLoc` t USING interop_merge_del_src s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED THEN DELETE""")
    val td = DeltaTable.load(spark, dLoc)
    assert(td.version == vBefore + 1)
    assert(td.scan().filter(col("o_orderkey") % 5 === 0).count() == 0)
    assert(td.scan().count() == orders.filter(col("o_orderkey") % 5 =!= 0).count())

    // a source matching one target row twice must fail, not double-merge
    orders.filter(col("o_orderkey") === 1).withColumn("o_orderpriority", lit("a"))
      .unionByName(orders.filter(col("o_orderkey") === 1)
        .withColumn("o_orderpriority", lit("b")))
      .createOrReplaceTempView("interop_merge_dup_src")
    val dup = intercept[Exception] {
      spark.sql(s"""MERGE INTO `graft-delta`.`$dLoc` t USING interop_merge_dup_src s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED THEN UPDATE SET *""")
    }
    assert(dup.getMessage.contains("cardinality"), s"got: ${dup.getMessage}")
  }

  test("SQL VERSION/TIMESTAMP AS OF time travel over interop paths (r11)") {
    import graft.lake.iceberg.IcebergTable
    val half = orders.filter(col("o_orderkey") % 2 === 0).count()
    val total = orders.count()

    val iceLoc = freshDir("ice-tt")
    val wi = IcebergWriter.create(spark, iceLoc, orders.schema)
    val s1 = wi.append(orders.filter(col("o_orderkey") % 2 === 0))
    wi.tag("halfway", s1)
    Thread.sleep(5) // distinct wall-clock for TIMESTAMP AS OF
    wi.append(orders.filter(col("o_orderkey") % 2 === 1))

    assert(spark.sql(s"SELECT count(*) FROM `graft-iceberg`.`$iceLoc` VERSION AS OF $s1")
      .head().getLong(0) == half)
    assert(spark.sql(s"SELECT count(*) FROM `graft-iceberg`.`$iceLoc` VERSION AS OF 'halfway'")
      .head().getLong(0) == half)
    val s1ts = IcebergTable.load(spark, iceLoc).meta.snapshots
      .find(_.id == s1).get.timestampMs
    val tsStr = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(s1ts), java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    assert(spark.sql(
      s"SELECT count(*) FROM `graft-iceberg`.`$iceLoc` TIMESTAMP AS OF '$tsStr'")
      .head().getLong(0) == half)
    assert(spark.sql(s"SELECT count(*) FROM `graft-iceberg`.`$iceLoc`")
      .head().getLong(0) == total)

    val dLoc = freshDir("delta-tt")
    val wd = DeltaWriter.create(spark, dLoc, orders.schema)
    wd.append(orders.filter(col("o_orderkey") % 2 === 0)) // v1
    wd.append(orders.filter(col("o_orderkey") % 2 === 1)) // v2
    assert(spark.sql(s"SELECT count(*) FROM `graft-delta`.`$dLoc` VERSION AS OF 1")
      .head().getLong(0) == half)

    val hLoc = freshDir("hudi-tt")
    val wh = HudiWriter.create(spark, hLoc, orders.schema,
      partitionFields = Seq.empty, keyField = "o_orderkey")
    val i1 = wh.insert(orders.filter(col("o_orderkey") % 2 === 0))
    wh.insert(orders.filter(col("o_orderkey") % 2 === 1))
    assert(spark.sql(s"SELECT count(*) FROM `graft-hudi`.`$hLoc` VERSION AS OF '$i1'")
      .head().getLong(0) == half)
    val e = intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM `graft-hudi`.`$hLoc` TIMESTAMP AS OF '2026-01-01'")
        .collect()
    }
    assert(e.getMessage.contains("timeline instant"), s"got: ${e.getMessage}")
  }

  test("hudi aggregate pushdown: COUNT/MIN/MAX answered from commit stats alone (r14)") {
    val o = orders.withColumn("bucket", col("o_orderkey") % 5)
    val loc = freshDir("hudi-agg")
    HudiWriter.create(spark, loc, o.schema,
      partitionFields = Seq("bucket"), keyField = "o_orderkey").insert(o)
    val df = spark.read.format("graft-hudi").load(loc)
    df.createOrReplaceTempView("hudi_agg")
    val q = spark.sql(
      """SELECT count(*) AS n, count(bucket) AS nb,
                min(bucket) AS mn, max(bucket) AS mx
         FROM hudi_agg WHERE bucket >= 1""")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GraftAggScan") || plan.contains("LocalTableScan"),
      s"aggregate must collapse to the metadata scan:\n$plan")
    val want = o.filter(col("bucket") >= 1)
    val row = q.head()
    assert(row.getLong(0) == want.count())
    assert(row.getLong(1) == want.count()) // bucket never null here
    assert(row.getLong(2) == 1L && row.getLong(3) == 4L)
    // MIN over a NON-partition column must refuse (commit stats carry no
    // column bounds) and fall back to a real scan
    val nq = spark.sql("SELECT min(o_orderkey) AS mk FROM hudi_agg")
    assert(!nq.queryExecution.executedPlan.toString.contains("GraftAggScan"),
      "non-partition min/max has no stats to answer from — must fall back")
    assert(nq.head().getLong(0) == o.agg(min("o_orderkey")).head().getLong(0))
    // ZERO data IO, the AggPushdownSpec proof: delete every base file —
    // the metadata answer must come back identical
    val t = graft.lake.hudi.HudiTable.load(spark, loc)
    val fs = new Path(loc).getFileSystem(spark.sessionState.newHadoopConf())
    t.planFiles().foreach(p => fs.delete(new Path(loc, p), false))
    val again = spark.sql(
      "SELECT count(*) AS n FROM hudi_agg WHERE bucket >= 1").head()
    assert(again.getLong(0) == want.count(),
      "metadata-only count must not touch data files")
  }

  test("hudi aggregate pushdown refuses on uncompacted logs; read_optimized keeps it (r14)") {
    val o = orders
    val loc = freshDir("hudi-agg-mor")
    val w = HudiWriter.create(spark, loc, o.schema,
      partitionFields = Seq("o_orderstatus"), keyField = "o_orderkey",
      tableType = "MERGE_ON_READ")
    w.insert(o)
    w.deleteLogWhere(col("o_orderpriority") === "1-URGENT")
    // snapshot view: the merge drops soft-deleted rows — base counts are
    // upper bounds, pushdown must refuse and the scan must be right
    val snap = spark.read.format("graft-hudi").load(loc).agg(count(lit(1)).as("n"))
    assert(!snap.queryExecution.executedPlan.toString.contains("GraftAggScan"),
      "live log deltas make base counts upper bounds — must fall back")
    assert(snap.head().getLong(0) ==
      o.filter(col("o_orderpriority") =!= "1-URGENT").count())
    // read_optimized serves base slices by contract: pushdown stays ON
    // and the metadata answer equals the base-only row count
    val ro = spark.read.format("graft-hudi")
      .option("query.type", "read_optimized").load(loc)
      .agg(count(lit(1)).as("n"))
    val roPlan = ro.queryExecution.executedPlan.toString
    assert(roPlan.contains("GraftAggScan") || roPlan.contains("LocalTableScan"),
      s"read_optimized counts are exact from commit stats:\n$roPlan")
    assert(ro.head().getLong(0) == o.count())
  }

  test("GROUPED metadata aggregates collapse to LocalRelation on all three formats (r14)") {
    val o = orders
    val truth = o.groupBy("o_orderstatus").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def check(fmt: String, loc: String, withMin: Boolean = true): Unit = {
      // hudi commit stats carry no column bounds — its grouped surface
      // is counts only; iceberg/delta also answer min from file stats
      val minSel = if (withMin) ", min(o_orderkey) AS mn" else ""
      val q = spark.sql(
        s"""SELECT o_orderstatus, count(*) AS n$minSel
            FROM `$fmt`.`$loc` GROUP BY o_orderstatus""")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("LocalTableScan"),
        s"$fmt: grouped aggregate must collapse to metadata rows:\n$plan")
      val rows = q.collect()
      assert(rows.map(r => r.getString(0) -> r.getLong(1)).toMap == truth,
        s"$fmt grouped counts drifted")
      if (withMin) {
        val mins = o.groupBy("o_orderstatus").agg(min("o_orderkey").as("mn"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(rows.map(r => r.getString(0) -> r.getLong(2)).toMap == mins,
          s"$fmt grouped min drifted")
      }
      // a non-partition group key must refuse and fall back to a scan
      val bad = spark.sql(
        s"SELECT o_orderpriority, count(*) AS n FROM `$fmt`.`$loc` " +
          "GROUP BY o_orderpriority")
      assert(!bad.queryExecution.executedPlan.toString.contains("LocalTableScan"),
        s"$fmt: non-partition group keys have no per-file verdict — must scan")
      assert(bad.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
        o.groupBy("o_orderpriority").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    }
    val iLoc = freshDir("grp-ice")
    IcebergWriter.create(spark, iLoc, o.schema,
      partition = Seq("o_orderstatus" -> "identity")).append(o)
    check("graft-iceberg", iLoc)
    val dLoc = freshDir("grp-delta")
    DeltaWriter.create(spark, dLoc, o.schema,
      partitionColumns = Seq("o_orderstatus")).append(o)
    check("graft-delta", dLoc)
    val hLoc = freshDir("grp-hudi")
    HudiWriter.create(spark, hLoc, o.schema,
      partitionFields = Seq("o_orderstatus"), keyField = "o_orderkey").insert(o)
    check("graft-hudi", hLoc, withMin = false)
    // and a non-partition MIN on hudi refuses (no column stats at all)
    val hudiMin = spark.sql(
      s"SELECT o_orderstatus, min(o_orderkey) AS mn FROM `graft-hudi`.`$hLoc` " +
        "GROUP BY o_orderstatus")
    assert(!hudiMin.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(hudiMin.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      o.groupBy("o_orderstatus").agg(min("o_orderkey"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    // the V1 DSv2 path (sessions WITHOUT the native-scan rule) answers
    // grouped aggregates too, through Spark's own complete group-by
    // pushdown → GraftAggScan (key columns first, then aggs)
    spark.conf.set("spark.graft.nativeScan.enabled", "false")
    try {
      val v1 = spark.sql(
        s"""SELECT o_orderstatus, count(*) AS n, min(o_orderkey) AS mn
            FROM `graft-delta`.`$dLoc` GROUP BY o_orderstatus""")
      val plan = v1.queryExecution.executedPlan.toString
      assert(plan.contains("GraftAggScan") &&
        plan.contains("ReadSchema: struct<o_orderstatus:string,"),
        s"V1 grouped pushdown must produce the agg scan, key columns first:\n$plan")
      assert(v1.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == truth)
    } finally spark.conf.set("spark.graft.nativeScan.enabled", "true")

    // zero data IO: delete the iceberg table's data files — the grouped
    // metadata answer is unchanged
    val t = graft.lake.iceberg.IcebergTable.load(spark, iLoc)
    val fs = new Path(iLoc).getFileSystem(spark.sessionState.newHadoopConf())
    t.planFiles().foreach(p => fs.delete(new Path(p), false))
    val again = spark.sql(
      s"""SELECT o_orderstatus, count(*) AS n
          FROM `graft-iceberg`.`$iLoc` GROUP BY o_orderstatus""")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == truth, "grouped metadata count must not touch data files")
  }

  test("iceberg aggregate fold runs DISTRIBUTED past the manifest-byte threshold (r14)") {
    val o = orders
    val loc = freshDir("ice-agg-fold")
    val w = IcebergWriter.create(spark, loc, o.schema,
      partition = Seq("o_orderstatus" -> "identity"))
    w.append(o.filter(col("o_orderkey") % 2 === 0))
    w.append(o.filter(col("o_orderkey") % 2 === 1))
    val sql = """SELECT count(*) AS n, count(o_custkey) AS nc,
                        min(o_orderkey) AS mn, max(o_orderdate) AS mx
                 FROM ice_fold WHERE o_orderstatus = 'F'"""
    spark.read.format("graft-iceberg").load(loc).createOrReplaceTempView("ice_fold")
    val driverRow = spark.sql(sql).head() // default threshold: driver fold
    spark.conf.set("spark.graft.iceberg.aggFoldThresholdBytes", "0")
    try {
      val q = spark.sql(sql) // 0 bytes: every fold is a distributed job
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("GraftAggScan") || plan.contains("LocalTableScan"),
        s"distributed fold must still collapse the aggregate:\n$plan")
      assert(q.head() == driverRow, "distributed fold == driver fold")
      val want = o.filter(col("o_orderstatus") === "F")
      assert(driverRow.getLong(0) == want.count())
      assert(driverRow.getLong(2) == want.agg(min("o_orderkey")).head().getLong(0))
      // deletes live → the list-level guard refuses WITHOUT opening any
      // manifest, and the real scan answers
      w.equalityDelete(o.filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey"))
      val dq = spark.read.format("graft-iceberg").load(loc).agg(count(lit(1)).as("n"))
      assert(!dq.queryExecution.executedPlan.toString.contains("GraftAggScan"),
        "delete manifests in the list must refuse the distributed fold")
      assert(dq.head().getLong(0) ==
        o.filter(col("o_orderpriority") =!= "1-URGENT").count())
    } finally spark.conf.unset("spark.graft.iceberg.aggFoldThresholdBytes")
  }

  test("zero-row data files do not fabricate grouped metadata groups (r15)") {
    // other engines legitimately commit empty data files; a grouped
    // metadata aggregate must not emit count(*)=0 rows for their
    // partitions — a real GROUP BY scan yields zero groups over zero
    // rows. (r14 advice, medium.)
    val o = orders
    val dLoc = freshDir("grp-zero-delta")
    DeltaWriter.create(spark, dLoc, o.schema,
      partitionColumns = Seq("o_orderstatus")).append(o)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(dLoc).getFileSystem(conf)
    // hand-commit an EMPTY parquet file under a partition NO real row has
    val tmp = freshDir("grp-zero-tmp")
    o.filter(lit(false)).drop("o_orderstatus").coalesce(1)
      .write.parquet(tmp)
    val part = fs.listStatus(new Path(tmp))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val rel = s"o_orderstatus=Z/${part.getName}"
    fs.mkdirs(new Path(dLoc, "o_orderstatus=Z"))
    fs.rename(part, new Path(dLoc, rel))
    val size = fs.getFileStatus(new Path(dLoc, rel)).getLen
    val logDir = new Path(dLoc, "_delta_log")
    val nextV = fs.listStatus(logDir).map(_.getPath.getName)
      .filter(_.endsWith(".json")).map(_.stripSuffix(".json").toLong).max + 1
    val add = s"""{"add":{"path":"$rel","partitionValues":{"o_orderstatus":"Z"},""" +
      s""""size":$size,"modificationTime":0,"dataChange":true,""" +
      s""""stats":"{\\"numRecords\\":0,\\"minValues\\":{},\\"maxValues\\":{},\\"nullCount\\":{}}"}}"""
    val out = fs.create(new Path(logDir, f"$nextV%020d.json"))
    out.write((add + "\n").getBytes("UTF-8")); out.close()

    val truth = o.groupBy("o_orderstatus").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val q = spark.sql(
      s"""SELECT o_orderstatus, count(*) AS n
          FROM `graft-delta`.`$dLoc` GROUP BY o_orderstatus""")
    assert(q.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "grouped aggregate must still collapse to metadata rows")
    val got = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!got.contains("Z"),
      s"zero-row file fabricated a group a real scan never yields: $got")
    assert(got == truth, "grouped counts drifted around the zero-row skip")
    // groupless stays correct too: a filter selecting ONLY the empty
    // partition answers count(*)=0 (one row — correct for groupless)
    val zq = spark.sql(
      s"SELECT count(*) AS n FROM `graft-delta`.`$dLoc` WHERE o_orderstatus = 'Z'")
    assert(zq.head().getLong(0) == 0L)
    // and the shared algebra skips zero-row entries for ALL formats:
    // a unit probe through groupedSeq directly
    import graft.lake.sql.AggPushdown
    val seqF = AggPushdown.groupedSeq(Seq("p"), Seq(AggPushdown.PCountStar), Nil,
      org.apache.spark.sql.types.StructType(Nil))
    val acc = Seq(("a", 5L), ("b", 0L), ("a", 3L))
      .map { case (p, n) => AggEntry(DataFileMeta("", 0L, n, 0L, Map("p" -> p), Map.empty), Map.empty) }
      .foldLeft(Option(Map.empty: AggPushdown.GroupAcc))(seqF)
    assert(acc.get.keySet == Set(List("a")),
      "zero-row entries must be identity in the grouped fold")
  }

  test("SQL UPDATE preserves row lineage on both modern formats (r16b)") {
    // The r16b writer surfaces reached through plain SQL: the
    // connector's UPDATE lowers to IcebergWriter.updateWhere /
    // DeltaWriter.updateWhere, which now carry each matched row's id
    // through the rewrite — pinned here via the lineage read options.
    import spark.implicits._
    val side = (0L until 60L).map(i => (i, s"c$i")).toDF("k", "s")

    // iceberg v3 row lineage
    val iceLoc = freshDir("ice-upd-lineage")
    val wi = IcebergWriter.create(spark, iceLoc, side.schema)
    wi.enableRowLineage()
    wi.append(side.repartition(2))
    def iceIds() = spark.read.format("graft-iceberg")
      .option("with-lineage", "true").load(iceLoc)
      .select("k", "_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val icePre = iceIds()
    spark.sql(s"UPDATE `graft-iceberg`.`$iceLoc` SET s = 'sql-upd' WHERE k % 5 = 0")
    assert(iceIds() == icePre,
      "SQL UPDATE on an iceberg lineage table must carry every _row_id")
    val iceSeqs = spark.read.format("graft-iceberg")
      .option("with-lineage", "true").load(iceLoc)
      .select("k", "s", "_last_updated_sequence_number").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val updSeq = iceSeqs.filter(_._1 % 5 == 0).map(_._3).toSet
    assert(updSeq.size == 1 && !iceSeqs.filter(_._1 % 5 != 0)
        .exists(_._3 == updSeq.head),
      "exactly the SQL-updated rows must carry the update sequence")
    assert(iceSeqs.filter(_._1 % 5 == 0).forall(_._2 == "sql-upd"))

    // delta row tracking
    val dLoc = freshDir("delta-upd-rt")
    val wd = DeltaWriter.create(spark, dLoc, side.schema,
      enableRowTracking = true)
    wd.append(side.repartition(2))
    def dIds() = spark.read.format("graft-delta")
      .option("with-row-tracking", "true").load(dLoc)
      .select("k", "_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dPre = dIds()
    spark.sql(s"UPDATE `graft-delta`.`$dLoc` SET s = 'sql-upd' WHERE k % 5 = 0")
    assert(dIds() == dPre,
      "SQL UPDATE on a delta row-tracking table must carry every _row_id")
    val dVers = spark.read.format("graft-delta")
      .option("with-row-tracking", "true").load(dLoc)
      .select("k", "_row_commit_version").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dUpdVer = dVers.filter(_._1 % 5 == 0).values.toSet
    assert(dUpdVer.size == 1 &&
      !dVers.filter(_._1 % 5 != 0).values.exists(_ == dUpdVer.head),
      "exactly the SQL-updated rows must carry the update commit version")
  }

  /** Spark jobs started while `body` runs (the listener bus is drained
    * before and after, so earlier and late-delivered events are not
    * miscounted). */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val counter = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    org.apache.spark.graftshim.ListenerBusHook.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.graftshim.ListenerBusHook.waitUntilEmpty(sc)
    } finally sc.removeSparkListener(listener)
    counter.get()
  }

  private def collapsed(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.isEmpty

  test("iceberg: a column added after the data files answers count/min from metadata") {
    import graft.lake.iceberg.{IceField, IceSchema, IcebergMeta, IcebergTable}
    val o = orders.select("o_orderkey", "o_orderstatus")
    val loc = freshDir("ice-added-col")
    IcebergWriter.create(spark, loc, o.schema,
      partition = Seq("o_orderstatus" -> "identity")).append(o)
    // a foreign engine's ADD COLUMN: a new metadata version whose current
    // schema carries one more optional field; no data file has it
    val m = IcebergTable.load(spark, loc).meta
    val added = IceField(m.lastColumnId + 1, "new_col", required = false,
      org.apache.spark.sql.types.LongType, "long")
    val evolved = IceSchema(m.schemas.map(_.schemaId).max + 1,
      m.currentSchema.fields :+ added)
    val m2 = m.copy(lastColumnId = added.id, currentSchemaId = evolved.schemaId,
      schemas = m.schemas :+ evolved)
    val metaDir = new Path(loc, "metadata")
    val fs = metaDir.getFileSystem(spark.sessionState.newHadoopConf())
    val Versioned = """v?(\d+)(?:-[^.]*)?\.metadata\.json""".r
    val next = fs.listStatus(metaDir).map(_.getPath.getName).collect {
      case Versioned(v) => v.toLong }.max + 1
    def put(name: String, text: String): Unit = {
      val out = fs.create(new Path(metaDir, name), true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }
    put(s"v$next.metadata.json", IcebergMeta.render(m2))
    put("version-hint.text", next.toString)

    val t = IcebergTable.load(spark, loc)
    assert(t.schema.fieldNames.contains("new_col"))
    val real = t.scan()
    val flat = spark.sql(
      s"""SELECT count(*) AS n, count(new_col) AS c, min(new_col) AS mn,
                 max(o_orderkey) AS mx
          FROM `graft-iceberg`.`$loc` WHERE o_orderstatus = 'F'""")
    assert(collapsed(flat), "the absent column must be answered from metadata")
    val want = real.filter(col("o_orderstatus") === "F")
      .agg(count(lit(1)), count("new_col"), min("new_col"), max("o_orderkey")).head()
    assert(flat.head() == want)
    assert(want.getLong(1) == 0L && want.isNullAt(2))
    val grouped = spark.sql(
      s"""SELECT o_orderstatus, count(new_col) AS c, min(new_col) AS mn
          FROM `graft-iceberg`.`$loc` GROUP BY o_orderstatus""")
    assert(collapsed(grouped), "the grouped form must be answered from metadata too")
    assert(grouped.collect().map(_.toString).sorted.toSeq ==
      real.groupBy("o_orderstatus").agg(count("new_col"), min("new_col"))
        .collect().map(_.toString).sorted.toSeq)
  }

  test("iceberg: one metadata fold per planned aggregate past the fold threshold") {
    val o = orders
    val loc = freshDir("ice-one-fold")
    val w = IcebergWriter.create(spark, loc, o.schema,
      partition = Seq("o_orderstatus" -> "identity"))
    w.append(o.filter(col("o_orderkey") % 2 === 0))
    w.append(o.filter(col("o_orderkey") % 2 === 1))
    val where = "o_orderstatus IN ('F', 'O') AND o_orderstatus <> 'P' AND o_orderstatus >= 'F'"
    spark.conf.set("spark.graft.iceberg.aggFoldThresholdBytes", "0")
    try {
      var q: org.apache.spark.sql.DataFrame = null
      val jobs = jobsDuring { // analysis and optimization: where the fold runs
        q = spark.sql(
          s"SELECT count(*) AS n, min(o_orderkey) AS mn FROM `graft-iceberg`.`$loc` WHERE $where")
        q.queryExecution.optimizedPlan
      }
      assert(collapsed(q), "the 3-filter aggregate must collapse to metadata")
      assert(jobs == 1, s"planning a 3-filter aggregate ran $jobs jobs, not one fold")
      val want = o.filter(col("o_orderstatus").isin("F", "O"))
        .agg(count(lit(1)), min("o_orderkey")).head()
      assert(q.head() == want)
    } finally spark.conf.unset("spark.graft.iceberg.aggFoldThresholdBytes")
  }

  test("delta: one metadata fold per planned aggregate past the state-collect threshold") {
    val o = orders
    val loc = freshDir("delta-one-fold")
    val w = DeltaWriter.create(spark, loc, o.schema,
      partitionColumns = Seq("o_orderstatus"))
    w.append(o.filter(col("o_orderkey") % 2 === 0))
    w.append(o.filter(col("o_orderkey") % 2 === 1))
    w.checkpoint()
    val where = "o_orderstatus IN ('F', 'O') AND o_orderstatus <> 'P' AND o_orderstatus >= 'F'"
    spark.conf.set("spark.graft.delta.stateCollectThresholdBytes", "0")
    try {
      def planJobs(sql: String): (org.apache.spark.sql.DataFrame, Int) = {
        var q: org.apache.spark.sql.DataFrame = null
        // analysis (table state load + the fold) and optimization
        val jobs = jobsDuring { q = spark.sql(sql); q.queryExecution.optimizedPlan }
        (q, jobs)
      }
      val (q, jobs) = planJobs(
        s"SELECT count(*) AS n, min(o_orderkey) AS mn FROM `graft-delta`.`$loc` WHERE $where")
      val (u, unfiltered) = planJobs(
        s"SELECT count(*) AS n, min(o_orderkey) AS mn FROM `graft-delta`.`$loc`")
      assert(collapsed(q) && collapsed(u), "both aggregates must collapse to metadata")
      assert(unfiltered >= 1, "past the threshold the fold is a distributed replay")
      assert(jobs == unfiltered,
        s"planning a 3-filter aggregate ran $jobs jobs, the unfiltered one $unfiltered")
      val want = o.filter(col("o_orderstatus").isin("F", "O"))
        .agg(count(lit(1)), min("o_orderkey")).head()
      assert(q.head() == want)
    } finally spark.conf.unset("spark.graft.delta.stateCollectThresholdBytes")
  }

  test("zero-row data files contribute no partition bound to ungrouped MIN/MAX") {
    // a committed empty file in partition bucket=9 holds no row, so a real
    // scan's max(bucket) never sees 9; the metadata answer must not either
    val o = orders.select(col("o_orderkey"), (col("o_orderkey") % 5).cast("int").as("bucket"))
    val loc = freshDir("zero-row-bound")
    DeltaWriter.create(spark, loc, o.schema, partitionColumns = Seq("bucket")).append(o)
    val fs = new Path(loc).getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = freshDir("zero-row-bound-tmp")
    o.filter(lit(false)).drop("bucket").coalesce(1).write.parquet(tmp)
    val part = fs.listStatus(new Path(tmp))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val rel = s"bucket=9/${part.getName}"
    fs.mkdirs(new Path(loc, "bucket=9"))
    fs.rename(part, new Path(loc, rel))
    val size = fs.getFileStatus(new Path(loc, rel)).getLen
    val logDir = new Path(loc, "_delta_log")
    val nextV = fs.listStatus(logDir).map(_.getPath.getName)
      .filter(_.endsWith(".json")).map(_.stripSuffix(".json").toLong).max + 1
    val add = s"""{"add":{"path":"$rel","partitionValues":{"bucket":"9"},""" +
      s""""size":$size,"modificationTime":0,"dataChange":true,""" +
      s""""stats":"{\\"numRecords\\":0,\\"minValues\\":{},\\"maxValues\\":{},\\"nullCount\\":{}}"}}"""
    val out = fs.create(new Path(logDir, f"$nextV%020d.json"))
    out.write((add + "\n").getBytes("UTF-8")); out.close()

    val q = spark.sql(
      s"SELECT count(*) AS n, min(bucket) AS mn, max(bucket) AS mx FROM `graft-delta`.`$loc`")
    assert(collapsed(q), "the aggregate must be answered from metadata")
    assert(q.head() == org.apache.spark.sql.Row(o.count(), 0, 4),
      s"an empty file's partition value leaked into the bounds: ${q.head()}")
    // nor does the empty file's missing nullCount refuse a COUNT(col)
    val c = spark.sql(s"SELECT count(o_orderkey) AS n FROM `graft-delta`.`$loc`")
    assert(collapsed(c), "a zero-row file holds no value to count")
    assert(c.head().getLong(0) == o.count())
  }

  test("iceberg and delta: predicates the optimizer half-simplifies still collapse to metadata") {
    // the optimizer rewrites `p < 'O' OR p >= 'O'` into
    // `NOT isnull(p < 'O') OR false`, which no v1 filter expresses; the
    // collapse sees the predicates at resolution, as written
    val src = orders.withColumn("p",
      when(col("o_orderkey") % 11 === 0, lit(null: String)).otherwise(col("o_orderstatus")))
    src.createOrReplaceTempView("half_simplified_src")
    val iLoc = freshDir("half-simplified-ice")
    IcebergWriter.create(spark, iLoc, src.schema,
      partition = Seq("p" -> "identity")).append(src)
    val dLoc = freshDir("half-simplified-delta")
    DeltaWriter.create(spark, dLoc, src.schema, partitionColumns = Seq("p")).append(src)
    for {
      from <- Seq(s"`graft-iceberg`.`$iLoc`", s"`graft-delta`.`$dLoc`")
      where <- Seq("p < 'O' OR p >= 'O'", "NOT p <=> 'F' OR (p < 'F' AND p >= 'F')")
    } {
      val sql = s"SELECT count(*) AS n FROM %s WHERE $where"
      val q = spark.sql(sql.format(from))
      assert(collapsed(q) && graft.lake.sql.PlanFiles.planned(q) == 0,
        s"$from WHERE $where must be answered from metadata:\n${q.queryExecution.optimizedPlan}")
      assert(q.collect().toSeq == spark.sql(sql.format("half_simplified_src")).collect().toSeq,
        s"$from WHERE $where")
    }
  }

  test("iceberg: count(p) over a NULL identity partition is answered from metadata") {
    // every file of the NULL partition holds p all-NULL: its footer has no
    // min/max for p but an exact null count, which the manifest must carry
    val src = orders.withColumn("p",
      when(col("o_orderkey") % 11 === 0, lit(null: String)).otherwise(col("o_orderstatus")))
    src.createOrReplaceTempView("null_partition_src")
    val loc = freshDir("null-partition-ice")
    IcebergWriter.create(spark, loc, src.schema,
      partition = Seq("p" -> "identity")).append(src)
    for (where <- Seq("true", "NOT p <=> 'F' OR (p < 'F' AND p >= 'F')")) {
      val sql = s"SELECT count(*) AS n, count(p) AS np FROM %s WHERE $where"
      val q = spark.sql(sql.format(s"`graft-iceberg`.`$loc`"))
      assert(collapsed(q) && graft.lake.sql.PlanFiles.planned(q) == 0,
        s"WHERE $where must be answered from metadata:\n${q.queryExecution.optimizedPlan}")
      assert(q.collect().toSeq == spark.sql(sql.format("null_partition_src")).collect().toSeq,
        s"WHERE $where")
    }
  }

  test("delta: a cast literal and a temp view still collapse to metadata") {
    // the collapse runs at resolution, ahead of ConstantFolding and
    // EliminateView: `pl = 2` on a BIGINT column is still
    // `pl = CAST(2 AS BIGINT)`, and a temp view still wraps its plan
    val src = orders.select(col("o_orderkey"), (col("o_orderkey") % 3).as("pl"))
    val loc = freshDir("cast-view-delta")
    DeltaWriter.create(spark, loc, src.schema, partitionColumns = Seq("pl")).append(src)
    spark.read.format("graft-delta").load(loc).createOrReplaceTempView("cast_view_delta")
    val q = spark.sql("SELECT count(*) AS n, max(o_orderkey) AS mx FROM cast_view_delta WHERE pl = 2")
    assert(collapsed(q) && graft.lake.sql.PlanFiles.planned(q) == 0,
      s"must be answered from metadata:\n${q.queryExecution.optimizedPlan}")
    assert(q.head() == src.filter(col("pl") === 2).agg(count(lit(1)), max("o_orderkey")).head())
  }
}
