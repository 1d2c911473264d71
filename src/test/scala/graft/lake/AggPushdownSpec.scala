package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** Metadata-only aggregate pushdown (AggPushdown + LakeScanBuilder).
  *
  * The load-bearing assertions are (a) plan shape — a pushed aggregate has
  * NO Aggregate node left in the optimized plan (complete pushdown turns it
  * into a Project over the one-row scan), a refused one keeps it — and
  * (b) the destruction test: after DELETING every data file, a pushed
  * aggregate still answers correctly, which proves no data IO happens.
  */
class AggPushdownSpec extends AnyFunSuite {
  import TestSpark._

  private val cat = "graft_aggpd"
  spark.conf.set(s"spark.sql.catalog.$cat",
    classOf[graft.lake.sql.GraftSqlCatalog].getName)
  spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
    "/root/repo/target/graft-lake-test/aggpd-wh")

  private def freshTable(name: String, df: DataFrame, partitionBy: Seq[String] = Nil,
      keyColumns: Seq[String] = Nil): GraftTable = {
    val loc = s"/root/repo/target/graft-lake-test/aggpd-wh/$name"
    val p = new Path(loc)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    GraftTable.create(spark, loc, df, partitionBy = partitionBy, keyColumns = keyColumns)
  }

  private def hasAggregate(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.nonEmpty

  test("count/min/max push to metadata: no Aggregate node, exact values") {
    val o = Tables.orders(spark, sf)
    freshTable("basic", o, partitionBy = Seq("o_orderstatus"))
    val got = spark.sql(
      s"""SELECT count(*) AS n, min(o_orderkey) AS mn, max(o_orderkey) AS mx,
                min(o_orderdate) AS d0, max(o_orderdate) AS d1
          FROM $cat.basic WHERE o_orderstatus = 'F'""")
    assert(!hasAggregate(got), "aggregate should be answered from metadata")
    val exp = o.filter(col("o_orderstatus") === "F")
      .agg(count(lit(1)), min("o_orderkey"), max("o_orderkey"),
        min("o_orderdate"), max("o_orderdate")).head()
    val g = got.head()
    assert(g.getLong(0) == exp.getLong(0))
    assert(g.getLong(1) == exp.getLong(1) && g.getLong(2) == exp.getLong(2))
    // o_orderdate is TIMESTAMP_NTZ (raw parquet is timestamp[ms], no tz)
    assert(g.get(3) == exp.get(3))
    assert(g.get(4) == exp.get(4))
  }

  test("long-shared-prefix string partitions stay DISTINCT in pushed filters") {
    // regression: the string→BigDecimal embedding used scala BigDecimal
    // arithmetic, whose default MathContext rounds at 34 digits —
    // '2024-01-01' and '2024-01-02' (6+ shared prefix chars) embedded
    // EQUAL, so a metadata COUNT with an equality filter counted OTHER
    // partitions' rows
    val sp = spark; import sp.implicits._
    val df = (Seq.fill(7)("2024-01-01") ++ Seq.fill(11)("2024-01-02") ++
      Seq.fill(3)("2024-01-03")).zipWithIndex
      .map { case (d, i) => (i.toLong, d) }.toDF("id", "day")
    freshTable("strpart", df, partitionBy = Seq("day"))
    val got = spark.sql(
      s"SELECT count(*) AS n FROM $cat.strpart WHERE day = '2024-01-02'")
    assert(!hasAggregate(got), "filtered count must push to metadata")
    assert(got.head.getLong(0) == 11,
      "prefix-sharing partitions must not collapse to one embedding")
    val range = spark.sql(
      s"SELECT count(*) AS n FROM $cat.strpart WHERE day > '2024-01-01'")
    assert(range.head.getLong(0) == 14)
  }

  test("pushed aggregates survive data-file destruction (zero data IO)") {
    val o = Tables.orders(spark, sf)
    val t = freshTable("destroyed", o, partitionBy = Seq("o_orderstatus"))
    val expN = o.count()
    val expMn = o.agg(min("o_orderkey")).head().getLong(0)
    // delete the data directory outright: only manifests remain
    val dataDir = new Path(t.location, "data")
    val fs = dataDir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.delete(dataDir, true))
    val got = spark.sql(
      s"SELECT count(*) AS n, min(o_orderkey) AS mn FROM $cat.destroyed").head()
    assert(got.getLong(0) == expN && got.getLong(1) == expMn)
    // and a NON-pushable query over the gutted table must fail loudly,
    // not return wrong data — proving the pushed one really never read
    intercept[Throwable] {
      spark.sql(s"SELECT sum(o_orderkey) FROM $cat.destroyed").head()
    }
  }

  test("partition-filtered pushdown survives destruction of pruned MANIFESTS") {
    // the metadata-plane analogue of the data-file destruction test: a
    // partition-filtered metadata aggregate must consult ONLY the manifests
    // whose summary can match the filter — deleting every other manifest
    // from disk (and flushing the JVM blob cache) proves the walk is
    // O(matching partitions' manifests), not O(table inventory)
    val sp = spark; import sp.implicits._
    def part(p: String, from: Int, n: Int) =
      (from until from + n).map(i => (i.toLong, p)).toDF("id", "p")
    val t = freshTable("mfdestroyed", part("a", 0, 40), partitionBy = Seq("p"))
    t.append(part("b", 100, 40))
    t.append(part("c", 200, 40))
    val entries = t.meta.currentSnapshot.get.manifestEntries
    assert(entries.size == 3 && entries.forall(_._2.isDefined))
    val fs = new Path(t.location).getFileSystem(spark.sessionState.newHadoopConf())
    val doomed = entries.collect {
      case (rel, Some(s)) if !s.pvals("p").contains("b") => rel
    }
    assert(doomed.size == 2, s"expected 2 non-b manifests, got ${doomed.size}")
    doomed.foreach(rel => assert(fs.delete(new Path(t.location, rel), false)))
    GraftTable.manifestCache.invalidateAll()
    val got = spark.sql(
      s"SELECT count(*) AS n, max(id) AS mx FROM $cat.mfdestroyed WHERE p = 'b'")
    assert(!hasAggregate(got), "aggregate should be answered from metadata")
    val g = got.head()
    assert(g.getLong(0) == 40L && g.getLong(1) == 139L)
    // unfiltered COUNT(*) takes the O(1) snapshot-totalRows path: it
    // answers with ZERO manifest IO even though two manifests are gone
    GraftTable.manifestCache.invalidateAll()
    val all = spark.sql(s"SELECT count(*) AS n FROM $cat.mfdestroyed")
    assert(!hasAggregate(all))
    assert(all.head().getLong(0) == 120L)
    // unfiltered MIN/MAX/COUNT(col) answer from the manifest-list COLUMN
    // RANGE summaries with zero manifest IO (r06) — even with two
    // manifests destroyed
    GraftTable.manifestCache.invalidateAll()
    val mm = spark.sql(
      s"SELECT min(id) AS mn, max(id) AS mx, count(id) AS n FROM $cat.mfdestroyed")
    assert(!hasAggregate(mm))
    val r = mm.head()
    assert(r.getLong(0) == 0L && r.getLong(1) == 239L && r.getLong(2) == 120L)
    // GROUP BY genuinely needs per-file partition values — loud failure,
    // proving the aggregates above never touched the destroyed manifests
    GraftTable.manifestCache.invalidateAll()
    intercept[Throwable] {
      spark.sql(
        s"SELECT p, count(*) AS n FROM $cat.mfdestroyed GROUP BY p").collect()
    }
  }

  test("MoR deletes disable pushdown; result stays correct") {
    val o = Tables.orders(spark, sf)
    val t = freshTable("withdel", o, keyColumns = Seq("o_orderkey"))
    t.delete(col("o_orderstatus") === "F")
    val got = spark.sql(s"SELECT count(*) AS n FROM $cat.withdel")
    assert(hasAggregate(got), "deletes must force the fallback plan")
    assert(got.head().getLong(0) == o.filter(col("o_orderstatus") =!= "F").count())
    // compaction folds the deletes -> pushdown comes back
    t.compact()
    val after = spark.sql(s"SELECT count(*) AS n FROM $cat.withdel")
    assert(!hasAggregate(after), "compaction should restore pushdown")
    assert(after.head().getLong(0) == o.filter(col("o_orderstatus") =!= "F").count())
  }

  test("min/max on string and double columns fall back (truncation / NaN)") {
    val o = Tables.orders(spark, sf)
    freshTable("strmm", o)
    val s1 = spark.sql(s"SELECT min(o_orderpriority) AS m FROM $cat.strmm")
    assert(hasAggregate(s1))
    assert(s1.head().getString(0) == o.agg(min("o_orderpriority")).head().getString(0))
    val s2 = spark.sql(s"SELECT max(o_totalprice) AS m FROM $cat.strmm")
    assert(hasAggregate(s2))
  }

  test("filter on a non-partition column falls back; on identity partition pushes") {
    val o = Tables.orders(spark, sf)
    freshTable("filters", o, partitionBy = Seq("o_orderstatus"))
    val np = spark.sql(s"SELECT count(*) AS n FROM $cat.filters WHERE o_orderkey < 100")
    assert(hasAggregate(np), "non-partition filter cannot be exact")
    assert(np.head().getLong(0) == o.filter(col("o_orderkey") < 100).count())
    val p = spark.sql(
      s"SELECT count(*) AS n FROM $cat.filters WHERE o_orderstatus IN ('F','O')")
    assert(!hasAggregate(p))
    assert(p.head().getLong(0) ==
      o.filter(col("o_orderstatus").isin("F", "O")).count())
  }

  test("null partitions: IS NULL filter and count(col) account exactly") {
    val o = Tables.orders(spark, sf)
    val withNulls = o.withColumn("status_n",
      when(col("o_orderkey") % 7 === 0, lit(null: String))
        .otherwise(col("o_orderstatus")))
    freshTable("nullpart", withNulls, partitionBy = Seq("status_n"))
    val isNull = spark.sql(
      s"SELECT count(*) AS n FROM $cat.nullpart WHERE status_n IS NULL")
    assert(!hasAggregate(isNull))
    assert(isNull.head().getLong(0) == withNulls.filter(col("status_n").isNull).count())
    // count(col) over the whole table: nulls live in the hive NULL dir
    val cnt = spark.sql(s"SELECT count(status_n) AS n FROM $cat.nullpart")
    assert(!hasAggregate(cnt))
    assert(cnt.head().getLong(0) == withNulls.filter(col("status_n").isNotNull).count())
    // equality never matches the null partition
    val eq = spark.sql(
      s"SELECT count(*) AS n FROM $cat.nullpart WHERE status_n = 'F'")
    assert(!hasAggregate(eq))
    assert(eq.head().getLong(0) == withNulls.filter(col("status_n") === "F").count())
  }

  test("count(col) via footer null counts on a non-partition column") {
    val o = Tables.orders(spark, sf)
    val withNulls = o.withColumn("key_n",
      when(col("o_orderkey") % 5 === 0, lit(null: java.lang.Long))
        .otherwise(col("o_orderkey")))
    freshTable("nullcnt", withNulls)
    val got = spark.sql(s"SELECT count(key_n) AS n, count(*) AS all FROM $cat.nullcnt")
    assert(!hasAggregate(got))
    val r = got.head()
    assert(r.getLong(0) == withNulls.filter(col("key_n").isNotNull).count())
    assert(r.getLong(1) == withNulls.count())
  }

  test("empty survivor set answers count=0 / min=null") {
    val o = Tables.orders(spark, sf)
    freshTable("emptysel", o, partitionBy = Seq("o_orderstatus"))
    val got = spark.sql(
      s"""SELECT count(*) AS n, min(o_orderkey) AS mn
          FROM $cat.emptysel WHERE o_orderstatus = 'ZZZ'""")
    assert(!hasAggregate(got))
    val r = got.head()
    assert(r.getLong(0) == 0L && r.isNullAt(1))
  }

  test("partition evolution: files without the partition value force fallback") {
    val o = Tables.orders(spark, sf)
    val t = freshTable("evolved", o.filter(col("o_orderkey") % 2 === 0))
    t.setPartitioning(Seq("o_orderstatus"))
    t.append(o.filter(col("o_orderkey") % 2 === 1))
    val got = spark.sql(
      s"SELECT count(*) AS n FROM $cat.evolved WHERE o_orderstatus = 'F'")
    assert(hasAggregate(got),
      "pre-evolution files lack the partition value; filter must stay residual")
    assert(got.head().getLong(0) == o.filter(col("o_orderstatus") === "F").count())
    // unfiltered count still pushes (no filter to decide)
    val all = spark.sql(s"SELECT count(*) AS n FROM $cat.evolved")
    assert(!hasAggregate(all))
    assert(all.head().getLong(0) == o.count())
  }

  test("partition evolution: a group column missing only from filtered-out files still pushes") {
    val o = Tables.orders(spark, sf)
      .withColumn("region", when(col("o_orderkey") % 3 === 0, lit("EU")).otherwise(lit("US")))
    val t = freshTable("evolvedgrp", o.filter(col("o_orderstatus") === "F"),
      partitionBy = Seq("o_orderstatus"))
    t.setPartitioning(Seq("o_orderstatus", "region"))
    t.append(o.filter(col("o_orderstatus") =!= "F"))
    // the pre-evolution files lack `region`, but every one of them is 'F'
    val got = spark.sql(
      s"""SELECT region, count(*) AS n FROM $cat.evolvedgrp
          WHERE o_orderstatus <> 'F' GROUP BY region""")
    assert(!hasAggregate(got), "files the filter excludes need no group value")
    assert(got.collect().map(_.toString).sorted.toSeq ==
      o.filter(col("o_orderstatus") =!= "F").groupBy("region").count()
        .collect().map(_.toString).sorted.toSeq)
  }

  test("schema rename keeps min/max pushdown via field-id stats mapping") {
    val o = Tables.orders(spark, sf)
    val t = freshTable("renamed", o.filter(col("o_orderkey") % 2 === 0))
    t.renameColumn("o_orderkey", "okey")
    t.append(o.filter(col("o_orderkey") % 2 === 1).withColumnRenamed("o_orderkey", "okey"))
    val got = spark.sql(s"SELECT min(okey) AS mn, max(okey) AS mx FROM $cat.renamed")
    assert(!hasAggregate(got), "old files' stats resolve by field id")
    val r = got.head()
    assert(r.getLong(0) == o.agg(min("o_orderkey")).head().getLong(0))
    assert(r.getLong(1) == o.agg(max("o_orderkey")).head().getLong(0))
  }

  test("GROUP BY identity partition column pushes: one metadata row per partition") {
    val o = Tables.orders(spark, sf)
    freshTable("grouped", o, partitionBy = Seq("o_orderstatus"))
    val got = spark.sql(
      s"""SELECT o_orderstatus, count(*) AS n,
                 min(o_orderkey) AS mn, max(o_orderkey) AS mx
          FROM $cat.grouped GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    assert(!hasAggregate(got), "grouped aggregate should collapse to metadata rows")
    val exp = o.groupBy("o_orderstatus")
      .agg(count(lit(1)), min("o_orderkey"), max("o_orderkey"))
      .orderBy("o_orderstatus").collect()
    val g = got.collect()
    assert(g.length == exp.length)
    g.zip(exp).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0))
      assert(a.getLong(1) == b.getLong(1) && a.getLong(2) == b.getLong(2) &&
        a.getLong(3) == b.getLong(3))
    }
    // grouped + partition filter composes; empty survivor set → no rows
    val filtered = spark.sql(
      s"""SELECT o_orderstatus, count(*) AS n FROM $cat.grouped
          WHERE o_orderstatus IN ('F','O') GROUP BY o_orderstatus""")
    assert(!hasAggregate(filtered))
    assert(filtered.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      o.filter(col("o_orderstatus").isin("F", "O")).groupBy("o_orderstatus")
        .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    val none = spark.sql(
      s"SELECT o_orderstatus, count(*) AS n FROM $cat.grouped WHERE o_orderstatus = 'ZZZ' GROUP BY o_orderstatus")
    assert(!hasAggregate(none) && none.count() == 0)
    // GROUP BY a NON-partition column must fall back
    val np = spark.sql(
      s"SELECT o_orderpriority, count(*) AS n FROM $cat.grouped GROUP BY o_orderpriority")
    assert(hasAggregate(np))
    assert(np.count() == o.select("o_orderpriority").distinct().count())
  }

  test("GROUP BY groups the hive NULL partition as SQL NULL") {
    val o = Tables.orders(spark, sf)
    val withNulls = o.withColumn("status_g",
      when(col("o_orderkey") % 7 === 0, lit(null: String))
        .otherwise(col("o_orderstatus")))
    freshTable("groupnull", withNulls, partitionBy = Seq("status_g"))
    val got = spark.sql(
      s"SELECT status_g, count(*) AS n FROM $cat.groupnull GROUP BY status_g")
    assert(!hasAggregate(got))
    val gm = got.collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    val em = withNulls.groupBy("status_g").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(gm == em)
  }

  test("lossy-translatable filters are never consumed (Or over null-safe eq)") {
    // regression: a filter whose toColumn translation is WEAKER than the
    // original (one-sided And under an Or, <=> has no v1 translation)
    // must stay residual — consuming it would leak rows from files the
    // exact predicate excludes
    val o = Tables.orders(spark, sf)
      .withColumn("region", when(col("o_orderkey") % 3 === 0, lit("EU"))
        .otherwise(lit("US")))
    freshTable("lossy", o, partitionBy = Seq("o_orderstatus", "region"))
    val q = spark.sql(
      s"""SELECT count(*) AS n FROM $cat.lossy
          WHERE (o_orderstatus = 'F' AND region <=> 'EU') OR o_orderstatus = 'P'""")
    val exp = o.filter((col("o_orderstatus") === "F" && col("region") <=> "EU") ||
      col("o_orderstatus") === "P").count()
    assert(q.head().getLong(0) == exp)
  }

  test("V1 scan reports manifest-derived statistics (broadcast sizing)") {
    val o = Tables.orders(spark, sf)
    val t = freshTable("stats", o, partitionBy = Seq("o_orderstatus"))
    val scan = new graft.lake.sql.LakeScanBuilder(graft.lake.sql.GraftSqlCatalog.read(t, "stats")).build()
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
    val st = scan.estimateStatistics()
    val files = t.meta.currentSnapshot.get.dataFiles
    assert(st.numRows().getAsLong == files.map(_.rowCount).sum)
    assert(st.sizeInBytes().getAsLong == files.map(_.sizeBytes).sum)
    // with a pushed partition filter, the estimate shrinks to the pruned set
    val sb = new graft.lake.sql.LakeScanBuilder(graft.lake.sql.GraftSqlCatalog.read(t, "stats"))
    sb.pushFilters(Array(org.apache.spark.sql.sources.EqualTo("o_orderstatus", "F")))
    val pruned = sb.build()
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(pruned.sizeInBytes().getAsLong < st.sizeInBytes().getAsLong)
  }

  test("time travel pushes against the pinned snapshot") {
    val o = Tables.orders(spark, sf)
    val t = freshTable("ttagg", o.filter(col("o_orderkey") % 2 === 0))
    t.append(o.filter(col("o_orderkey") % 2 === 1))
    val got = spark.sql(s"SELECT count(*) AS n FROM $cat.ttagg VERSION AS OF 1")
    assert(!hasAggregate(got))
    assert(got.head().getLong(0) == o.filter(col("o_orderkey") % 2 === 0).count())
  }

  test("without the native-scan rule, the DSv2 scan answers grouped aggregates too") {
    val o = Tables.orders(spark, sf)
    freshTable("groupedv1", o, partitionBy = Seq("o_orderstatus"))
    spark.conf.set("spark.graft.nativeScan.enabled", "false")
    try {
      val got = spark.sql(
        s"""SELECT o_orderstatus, count(*) AS n, min(o_orderkey) AS mn, max(o_orderdate) AS md
            FROM $cat.groupedv1 WHERE o_orderstatus <> 'P' GROUP BY o_orderstatus""")
      assert(!hasAggregate(got), "the grouped aggregate should be pushed to the scan")
      assert(got.queryExecution.executedPlan.toString.contains("GraftAggScan"))
      val exp = o.filter(col("o_orderstatus") =!= "P").groupBy("o_orderstatus")
        .agg(count(lit(1)), min("o_orderkey"), max("o_orderdate"))
      assert(got.collect().map(_.toString).sorted.toSeq ==
        exp.collect().map(_.toString).sorted.toSeq)
    } finally spark.conf.set("spark.graft.nativeScan.enabled", "true")
  }

  test("a constant riding along an aggregate select still pushes") {
    val o = Tables.orders(spark, sf)
    freshTable("constcol", o, partitionBy = Seq("o_orderstatus"))
    val got = spark.sql(
      s"""SELECT 'tag' AS src, o_orderstatus, count(*) AS n
          FROM $cat.constcol GROUP BY o_orderstatus""")
    assert(!hasAggregate(got), "aggregate should be answered from metadata")
    assert(got.collect().map(_.toString).sorted.toSeq ==
      o.groupBy("o_orderstatus").count()
        .select(lit("tag"), col("o_orderstatus"), col("count"))
        .collect().map(_.toString).sorted.toSeq)
  }
}
