package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}
import graft.lake.delta.{DeltaTable, DeltaWriter}
import graft.lake.hudi.{HudiTable, HudiWriter}
import graft.lake.iceberg.{IcebergTable, IcebergWriter}

/** DECIMAL end-to-end through the three interop connectors — the
  * reference's README example declares `amount DECIMAL`
  * (pg_lakehouse_iceberg/README.md:26) and its type bridge enumerates
  * decimal (iceberg_bridge.h:59). Receipts per format:
  *
  *  - Iceberg: write/read round trip with exact decimal SUM, FILE
  *    PRUNING on decimal manifest bounds (the spec's exact
  *    unscaled-bytes serialization → ParquetStats "c" domain →
  *    FilePruner exact BigDecimal compare), and metadata-only MIN/MAX
  *    answered with zero data IO (AggPushdown.minMaxSafe lists
  *    decimal).
  *  - Delta: round trip + exact sum; decimal MIN/MAX pushdown REFUSES
  *    (the stats-JSON parse lands decimal in the lossy double domain —
  *    exact-or-refuse, documented at AggPushdown.statValue).
  *  - Hudi: COW round trip AND an MOR keyed upsert whose delta-log
  *    records carry the decimal through the Avro codec (bytes +
  *    logicalType decimal, unscaled big-endian — r12).
  */
class DecimalInteropSpec extends AnyFunSuite {
  import TestSpark._

  private def fresh(name: String): String = {
    val d = s"/root/repo/target/graft-decimal-test/$name"
    val p = new Path(d)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    d
  }

  /** orders with an exact DECIMAL(18,2) amount column. */
  private lazy val src = Tables.orders(spark, sf)
    .withColumn("amount", col("o_totalprice").cast(DecimalType(18, 2)))
    .select("o_orderkey", "o_orderstatus", "amount")

  private lazy val expSum: java.math.BigDecimal =
    src.agg(sum("amount")).head().getDecimal(0)

  private def hasAggregate(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("HashAggregate") &&
      df.queryExecution.optimizedPlan.collectLeaves().exists {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          !r.scan.isInstanceOf[graft.lake.sql.GraftAggScan]
        case _ => true
      }

  test("iceberg: decimal round trip, manifest-bound pruning, metadata min/max") {
    val loc = fresh("ice-dec")
    val w = IcebergWriter.create(spark, loc, src.schema)
    // two appends with DISJOINT amount ranges → per-file decimal bounds
    // in the manifests are the only thing that can prune between them
    w.append(src.filter(col("amount") < 100000))
    w.append(src.filter(col("amount") >= 100000))
    val t = IcebergTable.load(spark, loc)
    assert(t.schema("amount").dataType == DecimalType(18, 2),
      "decimal type must survive the metadata round trip")
    val back = spark.read.format("graft-iceberg").load(loc)
    assert(back.schema("amount").dataType == DecimalType(18, 2))
    assert(back.agg(sum("amount")).head().getDecimal(0) == expSum,
      "decimal sum must be exact through the connector")
    // pruning on the decimal column's manifest bounds
    val all = t.planFiles().size
    val lo = t.planFiles(Some(col("amount") < lit(new java.math.BigDecimal("100000.00")))).size
    assert(lo < all, s"decimal bounds must prune files ($lo of $all kept)")
    // metadata-only MIN/MAX: exact with ZERO data files opened — prove
    // it the AggPushdownSpec way, by destroying the data files first
    val expMin = src.agg(min("amount")).head().getDecimal(0)
    val expMax = src.agg(max("amount")).head().getDecimal(0)
    val dataDir = new Path(loc, "data")
    val fs = dataDir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.delete(dataDir, true))
    val got = spark.read.format("graft-iceberg").load(loc)
      .agg(min("amount").as("mn"), max("amount").as("mx")).head()
    assert(got.getDecimal(0) == expMin && got.getDecimal(1) == expMax,
      "decimal MIN/MAX must answer from manifest bounds alone")
  }

  test("delta: decimal round trip; min/max pushdown refuses (lossy stats domain)") {
    val loc = fresh("delta-dec")
    val w = DeltaWriter.create(spark, loc, src.schema)
    w.append(src)
    val back = spark.read.format("graft-delta").load(loc)
    assert(back.schema("amount").dataType == DecimalType(18, 2))
    assert(back.agg(sum("amount")).head().getDecimal(0) == expSum)
    // exact-or-refuse: decimal stats parse through the lossy double
    // domain, so the metadata answer is refused and the aggregate runs
    // as a REAL scan (exact result, data files required)
    val agg = back.agg(min("amount").as("mn"))
    assert(hasAggregate(agg), "delta decimal min/max must NOT push to metadata")
    assert(agg.head().getDecimal(0) == src.agg(min("amount")).head().getDecimal(0))
  }

  test("hudi: decimal through COW base files and MOR avro log records") {
    val cowLoc = fresh("hudi-dec-cow")
    HudiWriter.create(spark, cowLoc, src.schema, keyField = "o_orderkey")
      .insert(src)
    val cow = spark.read.format("graft-hudi").load(cowLoc)
    assert(cow.schema("amount").dataType == DecimalType(18, 2))
    assert(cow.agg(sum("amount")).head().getDecimal(0) == expSum)

    val morLoc = fresh("hudi-dec-mor")
    val mor = HudiWriter.create(spark, morLoc, src.schema,
      keyField = "o_orderkey", tableType = "MERGE_ON_READ")
    mor.insert(src.limit(200))
    // the upsert's rewritten rows ride the MOR delta log → the Avro
    // decimal codec (bytes + logicalType decimal) is on the read path
    val bumped = src.limit(50)
      .withColumn("amount", (col("amount") + lit(new java.math.BigDecimal("0.25")))
        .cast(DecimalType(18, 2)))
    mor.upsert(bumped)
    val t = HudiTable.load(spark, morLoc)
    val merged = t.scan()
    assert(merged.count() == 200)
    val expMor = src.limit(200).join(bumped.select(col("o_orderkey").as("k"),
        col("amount").as("newAmount")), col("o_orderkey") === col("k"), "left")
      .select(coalesce(col("newAmount"), col("amount")).as("amount"))
      .agg(sum("amount")).head().getDecimal(0)
    assert(merged.agg(sum("amount")).head().getDecimal(0) == expMor,
      "decimal values merged from MOR avro log records must be exact")
  }
}
