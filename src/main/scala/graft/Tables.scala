package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Mirrors the reference's table-open path
  * (pg_lakehouse_iceberg/src/operations/table_ops.c) — but here a "table
  * open" is just a lazy parquet scan node; Catalyst handles projection
  * pushdown and filter pushdown into the vectorized parquet reader, which
  * is the Spark-native equivalent of the reference's Arrow batch bridge
  * (src/operations/scan_ops.c:28-30).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet schema-inference cache (r17 opt): every `spark.read.parquet`
    * fires a footer-inference job, and the 137-entry suite re-infers the
    * same input files' schemas hundreds of times per session. The cache
    * stores the schema EXACTLY as the inference path produced it (already
    * forced nullable by DataSource — the r16 ParquetStats lesson), keyed
    * on (nanosAsLong conf, qualified path, mtime, length) so a regenerated
    * file or a differently-configured session misses. Single FILES only
    * (the driver's testdata layout); directories keep full inference. */
  private val schemaCache =
    new graft.lake.BlobCache[String, org.apache.spark.sql.types.StructType](256)

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val st =
      try p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p)
      catch { case _: Throwable => null }
    if (st == null || !st.isFile) return spark.read.parquet(path)
    val nanos = spark.sessionState.conf
      .getConfString("spark.sql.legacy.parquet.nanosAsLong", "false")
    val key = s"$nanos:${st.getPath}:${st.getModificationTime}:${st.getLen}"
    spark.read.schema(schemaCache.get(key)(spark.read.parquet(path).schema)).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** events.ts has shipped as BOTH parquet TIMESTAMP(NANOS) (physical
    * int64, surfaced as LongType via spark.sql.legacy.parquet.nanosAsLong,
    * which all graft session builders still set) and plain timestamp[us]
    * (the driver regenerated testdata mid-r07 — VERDICT r07 What's-wrong
    * #1). Hardcoding either unit breaks when the other arrives, so the
    * loader branches on the LOADED dtype and normalizes to micros
    * TimestampType. The nanos long is floor-divided with integer `div` (a
    * double division would lose µs precision: nanos epochs exceed the
    * 53-bit mantissa — ADVICE r01); NTZ is cast per session tz, which every
    * graft builder pins to UTC, so the cast is micro-exact. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventsTs(apply(s, d, "events"))

  /** Normalize an events frame's `ts` to micros TimestampType whatever
    * physical type the parquet carried. Shared by every events reader —
    * the r07 break came from a second, explicit-schema read path in
    * streaming that silently divided µs by 1000. */
  def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType      => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other (expected BIGINT nanos, TIMESTAMP, or TIMESTAMP_NTZ)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Row count of a parquet file/dir from FOOTERS ONLY — a driver-side
    * O(files) metadata read, no Spark job. Sizing decisions (LSH band
    * width, IVF centroid count) need n BEFORE the corpus scan; a
    * `df.count()` there is a full extra pass over the data per operator
    * at 100 TB (r02 verdict #3). An engine reads this from its manifest
    * (GraftTable keeps rowCount per file); for raw parquet dirs the
    * footers ARE the manifest. */
  def rowCount(s: SparkSession, path: String): Long =
    graft.lake.ParquetStats.rowCount(s.sessionState.newHadoopConf(),
      new org.apache.hadoop.fs.Path(path))

  /** Spreads a narrow input across the cluster before compute-heavy
    * per-row work. The test corpora are single small parquet files → one
    * input partition → one task doing all the hashing; at 100 TB the
    * source arrives in thousands of splits and this is a no-op (the guard
    * keeps it from adding a shuffle when parallelism already exists). */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // one physical planning (df.rdd) learns the REAL read-split count —
    // file count alone is wrong in BOTH directions: Spark packs many
    // small files into one partition (count overstates parallelism) and
    // splits one large file at maxPartitionBytes (count understates it —
    // a file-count gate would force a full corpus shuffle on a dataset
    // of few big splittable files that already reads wide)
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }
}
