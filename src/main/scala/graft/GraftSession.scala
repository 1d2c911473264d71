package graft

import org.apache.spark.sql.SparkSession

/** The one Spark configuration every graft entry point runs in: the
  * mains (Bench, Verify, PlanDump, ScaleData) and the test harness
  * (`TestSpark`). Two builders stay outside it on purpose: the fixture
  * generator shares no code with graft, and perfbench's harness pins its
  * own session next to the benchmark it defines.
  *
  * `cpus` defaults to `SPARK_GRAFT_CPUS`, else 4; nothing else reads it.
  */
object GraftSession {
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** The session, built on first call (`getOrCreate` returns the live one
    * afterwards). */
  def apply(cpus: Int = defaultCpus): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // if events.parquet ships as TIMESTAMP(NANOS), read nanos as long
      // (Tables.events branches on the loaded dtype); harmless for
      // timestamp[us] inputs
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // hold every warmed generated class: the default 100-entry codegen
      // cache LRU-evicts a warm pass's classes before the timed pass
      // reaches them (137 queries × several codegen units each). Static
      // conf, driver-memory-bounded (compiled classes, not data).
      .config("spark.sql.codegen.cache.maxEntries", "10000")
    scratchDir.foreach(b.config("spark.local.dir", _))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops every persisted RDD and the SQL cache, so each entry starts
    * against empty storage memory: a `persist()` one entry leaks must
    * not change the next one's plan or timing. */
  def isolate(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.sharedState.cacheManager.clearCache()
  }

  /** Shuffle and spill scratch on the RAM-backed tmpfs when it is
    * writable (Spark docs for `spark.local.dir`: "this should be on a
    * fast, local disk"); otherwise Spark's default. Only scratch moves:
    * tables still land on the real filesystem, so the measured
    * write → commit → scan path is unchanged. Spark's `SPARK_LOCAL_DIRS`
    * overrides this, as it overrides any `spark.local.dir`. */
  private def scratchDir: Option[String] = {
    val shm = new java.io.File("/dev/shm")
    if (!shm.isDirectory || !shm.canWrite) None
    else {
      val d = new java.io.File(shm, "graft-spark-local")
      d.mkdirs()
      if (d.canWrite) Some(d.getAbsolutePath) else None
    }
  }
}
