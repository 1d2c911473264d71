package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.immutable.VectorMap

import org.apache.spark.sql.SparkSession

/** One workload instance: its inputs, tables and reference model. The
  * harness builds several instances during setup and times the last. */
trait Workload {
  /** Generates the inputs under `dir` and builds the tables the ops use. */
  def build(dir: String): Unit
  /** Runs every op kind once, untimed, so JIT and codegen are warm. */
  def warmup(): Unit
  /** Rounds in one pass of the op schedule; a run times whole passes. */
  def cycle: Int
  /** One closed-loop round of ops, each issued after the previous one
    * returned. */
  def round(i: Int, rec: Recorder): Unit
  /** End-of-run correctness checks: marks ops whose answers are wrong as
    * failed, and returns one message per failed check of the end state. */
  def verify(rec: Recorder): Seq[String]
  /** User rows the timed ops committed or curated (rows_per_s). */
  def rows: Long
  /** Input properties the code's behaviour depends on. */
  def inputs: Seq[(String, Any)]
  /** Workload-specific end-to-end figures for the report, given the file
    * bytes written during the timed loop: (name, value, unit). */
  def report(bytesWritten: Long): Seq[(String, Double, String)] = Nil
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m.getOrElse("seed", Gen.DefaultSeed.toString).toLong,
      m.getOrElse("seconds", "10").toInt, m.getOrElse("trace", "0") == "1", m("work"))
  }

  def cpus: Int = Runtime.getRuntime.availableProcessors

  /** The session every workload runs in: local[cpus], one shuffle
    * partition per core, graft's SQL extensions and catalog, shuffle files and
    * warehouse under the run's work directory. */
  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.catalog.bench", classOf[graft.lake.sql.GraftSqlCatalog].getName)
      .config("spark.sql.catalog.bench.warehouse", s"$work/catalog")
      // keep Spark's own job bookkeeping small, so the live heap is graft's
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
      .config("spark.hadoop.fs.file.impl.disable.cache", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "commit_chain" => new CommitChain(spark, seed)
    case "scan_mix" => new ScanMix(spark, seed)
    case "curate_corpus" => new CurateCorpus(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Builds per run; setup_s counts their median. */
  val BuildReps = 3

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a.work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    var code = 1
    try {
      val out = run(spark, a, sessionS)
      code = if (out) 0 else 1
    } finally {
      spark.stop()
    }
    System.out.flush()
    sys.exit(code)
  }

  /** Old-generation bytes still in use after full collections. The pause
    * lets Spark's cleaner drop the cached blocks and shuffles of
    * DataFrames the first collection found unreachable. */
  def liveHeap(): Long = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    Counters.oldGenAfterGc()
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Runs setup and the timed loop, prints the report and the JSON line;
    * true when every check passed. */
  def run(spark: SparkSession, a: Args, sessionS: Double): Boolean = {
    // set-up: the build runs several times, each into its own directory,
    // and the last build is warmed up and timed. A traced run also keeps
    // the build before it, an identical twin that runs every round
    // untraced, so tracing overhead compares ops on the same state.
    val kept = if (a.trace) 2 else 1
    val builds = (0 until BuildReps).map { k =>
      val t0 = System.nanoTime()
      val w = workload(a.workload, spark, a.seed)
      w.build(s"${a.work}/build-$k")
      if (k < BuildReps - kept) deleteTree(new File(s"${a.work}/build-$k"))
      ((System.nanoTime() - t0) / 1e9, w)
    }
    val w = builds.last._2
    val t0 = System.nanoTime()
    w.warmup()
    val warmS = (System.nanoTime() - t0) / 1e9
    val buildS = Stats.median(builds.map(_._1))
    val setupS = sessionS + buildS + warmS
    val twin = if (a.trace) Some(builds(BuildReps - 2)._2) else None
    twin.foreach(_.warmup())
    val heapAfterSetup = liveHeap()

    val rec = new Recorder(spark.sparkContext, a.trace)
    val c0 = Counters.sample()
    val start = System.nanoTime()
    val deadline = start + a.seconds * 1000000000L
    // whole passes of the schedule only, so every run times the same op mix
    var i = 0
    while (System.nanoTime() < deadline || i % w.cycle != 0) {
      rec.round = i
      twin match {
        case None => w.round(i, rec)
        case Some(t) =>
          // the round traced on one instance and untraced on the twin, in
          // alternating order, so neither side always runs second
          val order = if (i % 2 == 0) Seq(w -> true, t -> false) else Seq(t -> false, w -> true)
          order.foreach { case (x, on) => rec.setTracing(on); x.round(i, rec) }
      }
      i += 1
    }
    val wallS = (System.nanoTime() - start) / 1e9
    val written = (Counters.sample() - c0).bytesWritten
    rec.close()
    val heapAfterLoop = liveHeap()
    val heap = math.max(heapAfterSetup, heapAfterLoop)
    val checks = w.verify(rec) ++ twin.toSeq.flatMap(_.verify(rec))

    val ops = rec.ops.toSeq
    val failedOps = ops.count(_.failed)
    val failed = math.min(ops.length, failedOps + checks.length)
    // a failed op counts as the slowest possible one, never a fast one
    val lat = ops.map(o => if (o.failed) wallS * 1000 else o.ms)
    val layers = Layers(rec, cpus)
    val layerFailures = layers.failures
    val correct = failed == 0 && layerFailures.isEmpty && ops.nonEmpty

    // ---- human-readable report (everything before the last line) ----
    println(s"workload ${a.workload}: seed ${a.seed}, ${a.seconds} s, trace ${if (a.trace) 1 else 0}, " +
      s"closed loop, 1 client, local[$cpus], ${i} rounds")
    w.inputs.foreach { case (k, v) => println(f"  input   $k%-34s $v") }
    val e2e = VectorMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "op_p50_ms" -> (Stats.hdQuantile(lat, 0.5), "ms"),
      "ops_per_s" -> (ops.length / wallS, "1/s"),
      "rows_per_s" -> (w.rows / wallS, "1/s"),
      "peak_heap_mb" -> (heap / 1048576.0, "MB"))
    def line(tag: String, k: String, v: Double, u: String, extra: String = "") =
      println(f"  $tag%-7s $k%-34s $v%.4f $u $extra")
    e2e.foreach { case (k, (v, u)) => line("metric", k, v, u) }
    Stats.reportablePercentile(lat.length) match {
      case Some(p) => line("metric", s"op_p${if (p % 10 == 0) p / 10 else p / 10.0}_ms",
        Stats.hdQuantile(lat, p / 1000.0), "ms",
        s"(highest percentile with 10 samples beyond it; n=${lat.length})")
      case None => println(s"  metric  op_p90_ms not reported: ${lat.length} samples leave " +
        "fewer than 10 beyond p75")
    }
    line("metric", "failed_op_ratio", failed.toDouble / math.max(1, ops.length), "ratio",
      s"($failed of ${ops.length})")
    w.report(written).foreach { case (k, v, u) => line("metric", k, v, u) }
    println(f"  heap    after set-up ${heapAfterSetup / 1048576.0}%.1f MB, after the loop ${heapAfterLoop / 1048576.0}%.1f MB")
    println(f"  setup   session $sessionS%.3f s + median build $buildS%.3f s " +
      s"(${builds.map(b => "%.3f".format(b._1)).mkString(", ")}) + warm-up ${"%.3f".format(warmS)} s")
    checks.foreach(c => println(s"  CHECK FAILED: $c"))
    layerFailures.foreach(c => println(s"  TRACE CHECK FAILED: $c"))
    if (a.trace) layers.metrics.foreach { case (k, (v, u)) => line("layer", k, v, u) }
    ops.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, xs) =>
      val ms = xs.map(_.ms)
      println(f"  op      $k%-34s n=${xs.length}%-4d p50 ${Stats.median(ms)}%.1f ms, " +
        s"in order: ${ms.map(m => f"$m%.0f").mkString(" ")}")
    }

    val metrics = if (a.trace) layers.metrics else e2e
    println(Stats.json(VectorMap(
      "correct" -> correct, "attempted" -> math.max(1, ops.length), "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> VectorMap("value" -> v, "unit" -> u) })))
    correct
  }
}
