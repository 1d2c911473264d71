package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The staged-file writer of all four table formats (graft, Delta,
  * Iceberg, Hudi): every data, delete, change-data, slice and checkpoint
  * parquet file a writer commits is produced by [[stage]], so the
  * write → list → rename → footer → clean-up sequence exists once. The
  * formats keep only their protocol parts: file naming (`dest`), how the
  * returned partition dirs and footers become actions / manifest entries
  * / slices, and the publish step.
  *
  * The per-file finalize (mkdirs + rename + footer read) runs on a
  * bounded driver-side IO pool: independent metadata RPCs that, run
  * sequentially, made commit latency O(files) — a 707-partition index
  * build spent 350 s there at sf1 (same posture as Iceberg's worker-pool
  * manifest writes). */
object CommitIo {
  val Threads: Int = 16

  /** Runs `write(stage)` under [[ParquetStats.withMicrosTimestamps]]
    * into one fresh `_`-prefixed staging dir under `root`, then moves
    * every staged parquet file (sorted by path; `i` is its index in
    * that order) to `dest(rel, i)`, where `rel` is its partition sub-path
    * below the staging dir ("" or `k=v[/k2=v2]`). Returns one
    * `(dest, rel, footer)` per file, in that order. The staging dir is
    * deleted in a `finally`: a failed write or rename leaves none behind
    * (files already moved stay behind unreferenced by any commit).
    * `write` may run several passes into the staging dir;
    * only what it leaves there is moved. */
  def stage(spark: SparkSession, root: Path)(write: Path => Unit)(
      dest: (String, Int) => Path): Seq[(Path, String, ParquetStats.FileFooter)] = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = root.getFileSystem(conf)
    val staging = new Path(root, s"_tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    try {
      ParquetStats.withMicrosTimestamps(spark)(write(staging))
      val moves = ParquetStats.listParquet(fs, staging).zipWithIndex.map { case (src, i) =>
        val rel = HivePartitionedRead.relDir(staging, src)
        (src, rel, dest(rel, i))
      }
      require(moves.map(_._3).distinct.size == moves.size,
        s"staged files of $root map to colliding destinations")
      inIoPool(moves) { case (src, rel, to) =>
        fs.mkdirs(to.getParent)
        if (!fs.rename(src, to)) throw new java.io.IOException(s"rename $src -> $to failed")
        (to, rel, ParquetStats.footer(conf, to))
      }
    } finally fs.delete(staging, true)
  }

  /** Runs `f` over `xs` on a bounded driver-side IO pool, preserving
    * input order; the first failure propagates after the pool drains.
    * Hadoop FileSystem clients are thread-safe for these metadata ops. */
  def inIoPool[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    if (xs.isEmpty) return Nil
    if (xs.length == 1) return Seq(f(xs.head))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(Threads, xs.length))
    val futures = xs.map(x => pool.submit(new java.util.concurrent.Callable[B] {
      override def call(): B = f(x)
    }))
    try futures.map(_.get())
    catch {
      // rethrow the worker's ORIGINAL exception (callers match on it) and
      // stop outstanding IO — without the cancel, renames/stat calls keep
      // running while the caller unwinds a failed commit
      case e: java.util.concurrent.ExecutionException =>
        futures.foreach(_.cancel(true))
        throw (if (e.getCause != null) e.getCause else e)
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(30, java.util.concurrent.TimeUnit.SECONDS)
    }
  }
}
