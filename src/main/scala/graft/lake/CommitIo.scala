package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The IO every commit of the four table formats (graft, Delta,
  * Iceberg, Hudi) goes through; the formats keep only their protocol
  * parts (file naming, how footers become actions / manifest entries /
  * slices, the bytes of the commit point).
  *
  *  - [[stage]] produces every data, delete, change-data, slice and
  *    checkpoint parquet file a writer commits. Its per-file finalize
  *    (mkdirs + rename + footer read) runs on a bounded driver-side IO
  *    pool: run sequentially, those RPCs made commit latency O(files) — a
  *    707-partition index build spent 350 s there at sf1.
  *  - [[publish]] writes every commit point (graft `vN.json`, Delta
  *    `_delta_log/N.json`, Iceberg `vN.metadata.json`, Hudi instants) and
  *    table-creation marker. Contract: the file appears whole or not at
  *    all, and of two committers racing to one commit point exactly one
  *    wins; the loser leaves nothing behind and gets a
  *    `ConcurrentModificationException`. Writers advance their in-memory
  *    state only after it returns. */
object CommitIo {
  val Threads: Int = 16

  /** An arbitrated commit point: the catalog compare-and-swap of
    * `arbiter`'s version pointer from `version - 1` to `version`, naming
    * the table-relative blob `rel`. */
  final case class Cas(arbiter: CommitArbiter, version: Long, rel: String)

  /** Publishes `bytes` as the commit point `dst`.
    *
    *  - Path-addressed (no `cas`): write a hidden tmp file next to `dst`
    *    (`.<name>.<nonce>.tmp`, which no reader lists), then rename it to
    *    `dst` iff `dst` does not exist, under an in-JVM lock per
    *    destination directory (POSIX rename overwrites, so the check
    *    alone is TOCTOU). Across processes this relies on
    *    rename-fails-if-dst-exists, as on HDFS-class stores — the posture
    *    of Delta's local LogStore and Iceberg's HadoopTableOperations.
    *  - Arbitrated (`cas`): `dst` is a nonce-named blob, written
    *    create-only; the catalog CAS is the commit point, so no rename
    *    semantics are assumed (S3-class stores, where rename is
    *    copy+delete and never fails on an existing destination).
    *
    * Any other IO failure propagates as is, with the tmp file removed
    * (an arbiter that throws may have recorded the blob, so it stays). */
  def publish(fs: FileSystem, dst: Path, bytes: Array[Byte],
      cas: Option[Cas] = None): Unit = {
    val written = cas match {
      case Some(_) => dst
      case None => new Path(dst.getParent,
        s".${dst.getName}.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    }
    def discard(): Unit = try fs.delete(written, false) catch { case _: Exception => () }
    try {
      val out = fs.create(written, false)
      try out.write(bytes) finally out.close()
    } catch { case e: Exception => discard(); throw e }
    val won = cas match {
      case Some(c) => c.arbiter.commitVersion(c.version - 1, c.version, c.rel)
      case None =>
        val dir = fs.makeQualified(dst.getParent).toString
        try commitLocks.computeIfAbsent(dir, _ => new Object).synchronized {
          !fs.exists(dst) && fs.rename(written, dst)
        } catch { case e: Exception => discard(); throw e }
    }
    if (!won) {
      discard()
      throw new java.util.ConcurrentModificationException(
        s"concurrent commit: $dst was published by another writer; " +
          "reload the table and retry")
    }
  }

  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

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
