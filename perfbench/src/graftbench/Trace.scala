package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** `file:` FileSystem that counts the metadata calls a commit or a scan
  * makes. Installed as `fs.file.impl` in every run, traced or not, so both
  * run the same code; only the traced run reads the counters. Each count
  * is one call on the user-facing FileSystem API (the checksum side files
  * the local filesystem writes underneath are not counted separately). */
class CountingLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  import CountingLocalFileSystem._
  override def create(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable) = {
    creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long, progress: org.apache.hadoop.util.Progressable) = {
    creates.incrementAndGet()
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    renames.incrementAndGet(); super.rename(src, dst)
  }
  override def open(f: Path, bufferSize: Int) = {
    opens.incrementAndGet()
    val seen = opened
    if (seen != null && f.getName.endsWith(".parquet")) seen.add(f.toString)
    super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    lists.incrementAndGet(); super.listLocatedStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    statusCalls.incrementAndGet(); super.getFileStatus(f)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    deletes.incrementAndGet(); super.delete(f, recursive)
  }
}

object CountingLocalFileSystem {
  val creates, renames, opens, lists, statusCalls, deletes = new AtomicLong()
  /** When set, collects the parquet files opened for reading. */
  @volatile var opened: java.util.Set[String] = null

  /** Runs `body` and returns how many distinct parquet files it opened. */
  def parquetFilesOpened[T](body: => T): (T, Int) = {
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    opened = seen
    try (body, seen.size) finally opened = null
  }
}

/** Process-wide counters sampled at span boundaries. */
final case class Counters(creates: Long, renames: Long, opens: Long, lists: Long,
    statusCalls: Long, deletes: Long, bytesWritten: Long, bytesRead: Long, gcMs: Long) {
  def -(o: Counters): Counters = Counters(creates - o.creates, renames - o.renames,
    opens - o.opens, lists - o.lists, statusCalls - o.statusCalls, deletes - o.deletes,
    bytesWritten - o.bytesWritten, bytesRead - o.bytesRead, gcMs - o.gcMs)
  def +(o: Counters): Counters = Counters(creates + o.creates, renames + o.renames,
    opens + o.opens, lists + o.lists, statusCalls + o.statusCalls, deletes + o.deletes,
    bytesWritten + o.bytesWritten, bytesRead + o.bytesRead, gcMs + o.gcMs)
  /** create + rename + open + list + getFileStatus + delete calls. */
  def fsOps: Long = creates + renames + opens + lists + statusCalls + deletes
}

object Counters {
  val zero: Counters = Counters(0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val oldPool = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old") || p.getName.contains("Tenured"))

  def sample(): Counters = {
    import CountingLocalFileSystem._
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Counters(creates.get, renames.get, opens.get, lists.get, statusCalls.get,
      deletes.get, st.map(_.getBytesWritten).sum, st.map(_.getBytesRead).sum,
      gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum)
  }

  /** Old-generation bytes in use after the most recent full collection. */
  def oldGenAfterGc(): Long =
    oldPool.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).getOrElse(0L)
}

/** A timed interval: an op (parent -1) or a call inside an op (parent =
  * the op's id); the op's Spark jobs are its other children, as
  * [[JobRec]]s. Times are epoch milliseconds (Spark's listener clock),
  * with the wall also kept at nanosecond resolution. */
final case class Span(opId: Long, parent: Long, name: String, startMs: Long,
    endMs: Long, wallNs: Long, counters: Counters)

/** Spark job seen by the listener, attributed to the op whose id rode the
  * job's local properties. */
final class JobRec(val jobId: Int, val opId: Long, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var tasks, cpuNs, runMs, gcMs, shuffleWrite, spill, inputBytes, outputBytes = 0L
}

/** Listener behind the traced run. Jobs carry the op id in the local
  * property [[Tracer.OpKey]], set on the client thread before every op;
  * Spark copies local properties into every job the thread (or a thread
  * it spawns) submits, so the attribution is exact. */
final class Tracer extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]().asScala
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]().asScala

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpKey)))
      .map(_.toLong).getOrElse(-1L)
    val r = new JobRec(e.jobId, op, e.time)
    jobs(e.jobId) = r
    e.stageIds.foreach(s => stageJob(s) = r)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    stageJob.get(e.stageId).foreach { r =>
      r.synchronized {
        r.tasks += 1
        if (m != null) {
          r.cpuNs += m.executorCpuTime
          r.runMs += m.executorRunTime
          r.gcMs += m.jvmGCTime
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.spill += m.diskBytesSpilled
          r.inputBytes += m.inputMetrics.bytesRead
          r.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }
}

object Tracer {
  val OpKey = "graftbench.op"
  /** Op id of jobs the harness itself runs between ops, such as counting
    * a table's files for a ratio; they belong to no op. */
  val Aside = -2L
}

/** One timed op: its kind, the schedule round it ran in, and whether it
  * was traced. */
final case class OpSample(kind: String, round: Int, wallNs: Long, traced: Boolean,
    failed: Boolean = false) {
  def ms: Double = wallNs / 1e6
}

/** Times ops for the report and, in a traced run, records them as spans
  * with their calls and Spark jobs as children. One client thread. */
final class Recorder(sc: SparkContext, val traced: Boolean) {
  /** Every timed op, in order. */
  val ops = mutable.ArrayBuffer[OpSample]()
  val spans = mutable.ArrayBuffer[Span]()
  val tracer = new Tracer
  private var nextId = 0L
  private var current = -1L
  private var on = false
  /** Whether the current round is traced. */
  def tracing: Boolean = on
  /** Schedule round of the ops being recorded. */
  var round = 0
  setTracing(traced)

  /** A traced run runs every round twice, traced and untraced, so the
    * tracing overhead (listener included) is measured inside one run;
    * spans come from the traced ops only. */
  def setTracing(enable: Boolean): Unit = if (traced && enable != on) {
    if (enable) sc.addSparkListener(tracer)
    else {
      org.apache.spark.graftbench.ListenerBus.drain(sc)
      sc.removeSparkListener(tracer)
    }
    on = enable
  }

  private def timed[T](opId: Long, parent: Long, name: String)(body: => T): (T, Span) = {
    val c0 = Counters.sample()
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val out = body
    val n1 = System.nanoTime()
    val t1 = System.currentTimeMillis()
    (out, Span(opId, parent, name, t0, t1, n1 - n0, Counters.sample() - c0))
  }

  /** Runs one timed op of kind `name` (e.g. `delta.upsert`). Returns None,
    * with the op recorded as failed, when the op throws. */
  def op[T](name: String)(body: => T): Option[T] = {
    val id = nextId; nextId += 1
    if (tracing) {
      sc.setLocalProperty(Tracer.OpKey, id.toString)
      current = id
    }
    val c0 = if (tracing) Counters.sample() else Counters.zero
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val out =
      try Right(body)
      catch { case e: Exception => Left(e) }
      finally {
        current = -1L
        if (tracing) sc.setLocalProperty(Tracer.OpKey, null)
      }
    val wall = System.nanoTime() - n0
    ops += OpSample(name, round, wall, tracing, failed = out.isLeft)
    if (tracing) spans += Span(id, -1L, name, t0, System.currentTimeMillis(), wall,
      Counters.sample() - c0)
    out.left.foreach(e => System.err.println(s"perfbench: op $name failed: $e"))
    out.toOption
  }

  /** Sums of per-op quantities a workload reports in traced rounds,
    * such as files planned or user bytes committed. */
  val notes = mutable.Map[String, Double]().withDefaultValue(0.0)
  def note(key: String, value: Double): Unit = if (tracing) notes(key) += value

  /** Marks the latest op failed: it threw or answered wrongly. */
  def failLast(): Unit = fail(ops.length - 1)
  /** Marks op `index` failed, e.g. when its answer is checked after the run. */
  def fail(index: Int): Unit = ops(index) = ops(index).copy(failed = true)

  /** Harness work between ops, such as counting a table's files for a
    * ratio: its Spark jobs are marked [[Tracer.Aside]], not left without
    * an op. */
  def aside[T](body: => T): T =
    if (!tracing) body
    else {
      sc.setLocalProperty(Tracer.OpKey, Tracer.Aside.toString)
      try body finally sc.setLocalProperty(Tracer.OpKey, null)
    }

  /** A call inside the current op, recorded as its child span when traced. */
  def call[T](name: String)(body: => T): T =
    if (!tracing || current < 0) body
    else {
      val (out, s) = timed(current, current, name)(body)
      spans += s
      out
    }

  /** Ops of traced rounds, by op id. */
  def tracedOps: Seq[Span] = spans.filter(_.parent < 0).toSeq

  def close(): Unit = setTracing(false)
}
