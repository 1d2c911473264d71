package graftbench

import scala.collection.immutable.VectorMap

/** A traced op with its jobs, the union of their intervals and the rest
  * of the op's wall (driver-only time), in ms. */
final case class View(span: Span, jobs: Seq[JobRec], jobMs: Long, driverMs: Double)

/** Per-layer metrics of a traced run, derived from the op spans, their
  * call spans and the Spark jobs the listener attributed to each op. */
final case class Layers(metrics: VectorMap[String, (Double, String)], failures: Seq[String])

object Layers {
  /** Lake op kinds that publish a commit (a replayed stream batch does not). */
  val CommitKinds = Set("append", "stream_append", "upsert", "delete_rewrite",
    "delete_masked", "maintain")

  /** Slack when a job's interval is compared with its op's: both are
    * epoch milliseconds, and the scheduler posts a job's end just after it
    * wakes the caller. */
  val ClockSlackMs = 20L

  private def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
  private def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Union length of intervals, after clipping them to [lo, hi]. */
  def union(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var cur = lo
    clipped.foreach { case (a, b) =>
      if (a > cur) cur = a
      if (b > cur) { covered += b - cur; cur = b }
    }
    covered
  }

  /** Checks the listener's attribution of `jobs` to the traced `ops`. An
    * op's driver-only time is its wall minus the union of its jobs'
    * intervals by definition, so the checks are on the attribution it rests
    * on: every job carries the id of a traced op (or [[Tracer.Aside]]), has
    * ended, and lies inside its op's interval; and the executor time of an
    * op's tasks, which executors measure on their own, fits in its job
    * intervals on `cores` task slots. Returns the failures, the longest
    * time a job ran outside its op in ms, and the jobs without a traced op. */
  def attribution(ops: Seq[Span], jobs: Seq[JobRec], cores: Int): (Seq[String], Double, Int) = {
    val failures = Seq.newBuilder[String]
    val byId = ops.map(o => o.opId -> o).toMap
    val orphans = jobs.filter(j => j.opId != Tracer.Aside && !byId.contains(j.opId))
    if (orphans.nonEmpty)
      failures += s"${orphans.size} Spark jobs carry no traced op id (" +
        orphans.take(5).map(j => s"job ${j.jobId} op ${j.opId}").mkString(", ") + ")"
    var worst = 0.0
    jobs.filter(j => byId.contains(j.opId)).groupBy(_.opId).foreach { case (id, js) =>
      val s = byId(id)
      val outside = js.map { j =>
        if (j.endMs < 0) Double.PositiveInfinity
        else (math.max(0L, s.startMs - j.startMs) + math.max(0L, j.endMs - s.endMs)).toDouble
      }.max
      worst = math.max(worst, outside)
      if (outside > ClockSlackMs)
        failures += f"op $id ${s.name}: a job ran $outside%.0f ms outside the op's wall clock"
      val covered = union(js.map(j => (j.startMs, j.endMs)), s.startMs, s.endMs)
      val taskMs = js.map(_.runMs).sum
      // executors report run time in whole ms per task
      val room = covered * cores + js.map(_.tasks).sum + ClockSlackMs * cores
      if (taskMs > room)
        failures += s"op $id ${s.name}: tasks ran $taskMs ms, more than $cores slots hold " +
          s"in its $covered ms of jobs"
    }
    (failures.result(), worst, orphans.size)
  }

  def apply(rec: Recorder, cores: Int): Layers = {
    val ops = rec.tracedOps
    val children = rec.spans.filter(_.parent >= 0).groupBy(_.parent)
    val allJobs = rec.tracer.jobs.values.toSeq
    val jobsByOp = allJobs.groupBy(_.opId)
    val (failures, outsideMs, orphans) = attribution(ops, allJobs, cores)

    val views = ops.map { s =>
      val jobs = jobsByOp.getOrElse(s.opId, Nil)
      val covered = union(jobs.map(j => (j.startMs, j.endMs)), s.startMs, s.endMs)
      View(s, jobs, covered, s.wallNs / 1e6 - covered)
    }
    def kindOf(name: String) = name.substring(name.indexOf('.') + 1)
    def fmtOf(name: String) = name.takeWhile(_ != '.')
    def childMs(pred: String => Boolean, child: String) =
      median(ops.filter(o => pred(o.name)).flatMap(o =>
        children.getOrElse(o.opId, Nil).filter(_.name == child).map(_.wallNs / 1e6)))

    val m = VectorMap.newBuilder[String, (Double, String)]
    for (f <- Lake.Formats) {
      val mine = views.filter(v => fmtOf(v.span.name) == f)
      def kindMs(kinds: String*) =
        median(mine.filter(v => kinds.contains(kindOf(v.span.name))).map(_.span.wallNs / 1e6))
      val commits = mine.filter(v => CommitKinds(kindOf(v.span.name)))
      m += s"$f.append_ms" -> (kindMs("append"), "ms")
      m += s"$f.stream_append_ms" -> (kindMs("stream_append"), "ms")
      m += s"$f.upsert_ms" -> (kindMs("upsert"), "ms")
      m += s"$f.delete_ms" -> (kindMs("delete_rewrite", "delete_masked"), "ms")
      m += s"$f.maintain_ms" -> (kindMs("maintain"), "ms")
      m += s"$f.commit_driver_ms" -> (median(commits.map(_.driverMs)), "ms")
      m += s"$f.commit_jobs" -> (mean(commits.map(_.jobs.size.toDouble)), "count")
      m += s"$f.commit_fs_ops" -> (mean(commits.map(_.span.counters.fsOps.toDouble)), "count")
      m += s"$f.load_ms" -> (childMs(fmtOf(_) == f, "load"), "ms")
      m += s"$f.plan_ms" -> (childMs(fmtOf(_) == f, "plan"), "ms")
      m += s"$f.scan_ms" -> (childMs(fmtOf(_) == f, "scan"), "ms")
      val total = rec.notes(s"$f.files_total")
      m += s"$f.files_planned_ratio" -> (if (total > 0) rec.notes(s"$f.files_planned") / total else 0.0, "ratio")
      val user = rec.notes(s"$f.user_bytes")
      m += s"$f.write_amp" -> (if (user > 0) commits.map(_.span.counters.bytesWritten).sum / user else 0.0, "ratio")
    }
    val sqlOps = ops.count(o => fmtOf(o.name) == "sql")
    m += "sql.analyze_ms" -> (childMs(fmtOf(_) == "sql", "analyze"), "ms")
    m += "sql.exec_ms" -> (childMs(fmtOf(_) == "sql", "exec"), "ms")
    m += "sql.files_read" -> (if (sqlOps > 0) rec.notes("sql.files_read") / sqlOps else 0.0, "count")
    for (c <- Seq("pipeline", "ngram", "embedding"))
      m += s"curate.${c}_ms" -> (childMs(fmtOf(_) == "curate", c), "ms")

    val n = math.max(1, views.size).toDouble
    val jobs = views.flatMap(_.jobs)
    def perOp(x: Double) = x / n
    m += "spark.jobs" -> (perOp(jobs.size), "count")
    m += "spark.tasks" -> (perOp(jobs.map(_.tasks).sum), "count")
    m += "spark.job_ms" -> (perOp(views.map(_.jobMs).sum), "ms")
    m += "spark.driver_only_ms" -> (perOp(views.map(_.driverMs).sum), "ms")
    m += "spark.task_cpu_ms" -> (perOp(jobs.map(_.cpuNs).sum / 1e6), "ms")
    m += "spark.task_run_ms" -> (perOp(jobs.map(_.runMs).sum), "ms")
    m += "spark.gc_ms" -> (perOp(jobs.map(_.gcMs).sum), "ms")
    m += "spark.shuffle_write_bytes" -> (perOp(jobs.map(_.shuffleWrite).sum), "bytes")
    m += "spark.spill_bytes" -> (perOp(jobs.map(_.spill).sum), "bytes")
    m += "spark.task_input_bytes" -> (perOp(jobs.map(_.inputBytes).sum), "bytes")
    m += "spark.task_output_bytes" -> (perOp(jobs.map(_.outputBytes).sum), "bytes")
    val fs = views.map(_.span.counters).foldLeft(Counters.zero)(_ + _)
    m += "fs.creates" -> (perOp(fs.creates), "count")
    m += "fs.renames" -> (perOp(fs.renames), "count")
    m += "fs.opens" -> (perOp(fs.opens), "count")
    m += "fs.lists" -> (perOp(fs.lists), "count")
    m += "fs.status_calls" -> (perOp(fs.statusCalls), "count")
    m += "fs.deletes" -> (perOp(fs.deletes), "count")
    m += "fs.bytes_written" -> (perOp(fs.bytesWritten), "bytes")
    m += "fs.bytes_read" -> (perOp(fs.bytesRead), "bytes")
    m += "jvm.gc_ms" -> (perOp(fs.gcMs), "ms")

    // tracing overhead: each round ran traced on one instance and untraced
    // on its twin, so every traced op has an untraced op of the same kind on
    // the same state
    val ratios = rec.ops.filter(!_.failed).groupBy(o => (o.round, o.kind)).values.flatMap { xs =>
      val (t, u) = xs.partition(_.traced)
      t.zip(u).map { case (x, y) => x.ms / y.ms }
    }
    m += "trace.overhead_pct" -> (if (ratios.isEmpty) 0.0 else 100 * (median(ratios) - 1), "%")
    m += "trace.job_outside_op_ms" -> (outsideMs, "ms")
    m += "trace.unattributed_jobs" -> (orphans.toDouble, "count")
    Layers(m.result(), failures)
  }
}
