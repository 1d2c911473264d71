package graft

/** Per-round benchmark. One JSON line: total + per-query seconds.
  *
  * r03 isolation fixes (r02 verdict):
  * - queries run in SORTED order (a hash-map order made run-to-run
  *   comparisons noisy) and each starts from a clean slate: every cached/
  *   persisted dataset from the previous query is dropped (several
  *   operators persist() intermediates; leaked pins were the leading
  *   suspect for q15/q19's 6-8 s outliers) and a GC runs so one query's
  *   garbage is not the next one's pause.
  * - setup is timed SEPARATELY from execution: `fn(spark, dir)` builds
  *   lake tables / stages stream inputs (driver-side Spark jobs of the
  *   harness, not of the measured query), while `exec` is the noop-sink
  *   run of the returned plan. "queries" stays setup+exec for
  *   comparability with r02; "exec"/"setup" break it down.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    // optional args = query-name filter, for targeted perf iteration
    // (none → full suite)
    val selected = SparkEntry.select(args.toSeq)
    // warm up JVM / codegen / parquet reader so the first timed query
    // doesn't absorb cold-start (~4s of the r01 numbers was warmup)
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // r16 (optimization round, guide §1.4): extend that warmup to EVERY
    // query at the sf0.001 smoke scale. Each entry's one-time costs —
    // Janino compilation of its generated classes (cache-keyed by source,
    // so the sf0.1 run hits the cache) and HotSpot warmup of its hot
    // paths — otherwise land in that entry's FIRST timed run. At real
    // scale those costs are noise; at sf0.1 they dominated several
    // sub-second entries (q15_string_funcs measured 1.31 s cold vs 0.10 s
    // warm with identical plans). Timed numbers below remain one
    // cold-cache-free run per query at $SPARK_GRAFT_SF_DIR, same sinks,
    // same isolation. Only the queries this invocation times warm.
    locally {
      val warmDir = "/root/testdata/sf0.001"
      if (new java.io.File(warmDir).isDirectory)
        selected.foreach { case (_, fn) =>
          try {
            GraftSession.isolate(spark)
            fn(spark, warmDir).write.format("noop").mode("overwrite").save()
          } catch { case _: Throwable => () }
        }
    }

    // a crashed query must be an explicit error entry, NOT a ~0.1 s "win":
    // r07's 10 ts-broken queries were silently recorded at exec 0.0 and
    // poisoned the headline geomean (VERDICT r07 What's-wrong #2). Errored
    // queries are excluded from every total and listed under "errors".
    val results = selected.map { case (name, fn) =>
      GraftSession.isolate(spark)
      System.gc()
      def msg(e: Throwable) =
        s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      val t0 = System.nanoTime()
      val planned =
        try Right(fn(spark, sfDir))
        catch { case e: Throwable => Left(msg(e)) }
      val t1 = System.nanoTime()
      // noop sink executes the FULL plan incl. projected columns; a
      // count() would let Catalyst prune every column (ADVICE r01)
      val err: Option[String] = planned match {
        case Left(e) => Some(e)
        case Right(df) =>
          try { df.write.format("noop").mode("overwrite").save(); None }
          catch { case e: Throwable => Some(msg(e)) }
      }
      val t2 = System.nanoTime()
      (name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, err)
    }
    val ok = results.filter(_._4.isEmpty)
    val errored = results.collect { case (n, _, _, Some(e)) => (n, e) }
    def jmap(f: ((String, Double, Double, Option[String])) => Double): String =
      ok.map { case r @ (k, _, _, _) => s"\"" + k + "\":" + round3(f(r)) }
        .mkString("{", ",", "}")
    val errJson = errored.map { case (k, e) => s"${Verify.quote(k)}:${Verify.quote(e)}" }
      .mkString("{", ",", "}")
    val total = ok.map(r => r._2 + r._3).sum
    val setupTotal = ok.map(_._2).sum
    // The driver's stdout capture proved tail-truncating in r03 (only the
    // LAST dict of the line survived, losing the totals). Two fixes:
    // per-query exec/setup breakdowns go to a FILE, and the printed line
    // is compact (3-dp) and ordered so the totals sit at the END — a tail
    // keeps the metric either way.
    // drift-protocol controls (BASELINE.md): untouched-since-r01 queries
    // whose blessed sf0.1 exec values anchor an ambient-drift estimate.
    // Every run carries its control ratios so a verdict can separate
    // ambient host drift (controls move identically) from a real
    // regression (suspect moves, controls don't) without a separate
    // isolated trio run. Re-bless these constants only with BASELINE.md.
    val controlBlessed = Map(
      "dedup_exact" -> 0.22, "q02_agg_groupby" -> 0.55, "text_tokens" -> 0.20)
    // blessed constants are sf0.1 figures — at other scales the ratios
    // would read as phantom drift, so the block stays empty there
    val controlRatios: Seq[(String, Double)] =
      if (!sfDir.stripSuffix("/").endsWith("sf0.1")) Nil
      else ok.flatMap {
        case (n, _, exec, _) => controlBlessed.get(n).map(b => n -> exec / b) }
    val controlsJson =
      if (controlRatios.isEmpty) "{}"
      else {
        val geo = math.exp(controlRatios
          .map(r => math.log(math.max(r._2, 1e-9))).sum / controlRatios.size)
        (controlRatios.map { case (n, r) => s""""$n":${round3(r)}""" } :+
          s""""ambient_geomean":${round3(geo)}""").mkString("{", ",", "}")
      }
    val fullJson = s"""{"metric":"total","unit":"sec","sf":"$sfDir"""" +
      s""","setup_total":${round3(setupTotal)},"queries":${jmap(r => r._2 + r._3)}""" +
      s""","exec":${jmap(_._3)},"setup":${jmap(_._2)}""" +
      s""","controls":$controlsJson""" +
      s""","errors":$errJson,"n_errors":${errored.size},"value":${round3(total)}}"""
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("GRAFT_BENCH_OUT", "/root/repo/target/bench_full.json"))
    // a bare filename has no parent — don't NPE away the suite's results
    Option(outPath.getParent)
      .foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(outPath, fullJson.getBytes("UTF-8"))
    // stop Spark FIRST, then print the metric line as the very LAST
    // stdout of the process and flush. The driver's capture window is a
    // ~2000-char TAIL: a 90-query map is ~2.9 KB, so rounds 3-6 all
    // clipped the head of the line and `parsed` stayed null. The final
    // line is therefore COMPACT (< 300 bytes at any suite size): totals
    // and counts only. The full per-query map (totals + exec/setup
    // splits) lives in bench_full.json, pointed at by "bench_full".
    spark.stop()
    println(s"""{"metric":"total","unit":"sec","sf":"$sfDir"""" +
      s""","n":${ok.size},"n_errors":${errored.size},"setup_total":${round3(setupTotal)}""" +
      s""","controls":$controlsJson""" +
      s""","bench_full":"$outPath","value":${round3(total)}}""")
    System.out.flush()
  }

  private def round3(v: Double): Double = math.rint(v * 1000) / 1000
}
