package graftbench

import org.apache.spark.sql.Row

/** The benchmark's own tests: `python3 perfbench/run.py --self-test`.
  * Prints one line per test and exits non-zero when any fails. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok    $name") }
    catch {
      case e: Throwable =>
        failures += 1
        println(s"FAIL  $name: $e")
    }

  private def expectEq[T](got: T, want: T, what: String = ""): Unit =
    if (got != want) throw new AssertionError(s"$what got $got, want $want")

  def main(argv: Array[String]): Unit = {
    val work = argv.grouped(2).collect { case Array("--work", v) => v }.toSeq.head

    test("percentile rule: highest percentile with at least 10 samples beyond it") {
      expectEq(Stats.reportablePercentile(39), None, "n=39")
      expectEq(Stats.reportablePercentile(40), Some(750), "n=40")
      expectEq(Stats.reportablePercentile(99), Some(750), "n=99")
      expectEq(Stats.reportablePercentile(100), Some(900), "n=100")
      expectEq(Stats.reportablePercentile(999), Some(900), "n=999")
      expectEq(Stats.reportablePercentile(1000), Some(990), "n=1000")
      expectEq(Stats.reportablePercentile(10000), Some(999), "n=10000")
    }

    test("quantiles interpolate between order statistics") {
      expectEq(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
      val q = Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.9)
      if (math.abs(q - 4.6) > 1e-9) throw new AssertionError(s"p90 of 1..5 is $q, want 4.6")
      // Harrell-Davis: symmetric samples keep their centre, constants stay put,
      // and a two-cluster sample gets a median between the clusters' edges
      val hd = Stats.hdQuantile(Seq(5.0, 1.0, 4.0, 2.0, 3.0), 0.5)
      if (math.abs(hd - 3.0) > 1e-9) throw new AssertionError(s"HD median of 1..5 is $hd")
      val c = Stats.hdQuantile(Seq.fill(7)(2.5), 0.9)
      if (math.abs(c - 2.5) > 1e-9) throw new AssertionError(s"HD p90 of a constant is $c")
      val two = Stats.hdQuantile(Seq.fill(18)(100.0) ++ Seq.fill(19)(300.0), 0.5)
      if (two <= 100.0 || two >= 300.0) throw new AssertionError(s"HD median of two clusters is $two")
    }

    test("job intervals are clipped to the op and their union measured") {
      // op [100, 200); jobs [90, 120) and [110, 130) overlap; [150, 160); [190, 230)
      expectEq(Layers.union(Seq((90L, 120L), (110L, 130L), (150L, 160L),
        (190L, 230L)), 100L, 200L), 50L, "covered")
    }

    test("trace attribution: misplaced, orphaned and overfull jobs fail the run") {
      val op = Span(7L, -1L, "graft.append", 1000L, 1400L, 400000000L, Counters.zero)
      def job(id: Int, opId: Long, start: Long, end: Long, tasks: Long = 4, runMs: Long = 100) = {
        val j = new JobRec(id, opId, start)
        j.endMs = end; j.tasks = tasks; j.runMs = runMs
        j
      }
      def check(jobs: JobRec*) = Layers.attribution(Seq(op), jobs, 4)
      val good = Seq(job(1, 7L, 1010L, 1100L), job(2, 7L, 1200L, 1390L), job(3, Tracer.Aside, 1500L, 1600L))
      expectEq(check(good: _*)._1, Seq.empty[String], "jobs inside their op")
      def fails(what: String, jobs: JobRec*) = {
        val (f, _, _) = check(jobs: _*)
        if (f.isEmpty) throw new AssertionError(s"$what went unnoticed")
      }
      fails("a job ending 100 ms after its op", job(1, 7L, 1300L, 1500L))
      fails("a job starting 50 ms before its op", job(1, 7L, 950L, 1100L))
      fails("a job that never ended", job(1, 7L, 1100L, -1L))
      fails("a job with no op id", job(1, 7L, 1010L, 1100L), job(2, -1L, 1200L, 1300L))
      fails("a job of an op that was not traced", job(1, 8L, 1010L, 1100L))
      fails("more task time than the job intervals hold", job(1, 7L, 1010L, 1100L, runMs = 1000))
      expectEq(check(job(1, 7L, 1300L, 1500L))._2, 100.0, "time outside the op")
      expectEq(check(job(2, -1L, 1200L, 1300L))._3, 1, "unattributed jobs")
    }

    test("generator: the same seed gives the same inputs, another seed others") {
      def sig(seed: Long) = {
        val s = Gen.shard(seed, 0, 300, 0L, 0L)
        (s.docs, s.vecs.map(_.embedding.toSeq), s.nearDupPairs, s.nearVecPairs)
      }
      expectEq(sig(5L), sig(5L))
      if (sig(5L) == sig(6L)) throw new AssertionError("seeds 5 and 6 gave the same corpus")
      val r1 = Gen.rng(5L, "commit_chain"); val r2 = Gen.rng(5L, "commit_chain")
      expectEq((0 until 50).map(i => Gen.row(r1, i, 4, 0)), (0 until 50).map(i => Gen.row(r2, i, 4, 0)))
    }

    test("generator: the measured corpus shape and the planted copies") {
      val s = Gen.shard(Gen.HeldOutSeed, 1, 1000, 5000L, 400L)
      expectEq(s.docs.size, 1000)
      expectEq(s.docs.map(_.id), (5000L until 6000L).toIndexedSeq, "ids")
      expectEq(s.vecs.map(_.id), (400L until 800L).toIndexedSeq, "vector ids")
      expectEq(s.exactPairs.size, 2, "exact copies")
      expectEq(s.nearDupPairs.size, 50, "near copies")
      expectEq(s.nearVecPairs.size, 20, "near vector copies")
      expectEq(s.uniqueTexts, 998, "distinct texts")
      val byId = s.docs.map(d => d.id -> d).toMap
      s.exactPairs.foreach { case (a, b) => expectEq(byId(a).text, byId(b).text, "exact copy") }
      s.nearDupPairs.foreach { case (a, b) =>
        val (x, y) = (byId(a).text, byId(b).text)
        if (x != y + " dup" && y != x + " dup") throw new AssertionError(s"pair ($a, $b) is no near copy")
      }
      val base = s.docs.filterNot(d => d.text.endsWith(" dup")).map(_.text.split(' ').length)
      if (base.min < Gen.MinWords || base.max > Gen.MaxWords || base.max - base.min < 80)
        throw new AssertionError(s"word counts span ${base.min}..${base.max}")
      val en = s.docs.count(_.lang == "en") / 1000.0
      if (math.abs(en - 0.41) > 0.06) throw new AssertionError(s"en share $en")
      expectEq(s.docs.map(_.lang).distinct.sorted, Gen.Langs.map(_._1), "languages")
      val byVec = s.vecs.map(v => v.id -> v.embedding.map(_.toDouble)).toMap
      s.nearVecPairs.foreach { case (a, b) =>
        val c = byVec(a).zip(byVec(b)).map { case (u, v) => u * v }.sum
        if (c < 0.98) throw new AssertionError(s"vector pair ($a, $b) has cosine $c")
      }
    }

    val spark = Main.session(work)
    try {
      test("commit_chain: tables match the reference model after a tiny chain") {
        val w = new CommitChain(spark, 3L)
        w.build(s"$work/chain")
        w.warmup()
        val rec = new Recorder(spark.sparkContext, traced = true)
        (0 until w.cycle).foreach(i => w.round(i, rec))
        rec.close()
        expectEq(rec.ops.filter(_.failed).map(_.kind), Seq.empty[String], "failed ops")
        expectEq(w.verify(rec), Seq.empty[String], "end-state checks")
        expectEq(Layers(rec, Main.cpus).failures, Seq.empty[String], "trace attribution")
      }

      test("commit_chain: a row written behind the model's back fails the check") {
        val w = new CommitChain(spark, 4L)
        w.build(s"$work/chain-tampered")
        val delta = graft.lake.delta.DeltaWriter.open(spark, s"$work/chain-tampered/delta")
        delta.append(Lake.frame(spark, Seq(LakeRow(-1L, 3, 0L, "stray"))))
        val rec = new Recorder(spark.sparkContext, traced = false)
        val checks = w.verify(rec)
        if (!checks.exists(_.startsWith("delta: 0 rows missing, 1 extra")))
          throw new AssertionError(s"checks were $checks")
      }

      test("scan_mix: every answer matches the raw parquet states") {
        val w = new ScanMix(spark, 3L)
        w.build(s"$work/scan")
        w.warmup()
        val rec = new Recorder(spark.sparkContext, traced = false)
        (0 until w.cycle).foreach(i => w.round(i, rec))
        expectEq(w.verify(rec), Seq.empty[String], "end-state checks")
        expectEq(rec.ops.filter(_.failed).map(_.kind), Seq.empty[String], "wrong answers")
        if (w.rows <= 0) throw new AssertionError("no rows matched")
      }

      test("curate_corpus: answers equal the reference models, tampered ones are caught") {
        val w = new CurateCorpus(spark, 3L)
        w.build(s"$work/corpus")
        val (dir, shard) = w.shard(0)
        val p = graft.queries.Pipeline.pipelineEndToEnd(spark, dir).collect().toSeq
        val ng = graft.queries.Dedup.dedupNgramJaccard(spark, dir).collect().toSeq
        val em = graft.queries.Dedup.dedupEmbedding(spark, dir).collect().toSeq
        expectEq(w.check(shard, p, ng, em), Seq.empty[String], "checks")
        def caught(what: String, prefix: String, errs: Seq[String]) =
          if (!errs.exists(_.startsWith(prefix))) throw new AssertionError(s"$what went unnoticed: $errs")
        caught("an empty pipeline answer", "pipeline answered", w.check(shard, Nil, ng, em))
        caught("a pipeline answer missing a language", "pipeline answered", w.check(shard, p.init, ng, em))
        val near = ng.filter(_.getDouble(2) < 1.0)
        if (near.isEmpty) throw new AssertionError("shard 0 has no same-language near pair")
        caught("a lost near pair", "n-gram dedup", w.check(shard, p, ng.diff(near.take(1)), em))
        caught("an unplanted pair", "n-gram dedup", w.check(shard, p, ng :+ Row(shard.docs(0).id, -1L, 0.75), em))
        caught("a spurious exact copy", "exact-dedup survivors",
          w.check(shard, p, ng :+ Row(shard.docs(1).id, shard.docs(0).id, 1.0), em))
        val planted = shard.nearVecPairs.toSet
        caught("lost vector pairs", "embedding near-duplicate recall",
          w.check(shard, p, ng, em.filterNot(x => planted((x.getLong(0), x.getLong(1))))))
        caught("a wrong cosine", "embedding dedup",
          w.check(shard, p, ng, em.map(x => Row(x.getLong(0), x.getLong(1), x.getDouble(2) + 0.01))))
      }
    } finally spark.stop()

    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
