package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}
import graft.lake.delta.{DeltaTable, DeltaWriter}

/** Round-trip receipts for the Delta Lake transaction-protocol reader:
  * the sandbox has no Delta artifacts, so [[DeltaWriter]] builds REAL
  * protocol layouts (%020d.json logs, stats JSON, hive partition dirs,
  * classic checkpoint + _last_checkpoint) and [[DeltaTable]] reads them
  * back. */
class DeltaSpec extends AnyFunSuite {
  import TestSpark._

  private def freshDir(name: String): String = {
    val d = s"/root/repo/target/graft-delta-test/$name"
    val p = new Path(d)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    d
  }

  test("unpartitioned round-trip: two appends read back exactly") {
    val n = Tables.nation(spark, sf)
    val w = DeltaWriter.create(spark, freshDir("roundtrip"), n.schema)
    w.append(n.filter(col("n_nationkey") < 13))
    w.append(n.filter(col("n_nationkey") >= 13))
    val t = DeltaTable.load(spark, freshDir2("roundtrip"))
    assert(t.schema.fieldNames.toSeq == n.schema.fieldNames.toSeq)
    assert(t.scan().orderBy("n_nationkey").collect().toSeq ==
      n.orderBy("n_nationkey").collect().toSeq)
  }

  private def freshDir2(name: String): String =
    s"/root/repo/target/graft-delta-test/$name" // same path, no clearing

  test("partition columns are injected from partitionValues and prune files") {
    val n = Tables.nation(spark, sf)
    val w = DeltaWriter.create(spark, freshDir("prune"), n.schema,
      partitionColumns = Seq("n_regionkey"))
    w.append(n)
    val t = DeltaTable.load(spark, freshDir2("prune"))
    val all = t.planFiles()
    val kept = t.planFiles(Some(col("n_regionkey") === 2))
    assert(all.size == 5, s"expected 5 partition files, got ${all.size}")
    assert(kept.size == 1, s"pruning kept ${kept.size} of ${all.size}")
    // injected partition column comes back with correct values and type
    assert(t.scan(Some(col("n_regionkey") === 2)).orderBy("n_nationkey").collect().toSeq ==
      n.filter(col("n_regionkey") === 2).orderBy("n_nationkey").collect().toSeq)
  }

  test("stats JSON prunes on column bounds without partitioning") {
    val o = Tables.orders(spark, sf).repartitionByRange(4, col("o_orderkey"))
    val w = DeltaWriter.create(spark, freshDir("stats"), o.schema)
    w.append(o)
    val t = DeltaTable.load(spark, freshDir2("stats"))
    val all = t.planFiles()
    val maxKey = o.agg(max(col("o_orderkey"))).head().getLong(0)
    val kept = t.planFiles(Some(col("o_orderkey") === maxKey))
    assert(all.size >= 4)
    assert(kept.size < all.size,
      s"stats pruning kept ${kept.size} of ${all.size}")
  }

  test("copy-on-write delete rewrites only affected files") {
    val n = Tables.nation(spark, sf)
    val w = DeltaWriter.create(spark, freshDir("cow"), n.schema,
      partitionColumns = Seq("n_regionkey"))
    w.append(n)
    val before = DeltaTable.load(spark, freshDir2("cow")).planFiles().toSet
    w.deleteWhere(col("n_regionkey") === 2 && col("n_nationkey") % 2 === 0)
    val t = DeltaTable.load(spark, freshDir2("cow"))
    val after = t.planFiles().toSet
    // only the r=2 file was rewritten; the other four are byte-identical
    assert((before -- after).size == 1, s"removed: ${before -- after}")
    assert((after -- before).size == 1, s"added: ${after -- before}")
    val want = n.filter(!(col("n_regionkey") === 2 && col("n_nationkey") % 2 === 0))
    assert(t.scan().orderBy("n_nationkey").collect().toSeq ==
      want.orderBy("n_nationkey").collect().toSeq)
  }

  test("version time travel replays a log prefix") {
    val n = Tables.nation(spark, sf)
    val w = DeltaWriter.create(spark, freshDir("travel"), n.schema)
    w.append(n.filter(col("n_nationkey") < 13))  // version 1
    w.append(n.filter(col("n_nationkey") >= 13)) // version 2
    val v1 = DeltaTable.loadVersion(spark, freshDir2("travel"), 1L)
    assert(v1.version == 1L)
    assert(v1.scan().count() == n.filter(col("n_nationkey") < 13).count())
    val head = DeltaTable.load(spark, freshDir2("travel"))
    assert(head.version == 2L && head.scan().count() == n.count())
  }

  test("checkpoint-seeded load equals full log replay") {
    val n = Tables.nation(spark, sf)
    val w = DeltaWriter.create(spark, freshDir("cp"), n.schema,
      partitionColumns = Seq("n_regionkey"))
    w.append(n.filter(col("n_nationkey") < 13))
    w.deleteWhere(col("n_nationkey") === 3)
    w.checkpoint()
    w.append(n.filter(col("n_nationkey") >= 13)) // after the checkpoint
    val t = DeltaTable.load(spark, freshDir2("cp"))
    val want = n.filter(col("n_nationkey") =!= 3)
    assert(t.scan().orderBy("n_nationkey").collect().toSeq ==
      want.orderBy("n_nationkey").collect().toSeq)
    // the checkpoint file really exists and is the seed
    val fs = new Path(freshDir2("cp")).getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new Path(freshDir2("cp"), "_delta_log/_last_checkpoint")))
  }

  test("multi-part checkpoint seeds a load; a partial group is ignored") {
    val n = Tables.nation(spark, sf)
    val dir = freshDir("cpmp")
    val w = DeltaWriter.create(spark, dir, n.schema)
    w.append(n.filter(col("n_nationkey") < 8))
    w.append(n.filter(col("n_nationkey") >= 8 && col("n_nationkey") < 16))
    w.append(n.filter(col("n_nationkey") >= 16))
    w.checkpoint(parts = 3)
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val logFiles = fs.listStatus(new Path(dir, "_delta_log")).map(_.getPath.getName)
    assert(logFiles.count(
      _.matches("""\d{20}\.checkpoint\.\d{10}\.\d{10}\.parquet""")) == 3)
    // metadata now lives only in the checkpoint group
    (0L to 2L).foreach { v =>
      assert(fs.delete(new Path(dir, f"_delta_log/$v%020d.json"), false))
    }
    // keep a json at head so the log is non-empty (log-cleaned shape)
    val out = fs.create(new Path(dir, "_delta_log/00000000000000000004.json"), false)
    try out.write("""{"commitInfo":{"operation":"NOOP"}}""".getBytes("UTF-8"))
    finally out.close()
    assert(DeltaTable.load(spark, dir).scan().count() == n.count())
    // an INCOMPLETE part group must not be used as a seed: delete part 2
    // of 3 — the reader falls back to nothing and fails loudly on the
    // missing metaData instead of silently dropping part 2's files
    assert(fs.delete(new Path(dir,
      "_delta_log/00000000000000000003.checkpoint.0000000002.0000000003.parquet"), false))
    val e = intercept[Exception] { DeltaTable.load(spark, dir) }
    assert(e.getMessage.contains("metaData") || e.getMessage.contains("delta"),
      s"partial checkpoint group must not seed: ${e.getMessage}")
  }

  test("v2 checkpoint (uuid-named + parquet sidecar) seeds a load") {
    val n = Tables.nation(spark, sf)
    val dir = freshDir("cpv2")
    val w = DeltaWriter.create(spark, dir, n.schema,
      partitionColumns = Seq("n_regionkey"))
    w.append(n.filter(col("n_nationkey") < 13))
    w.deleteWhere(col("n_nationkey") === 3)
    w.checkpointV2()
    w.append(n.filter(col("n_nationkey") >= 13)) // replayed on top
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    // the layout is really v2: uuid-named top-level + _sidecars parquet
    val logFiles = fs.listStatus(new Path(dir, "_delta_log"))
      .map(_.getPath.getName)
    assert(logFiles.exists(f =>
      f.matches("""\d{20}\.checkpoint\.[0-9a-f-]+\.parquet""")),
      s"expected uuid-named v2 checkpoint in ${logFiles.toSeq}")
    assert(!logFiles.exists(_.matches("""\d{20}\.checkpoint\.parquet""")))
    assert(fs.listStatus(new Path(dir, "_delta_log/_sidecars"))
      .exists(_.getPath.getName.endsWith(".parquet")))
    val t = DeltaTable.load(spark, freshDir2("cpv2"))
    val want = n.filter(col("n_nationkey") =!= 3)
    assert(t.scan().orderBy("n_nationkey").collect().toSeq ==
      want.orderBy("n_nationkey").collect().toSeq)
  }

  test("v2 checkpoint load survives the pre-checkpoint log being cleaned") {
    val n = Tables.nation(spark, sf)
    val dir = freshDir("cpv2clean")
    val w = DeltaWriter.create(spark, dir, n.schema)
    w.append(n.filter(col("n_nationkey") < 13))
    w.append(n.filter(col("n_nationkey") >= 13))
    w.checkpointV2() // upgrade commit (v3) + checkpoint at v3
    w.deleteWhere(col("n_nationkey") === 7) // v4, replayed on top
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    // metadata/protocol now live ONLY in the checkpoint: a reader that
    // cannot seed from the v2 layout cannot load this table at all
    (0L to 2L).foreach { v =>
      assert(fs.delete(new Path(dir, f"_delta_log/$v%020d.json"), false))
    }
    val t = DeltaTable.load(spark, freshDir2("cpv2clean"))
    assert(t.scan().count() == n.count() - 1)
    assert(t.scan().filter(col("n_nationkey") === 7).count() == 0)
  }

  test("DVs survive a v2 checkpoint-seeded load") {
    val n = Tables.nation(spark, sf)
    val dir = freshDir("cpv2dv")
    val w = DeltaWriter.create(spark, dir, n.schema)
    w.append(n)
    w.deleteWhereDv(col("n_nationkey") % 2 === 0)
    w.checkpointV2()
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    (0L to 2L).foreach { v =>
      assert(fs.delete(new Path(dir, f"_delta_log/$v%020d.json"), false))
    }
    val t = DeltaTable.load(spark, freshDir2("cpv2dv"))
    // the DV descriptor must ride through the sidecar add action
    val want = n.filter(col("n_nationkey") % 2 =!= 0)
    assert(t.scan().orderBy("n_nationkey").collect().toSeq ==
      want.orderBy("n_nationkey").collect().toSeq)
  }

  test("tables requiring unimplemented reader features are rejected, not misread") {
    val n = Tables.nation(spark, sf)
    val dir = freshDir("guard")
    val w = DeltaWriter.create(spark, dir, n.schema)
    w.append(n)
    // forge a protocol upgrade demanding a feature this reader does NOT
    // implement (collated comparisons change row equality semantics —
    // misreading silently corrupts results; typeWidening moved to the
    // supported set in r11, variantType in r13)
    val logPath = new Path(dir, "_delta_log/00000000000000000002.json")
    val fs = logPath.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(logPath, false)
    try out.write(
      ("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["collations-preview"],"writerFeatures":["collations-preview"]}}""")
        .getBytes("UTF-8"))
    finally out.close()
    val e = intercept[IllegalArgumentException] {
      DeltaTable.load(spark, dir)
    }
    assert(e.getMessage.contains("collations-preview"))
    // ...but minReaderVersion 2 (legacy column mapping) IS implemented
    // now: the same table pinned before the forged upgrade still loads,
    // and a fresh version-2 table loads outright
    assert(DeltaTable.loadVersion(spark, dir, 1L).scan().count() == n.count())
    val dir2 = freshDir("guard2")
    val w2 = DeltaWriter.create(spark, dir2, n.schema)
    w2.append(n)
    val logPath2 = new Path(dir2, "_delta_log/00000000000000000002.json")
    val out2 = fs.create(logPath2, false)
    try out2.write(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""".getBytes("UTF-8"))
    finally out2.close()
    assert(DeltaTable.load(spark, dir2).scan().count() == n.count())
  }

  // ---- deletion vectors ----------------------------------------------------

  test("DV delete masks rows without rewriting any data file") {
    val n = Tables.nation(spark, sf)
    val w = DeltaWriter.create(spark, freshDir("dv"), n.schema)
    w.append(n)
    val before = DeltaTable.load(spark, freshDir2("dv")).planFiles().toSet
    w.deleteWhereDv(col("n_nationkey") % 2 === 0)
    val t = DeltaTable.load(spark, freshDir2("dv"))
    // merge-on-read: the data file set is IDENTICAL — only a DV attached
    assert(t.planFiles().toSet == before, "DV delete must not rewrite files")
    val want = n.filter(col("n_nationkey") % 2 =!= 0)
    assert(t.scan().orderBy("n_nationkey").collect().toSeq ==
      want.orderBy("n_nationkey").collect().toSeq)
  }

  test("second DV delete on the same file unions the old bitmap (fresh cache identity)") {
    val n = Tables.nation(spark, sf)
    val w = DeltaWriter.create(spark, freshDir("dv2"), n.schema)
    w.append(n)
    w.deleteWhereDv(col("n_nationkey") === 3)
    // scan NOW so the executor DV cache holds the first descriptor's
    // bitmap — a cache keyed without DV identity would serve it stale
    // after the second delete below
    assert(DeltaTable.load(spark, freshDir2("dv2")).scan().count() == n.count() - 1)
    w.deleteWhereDv(col("n_nationkey") === 7)
    val t = DeltaTable.load(spark, freshDir2("dv2"))
    val got = t.scan().orderBy("n_nationkey").collect().toSeq
    val want = n.filter(col("n_nationkey") =!= 3 && col("n_nationkey") =!= 7)
      .orderBy("n_nationkey").collect().toSeq
    assert(got == want, "second DV must union the first delete set and evict the stale cache entry")
  }

  test("DV delete honors partition pruning and partition-column predicates") {
    val n = Tables.nation(spark, sf)
    val w = DeltaWriter.create(spark, freshDir("dvpart"), n.schema,
      partitionColumns = Seq("n_regionkey"))
    w.append(n)
    w.deleteWhereDv(col("n_regionkey") === 2 && col("n_nationkey") % 2 === 0)
    val t = DeltaTable.load(spark, freshDir2("dvpart"))
    val want = n.filter(!(col("n_regionkey") === 2 && col("n_nationkey") % 2 === 0))
    assert(t.scan().orderBy("n_nationkey").collect().toSeq ==
      want.orderBy("n_nationkey").collect().toSeq)
  }

  test("DVs survive checkpoint and a checkpoint-seeded load") {
    val n = Tables.nation(spark, sf)
    val w = DeltaWriter.create(spark, freshDir("dvcp"), n.schema)
    w.append(n.filter(col("n_nationkey") < 13))
    w.deleteWhereDv(col("n_nationkey") === 3)
    w.checkpoint()
    w.append(n.filter(col("n_nationkey") >= 13)) // after the checkpoint
    val t = DeltaTable.load(spark, freshDir2("dvcp"))
    val want = n.filter(col("n_nationkey") =!= 3)
    assert(t.scan().orderBy("n_nationkey").collect().toSeq ==
      want.orderBy("n_nationkey").collect().toSeq,
      "checkpoint must carry the deletionVector descriptor through")
  }

  // ---- column mapping ------------------------------------------------------

  test("restore rolls back to a version as a new commit; history preserved") {
    val n = Tables.nation(spark, sf)
    val loc = freshDir("restore")
    val w = DeltaWriter.create(spark, loc, n.schema)
    w.append(n) // v1
    w.deleteWhere(col("n_nationkey") < 5) // v2 (rewrites the file)
    w.append(n.filter(col("n_nationkey") === 0)
      .withColumn("n_name", lit("EXTRA"))) // v3
    val v4 = w.restore(1L)
    assert(v4 == 4L, "restore is a NEW commit")
    val t = DeltaTable.load(spark, loc)
    assert(t.version == 4L)
    assert(t.scan().orderBy("n_nationkey").collect().toSeq ==
      n.orderBy("n_nationkey").collect().toSeq,
      "state equals version 1 exactly")
    // the undone versions remain time-travelable
    assert(DeltaTable.loadVersion(spark, loc, 2L).scan().count() == n.count() - 5)
    assert(DeltaTable.loadVersion(spark, loc, 3L).scan().count() == n.count() - 4)
    // the writer keeps working after a restore
    w.append(n.filter(col("n_nationkey") === 7)
      .withColumn("n_name", lit("POST"))) // v5
    assert(DeltaTable.load(spark, loc).scan().count() == n.count() + 1)
    // restoring to the current state is a no-op (no empty commit)
    assert(w.restore(5L) == 5L)
    // a restore needing a vacuumed file fails loudly
    val t1files = DeltaTable.loadVersion(spark, loc, 1L).planFiles()
    val fs = new Path(loc).getFileSystem(spark.sessionState.newHadoopConf())
    // delete v1's data file AND roll forward so it's not needed anymore
    w.deleteWhere(col("n_nationkey") >= 0) // v6: removes current files
    t1files.foreach(rel => fs.delete(new Path(loc, rel), false))
    val e = intercept[IllegalArgumentException] { w.restore(1L) }
    assert(e.getMessage.contains("vacuumed") || e.getMessage.contains("no longer"),
      e.getMessage)
  }

  test("nondeterministic deleteWhere: kept + CDC-deleted rows partition the table (r11)") {
    // ADVICE r10: cond re-evaluated per job could disagree between the
    // probe, the rewrite and the CDC frame. With rand() in the predicate
    // the pinned __hit evaluation must make the three agree exactly.
    val n = Tables.nation(spark, sf)
    val loc = freshDir("nondet-delete")
    val w = DeltaWriter.create(spark, loc, n.schema, enableCdf = true)
    w.append(n) // v1
    w.deleteWhere(rand(7) < 0.5) // v2 — nondeterministic on purpose
    val t = DeltaTable.load(spark, loc)
    val kept = t.scan().select("n_nationkey").collect().map(_.getInt(0)).toSet
    val deleted = DeltaTable.changes(spark, loc, 2L, 2L)
      .filter(col("_change_type") === "delete")
      .select("n_nationkey").collect().map(_.getInt(0)).toSet
    assert((kept & deleted).isEmpty,
      s"a row can't be both kept and CDC-deleted: ${kept & deleted}")
    assert(kept ++ deleted == n.collect().map(_.getAs[Int]("n_nationkey")).toSet,
      "kept + deleted must cover the table exactly")
  }

  test("changes() rejects a range containing a RESTORE commit (r11)") {
    val n = Tables.nation(spark, sf)
    val loc = freshDir("restore-cdf")
    val w = DeltaWriter.create(spark, loc, n.schema, enableCdf = true)
    w.append(n.filter(col("n_nationkey") < 10)) // v1
    w.append(n.filter(col("n_nationkey") >= 10)) // v2
    val v3 = w.restore(1L) // one-sided (removes only) — the silent case
    assert(v3 == 3L)
    // up to the version before the restore: fine
    assert(DeltaTable.changes(spark, loc, 1L, 2L).count() == n.count())
    // any range covering the restore: loud reject, not synthesized deletes
    val e = intercept[IllegalStateException] {
      DeltaTable.changes(spark, loc, 1L, 3L).count()
    }
    assert(e.getMessage.contains("RESTORE"), e.getMessage)
  }

  test("zero-match keyed DV delete commits nothing and skips the protocol flip") {
    // advice r09: a pure-append mirror sync range (every touched key new)
    // must not write a zero-action commit file nor flip the table to the
    // table-features DV protocol form
    val n = Tables.nation(spark, sf)
    val loc = freshDir("dv-zero")
    val w = DeltaWriter.create(spark, loc, n.schema)
    w.append(n) // v1
    import spark.implicits._
    val v = w.deleteMatchingDv(Seq(999, 1000).toDF("n_nationkey"), Seq("n_nationkey"))
    assert(v == 1L, "version unchanged on zero-match")
    val fs = new Path(loc).getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new Path(loc, "_delta_log/00000000000000000002.json")),
      "no zero-action commit file may be written")
    // a later REAL DV delete still performs the first-use protocol flip
    w.deleteWhereDv(col("n_nationkey") === 1) // v2
    val v2 = {
      val in = fs.open(new Path(loc, "_delta_log/00000000000000000002.json"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    assert(v2.contains("deletionVectors"),
      "first real DV delete carries the protocol upgrade")
    assert(DeltaTable.load(spark, loc).scan().count() == n.count() - 1)
  }

  test("column mapping name mode: physical files, logical scan, pruning intact") {
    val n = Tables.nation(spark, sf)
    val dir = freshDir("cmname")
    val w = DeltaWriter.create(spark, dir, n.schema,
      partitionColumns = Seq("n_regionkey"), columnMapping = Some("name"))
    w.append(n)
    val t = DeltaTable.load(spark, dir)
    assert(t.columnMappingMode == "name")
    // data files on disk carry PHYSICAL names, not logical ones
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val dataFile = {
      val it = fs.listFiles(new Path(dir), true)
      var found: Path = null
      while (it.hasNext && found == null) {
        val f = it.next().getPath
        if (f.getName.endsWith(".parquet") && !f.toString.contains("_delta_log"))
          found = f
      }
      found
    }
    val physCols = spark.read.parquet(dataFile.toString).columns.toSet
    assert(physCols.forall(_.startsWith("col-")),
      s"files must store physical names, got $physCols")
    // scan comes back in LOGICAL names with partition columns injected
    assert(t.scan().orderBy("n_nationkey").collect().toSeq ==
      n.orderBy("n_nationkey").collect().toSeq)
    // partition pruning works through the physical partitionValues keys
    assert(t.planFiles(Some(col("n_regionkey") === 2)).size <
      t.planFiles().size)
    // r15: the verified hive-layout read runs in PHYSICAL-name space
    // under column mapping (dirs and log partitionValues both carry
    // physical names), so mapped tables are DPP-capable too — the scan
    // plan carries NO injection join, and the injection fallback stays
    // value-identical
    val hivePlan = t.scan().queryExecution.executedPlan.toString
    assert(!hivePlan.contains("Join"),
      s"mapped hive-layout scan must not need the injection join:\n$hivePlan")
    spark.conf.set("spark.graft.interop.hivePartitionedRead.enabled", "false")
    try {
      val injected = DeltaTable.load(spark, dir).scan()
        .orderBy("n_nationkey").collect().toSeq
      assert(injected == n.orderBy("n_nationkey").collect().toSeq)
    } finally
      spark.conf.unset("spark.graft.interop.hivePartitionedRead.enabled")
  }

  test("column mapping id mode: field-id matching round-trip with stats pruning") {
    val o = Tables.orders(spark, sf).repartitionByRange(4, col("o_orderkey"))
    val dir = freshDir("cmid")
    val w = DeltaWriter.create(spark, dir, o.schema, columnMapping = Some("id"))
    w.append(o)
    val t = DeltaTable.load(spark, dir)
    assert(t.columnMappingMode == "id")
    assert(t.scan().orderBy("o_orderkey").collect().toSeq ==
      o.orderBy("o_orderkey").collect().toSeq)
    // stats keys are physical in the log; pruning still skips files
    // because the reader translates them back to logical space
    val maxKey = o.agg(max(col("o_orderkey"))).head().getLong(0)
    val kept = t.planFiles(Some(col("o_orderkey") === maxKey))
    assert(kept.size < t.planFiles().size,
      s"stats pruning kept ${kept.size} of ${t.planFiles().size}")
  }

  test("DV delete works on a column-mapped table") {
    val n = Tables.nation(spark, sf)
    val dir = freshDir("cmdv")
    val w = DeltaWriter.create(spark, dir, n.schema, columnMapping = Some("name"))
    w.append(n)
    w.deleteWhereDv(col("n_nationkey") % 5 === 0)
    val t = DeltaTable.load(spark, dir)
    val want = n.filter(col("n_nationkey") % 5 =!= 0)
    assert(t.scan().orderBy("n_nationkey").collect().toSeq ==
      want.orderBy("n_nationkey").collect().toSeq)
  }

  test("scan plans ONE file-scan node regardless of partition count") {
    // plan width must not grow with partition count: partition columns
    // are injected via a broadcast file→partitionValues join, not one
    // scan union branch per partition tuple
    val n = Tables.nation(spark, sf)
    val w = DeltaWriter.create(spark, freshDir("planwidth"), n.schema,
      partitionColumns = Seq("n_regionkey"))
    w.append(n) // 5 region partitions
    val t = DeltaTable.load(spark, freshDir2("planwidth"))
    val df = t.scan()
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size <= 2, // data scan + tiny broadcast side
      s"expected one data scan (+ metadata broadcast), got ${scans.size}")
    assert(df.orderBy("n_nationkey").collect().toSeq ==
      n.orderBy("n_nationkey").collect().toSeq)
  }

  // ---- timestamp stats -----------------------------------------------------

  test("timestamp stats are ISO-8601 in the log and still prune") {
    val e = Tables.events(spark, sf).select("event_id", "user_id", "ts")
      .repartitionByRange(4, col("ts"))
    val dir = freshDir("tsstats")
    val w = DeltaWriter.create(spark, dir, e.schema)
    w.append(e)
    // the protocol stores timestamp stats as ISO-8601 strings — raw
    // micros longs are unparseable to external Delta readers
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(new Path(dir, "_delta_log/00000000000000000001.json"))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    // stats ride as a JSON string inside the action JSON → unescape first
    val unescaped = text.replace("\\\"", "\"")
    val tsStats = """"ts":"([^"]+)"""".r.findAllMatchIn(unescaped).map(_.group(1)).toSeq
    assert(tsStats.nonEmpty, "expected ts bounds in stats JSON")
    tsStats.foreach { s =>
      assert(s.matches("""\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{6}Z"""),
        s"timestamp stat '$s' is not ISO-8601")
    }
    // and the reader converts them back to the micros domain → pruning
    val t = DeltaTable.load(spark, dir)
    val maxTs = e.agg(max(col("ts"))).head().getTimestamp(0)
    val kept = t.planFiles(Some(col("ts") === lit(maxTs)))
    assert(kept.size < t.planFiles().size,
      s"timestamp stats pruning kept ${kept.size} of ${t.planFiles().size}")
  }

  test("COW ops on DV-bearing files do not resurrect masked rows") {
    val n = Tables.nation(spark, sf)
    val loc = freshDir("dv-cow")
    val w = DeltaWriter.create(spark, loc, n.schema)
    w.append(n)
    w.deleteWhereDv(col("n_nationkey") < 5)
    // the COW update rewrites the file and DROPS its DV — the rewrite
    // must exclude the DV-masked rows, not resurrect them
    w.updateWhere(col("n_nationkey") === 7, Map("n_name" -> lit("U")))
    val t = DeltaTable.load(spark, loc)
    assert(t.scan().count() == n.count() - 5)
    assert(t.scan(Some(col("n_nationkey") < 5)).count() == 0,
      "DV-deleted rows must not survive a COW rewrite")
    assert(t.scan(Some(col("n_name") === "U")).count() == 1)
  }

  test("zero-match COW ops touch nothing and keep CDF reconstructible") {
    val n = Tables.nation(spark, sf)
    val loc = freshDir("cdf-zero")
    val w = DeltaWriter.create(spark, loc, n.schema,
      partitionColumns = Seq("n_regionkey"), enableCdf = true)
    w.append(n) // v1
    // stats can't decide contains() → every file planned, zero rows match:
    // no rewrite, no commit, and no add+remove-without-cdc poison pill
    val vBefore = DeltaTable.load(spark, loc).version
    w.deleteWhere(col("n_name").contains("NO-SUCH-NATION"))
    w.updateWhere(col("n_name").contains("NO-SUCH-NATION"),
      Map("n_name" -> lit("X")))
    val t = DeltaTable.load(spark, loc)
    assert(t.version == vBefore, "zero-match ops must not commit")
    // the feed over the full range stays readable
    val ch = DeltaTable.changes(spark, loc, 0L, t.version)
    assert(ch.filter(col("_change_type") === "insert").count() == n.count())
  }

  test("open() reopens a table for further commits with full state") {
    val n = Tables.nation(spark, sf)
    val loc = freshDir("reopen")
    val w = DeltaWriter.create(spark, loc, n.schema,
      partitionColumns = Seq("n_regionkey"))
    w.append(n.filter(col("n_nationkey") < 10))
    w.deleteWhereDv(col("n_nationkey") === 3)
    val w2 = DeltaWriter.open(spark, loc)
    w2.append(n.filter(col("n_nationkey") >= 10))
    val t = DeltaTable.load(spark, loc)
    assert(t.version == 3L, "reopened writer continues the version chain")
    assert(t.scan().count() == n.count() - 1, "DV state survived the reopen")
    assert(t.scan(Some(col("n_nationkey") === 3)).count() == 0)
  }

  test("open() refuses a cleaned log rather than forgetting live files") {
    val n = Tables.nation(spark, sf)
    val loc = freshDir("reopen-cleaned")
    val w = DeltaWriter.create(spark, loc, n.schema)
    w.append(n)
    w.checkpoint()
    // simulate log cleanup: version 0 removed (checkpoint covers it —
    // but open() replays raw JSON and must refuse, not silently forget)
    val p = new Path(loc, "_delta_log/00000000000000000000.json")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.delete(p, false))
    val e = intercept[IllegalArgumentException] { DeltaWriter.open(spark, loc) }
    assert(e.getMessage.contains("full log"))
  }

  test("graft -> Delta export mirrors incrementally as a CDF relay") {
    import graft.lake.GraftTable
    import graft.lake.delta.DeltaExport
    val base = freshDir("export")
    val n = Tables.nation(spark, sf)
    val t = GraftTable.create(spark, s"$base/src", n,
      keyColumns = Seq("n_nationkey"))
    val dst = s"$base/dst"
    DeltaExport.export(spark, t, dst, enableCdf = true)
    assert(DeltaTable.load(spark, dst).scan().count() == n.count())
    // source moves on: an upsert (key 3) and a delete (key 7)
    t.upsert(n.filter(col("n_nationkey") === 3).withColumn("n_name", lit("SYNCED")))
    t.delete(col("n_nationkey") === 7)
    val v0 = DeltaTable.load(spark, dst).version
    assert(DeltaExport.exportIncremental(spark, t, dst) == 2)
    val dt = DeltaTable.load(spark, dst)
    assert(dt.scan().count() == n.count() - 1)
    assert(dt.scan(Some(col("n_name") === "SYNCED")).count() == 1)
    // idempotent when current
    assert(DeltaExport.exportIncremental(spark, t, dst) == 0)
    // the MIRROR's change feed shows the sync as deletes + inserts
    val ch = DeltaTable.changes(spark, dst, v0 + 1, dt.version).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Int]("n_nationkey")))
    assert(ch.filter(_._1 == "delete").map(_._2).toSet == Set(3, 7),
      "touched keys' old rows deleted")
    assert(ch.filter(_._1 == "insert").map(_._2).toSet == Set(3),
      "only surviving touched keys re-insert")
  }

  // ---- change data feed ----------------------------------------------------

  test("CDF: append/update/delete reconstruct all four change types") {
    val n = Tables.nation(spark, sf)
    val loc = freshDir("cdf")
    val w = DeltaWriter.create(spark, loc, n.schema, enableCdf = true)
    w.append(n) // v1
    w.updateWhere(col("n_nationkey") % 5 === 0,
      Map("n_name" -> lit("UPDATED"))) // v2
    w.deleteWhere(col("n_nationkey") === 7) // v3
    val ch = DeltaTable.changes(spark, loc, 1L, 3L).collect()
      .map(r => (r.getAs[String]("_change_type"),
        r.getAs[Long]("_commit_version"),
        r.getAs[Int]("n_nationkey"), r.getAs[String]("n_name")))
    val keys = n.collect().map(_.getAs[Int]("n_nationkey")).toSet
    assert(ch.filter(c => c._1 == "insert" && c._2 == 1L)
      .map(_._3).toSet == keys, "v1 blind append → every row an insert")
    val pre = ch.filter(c => c._1 == "update_preimage" && c._2 == 2L)
    val post = ch.filter(c => c._1 == "update_postimage" && c._2 == 2L)
    assert(pre.map(_._3).toSet == keys.filter(_ % 5 == 0))
    assert(post.map(_._3).toSet == keys.filter(_ % 5 == 0))
    assert(pre.forall(_._4 != "UPDATED") && post.forall(_._4 == "UPDATED"))
    assert(ch.filter(c => c._1 == "delete" && c._2 == 3L)
      .map(_._3).toSeq == Seq(7))
    // the v3 delete row carries the POST-update state it was deleted in
    assert(ch.find(c => c._1 == "delete").exists(_._4 != null))
    // cdc files live under _change_data/ and are NOT part of the snapshot
    val t = DeltaTable.load(spark, loc)
    assert(t.scan().count() == n.count() - 1)
  }

  test("CDF: remove-only commits synthesize deletes from extended remove metadata") {
    val n = Tables.nation(spark, sf)
    val loc = freshDir("cdf-synth")
    // CDF NOT enabled: synthesis rules still reconstruct blind appends
    // and full-file deletes
    val w = DeltaWriter.create(spark, loc, n.schema,
      partitionColumns = Seq("n_regionkey"))
    w.append(n) // v1
    w.deleteWhere(col("n_regionkey") === 2) // v2: whole partition file → remove-only
    val ch = DeltaTable.changes(spark, loc, 1L, 2L).collect()
      .map(r => (r.getAs[String]("_change_type"),
        r.getAs[Long]("_commit_version"), r.getAs[Int]("n_nationkey"),
        r.getAs[Int]("n_regionkey")))
    val r2 = n.filter(col("n_regionkey") === 2).collect()
      .map(_.getAs[Int]("n_nationkey")).toSet
    assert(ch.filter(_._1 == "insert").map(_._3).toSet ==
      n.collect().map(_.getAs[Int]("n_nationkey")).toSet)
    val dels = ch.filter(_._1 == "delete")
    assert(dels.map(_._3).toSet == r2)
    assert(dels.forall(_._4 == 2), "partition value injected from remove metadata")
    assert(dels.forall(_._2 == 2L))
  }

  test("CDF: remove-only commit of a DV-bearing file subtracts the DV's rows") {
    // advice r09: rows already masked by an earlier DV delete must not
    // re-emit as deletes when the file is later fully removed. graft's
    // own writer reaches this: deleteWhereDv on a non-CDF table, then a
    // deleteWhere matching every remaining live row of that file yields
    // a remove-only commit of a DV-bearing file.
    val n = Tables.nation(spark, sf)
    val loc = freshDir("cdf-rm-dv")
    val w = DeltaWriter.create(spark, loc, n.schema)
    w.append(n) // v1
    w.deleteWhereDv(col("n_nationkey") < 5) // v2: DV masks 0-4
    w.deleteWhere(col("n_nationkey") >= 0) // v3: all live rows → remove-only
    assert(DeltaTable.load(spark, loc).scan().count() == 0)
    val dels = DeltaTable.changes(spark, loc, 3L, 3L).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Int]("n_nationkey")))
    assert(dels.forall(_._1 == "delete"))
    assert(dels.map(_._2).toSet ==
      n.collect().map(_.getAs[Int]("n_nationkey")).toSet.filter(_ >= 5),
      "DV-masked rows 0-4 were deleted at v2 and must not re-emit at v3")
  }

  test("CDF: pre-CDF rewrite commits are rejected, not misread") {
    val n = Tables.nation(spark, sf)
    val loc = freshDir("cdf-reject")
    val w = DeltaWriter.create(spark, loc, n.schema)
    w.append(n) // v1
    w.deleteWhere(col("n_nationkey") === 7) // v2: partial rewrite, no cdc
    val e = intercept[IllegalStateException] {
      DeltaTable.changes(spark, loc, 1L, 2L)
    }
    assert(e.getMessage.contains("without cdc"))
  }

  test("CDF with DV deletes: cdc rows emitted; re-deletes not re-emitted") {
    val n = Tables.nation(spark, sf)
    val loc = freshDir("cdf-dv")
    val w = DeltaWriter.create(spark, loc, n.schema, enableCdf = true)
    w.append(n) // v1
    w.deleteWhereDv(col("n_nationkey") < 5) // v2 (includes protocol bump)
    // overlapping second DV delete: keys 0-4 are ALREADY deleted and
    // must not re-enter the feed; only 5-9 are new deletions
    w.deleteWhereDv(col("n_nationkey") < 10) // v3
    val ch = DeltaTable.changes(spark, loc, 2L, 3L).collect()
      .map(r => (r.getAs[Long]("_commit_version"), r.getAs[Int]("n_nationkey")))
    assert(ch.filter(_._1 == 2L).map(_._2).toSet == (0 until 5).toSet)
    assert(ch.filter(_._1 == 3L).map(_._2).toSet == (5 until 10).toSet,
      "already-DV-deleted rows must not re-emit")
    assert(ch.forall(_ => true)) // shape sanity
    // snapshot masks all ten
    assert(DeltaTable.load(spark, loc).scan().count() == n.count() - 10)
    // no data file was rewritten (still merge-on-read)
    val files = DeltaTable.load(spark, loc).planFiles().toSet
    assert(files.size == 1)
  }

  test("CDF on a column-mapped partitioned table round-trips") {
    val n = Tables.nation(spark, sf)
    val loc = freshDir("cdf-cm")
    val w = DeltaWriter.create(spark, loc, n.schema,
      partitionColumns = Seq("n_regionkey"),
      columnMapping = Some("name"), enableCdf = true)
    w.append(n) // v1
    w.updateWhere(col("n_nationkey") % 4 === 1,
      Map("n_name" -> lit("CM-UPDATED"))) // v2
    val ch = DeltaTable.changes(spark, loc, 2L, 2L).collect()
      .map(r => (r.getAs[String]("_change_type"),
        r.getAs[Int]("n_nationkey"), r.getAs[String]("n_name"),
        r.getAs[Int]("n_regionkey")))
    val expect = n.collect()
      .map(r => (r.getAs[Int]("n_nationkey"), r.getAs[Int]("n_regionkey")))
      .filter(_._1 % 4 == 1)
    assert(ch.filter(_._1 == "update_postimage")
      .map(c => (c._2, c._4)).toSet == expect.toSet,
      "logical columns + partition values under column mapping")
    assert(ch.filter(_._1 == "update_postimage").forall(_._3 == "CM-UPDATED"))
    // CDF protocol: changeDataFeed is advertised as a WRITER feature only
    val logText = {
      val p = new Path(loc, "_delta_log/00000000000000000000.json")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    // name mapping + CDF = legacy tier (reader 2, writer 5: legacy
    // writer versions are cumulative, so 5 already implies 4's CDF —
    // 6 would wrongly demand identity columns); CDF never demands a
    // reader capability
    assert(logText.contains("\"minReaderVersion\":2"))
    assert(logText.contains("\"minWriterVersion\":5"))
    assert(!logText.contains("readerFeatures"))
  }

  test("OPTIMIZE compacts with dataChange=false (CDF-invisible); VACUUM GCs (r11)") {
    val o = Tables.orders(spark, sf)
    val loc = freshDir("optimize")
    val w = DeltaWriter.create(spark, loc, o.schema, enableCdf = true)
    (0 until 4).foreach(i =>
      w.append(o.filter(col("o_orderkey") % 4 === i)))           // v1..v4
    w.deleteWhereDv(col("o_orderkey") % 9 === 2)                 // v5: DV
    val expect = o.filter(col("o_orderkey") % 9 =!= 2).count()
    val before = DeltaTable.load(spark, loc)
    assert(before.scan().count() == expect)
    val oldFiles = before.planFiles(None)
    assert(oldFiles.size >= 4)

    val v = w.optimize(smallBytes = Long.MaxValue)               // v6
    val t = DeltaTable.load(spark, loc)
    assert(t.version == v)
    assert(t.scan().count() == expect, "OPTIMIZE must not change content")
    assert(t.planFiles(None).size < oldFiles.size, "fewer, larger files")
    // the DV folded into the rewrite: no live deletionVector remains
    assert(!scala.io.Source.fromFile(
      s"$loc/_delta_log/${"%020d".format(v)}.json").mkString
      .contains("deletionVector"))
    // CDF: the OPTIMIZE version contributes NO change rows
    assert(DeltaTable.changes(spark, loc, v, v).count() == 0)
    // ...while real changes in range still reconstruct
    assert(DeltaTable.changes(spark, loc, 5, v)
      .filter(col("_change_type") === "delete").count() ==
      o.filter(col("o_orderkey") % 9 === 2).count())
    // history carries the operation tags
    assert(t.historyDf.filter(col("operation") === "OPTIMIZE").count() == 1)

    val deleted = w.vacuum(retainMs = 0)
    assert(deleted > 0)
    val after = DeltaTable.load(spark, loc)
    assert(after.scan().count() == expect, "VACUUM must not change content")
    val fs = new Path(loc).getFileSystem(spark.sessionState.newHadoopConf())
    oldFiles.foreach(p => assert(!fs.exists(new Path(loc, p)),
      s"pre-OPTIMIZE file must be GC'd: $p"))
  }

  test("type widening: ALTER COLUMN TYPE is metadata-only; narrow files upcast (r11)") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val loc = freshDir("widen")
    val narrow = (1 to 100).map(i => (i, i.toFloat / 2, s"r$i"))
      .toDF("id", "v", "s")
    val w = DeltaWriter.create(spark, loc, narrow.schema)
    w.append(narrow)
    val fsW = new Path(loc).getFileSystem(spark.sessionState.newHadoopConf())
    val before = fsW.listStatus(new Path(loc)).filter(_.getPath.getName
      .endsWith(".parquet")).map(f => f.getPath.getName -> f.getModificationTime).toMap

    val w2 = w.widenColumn("id", LongType).widenColumn("v", DoubleType)
    // metadata-only: the narrow file is untouched
    assert(fsW.listStatus(new Path(loc)).filter(_.getPath.getName.endsWith(".parquet"))
      .map(f => f.getPath.getName -> f.getModificationTime).toMap == before,
      "widening must not rewrite data files")
    // a post-widen append lands values beyond the narrow domain
    val wide = Seq((Int.MaxValue.toLong + 7L, 1e200, "big")).toDF("id", "v", "s")
    w2.append(wide)

    val t = DeltaTable.load(spark, loc)
    assert(t.schema("id").dataType == LongType &&
      t.schema("v").dataType == DoubleType)
    // narrow physical files upcast; values exact across both provenances
    val got = t.scan().orderBy("id").collect()
    assert(got.length == 101)
    assert(got.head.getLong(0) == 1L && got.head.getDouble(1) == 0.5)
    assert(got.last.getLong(0) == Int.MaxValue.toLong + 7L &&
      got.last.getDouble(1) == 1e200)
    // stats written pre-widen still prune in the wide domain
    assert(t.planFiles(Some(col("id") > Int.MaxValue.toLong)).size == 1,
      "narrow-file stats must prune under the widened type")
    // provenance recorded the protocol's way
    assert(t.schema("id").metadata.json.contains("delta.typeChanges"))
    // non-widening changes reject
    intercept[IllegalArgumentException] { w2.widenColumn("s", LongType) }
    intercept[IllegalArgumentException] { w2.widenColumn("id", IntegerType) }
    // a SECOND widen of the same column APPENDS provenance (the protocol
    // accumulates one typeChanges entry per change — the oldest fromType
    // tells readers the narrowest physical encoding still on disk)
    val loc2 = freshDir("widen-twice")
    val nw = Seq((1.toShort, "a")).toDF("k", "s")
    val wt = DeltaWriter.create(spark, loc2, nw.schema)
    wt.append(nw)
    val wt2 = wt.widenColumn("k", IntegerType).widenColumn("k", LongType)
    wt2.append(Seq((Long.MaxValue - 1, "b")).toDF("k", "s"))
    val tt = DeltaTable.load(spark, loc2)
    val tc = tt.schema("k").metadata.getMetadataArray("delta.typeChanges")
    assert(tc.length == 2 &&
      tc.head.getString("fromType") == "short" &&
      tc.last.getString("toType") == "long", tc.mkString(","))
    assert(tt.scan().count() == 2)
    // a reopened writer keeps the typeWidening protocol feature: its next
    // protocol emission (v2 checkpoint upgrade) must not drop it
    val w3 = DeltaWriter.open(spark, loc)
    w3.checkpointV2()
    val t2 = DeltaTable.load(spark, loc)
    assert(t2.scan().count() == 101, "checkpointed widened table reads back")
  }

  test("in-commit timestamps: monotone, mtime-proof time travel, reopen chain") {
    import spark.implicits._
    val loc = freshDir("ict")
    val d = spark.range(10).select(col("id"), lit("x").as("v"))
    val w = DeltaWriter.create(spark, loc, d.schema, enableIct = true)
    w.append(d)                                   // v1
    w.append(d.withColumn("v", lit("y")))         // v2
    // history timestamps come from the commit's own clock and are
    // strictly monotone
    val hist = DeltaTable.load(spark, loc).historyDf
      .orderBy("version").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime))
    assert(hist.map(_._2).sliding(2).forall(p => p(0) < p(1)),
      s"ICT history must be strictly monotone: ${hist.mkString(",")}")
    val ictOfV1 = hist.find(_._1 == 1L).get._2
    // SCRAMBLE every commit file's mtime — a restored/copied log; mtime
    // resolution would now answer nonsense, ICT must not care
    val logDir = new Path(loc, "_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(logDir).foreach(st =>
      fs.setTimes(st.getPath, 1000L, -1L)) // epoch+1s for every commit
    val asOfV1 = DeltaTable.loadAsOfTime(spark, loc, ictOfV1)
    assert(asOfV1.version == 1L,
      s"ICT time travel must resolve v1, got ${asOfV1.version}")
    assert(asOfV1.scan().select("v").as[String].collect().toSet == Set("x"))
    // protocol carries the writer feature
    val proto = scala.io.Source.fromInputStream(
      fs.open(new Path(logDir, f"${0L}%020d.json")), "UTF-8").mkString
    assert(proto.contains("inCommitTimestamp"), "protocol must list the feature")
    // a reopened writer continues the monotone chain past the old max
    val w2 = DeltaWriter.open(spark, loc)
    w2.append(d.withColumn("v", lit("z")))        // v3
    val hist2 = DeltaTable.load(spark, loc).historyDf
      .orderBy("version").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime))
    assert(hist2.map(_._2).sliding(2).forall(p => p(0) < p(1)),
      "reopened writer must continue the monotone ICT chain")
    // non-ICT tables keep mtime resolution (regression guard)
    val loc2 = freshDir("ict-off")
    val w3 = DeltaWriter.create(spark, loc2, d.schema)
    w3.append(d)
    assert(DeltaTable.loadAsOfTime(spark, loc2,
      System.currentTimeMillis() + 60000).version == 1L)
  }

  test("ICT enablement is the metadata property; a non-ICT commit errors loudly (r12)") {
    import spark.implicits._
    val loc = freshDir("ict-meta")
    val d = spark.range(10).select(col("id"), lit("x").as("v"))
    val w = DeltaWriter.create(spark, loc, d.schema, enableIct = true)
    w.append(d) // v1
    // forge a TRAILING commit from a non-compliant foreign writer: no
    // commitInfo.inCommitTimestamp. Before r12, ICT detection sniffed
    // the LATEST commit — this file silently downgraded the whole table
    // to mtime resolution; now enablement comes from the metaData
    // configuration and the bad commit is a loud error instead.
    val logDir = new Path(loc, "_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(new Path(logDir, f"${2L}%020d.json"), false)
    out.write("""{"remove":{"path":"nope.parquet","dataChange":true,"deletionTimestamp":1}}""".getBytes("UTF-8"))
    out.close()
    val e = intercept[IllegalStateException] {
      DeltaTable.loadAsOfTime(spark, loc, System.currentTimeMillis() + 60000)
    }
    assert(e.getMessage.contains("inCommitTimestamp") &&
      e.getMessage.contains("commit 2"),
      s"error must name the downgrade hazard and the commit: ${e.getMessage}")
  }

  test("normPath and pathKey agree on every URI shape (authority stripped)") {
    import graft.lake.delta.DeltaTable
    val cases = Seq(
      "s3a://bucket/tbl/part-0.parquet",
      "hdfs://namenode:8020/tbl/part-0.parquet",
      "file:///tmp/tbl/part-0.parquet",
      "file:/tmp/tbl/part-0.parquet",
      "/tmp/tbl/part-0.parquet")
    import spark.implicits._
    val normed = cases.toDF("p")
      .select(DeltaTable.normPath(col("p")).as("n"))
      .collect().map(_.getString(0)).toSeq
    val keyed = cases.map(DeltaTable.pathKey)
    // the two are JOIN KEYS for the same file: any divergence silently
    // no-ops COW ops (and makes OPTIMIZE lossy) on that filesystem
    assert(normed == keyed, s"normPath $normed != pathKey $keyed")
  }

  test("checkpoints carry dataChange=false adds and unexpired remove tombstones") {
    val n = Tables.nation(spark, sf)
    val d = freshDir("cp-tombstones")
    val w = DeltaWriter.create(spark, d, n.schema)
    w.append(n.limit(10))
    w.append(n.filter(col("n_nationkey") >= 10))
    val removedBefore = DeltaTable.load(spark, d)
      .planFiles().size
    w.deleteWhere(col("n_nationkey") < 10) // full-file COW remove
    w.checkpoint()
    val logDir = new Path(s"$d/_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    val cpFile = fs.listStatus(logDir).map(_.getPath)
      .filter(_.getName.endsWith(".checkpoint.parquet")).maxBy(_.getName)
    val cp = spark.read.parquet(cpFile.toString)
    // protocol: checkpoint actions reconstruct STATE — adds must not
    // read as row changes, and removed-but-unexpired files must appear
    // as tombstones for external VACUUM implementations
    val adds = cp.filter(col("add").isNotNull).select("add.dataChange")
      .collect().map(_.getBoolean(0))
    assert(adds.nonEmpty && adds.forall(_ == false),
      "checkpoint adds must carry dataChange=false")
    val removes = cp.filter(col("remove").isNotNull)
      .select("remove.path", "remove.deletionTimestamp")
    assert(removes.count() >= 1, "unexpired tombstones must be checkpointed")
    assert(removes.collect().forall(_.getLong(1) > 0L),
      "tombstones carry a real deletionTimestamp (0 = expired at epoch)")
    // our own reader still reconstructs the same state from it
    assert(DeltaTable.load(spark, d).scan().count() ==
      n.filter(col("n_nationkey") >= 10).count())
    assert(removedBefore >= 1)
  }

  test("CDF rejects reversed / out-of-range version options by name (r12)") {
    import spark.implicits._
    val loc = freshDir("cdf-opts")
    val d = spark.range(10).select(col("id"), lit("x").as("v"))
    val w = DeltaWriter.create(spark, loc, d.schema, enableCdf = true)
    w.append(d) // v1
    val rev = intercept[IllegalArgumentException] {
      DeltaTable.changes(spark, loc, 1L, 0L)
    }
    assert(rev.getMessage.contains("startingVersion 1") &&
      rev.getMessage.contains("endingVersion 0"))
    val oob = intercept[IllegalArgumentException] {
      DeltaTable.changes(spark, loc, 0L, 7L)
    }
    assert(oob.getMessage.contains("endingVersion 7") &&
      oob.getMessage.contains("0..1"))
    // connector surfaces the same named errors
    val conn = intercept[Exception] {
      spark.read.format("graft-delta")
        .option("readChangeFeed", "true")
        .option("startingVersion", "5")
        .load(loc).collect()
    }
    assert(conn.getMessage.contains("startingVersion 5"))
  }

  test("variant columns: variantType feature round-trips; values intact (r13)") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType, VariantType}
    val loc = freshDir("variant")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", VariantType)))
    val d = spark.range(6).selectExpr("id",
      "parse_json(concat('{\"k\":', id, ',\"s\":\"x', id, '\"}')) as v")
    val w = DeltaWriter.create(spark, loc, schema)
    w.append(d.filter(col("id") < 3))
    w.append(d.filter(col("id") >= 3))

    // the protocol carries the variantType table feature (3/7 form)
    val logTxt = scala.io.Source.fromFile(
      s"$loc/_delta_log/00000000000000000000.json").mkString
    assert(logTxt.contains("\"variantType\""), s"protocol must declare variantType: $logTxt")
    assert(logTxt.contains("\"minReaderVersion\":3"))

    // read back: values intact through the binary (metadata, value) pair
    val t = DeltaTable.load(spark, loc)
    assert(t.schema("v").dataType == VariantType)
    val got = t.scan().selectExpr("id", "to_json(v) as j")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = d.selectExpr("id", "to_json(v) as j")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == want)
    // typed extraction runs on the scan output (the read is a REAL
    // variant column, not an opaque struct)
    assert(t.scan().selectExpr("variant_get(v, '$.k', 'long') as k")
      .agg(org.apache.spark.sql.functions.sum("k")).head().getLong(0) == 15L)

    // checkpoint survival: the feature + schema ride the checkpoint seed
    w.checkpoint()
    w.append(d.limit(1)) // tail commit after the checkpoint
    assert(DeltaTable.load(spark, loc).scan().count() == 7)

    // sibling non-variant columns still prune (variant itself carries no
    // stats — unknown, never wrong)
    assert(t.planFiles(Some(col("id") < 3)).size < t.planFiles().size)

    // the DSv2 connector and the SQL catalog serve the same variant
    // column (a reference user reads through SQL, not the table API)
    val conn = spark.read.format("graft-delta").load(loc)
    assert(conn.schema("v").dataType ==
      org.apache.spark.sql.types.VariantType)
    assert(conn.selectExpr("variant_get(v, '$.k', 'long') as k")
      .agg(org.apache.spark.sql.functions.sum("k")).head().getLong(0) == 15L)
    assert(spark.sql(
      s"SELECT variant_get(v, '$$.k', 'long') AS k FROM `graft-delta`.`$loc`")
      .agg(org.apache.spark.sql.functions.sum("k")).head().getLong(0) == 15L)

    // an UNKNOWN reader feature still rejects loudly (variant did not
    // soften the guard)
    val log = new java.io.File(s"$loc/_delta_log")
    val commits = log.listFiles().filter(_.getName.endsWith(".json"))
      .filterNot(_.getName.contains("checkpoint")).sortBy(_.getName)
    val nextV = commits.map(_.getName.stripSuffix(".json").toLong).max + 1
    val evil = new java.io.File(log, f"$nextV%020d.json")
    val pw = new java.io.PrintWriter(evil, "UTF-8")
    pw.println("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["variantType","futureMagic"],"writerFeatures":["variantType","futureMagic"]}}""")
    pw.close()
    val e = intercept[IllegalArgumentException] { DeltaTable.load(spark, loc) }
    assert(e.getMessage.contains("futureMagic"))
  }

  test("SHREDDED variant data file: golden fixture pins the read behavior (r14)") {
    // the variantShredding table feature (files may store typed_value
    // subcolumns) is OUTSIDE the supported set, so a spec-compliant
    // shredded table already rejects loudly at the protocol guard. This
    // arm covers the remaining hazard — a non-compliant writer shredding
    // a file WITHOUT declaring the feature — with a golden fixture
    // authored by Spark's OWN shredding writer (zero graft codec code):
    // the scan must either read the typed_value layout correctly or fail
    // loudly, never serve silent nulls.
    import org.apache.spark.sql.types.{LongType, StructField, StructType, VariantType}
    val loc = freshDir("variant-shredded")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", VariantType)))
    val d = spark.range(5).selectExpr("id",
      "parse_json(concat('{\"k\":', id, ',\"s\":\"x', id, '\"}')) as v")
    val w = DeltaWriter.create(spark, loc, schema)
    w.append(d.coalesce(1)) // ONE data file — the substitution target

    // author a SHREDDED file of the same rows with Spark's shredding
    // writer, and prove it is physically shredded (typed_value in the
    // footer schema) before substituting it
    val stage = freshDir("variant-shredded-stage")
    spark.conf.set("spark.sql.variant.writeShredding.enabled", "true")
    spark.conf.set("spark.sql.variant.inferShreddingSchema", "true")
    try d.coalesce(1).write.mode("overwrite").parquet(stage)
    finally {
      spark.conf.unset("spark.sql.variant.writeShredding.enabled")
      spark.conf.unset("spark.sql.variant.inferShreddingSchema")
    }
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(stage).getFileSystem(conf)
    val shredded = fs.listStatus(new Path(stage))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(shredded, conf))
    val physSchema = try footer.getFooter.getFileMetaData.getSchema.toString
      finally footer.close()
    assert(physSchema.contains("typed_value"),
      s"fixture must be physically shredded, footer schema:\n$physSchema")

    // substitute the table's data file with the shredded bytes (same
    // path, same logical rows — only the physical variant layout differs)
    val t0 = DeltaTable.load(spark, loc)
    val dataFile = new Path(loc, t0.planFiles().head)
    fs.delete(dataFile, false)
    require(org.apache.hadoop.fs.FileUtil.copy(fs, shredded, fs, dataFile,
      false, conf))

    // the pinned behavior: correct values or a loud error — NEVER nulls
    val read = scala.util.Try {
      DeltaTable.load(spark, loc)
        .scan().selectExpr("id", "variant_get(v, '$.k', 'long') as k",
          "variant_get(v, '$.s', 'string') as s")
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.get(1), r.get(2))).toSeq
    }
    read match {
      case scala.util.Success(rows) =>
        assert(rows == (0L until 5L).map(i => (i, i, s"x$i")).toSeq,
          s"shredded read must reassemble typed_value exactly, got $rows")
      case scala.util.Failure(e) =>
        val msg = String.valueOf(e.getMessage).toLowerCase
        assert(msg.contains("shred") || msg.contains("variant") ||
          msg.contains("typed_value") || msg.contains("schema"),
          s"a refusing read must name the variant/shredding problem, got: $e")
    }
  }

  test("ROW TRACKING: fresh ids, DV/COW stability, update/upsert carry (r16b)") {
    // Delta's row-lineage counterpart to Iceberg v3: writer features
    // rowTracking + domainMetadata, per-add baseRowId spans under the
    // delta.rowTracking high-water mark, materialized column override
    // on rewrite. Receipts mirror the IcebergSpec lineage arms.
    import spark.implicits._
    val loc = freshDir("rowtracking")
    val df1 = (0L until 40L).map(i => (i, s"a$i")).toDF("k", "s")
    val df2 = (100L until 130L).map(i => (i, s"b$i")).toDF("k", "s")
    val w = DeltaWriter.create(spark, loc, df1.schema,
      enableRowTracking = true)
    w.append(df1.repartition(2)) // several files: per-file baseRowId spans
    w.append(df2.repartition(2))
    val t0 = DeltaTable.load(spark, loc)
    val got0 = t0.scanWithRowTracking()
      .select("k", "_row_id", "_row_commit_version").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got0.values.map(_._1).toSeq.sorted == (0L until 70L),
      "fresh row ids must be exactly 0..n-1, no gaps")
    assert(got0.filter(_._1 < 100L).values.map(_._2).toSet == Set(1L) &&
      got0.filter(_._1 >= 100L).values.map(_._2).toSet == Set(2L),
      "each append batch must carry its own commit version")

    // DV delete: survivors keep ids (row_index stable under masking)
    w.deleteWhereDv(col("k") === 0L || col("k") === 100L)
    val afterDv = DeltaTable.load(spark, loc).scanWithRowTracking()
      .select("k", "_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!afterDv.contains(0L) && !afterDv.contains(100L))
    assert(afterDv.forall { case (k, id) => got0(k)._1 == id },
      "DV-delete survivors must keep their _row_id")

    // COW delete (file rewrite): carried rows keep id AND version
    w.deleteWhere(col("k") === 5L)
    val afterCow = DeltaTable.load(spark, loc).scanWithRowTracking()
      .select("k", "_row_id", "_row_commit_version").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(!afterCow.contains(5L))
    assert(afterCow.forall { case (k, v) => got0(k) == v },
      "COW-rewrite carried rows must keep (_row_id, _row_commit_version)")

    // UPDATE: matched rows keep id, take the update commit's version
    val updVer = w.updateWhere(col("k") < 10L, Map("s" -> lit("upd")))
    val afterUpd = DeltaTable.load(spark, loc).scanWithRowTracking()
      .select("k", "s", "_row_id", "_row_commit_version").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    afterUpd.foreach { case (k, (s, id, ver)) =>
      assert(id == got0(k)._1, s"update must carry _row_id (k=$k)")
      if (k < 10L) {
        assert(s == "upd")
        assert(ver == updVer,
          s"updated row k=$k must carry the UPDATE commit version " +
            s"($updVer), got $ver")
      } else assert(ver == afterCow(k)._2,
        s"untouched row k=$k must keep its commit version")
    }

    // UPSERT: matched key keeps its id at the merge version; fresh keys
    // mint ids above the high-water mark
    val upVer = w.upsertKeys(
      Seq((3L, "up3"), (500L, "new")).toDF("k", "s"), Seq("k"))
    val afterUp = DeltaTable.load(spark, loc).scanWithRowTracking()
      .select("k", "s", "_row_id", "_row_commit_version").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(afterUp(3L) == (("up3", got0(3L)._1, upVer)),
      s"upserted existing key must keep its _row_id: ${afterUp(3L)}")
    assert(afterUp(500L)._2 >= 70L,
      s"fresh key must mint a new id above the watermark: ${afterUp(500L)}")
    assert(afterUp(500L)._3 == upVer)
    val ids = afterUp.values.map(_._2).toSeq
    assert(ids.distinct.size == ids.size, "row ids must stay unique")

    // OPTIMIZE (dataChange=false re-layout) preserves everything
    w.optimize(smallBytes = Long.MaxValue)
    val afterOpt = DeltaTable.load(spark, loc).scanWithRowTracking()
      .select("k", "s", "_row_id", "_row_commit_version").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(afterOpt == afterUp, "OPTIMIZE must preserve row tracking state")

    // checkpoint-seeded load serves the same lineage; reopened writer
    // continues the id chain (domainMetadata high-water mark restored)
    w.checkpoint()
    val cpSeeded = DeltaTable.load(spark, loc)
    val afterCp = cpSeeded.scanWithRowTracking()
      .select("k", "_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(afterCp == afterOpt.map { case (k, v) => k -> v._2 },
      "checkpoint-seeded row-tracking read drifted")
    val w2 = DeltaWriter.open(spark, loc)
    w2.append(Seq((600L, "z")).toDF("k", "s"))
    val afterReopen = DeltaTable.load(spark, loc).scanWithRowTracking()
      .select("k", "_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(afterReopen(600L) > afterOpt.values.map(_._2).max,
      "reopened writer must mint ids above every assigned id")
    assert(afterReopen.values.toSeq.distinct.size == afterReopen.size)

    // plain scan stays clean of the materialized columns
    assert(DeltaTable.load(spark, loc).scan().columns.toSeq == Seq("k", "s"))

    // SQL-connector surface (the graft-iceberg with-lineage twin):
    // option("with-row-tracking", "true") serves the same columns
    val viaSql = spark.read.format("graft-delta")
      .option("with-row-tracking", "true").load(loc)
    assert(viaSql.columns.toSeq ==
      Seq("k", "s", "_row_id", "_row_commit_version"))
    assert(viaSql.select("k", "_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == afterReopen,
      "connector row-tracking read drifted from scanWithRowTracking")

    // a non-tracking table refuses the lineage scan loudly
    val loc2 = freshDir("rowtracking-off")
    val w3 = DeltaWriter.create(spark, loc2, df1.schema)
    w3.append(df1.limit(3))
    intercept[IllegalArgumentException] {
      DeltaTable.load(spark, loc2).scanWithRowTracking().collect()
    }
    intercept[Exception] {
      spark.read.format("graft-delta")
        .option("with-row-tracking", "true").load(loc2).collect()
    }
  }
}
