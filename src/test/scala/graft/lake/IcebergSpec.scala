package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}
import graft.lake.iceberg.{IcebergAvro, IcebergTable, IcebergTransforms, IcebergWriter}

/** Real Apache Iceberg format interop: the writer builds spec-conforming
  * v2 layouts (Avro manifests + manifest lists, metadata.json), the reader
  * plans and scans them. Round-trips here are the receipt that the bytes
  * on disk follow the PUBLIC spec — no Iceberg library exists in the
  * sandbox to cross-check, so the bucket-hash test pins the spec's own
  * published test vectors (the part most likely to silently drift). */
class IcebergSpec extends AnyFunSuite {
  import TestSpark._

  private def freshDir(name: String): String = {
    val d = s"/root/repo/target/graft-iceberg-test/$name"
    val p = new Path(d)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    d
  }

  test("bucket transform matches the spec's published hash test vectors") {
    // Iceberg table spec, Appendix B: 32-bit Murmur3 hash results
    assert(IcebergTransforms.murmur3x86(
      java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putLong(34L).array(), 0) == 2017239379)
    assert(IcebergTransforms.bucket(34, IntegerType, 16).contains(2017239379 % 16))
    assert(IcebergTransforms.bucket(34L, LongType, 16).contains(2017239379 % 16))
    assert(IcebergTransforms.murmur3x86(
      "iceberg".getBytes("UTF-8"), 0) == 1210000089)
    assert(IcebergTransforms.bucket(
      java.time.LocalDate.parse("2017-11-16"), DateType, 100)
      .contains((-653330422 & Integer.MAX_VALUE) % 100))
  }

  test("native iceberg_bucket expression matches spec vectors; no UDF in plan") {
    import spark.implicits._
    def bucketCol(c: org.apache.spark.sql.Column, n: Int) =
      org.apache.spark.sql.graftshim.ColumnExpr.column(
        graft.expressions.IcebergBucket(
          org.apache.spark.sql.graftshim.ColumnExpr.expression(c), n))
    val df = Seq((34, 34L, "iceberg", java.sql.Date.valueOf("2017-11-16")))
      .toDF("i", "l", "s", "d")
      .select(bucketCol(col("i"), 16).as("bi"), bucketCol(col("l"), 16).as("bl"),
        bucketCol(col("s"), 16).as("bs"), bucketCol(col("d"), 100).as("bd"))
    val r = df.head()
    assert(r.getInt(0) == 2017239379 % 16)
    assert(r.getInt(1) == 2017239379 % 16)
    assert(r.getInt(2) == 1210000089 % 16)
    assert(r.getInt(3) == (-653330422 & Integer.MAX_VALUE) % 100)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"), plan)
    val nr = Seq(Option.empty[Int]).toDF("i").select(bucketCol(col("i"), 16)).head()
    assert(nr.isNullAt(0), "null input must stay null")
  }

  test("unpartitioned round-trip: two appends read back exactly") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("roundtrip"), n.schema)
    w.append(n.filter(col("n_nationkey") < 13))
    w.append(n.filter(col("n_nationkey") >= 13))
    val t = IcebergTable.load(spark, w.location)
    assert(t.schema.fieldNames.toSeq == n.schema.fieldNames.toSeq)
    val got = t.scan().orderBy("n_nationkey").collect().toSeq
    val want = n.orderBy("n_nationkey").collect().toSeq
    assert(got == want)
  }

  test("an empty version-hint (torn in-place overwrite) falls back to listing") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("empty-hint"), n.schema)
    w.append(n.filter(col("n_nationkey") < 13))
    w.append(n.filter(col("n_nationkey") >= 13))
    val hint = new Path(w.location, "metadata/version-hint.text")
    val fs = hint.getFileSystem(spark.sessionState.newHadoopConf())
    fs.create(hint, true).close()
    assert(IcebergTable.load(spark, w.location).scan().count() == n.count())
    // the writer resolves the head the same way and commits above it
    IcebergWriter.open(spark, w.location).append(n.filter(col("n_nationkey") === 0))
    assert(IcebergTable.load(spark, w.location).scan().count() == n.count() + 1)
  }

  test("a stale version-hint (crash before its overwrite) is probed past") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("stale-hint"), n.schema)
    w.append(n.filter(col("n_nationkey") < 13))
    w.append(n.filter(col("n_nationkey") >= 13))
    val meta = new Path(w.location, "metadata")
    val fs = meta.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new Path(meta, "v3.metadata.json")))
    val hint = fs.create(new Path(meta, "version-hint.text"), true)
    try hint.write("2".getBytes("UTF-8")) finally hint.close()
    assert(IcebergTable.load(spark, w.location).scan().count() == n.count())
    // a fresh writer resolves the head the same way and publishes v4
    IcebergWriter.open(spark, w.location).append(n.filter(col("n_nationkey") === 0))
    assert(fs.exists(new Path(meta, "v4.metadata.json")))
    assert(IcebergTable.load(spark, w.location).scan().count() == n.count() + 1)
  }

  test("identity partition pruning: filtered plan keeps only matching files") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("prune"), n.schema,
      partition = Seq("n_regionkey" -> "identity"))
    w.append(n)
    val t = IcebergTable.load(spark, w.location)
    val all = t.planFiles()
    val pruned = t.planFiles(Some(col("n_regionkey") === 2))
    assert(all.size == 5, s"expected 5 partition files, got ${all.size}")
    assert(pruned.size == 1, s"pruning kept ${pruned.size} of ${all.size}")
    assert(t.scan(Some(col("n_regionkey") === 2)).count() ==
      n.filter(col("n_regionkey") === 2).count())
  }

  test("column-bound stats pruning without partitioning") {
    val o = Tables.orders(spark, sf).repartitionByRange(4, col("o_orderkey"))
    val w = IcebergWriter.create(spark, freshDir("stats"), o.schema)
    w.append(o)
    val t = IcebergTable.load(spark, w.location)
    val all = t.planFiles()
    val pruned = t.planFiles(Some(col("o_orderkey") < 100))
    assert(all.size == 4)
    assert(pruned.size < all.size, s"bounds kept ${pruned.size} of ${all.size}")
    assert(t.scan(Some(col("o_orderkey") < 100)).count() ==
      o.filter(col("o_orderkey") < 100).count())
  }

  test("bucket pruning uses Iceberg's hash, not Spark's") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("bucket"), n.schema,
      partition = Seq("n_nationkey" -> "bucket[4]"))
    w.append(n)
    val t = IcebergTable.load(spark, w.location)
    val all = t.planFiles()
    assert(all.size > 1, "expected multiple bucket files")
    val pruned = t.planFiles(Some(col("n_nationkey") === 7))
    assert(pruned.size == 1, s"bucket pruning kept ${pruned.size} of ${all.size}")
    val got = t.scan(Some(col("n_nationkey") === 7)).collect()
    assert(got.length == 1 &&
      got.head.getAs[Number]("n_nationkey").longValue == 7L)
  }

  test("time travel: snapshot id, as-of-time, and tag reads") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("tt"), n.schema)
    val s1 = w.append(n.filter(col("n_nationkey") < 13))
    val ts1 = w.meta.snapshot(s1).timestampMs
    val s2 = w.append(n.filter(col("n_nationkey") >= 13))
    w.tag("first-load", s1)
    val t = IcebergTable.load(spark, w.location)
    assert(t.currentSnapshotId == s2)
    assert(t.scan().count() == 25)
    assert(t.scan(snapshotId = s1).count() == 13)
    assert(t.snapshotAsOfTime(ts1) == s1)
    assert(t.scanAsOfTime(ts1).count() == 13)
    assert(t.scanRef("first-load").count() == 13)
    assert(t.scanRef("main").count() == 25)
  }

  test("equality deletes apply only to files with a lower sequence number") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("eqdel"), n.schema)
    w.append(n)
    w.equalityDelete(n.filter(col("n_nationkey").isin(3, 14)).select("n_nationkey"))
    val t1 = IcebergTable.load(spark, w.location)
    assert(t1.scan().count() == 23)
    assert(t1.scan().filter(col("n_nationkey").isin(3, 14)).count() == 0)
    // rows re-appended AFTER the delete (higher seq) must survive it
    w.append(n.filter(col("n_nationkey") === 3))
    val t2 = IcebergTable.load(spark, w.location)
    assert(t2.scan().count() == 24)
    assert(t2.scan().filter(col("n_nationkey") === 3).count() == 1)
  }

  test("position deletes remove exactly the named rows") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("posdel"), n.schema)
    w.append(n.orderBy("n_nationkey").coalesce(1))
    val t1 = IcebergTable.load(spark, w.location)
    val dataFile = t1.planFiles().head
    // delete ordinals 0 and 2 of the single data file
    import spark.implicits._
    w.positionDelete(Seq((dataFile, 0L), (dataFile, 2L)).toDF("file_path", "pos"))
    val t2 = IcebergTable.load(spark, w.location)
    val left = t2.scan().orderBy("n_nationkey").select("n_nationkey")
      .as[Long].collect().toSeq
    assert(left.size == 23)
    assert(!left.contains(0L) && !left.contains(2L) && left.contains(1L))
  }

  test("rename resolves old files' physical columns by field id") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("rename"), n.schema)
    w.append(n.filter(col("n_nationkey") < 13))
    w.renameColumn("n_name", "nation_name")
    w.append(n.filter(col("n_nationkey") >= 13).withColumnRenamed("n_name", "nation_name"))
    val t = IcebergTable.load(spark, w.location)
    assert(t.schema.fieldNames.contains("nation_name"))
    assert(!t.schema.fieldNames.contains("n_name"))
    val got = t.scan().select("n_nationkey", "nation_name").orderBy("n_nationkey").collect()
    val want = n.select(col("n_nationkey"), col("n_name").as("nation_name"))
      .orderBy("n_nationkey").collect()
    assert(got.toSeq == want.toSeq)
  }

  test("manifest-list summaries skip whole manifests before manifest IO") {
    val o = Tables.orders(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("mlprune"), o.schema,
      partition = Seq("o_orderstatus" -> "identity"))
    // three commits; only one holds o_orderstatus = 'P' files
    w.append(o.filter(col("o_orderstatus") === "F"))
    w.append(o.filter(col("o_orderstatus") === "O"))
    w.append(o.filter(col("o_orderstatus") === "P"))
    val t = IcebergTable.load(spark, w.location)
    val (loadedAll, totalAll) = t.planManifestCounts()
    assert(loadedAll == 3 && totalAll == 3)
    val (loaded, total) = t.planManifestCounts(Some(col("o_orderstatus") === "P"))
    assert(total == 3 && loaded == 1,
      s"summaries should load 1 of $total manifests, loaded $loaded")
  }

  test("day-transform partitioning prunes on the source timestamp column") {
    import spark.implicits._
    val df = Seq(
      ("a", java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      ("b", java.sql.Timestamp.valueOf("2024-01-01 23:00:00")),
      ("c", java.sql.Timestamp.valueOf("2024-03-05 00:30:00")),
      ("d", java.sql.Timestamp.valueOf("2024-06-30 12:00:00"))
    ).toDF("id", "ts")
    val w = IcebergWriter.create(spark, freshDir("daypart"), df.schema,
      partition = Seq("ts" -> "day"))
    w.append(df)
    val t = IcebergTable.load(spark, w.location)
    // 3 distinct days; the 2024-01-01 partition may hold >1 file
    assert(t.planFiles().size >= 3)
    val f = col("ts") >= lit("2024-03-01").cast("timestamp") &&
      col("ts") < lit("2024-04-01").cast("timestamp")
    assert(t.planFiles(Some(f)).size == 1)
    assert(t.scan(Some(f)).select("id").collect().map(_.getString(0)).toSeq == Seq("c"))
  }

  test("v1 metadata (single schema + bare partition-spec) parses and scans") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("v1"), n.schema)
    w.append(n)
    // rewrite the metadata.json into the v1 shape: format-version 1,
    // singular "schema"/"partition-spec", no sequence numbers
    val loc = w.location
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(loc).getFileSystem(conf)
    val hint = new Path(loc, "metadata/version-hint.text")
    val in = fs.open(hint)
    val v = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
    val mp = new Path(loc, s"metadata/v$v.metadata.json")
    val mIn = fs.open(mp)
    val json = try scala.io.Source.fromInputStream(mIn, "UTF-8").mkString finally mIn.close()
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.readTree(json).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.put("format-version", 1)
    node.set("schema", node.get("schemas").get(0))
    node.set("partition-spec", node.get("partition-specs").get(0).get("fields"))
    node.remove("schemas"); node.remove("current-schema-id")
    node.remove("partition-specs"); node.remove("last-sequence-number")
    val out = fs.create(mp, true)
    try out.write(m.writeValueAsString(node).getBytes("UTF-8")) finally out.close()
    val t = IcebergTable.load(spark, loc)
    assert(t.meta.formatVersion == 1)
    assert(t.scan().count() == 25)
  }

  test("v3 initial-default fills columns added after a file was written") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("dflt"), n.schema)
    w.append(n)
    // metadata surgery: evolve to a schema with a new column carrying a
    // v3 initial-default; the existing file's manifest still points at
    // schema-id 0, so its rows must surface the DEFAULT, not null
    val loc = w.location
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(loc).getFileSystem(conf)
    val hint = new Path(loc, "metadata/version-hint.text")
    val in = fs.open(hint)
    val v = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
    val mp = new Path(loc, s"metadata/v$v.metadata.json")
    val mIn = fs.open(mp)
    val json = try scala.io.Source.fromInputStream(mIn, "UTF-8").mkString finally mIn.close()
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.readTree(json).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.put("format-version", 3)
    val sch0 = node.get("schemas").get(0).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val sch1 = sch0.deepCopy()
    sch1.put("schema-id", 1)
    val nf = sch1.withArray("fields").addObject()
    nf.put("id", 99); nf.put("name", "tier"); nf.put("required", false)
    nf.put("type", "string"); nf.put("initial-default", "standard")
    node.withArray("schemas").add(sch1)
    node.put("current-schema-id", 1)
    val out = fs.create(mp, true)
    try out.write(m.writeValueAsString(node).getBytes("UTF-8")) finally out.close()
    val t = IcebergTable.load(spark, loc)
    assert(t.schema.fieldNames.contains("tier"))
    val tiers = t.scan().select("tier").distinct().collect().map(_.getString(0)).toSeq
    assert(tiers == Seq("standard"),
      s"pre-evolution rows must surface the initial-default, got $tiers")
  }

  // ---- v3 deletion vectors (puffin) ---------------------------------------

  test("v3 DV delete masks rows without rewriting any data file") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("dv"), n.schema)
    w.append(n)
    val before = IcebergTable.load(spark, w.location).planFiles().toSet
    w.deleteWhereDv(col("n_nationkey") % 2 === 0)
    val t = IcebergTable.load(spark, w.location)
    assert(t.meta.formatVersion == 3)
    assert(t.planFiles().toSet == before, "DV delete must not rewrite files")
    val want = n.filter(col("n_nationkey") % 2 =!= 0)
    assert(t.scan().orderBy("n_nationkey").collect().toSeq ==
      want.orderBy("n_nationkey").collect().toSeq)
    // the puffin file really exists under data/
    val fs = new Path(w.location).getFileSystem(spark.sessionState.newHadoopConf())
    val puffins = fs.listStatus(new Path(w.location, "data"))
      .filter(_.getPath.getName.endsWith(".puffin"))
    assert(puffins.nonEmpty)
  }

  test("second v3 DV delete on the same file unions the earlier bitmap") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("dv2"), n.schema)
    w.append(n)
    w.deleteWhereDv(col("n_nationkey") === 0)
    // scan NOW so the executor DV cache holds the first blob's bitmap —
    // a cache keyed without blob identity would serve it stale after the
    // second delete below
    assert(IcebergTable.load(spark, w.location).scan().count() == n.count() - 1)
    w.deleteWhereDv(col("n_nationkey") === 1)
    val t = IcebergTable.load(spark, w.location)
    val got = t.scan().select("n_nationkey").orderBy("n_nationkey")
      .collect().map(_.getInt(0)).toSeq
    assert(got == (2 to 24), s"both deletes must apply, got $got")
  }

  test("v3 DV absorbs the file's earlier parquet position deletes") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("dv3"), n.schema)
    w.append(n)
    // parquet position delete for row 0, then a DV delete for key 1.
    // Per v3, the writer MUST merge the file's existing position
    // deletes into the DV (one DV per file replaces them all), and the
    // reader MUST ignore pos-delete files once the file has a DV — so
    // BOTH rows stay deleted, via the DV alone.
    val dataFile = IcebergTable.load(spark, w.location).planFiles().head
    import spark.implicits._
    w.positionDelete(Seq((dataFile, 0L)).toDF("file_path", "pos"))
    assert(IcebergTable.load(spark, w.location).scan().count() == 24)
    w.deleteWhereDv(col("n_nationkey") === 1)
    val t = IcebergTable.load(spark, w.location)
    val got = t.scan().select("n_nationkey").orderBy("n_nationkey")
      .collect().map(_.getInt(0)).toSeq
    assert(got == (2 to 24),
      s"DV must absorb prior position deletes (row 0) and mask key 1, got $got")
  }

  test("v3 DV honors time travel: pre-DV snapshot reads all rows") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("dvtt"), n.schema)
    w.append(n)
    val preDv = w.currentSnapshotId
    w.deleteWhereDv(col("n_nationkey") < 5)
    val t = IcebergTable.load(spark, w.location)
    assert(t.scan().count() == 20)
    assert(t.scan(snapshotId = preDv).count() == 25)
  }

  test("snapshots/files metadata tables answer from metadata alone") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("metatab"), n.schema,
      partition = Seq("n_regionkey" -> "identity"))
    val s1 = w.append(n.filter(col("n_regionkey") < 3))
    val s2 = w.append(n.filter(col("n_regionkey") >= 3))
    w.equalityDelete(n.filter(col("n_nationkey") === 3).select("n_nationkey"))
    val t = IcebergTable.load(spark, w.location)
    val snaps = t.snapshotsDf.collect()
    assert(snaps.length == 3)
    assert(snaps.map(_.getAs[Long]("snapshot_id")).toSet.contains(s1))
    val byId = snaps.map(r => r.getAs[Long]("snapshot_id") -> r).toMap
    assert(byId(s2).getAs[Long]("parent_id") == s1)
    assert(byId(s1).isNullAt(byId(s1).fieldIndex("parent_id")))
    assert(snaps.forall(_.getAs[String]("operation").nonEmpty))
    val files = t.filesDf().collect()
    // 5 region partitions of data + 1 equality-delete file
    assert(files.count(_.getAs[Int]("content") == 0) == 5)
    assert(files.count(_.getAs[Int]("content") == 2) == 1)
    assert(files.filter(_.getAs[Int]("content") == 0)
      .map(_.getAs[Map[String, String]]("partition").values.head).sorted.toSeq ==
      Seq("0", "1", "2", "3", "4"))
    assert(files.forall(_.getAs[Long]("record_count") > 0))
    // time travel: the files table of snapshot 1 has 3 data files, no deletes
    val f1 = t.filesDf(s1).collect()
    assert(f1.length == 3 && f1.forall(_.getAs[Int]("content") == 0))
  }

  test("incremental append scan: added rows only, tagged by snapshot") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("incr"), n.schema)
    val s1 = w.append(n.filter(col("n_nationkey") < 10))
    val s2 = w.append(n.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 20))
    val s3 = w.append(n.filter(col("n_nationkey") >= 20))
    val t = IcebergTable.load(spark, w.location)
    val got = t.incrementalAppends(s1).collect()
      .map(r => r.getAs[Int]("n_nationkey") -> r.getAs[Long]("_snapshot_id"))
    assert(got.map(_._1).sorted.toSeq ==
      n.collect().map(_.getAs[Int]("n_nationkey")).filter(_ >= 10).sorted.toSeq)
    got.foreach { case (k, sid) =>
      assert(sid == (if (k < 20) s2 else s3), s"key $k tagged $sid")
    }
    // from == to → empty, with the right schema
    assert(t.incrementalAppends(s3).count() == 0)
    // filter pushes into the planning
    assert(t.incrementalAppends(s1, filter = Some(col("n_nationkey") >= 20))
      .collect().forall(_.getAs[Long]("_snapshot_id") == s3))
  }

  test("incremental append scan rejects delete snapshots in range") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("incr-rej"), n.schema)
    val s1 = w.append(n.filter(col("n_nationkey") < 20))
    w.equalityDelete(n.filter(col("n_nationkey") === 3).select("n_nationkey"))
    w.append(n.filter(col("n_nationkey") >= 20))
    val t = IcebergTable.load(spark, w.location)
    val e = intercept[IllegalArgumentException] { t.incrementalAppends(s1) }
    assert(e.getMessage.contains("operation"))
    // a non-ancestor `from` is rejected too
    val e2 = intercept[Exception] { t.incrementalAppends(999999L) }
    assert(e2.getMessage.contains("ancestor") || e2.getMessage.contains("not in metadata"))
  }

  test("rollback_to_snapshot: metadata-only rewind, history kept, writes fork forward") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("rollback"), n.schema)
    val a = n.filter(col("n_nationkey") < 10)
    val b = n.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 20)
    val c = n.filter(col("n_nationkey") >= 20)
    val s1 = w.append(a)
    val s2 = w.append(b)
    w.rollbackTo(s1)
    val t = IcebergTable.load(spark, w.location)
    assert(t.scan().count() == a.count(), "current state equals the target snapshot")
    // the undone snapshot stays time-travelable
    assert(t.scan(None, s2).count() == a.count() + b.count())
    // writing continues FROM the rollback point
    val s3 = w.append(c)
    val t2 = IcebergTable.load(spark, w.location)
    assert(t2.scan().collect().map(_.getAs[Int]("n_nationkey")).toSet ==
      (a.collect() ++ c.collect()).map(_.getAs[Int]("n_nationkey")).toSet)
    // s2 is now a side branch, not an ancestor — rollback to it must fail
    val e = intercept[IllegalArgumentException] { w.rollbackTo(s2) }
    assert(e.getMessage.contains("ancestor"))
    assert(s3 != s1)
  }

  // ---- data-file format routing (reference: iceberg_bridge.h:229-249
  // enumerates PARQUET/ORC/AVRO per entry) ----------------------------------

  /** Rewrites every manifest's records in place through `mutate`,
    * preserving the avro schema and header metadata — the test-side
    * stand-in for tables written by engines that emit non-parquet data
    * files (no such writer exists in the sandbox). */
  private def patchManifests(loc: String)(
      mutate: org.apache.avro.generic.GenericRecord => Unit): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val metaDir = new Path(loc, "metadata")
    val fs = metaDir.getFileSystem(conf)
    fs.listStatus(metaDir).filter { s =>
      s.getPath.getName.startsWith("mf-") && s.getPath.getName.endsWith(".avro")
    }.foreach { st =>
      val in = fs.open(st.getPath)
      val stream = new org.apache.avro.file.DataFileStream[
        org.apache.avro.generic.GenericRecord](in,
        new org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord]())
      val schema = stream.getSchema
      import scala.jdk.CollectionConverters._
      val metaKeys = stream.getMetaKeys.asScala.toSeq
        .filterNot(_.startsWith("avro.")) // reserved keys re-set by the writer
        .map(k => k -> stream.getMetaString(k)).toMap
      val recs = scala.collection.mutable.ArrayBuffer[
        org.apache.avro.generic.GenericRecord]()
      while (stream.hasNext) recs += stream.next()
      stream.close()
      recs.foreach(mutate)
      graft.lake.iceberg.IcebergAvro.writeAvro(
        conf, st.getPath, schema, metaKeys, recs.toSeq)
    }
    // in-place manifest rewrite is a TEST-ONLY device (real Iceberg
    // manifests are create-only) — drop the JVM-wide manifest cache so
    // the next plan reads the patched bytes
    IcebergTable.manifestCache.invalidateAll()
  }

  /** Converts a table's parquet data files to real ORC files and points
    * the manifests at them with file_format=ORC. `orcOptions` pass to
    * the ORC writer (e.g. orc.stripe.row.count for multi-stripe files). */
  private def convertDataFilesToOrc(loc: String,
      orcOptions: Map[String, String] = Map.empty): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    patchManifests(loc) { r =>
      val df = r.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
      if (df.get("content").toString.toInt == 0) {
        val p = df.get("file_path").toString
        val orcPath = p.stripSuffix(".parquet") + ".orc"
        val stageDir = orcPath + ".stage"
        spark.read.parquet(p).coalesce(1)
          .write.mode("overwrite").options(orcOptions).orc(stageDir)
        val fs = new Path(stageDir).getFileSystem(conf)
        val part = fs.listStatus(new Path(stageDir))
          .map(_.getPath).find(_.getName.endsWith(".orc")).get
        require(fs.rename(part, new Path(orcPath)))
        fs.delete(new Path(stageDir), true)
        df.put("file_path", orcPath)
        df.put("file_format", "ORC")
      }
    }
  }

  test("ORC data files route through the ORC source and read back exactly") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("orcread"), n.schema)
    w.append(n.filter(col("n_nationkey") < 13))
    w.append(n.filter(col("n_nationkey") >= 13))
    convertDataFilesToOrc(w.location)
    val t = IcebergTable.load(spark, w.location)
    assert(t.scan().orderBy("n_nationkey").collect().toSeq ==
      n.orderBy("n_nationkey").collect().toSeq)
    // equality deletes are value-based — they apply to ORC groups too
    val w2 = IcebergWriter.open(spark, w.location)
    w2.equalityDelete(n.filter(col("n_nationkey") === 3).select("n_nationkey"))
    assert(IcebergTable.load(spark, w.location).scan().count() == n.count() - 1)
  }

  test("ORC data files on a partitioned table: pruning and values intact") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("orcpart"), n.schema,
      partition = Seq("n_regionkey" -> "identity"))
    w.append(n)
    convertDataFilesToOrc(w.location)
    val t = IcebergTable.load(spark, w.location)
    assert(t.scan().orderBy("n_nationkey").collect().toSeq ==
      n.orderBy("n_nationkey").collect().toSeq)
    val all = t.planFiles().size
    val kept = t.planFiles(Some(col("n_regionkey") === 2)).size
    assert(kept < all, s"pruning kept $kept of $all")
    assert(t.scan(Some(col("n_regionkey") === 2)).count() ==
      n.filter(col("n_regionkey") === 2).count())
  }

  /** Converts a table's parquet data files to real Avro OCF files (with
    * spec `field-id` props) and points the manifests at them with
    * file_format=AVRO — the stand-in for engines that write avro data. */
  private def convertDataFilesToAvro(loc: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val t = graft.lake.iceberg.IcebergTable.load(spark, loc)
    val ice = t.meta.currentSchema
    val avroSchema = new org.apache.avro.Schema.Parser().parse(
      graft.lake.iceberg.IcebergAvroData.avroSchemaJson(ice))
    patchManifests(loc) { r =>
      val df = r.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
      if (df.get("content").toString.toInt == 0) {
        val p = df.get("file_path").toString
        val avroPath = p.stripSuffix(".parquet") + ".avro"
        val rows = spark.read.schema(ice.struct).parquet(p).collect()
        graft.lake.iceberg.IcebergAvro.writeAvro(conf, new Path(avroPath),
          avroSchema, Map.empty,
          rows.toSeq.map(row =>
            graft.lake.iceberg.IcebergAvroData.toRecord(avroSchema, ice, row)))
        df.put("file_path", avroPath)
        df.put("file_format", "AVRO")
      }
    }
  }

  test("AVRO data files route through the avro-core reader and read back exactly (r11)") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("avroread"), n.schema)
    w.append(n.filter(col("n_nationkey") < 13))
    w.append(n.filter(col("n_nationkey") >= 13))
    convertDataFilesToAvro(w.location)
    val t = IcebergTable.load(spark, w.location)
    assert(t.scan().orderBy("n_nationkey").collect().toSeq ==
      n.orderBy("n_nationkey").collect().toSeq)
    // equality deletes are value-based — they apply to AVRO groups too
    val w2 = IcebergWriter.open(spark, w.location)
    w2.equalityDelete(n.filter(col("n_nationkey") === 3).select("n_nationkey"))
    assert(IcebergTable.load(spark, w.location).scan().count() == n.count() - 1)
  }

  test("AVRO data files on a partitioned table: pruning and values intact (r11)") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("avropart"), n.schema,
      partition = Seq("n_regionkey" -> "identity"))
    w.append(n)
    convertDataFilesToAvro(w.location)
    val t = IcebergTable.load(spark, w.location)
    assert(t.scan().orderBy("n_nationkey").collect().toSeq ==
      n.orderBy("n_nationkey").collect().toSeq)
    val all = t.planFiles().size
    val kept = t.planFiles(Some(col("n_regionkey") === 2)).size
    assert(kept < all, s"pruning kept $kept of $all")
    assert(t.scan(Some(col("n_regionkey") === 2)).count() ==
      n.filter(col("n_regionkey") === 2).count())
  }

  test("AVRO data files: field-id resolution survives a column rename (r11)") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("avrorename"), n.schema)
    w.append(n)
    convertDataFilesToAvro(w.location)
    val w2 = IcebergWriter.open(spark, w.location)
    w2.renameColumn("n_name", "nation_name")
    val t = IcebergTable.load(spark, w.location)
    // files hold the OLD avro field name; resolution must go by field-id
    assert(t.schema.fieldNames.contains("nation_name"))
    assert(t.scan().select("nation_name").orderBy("nation_name").collect().toSeq ==
      n.select(col("n_name").as("nation_name")).orderBy("nation_name").collect().toSeq)
  }

  test("deletion vectors over AVRO data files apply by streamed ordinal (r13)") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("avroposdel"), n.schema)
    w.append(n.orderBy("n_nationkey").coalesce(1))
    // DV lands on the parquet file FIRST (writing a DV reads the data);
    // the conversion then rewires data path + referenced_data_file while
    // PRESERVING row order, so the table models an avro-writing engine
    // whose files carry DVs addressing the same ordinals
    w.deleteWhereDv(col("n_nationkey") === 3)
    convertDataFilesToAvro(w.location)
    patchManifests(w.location) { r =>
      val df = r.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
      val ref = df.getSchema.getField("referenced_data_file")
      if (ref != null && df.get("referenced_data_file") != null)
        df.put("referenced_data_file",
          df.get("referenced_data_file").toString.stripSuffix(".parquet") + ".avro")
    }
    // r12 loud-rejected this; now the avro decode emits the per-file
    // ordinal (one streaming task per file) and the DV bitmap masks it
    val t = IcebergTable.load(spark, w.location)
    assert(t.scan().orderBy("n_nationkey").collect().toSeq ==
      n.filter(col("n_nationkey") =!= 3)
        .orderBy("n_nationkey").collect().toSeq)
  }

  test("positional delete files over AVRO data apply by streamed ordinal (r13)") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("avroposfile"), n.schema)
    w.append(n.orderBy("n_nationkey").coalesce(1)) // one file, known order
    convertDataFilesToAvro(w.location)
    val avroFile = IcebergTable.load(spark, w.location).planFiles().head
    assert(avroFile.endsWith(".avro"))
    import spark.implicits._
    // delete ordinals 0 and 5 = nationkeys 0 and 5 (file is key-ordered)
    IcebergWriter.open(spark, w.location)
      .positionDelete(Seq((avroFile, 0L), (avroFile, 5L)).toDF("file_path", "pos"))
    val t = IcebergTable.load(spark, w.location)
    assert(t.scan().orderBy("n_nationkey").collect().toSeq ==
      n.filter(col("n_nationkey") =!= 0 && col("n_nationkey") =!= 5)
        .orderBy("n_nationkey").collect().toSeq)
    // and metadata row counts still refuse (upper bounds under deletes)
    assert(t.scan().count() == n.count() - 2)
  }

  test("positional delete files over ORC data apply by streamed ordinal (r13)") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("orcposdel"), n.schema)
    w.append(n.orderBy("n_nationkey").coalesce(1)) // one file, known order
    convertDataFilesToOrc(w.location)
    val t1 = IcebergTable.load(spark, w.location)
    val dataFile = t1.planFiles().head
    import spark.implicits._
    // r12 loud-rejected this; the orc-core streaming reader (one task
    // per file, batch decode in file order) now emits the ordinal
    IcebergWriter.open(spark, w.location)
      .positionDelete(Seq((dataFile, 0L), (dataFile, 7L)).toDF("file_path", "pos"))
    val t = IcebergTable.load(spark, w.location)
    assert(t.scan().orderBy("n_nationkey").collect().toSeq ==
      n.filter(col("n_nationkey") =!= 0 && col("n_nationkey") =!= 7)
        .orderBy("n_nationkey").collect().toSeq)
  }

  test("multi-stripe ORC file with deletes reads in one task PER STRIPE (r14)") {
    import graft.lake.iceberg.IcebergOrcData
    // long/string columns only: the parquet→ORC test conversion renders
    // timestamps as raw longs, which the positional reader rightly
    // loud-rejects — stripe mechanics are the subject here
    val o = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")
      .orderBy("o_orderkey")
    val w = IcebergWriter.create(spark, freshDir("orcstripes"), o.schema)
    w.append(o.coalesce(1)) // one file, known row order
    // force several small stripes — the file stands in for the multi-GB
    // DV'd ORC file that used to be ONE task
    convertDataFilesToOrc(w.location, Map("orc.stripe.row.count" -> "256"))
    val t1 = IcebergTable.load(spark, w.location)
    val dataFile = t1.planFiles().head
    val slices = IcebergOrcData.planStripes(spark, Seq(dataFile))
    assert(slices.size > 1,
      s"need a multi-stripe file for this receipt, got ${slices.size} stripe(s)")
    // the scan parallelizes one task per stripe — receipt on the plan
    // input (parallelize(stripes, stripes.size)); first-row ordinals are
    // the exact prefix sums of stripe row counts
    assert(slices.map(_.firstRow) == slices.map(_.firstRow).sorted)
    assert(slices.head.firstRow == 0L)
    // delete the FIRST row of the file and one row deep in the LAST
    // stripe: correct only if every stripe's emit counter starts at its
    // own footer-derived base, not at 0
    val lastBase = slices.last.firstRow
    import spark.implicits._
    IcebergWriter.open(spark, w.location).positionDelete(
      Seq((dataFile, 0L), (dataFile, lastBase + 1L)).toDF("file_path", "pos"))
    val keys = o.select("o_orderkey").collect().map(_.getLong(0))
    val expect = keys.zipWithIndex
      .filterNot { case (_, i) => i == 0 || i == lastBase + 1 }
      .map(_._1).toSeq
    val got = IcebergTable.load(spark, w.location).scan()
      .orderBy("o_orderkey").select("o_orderkey").collect().map(_.getLong(0)).toSeq
    assert(got == expect.sorted,
      s"stripe-split positional read drifted: ${got.size} vs ${expect.size} rows")
  }

  test("deletion vectors over ORC data files apply by streamed ordinal (r13)") {
    val n = Tables.nation(spark, sf)
    val w = IcebergWriter.create(spark, freshDir("orcdv"), n.schema)
    w.append(n.orderBy("n_nationkey").coalesce(1))
    // DV computed against the parquet file; conversion preserves row
    // order, then rewires data path + referenced_data_file to the orc
    w.deleteWhereDv(col("n_nationkey") === 4)
    convertDataFilesToOrc(w.location)
    patchManifests(w.location) { r =>
      val df = r.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
      val ref = df.getSchema.getField("referenced_data_file")
      if (ref != null && df.get("referenced_data_file") != null)
        df.put("referenced_data_file",
          df.get("referenced_data_file").toString.stripSuffix(".parquet") + ".orc")
    }
    val t = IcebergTable.load(spark, w.location)
    assert(t.scan().orderBy("n_nationkey").collect().toSeq ==
      n.filter(col("n_nationkey") =!= 4)
        .orderBy("n_nationkey").collect().toSeq)
  }

  test("rewriteManifests: metadata-only consolidation, deletes still apply (r11)") {
    val o = Tables.orders(spark, sf)
    val loc = freshDir("rewrite-manifests")
    val w = IcebergWriter.create(spark, loc, o.schema,
      partition = Seq("o_orderstatus" -> "identity"))
    w.append(o.filter(col("o_orderkey") % 3 === 0))
    w.append(o.filter(col("o_orderkey") % 3 === 1))
    w.append(o.filter(col("o_orderkey") % 3 === 2))
    w.equalityDelete(o.filter(col("o_orderkey") % 5 === 0).select("o_orderkey"))
    w.deleteWhereDv(col("o_orderkey") % 7 === 3)
    val expect = o.filter(col("o_orderkey") % 5 =!= 0 &&
      col("o_orderkey") % 7 =!= 3).count()
    val before = IcebergTable.load(spark, loc)
    val snapBefore = before.meta.currentSnapshotId.get
    val filesBefore = before.planFiles(None).toSet
    val conf = spark.sessionState.newHadoopConf()
    def manifestCount(t: IcebergTable): Int = IcebergAvro.readManifestList(conf,
      new Path(t.meta.snapshot(t.meta.currentSnapshotId.get).manifestList)).size
    assert(manifestCount(before) >= 5, "five commits -> five manifests")

    val rid = w.rewriteManifests()
    assert(rid != -1L)
    val t = IcebergTable.load(spark, loc)
    assert(t.meta.snapshot(rid).operation == "replace")
    assert(manifestCount(t) == 2, "one data + one delete manifest after rewrite")
    // METADATA-only: the planned data files are the very same ones
    assert(t.planFiles(None).toSet == filesBefore)
    // content identical — the carried EXISTING entries' explicit seqs
    // keep the v2 delete-applicability rules exact
    assert(t.scan().count() == expect)
    // partition pruning still works off the rewritten manifests' summaries
    assert(t.planFiles(Some(col("o_orderstatus") === "F")).size <
      t.planFiles(None).size)
    // incremental consumers see NOTHING across the rewrite...
    assert(t.incrementalAppends(snapBefore).count() == 0)
    // ...and a later append is still delivered exactly
    val added = o.filter(col("o_orderkey") % 11 === 4)
      .withColumn("o_orderkey", -col("o_orderkey"))
    w.append(added)
    assert(IcebergTable.load(spark, loc).incrementalAppends(rid).count() ==
      added.count())
    // time travel to the pre-rewrite snapshot still reads
    assert(IcebergTable.load(spark, loc)
      .scan(snapshotId = snapBefore).count() == expect)
    // grouping: targetEntries=1 rolls one manifest per entry
    val w2 = IcebergWriter.open(spark, loc)
    val rid2 = w2.rewriteManifests(targetEntries = 1)
    assert(rid2 != -1L)
    val t2 = IcebergTable.load(spark, loc)
    assert(manifestCount(t2) == t2.planFiles(None).size +
      t2.filesDf().filter(col("content") =!= 0).count().toInt)
    assert(t2.scan().count() == expect + added.count())
  }

  test("rewriteManifests is schema-scoped: pre-rename manifests carry through (r11)") {
    val o = Tables.orders(spark, sf)
    val loc = freshDir("rewrite-rename")
    val w = IcebergWriter.create(spark, loc, o.schema)
    w.append(o.filter(col("o_orderkey") % 2 === 0)) // schema 0 manifest
    // new schema id, same field ids — old files resolve by their
    // write-schema NAME through the manifest's schema-id header
    w.renameColumn("o_totalprice", "o_price")
    w.append(o.filter(col("o_orderkey") % 2 === 1)
      .withColumnRenamed("o_totalprice", "o_price")) // schema 1 manifest ×1
    w.append(o.limit(0).withColumnRenamed("o_totalprice", "o_price"))
    val rid = w.rewriteManifests()
    assert(rid != -1L, "the two current-schema manifests consolidate")
    val t = IcebergTable.load(spark, loc)
    // a consolidated manifest headed with the CURRENT schema id must not
    // absorb the pre-rename manifest, or its files would read o_price
    // (absent from them) as silent NULLs
    val priceSum = t.scan().agg(sum(col("o_price"))).head().getDouble(0)
    val want = o.agg(sum(col("o_totalprice"))).head().getDouble(0)
    assert(math.abs(priceSum - want) < 1e-6,
      s"renamed column must read from pre-rename files ($priceSum vs $want)")
    assert(t.scan().filter(col("o_price").isNull).count() == 0)
  }

  test("compact() folds deletes into a replace snapshot; expireSnapshots GCs (r11)") {
    val o = Tables.orders(spark, sf)
    val loc = freshDir("maintain")
    val w = IcebergWriter.create(spark, loc, o.schema)
    w.append(o.filter(col("o_orderkey") % 2 === 0))
    w.append(o.filter(col("o_orderkey") % 2 === 1))
    w.equalityDelete(o.filter(col("o_orderkey") % 5 === 0).select("o_orderkey"))
    w.deleteWhereDv(col("o_orderkey") % 7 === 3)
    val expect = o.filter(col("o_orderkey") % 5 =!= 0 &&
      col("o_orderkey") % 7 =!= 3).count()
    val before = IcebergTable.load(spark, loc)
    assert(before.scan().count() == expect)
    val oldDataFiles = before.planFiles(None)

    val compactSnap = w.compact()
    val t = IcebergTable.load(spark, loc)
    assert(t.meta.snapshot(compactSnap).operation == "replace")
    assert(t.scan().count() == expect, "compaction must not change content")
    assert(t.filesDf().filter(col("content") =!= 0).count() == 0,
      "the rewrite folds every delete away — no delete content files remain")
    // incremental append scans skip replace snapshots — a consumer
    // tailing across the compaction sees NOTHING new
    assert(t.incrementalAppends(t.meta.snapshot(compactSnap).parentId.get)
      .count() == 0)

    val (droppedSnaps, deletedFiles) = w.expireSnapshots(keepLast = 1)
    assert(droppedSnaps == 4, s"expire should drop the 4 pre-compaction snapshots, got $droppedSnaps")
    assert(deletedFiles > 0)
    val after = IcebergTable.load(spark, loc)
    assert(after.meta.snapshots.length == 1)
    assert(after.scan().count() == expect, "expire must not change content")
    val fs = new Path(loc).getFileSystem(spark.sessionState.newHadoopConf())
    oldDataFiles.foreach(p => assert(!fs.exists(new Path(p)),
      s"pre-compaction data file must be GC'd: $p"))
  }

  test("v3 ROW LINEAGE: inherited _row_id / _last_updated_sequence_number (r15)") {
    import spark.implicits._
    val loc = freshDir("lineage")
    val df1 = (0L until 60L).map(i => (i, s"a$i")).toDF("k", "s")
    val df2 = (100L until 140L).map(i => (i, s"b$i")).toDF("k", "s")
    val w = IcebergWriter.create(spark, loc, df1.schema)
    w.enableRowLineage()
    w.append(df1.repartition(3)) // several files: per-file first_row_id
    w.append(df2.repartition(2))
    val t = IcebergTable.load(spark, loc)
    assert(t.meta.formatVersion == 3)
    assert(t.meta.nextRowId.contains(100L), s"next-row-id ${t.meta.nextRowId}")
    assert(t.meta.snapshots.map(_.firstRowId) == Seq(Some(0L), Some(60L)),
      "per-snapshot first-row-id must advance by assigned rows")
    val got = t.scanWithLineage()
    val ids = got.select("_row_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (0L until 100L), "row ids must be exactly 0..n-1, no gaps")
    // second append's rows carry its sequence number
    val seqByBatch = got
      .withColumn("batch", when(col("k") < 100L, 1).otherwise(2))
      .groupBy("batch")
      .agg(countDistinct(col("_last_updated_sequence_number")).as("nseq"),
        min("_last_updated_sequence_number").as("seq"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(seqByBatch(1) == ((1L, 1L)) && seqByBatch(2) == ((1L, 2L)),
      s"per-batch sequence numbers drifted: $seqByBatch")

    // MoR deletes keep surviving rows' ids STABLE
    val before = got.select("k", "_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    w.equalityDelete(Seq(0L, 5L, 100L).toDF("k"))
    val after = IcebergTable.load(spark, loc).scanWithLineage()
      .select("k", "_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!after.contains(0L) && !after.contains(100L))
    assert(after.forall { case (k, id) => before(k) == id },
      "surviving rows must keep their _row_id across MoR deletes")

    // MATERIALIZED-LINEAGE COMPACTION (r16, verdict #4 — supersedes the
    // r15 loud-reject): compact() carries every surviving row's
    // _row_id / _last_updated_sequence_number into the rewritten files
    // as materialized columns (v3 rewrite contract). Receipts: ids and
    // seqs identical pre/post; next-row-id unchanged (no rows minted);
    // rewritten entries carry NO first_row_id; a plain scan unchanged.
    val preCompact = IcebergTable.load(spark, loc).scanWithLineage()
      .select("k", "_row_id", "_last_updated_sequence_number").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val preNext = IcebergTable.load(spark, loc).meta.nextRowId
    w.compact()
    val tC = IcebergTable.load(spark, loc)
    assert(tC.meta.nextRowId == preNext,
      "compaction must not advance next-row-id (no rows minted)")
    val postCompact = tC.scanWithLineage()
      .select("k", "_row_id", "_last_updated_sequence_number").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(postCompact == preCompact,
      "compaction must preserve every row's lineage identity")
    assert(tC.scan().columns.toSeq == Seq("k", "s"),
      "materialized columns must stay out of the plain scan")
    // further appends after compaction keep minting fresh ids from the
    // preserved cursor, and BOTH delivery modes serve in one scan
    w.append(Seq((500L, "z")).toDF("k", "s"))
    val mixed = IcebergTable.load(spark, loc).scanWithLineage()
      .select("k", "_row_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mixed(500L) == preNext.get, "post-compaction append id must start at the preserved cursor")
    assert(preCompact.forall { case (k, (id, _)) => mixed(k) == id },
      "mixed materialized+inherited scan drifted")

    // enabling lineage late (files without ids) is refused
    val loc2 = freshDir("lineage-late")
    val w2 = IcebergWriter.create(spark, loc2, df1.schema)
    w2.append(df1)
    intercept[IllegalArgumentException] { w2.enableRowLineage() }
    // a plain scan of the lineage table is unchanged
    assert(t.scan().columns.toSeq == Seq("k", "s"))

    // INHERITANCE arm: an engine that relies on the manifest-LIST base
    // (null per-entry ids) — rewrite this table's list to carry ONLY
    // list-level first_row_id and confirm the reader reconstructs the
    // same ids by the spec's inheritance rule
    val loc3 = freshDir("lineage-inherit")
    val w3 = IcebergWriter.create(spark, loc3, df1.schema)
    w3.append(df1.repartition(2)) // no lineage at write time: null ids
    w3.append(df2.repartition(2))
    val conf = spark.sessionState.newHadoopConf()
    val t3 = IcebergTable.load(spark, loc3)
    val snap3 = t3.meta.snapshot(t3.meta.currentSnapshotId.get)
    val listPath = new Path(snap3.manifestList)
    var cursor = 0L
    val recs = IcebergAvro.readManifestListWithRows(conf, listPath).map {
      case (e, rc) =>
        val withBase = e.copy(firstRowId = Some(cursor))
        cursor += rc._1 // added rows
        IcebergAvro.manifestListRecord(withBase, rc)
    }
    IcebergAvro.writeAvro(conf, listPath, IcebergAvro.ManifestListSchema,
      Map("format-version" -> "3"), recs)
    val m3 = t3.meta.copy(formatVersion = 3, nextRowId = Some(cursor))
    val fs3 = new Path(loc3).getFileSystem(conf)
    val out = fs3.create(new Path(loc3, "metadata/v99.metadata.json"), true)
    out.write(graft.lake.iceberg.IcebergMeta.render(m3).getBytes("UTF-8"))
    out.close()
    val hint = fs3.create(new Path(loc3, "metadata/version-hint.text"), true)
    hint.write("99".getBytes("UTF-8")); hint.close()
    val inherited = IcebergTable.load(spark, loc3).scanWithLineage()
      .select("_row_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(inherited == (0L until 100L),
      "list-level inheritance must reconstruct gap-free row ids")

    // SQL-connector surface: option("with-lineage", "true") serves the
    // same columns through the DSv2 reader (native substitution or V1)
    val viaSql = spark.read.format("graft-iceberg")
      .option("with-lineage", "true").load(loc)
    assert(viaSql.columns.toSeq ==
      Seq("k", "s", "_row_id", "_last_updated_sequence_number"))
    assert(viaSql.select("k", "_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == mixed,
      "connector lineage read drifted from scanWithLineage " +
        "(mixed materialized+inherited state after compaction)")
    // a table without lineage refuses the option loudly
    intercept[Exception] {
      spark.read.format("graft-iceberg")
        .option("with-lineage", "true").load(loc2).collect()
    }
  }

  test("v3 ROW LINEAGE through row-CHANGING ops: updateWhere / upsertKeys (r16b)") {
    // Supersedes the r16 loud-reject: per the v3 rewrite contract, an
    // update carries the matched row's _row_id into the rewritten file
    // with a NULL materialized _last_updated_sequence_number — readers
    // inherit the file's data sequence (the committing snapshot's), so
    // "which commit last updated this row" is correct WITHOUT the writer
    // predicting its own sequence (CAS-retry safe). Upsert splits
    // matched (carried id) from fresh rows (cursor-minted ids).
    import spark.implicits._
    val loc = freshDir("lineage-update")
    val df1 = (0L until 50L).map(i => (i, s"a$i")).toDF("k", "s")
    val w = IcebergWriter.create(spark, loc, df1.schema)
    w.enableRowLineage()
    w.append(df1.repartition(3))
    val base = IcebergTable.load(spark, loc)
    val pre = base.scanWithLineage()
      .select("k", "_row_id", "_last_updated_sequence_number").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val preNext = base.meta.nextRowId

    // UPDATE: matched rows keep _row_id and take the update commit's
    // sequence; untouched rows are byte-identical
    val updSnap = w.updateWhere(col("k") < 10L, Map("s" -> lit("upd")))
    val tU = IcebergTable.load(spark, loc)
    val updSeq = tU.meta.snapshot(updSnap).sequenceNumber
    assert(tU.meta.nextRowId == preNext,
      "updateWhere must not advance next-row-id (no rows minted)")
    val post = tU.scanWithLineage()
      .select("k", "s", "_row_id", "_last_updated_sequence_number")
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(post.size == 50, "update must not change row count")
    (0L until 50L).foreach { k =>
      val (s, id, seq) = post(k)
      assert(id == pre(k)._1, s"_row_id must be carried through update (k=$k)")
      if (k < 10L) {
        assert(s == "upd")
        assert(seq == updSeq,
          s"updated row k=$k must carry the UPDATE commit's sequence " +
            s"($updSeq), got $seq — the null-fallback inheritance rule")
      } else {
        assert(s == s"a$k")
        assert(seq == pre(k)._2, s"untouched row k=$k must keep its sequence")
      }
    }

    // UPSERT: matched key keeps its id at the upsert's sequence; fresh
    // keys mint ids from the preserved cursor; next-row-id advances by
    // exactly the insert count
    val upSnap = w.upsertKeys(
      Seq((3L, "up3"), (60L, "new60"), (61L, "new61")).toDF("k", "s"), Seq("k"))
    val tP = IcebergTable.load(spark, loc)
    val upSeq = tP.meta.snapshot(upSnap).sequenceNumber
    assert(tP.meta.nextRowId == preNext.map(_ + 2),
      s"upsert of 2 fresh keys must advance next-row-id by 2: ${tP.meta.nextRowId}")
    val post2 = tP.scanWithLineage()
      .select("k", "s", "_row_id", "_last_updated_sequence_number")
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(post2.size == 52)
    assert(post2(3L) == (("up3", pre(3L)._1, upSeq)),
      s"upserted existing key must keep its _row_id at the upsert seq: ${post2(3L)}")
    assert(Set(post2(60L)._2, post2(61L)._2) ==
      Set(preNext.get, preNext.get + 1L),
      s"fresh keys must take the next cursor ids: ${post2(60L)} ${post2(61L)}")
    assert(post2(60L)._3 == upSeq && post2(61L)._3 == upSeq)
    (0L until 50L).filter(_ != 3L).foreach { k =>
      assert(post2(k) == post(k), s"non-upserted row k=$k must be untouched")
    }

    // metadata-only manifest consolidation must carry explicit ids —
    // a dropped first_row_id would flip carried entries into the
    // materialized delivery mode and refuse (entries copy their
    // recorded ids through rewriteManifests)
    require(w.rewriteManifests(targetEntries = 2) != -1L,
      "post-upsert table must have manifests to consolidate")
    val postRm = IcebergTable.load(spark, loc).scanWithLineage()
      .select("k", "s", "_row_id", "_last_updated_sequence_number")
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(postRm == post2, "rewriteManifests must preserve lineage")

    // compaction after the update/upsert REmaterializes the whole state
    // (the null-last-updated files resolve through inheritance first)
    w.compact()
    val post3 = IcebergTable.load(spark, loc).scanWithLineage()
      .select("k", "s", "_row_id", "_last_updated_sequence_number")
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(post3 == post2, "compaction must preserve post-update lineage")
    assert(IcebergTable.load(spark, loc).scan().columns.toSeq == Seq("k", "s"))

    // ambiguous carry: duplicate live rows for an upserted key refuse
    w.append(Seq((7L, "dup")).toDF("k", "s"))
    intercept[IllegalArgumentException] {
      w.upsertKeys(Seq((7L, "x")).toDF("k", "s"), Seq("k"))
    }
  }
}
