package graft.lake.fixtures

import java.io.{ByteArrayOutputStream, DataOutputStream, File, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.CRC32

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** GOLDEN-FIXTURE GENERATOR — run once, output committed to git under
  * `src/test/resources/fixtures/`. The committed BYTES are the fixture;
  * this generator exists for provenance (how each byte was derived from
  * the published spec), not as part of any test run.
  *
  * The point (r08 verdict, "what's missing" #1): every interop gate
  * round-trips through graft's own writers, so a shared misreading of a
  * spec in writer and reader cancels out and stays invisible. These
  * fixtures break that loop as far as this sandbox allows: they are
  * authored by FRESH transcriptions of the published formats —
  * Delta PROTOCOL.md action JSON written as literal strings, Iceberg
  * spec Avro schemas re-typed from the spec's field tables, the Hudi
  * timeline/properties layout from its docs — sharing ZERO code with
  * graft.lake.delta/iceberg/hudi (this file imports none of them). Only
  * neutral third parties are reused: Spark's parquet writer, the avro
  * library, and org.roaringbitmap (the canonical implementation of the
  * published Roaring format Delta's DV spec names). FixtureSpec then
  * asserts the production readers consume the frozen bytes exactly, and
  * additionally pins the Z85 codec to the ZeroMQ spec's published
  * "HelloWorld" test vector.
  */
object FixtureGen {

  private val Root = "/root/repo/src/test/resources/fixtures"

  def main(args: Array[String]): Unit = {
    // its own session, not graft.GraftSession: the generator shares no
    // code with graft (see above)
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("fixture-gen")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val gens: Seq[(String, SparkSession => Unit)] = Seq(
      "delta/basic" -> genDelta,
      "delta/cm" -> genDeltaColumnMapping,
      "delta/cp" -> genDeltaCheckpoint,
      "delta/cpv2" -> genDeltaCheckpointV2,
      "delta/cdf" -> genDeltaCdf,
      "hudi/basic" -> genHudi,
      "hudi/mor" -> genHudiMor,
      "iceberg/basic" -> genIceberg,
      "iceberg/v3" -> genIcebergV3)
    if (args.isEmpty) {
      // full regeneration: every committed fixture is replaced
      rm(new File(Root))
      gens.foreach(_._2(spark))
    } else {
      // selective: regenerate only the named fixtures (frozen bytes of
      // the others stay untouched in git)
      args.foreach { name =>
        val g = gens.find(_._1 == name).getOrElse(
          sys.error(s"unknown fixture $name — known: ${gens.map(_._1).mkString(", ")}"))
        rm(new File(s"$Root/$name"))
        g._2(spark)
      }
    }
    println(s"fixtures written under $Root")
    spark.stop()
  }

  // ---- shared helpers ------------------------------------------------------

  private def rm(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete()
  }

  private def writeText(path: String, text: String): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val out = new FileOutputStream(f)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def writeBytes(path: String, bytes: Array[Byte]): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val out = new FileOutputStream(f)
    try out.write(bytes) finally out.close()
  }

  /** Write `df` as exactly ONE parquet file at `dest` (plain Spark
    * parquet writer — a neutral third party, not a graft writer). */
  private def writeOneParquet(spark: SparkSession, df: DataFrame, dest: String): Long = {
    val tmp = new File(dest + ".tmpdir")
    rm(tmp)
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    val d = new File(dest)
    d.getParentFile.mkdirs()
    require(part.renameTo(d), s"rename $part -> $d failed")
    rm(tmp)
    d.length()
  }

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse(s))

  // ---- Z85 (fresh transcription of the ZeroMQ Z85 spec) --------------------
  // https spec 32/Z85: 4 bytes -> 5 chars, big-endian base-85 over this
  // exact 85-char alphabet. Test vector: bytes 86 4F D2 6F B5 59 F7 5B
  // encode to "HelloWorld" (asserted in FixtureSpec against graft's codec).
  private val Z85Alphabet =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"

  private def z85(bytes: Array[Byte]): String = {
    require(bytes.length % 4 == 0)
    val sb = new StringBuilder
    bytes.grouped(4).foreach { g =>
      var v = 0L
      g.foreach(b => v = (v << 8) | (b & 0xffL))
      val digits = new Array[Char](5)
      var i = 4
      while (i >= 0) { digits(i) = Z85Alphabet((v % 85).toInt); v /= 85; i -= 1 }
      sb.appendAll(digits)
    }
    sb.toString
  }

  // ==========================================================================
  // DELTA — fresh transcription of delta-io/delta PROTOCOL.md
  // ==========================================================================

  private def genDelta(spark: SparkSession): Unit = {
    val loc = s"$Root/delta/basic"

    // data files: partition column `part` lives ONLY in partitionValues
    // (the protocol makes the map authoritative; files omit it)
    val dataSchema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("name", StringType),
      StructField("ts", TimestampType)))
    def df(rows: (Int, String, String)*): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, ts(r._3))), 1),
        dataSchema)

    val f1 = writeOneParquet(spark,
      df((1, "alpha", "2024-01-01T00:00:00Z"), (2, "beta", "2024-01-02T00:00:00Z")),
      s"$loc/part=a/f1.parquet")
    val f2 = writeOneParquet(spark,
      df((3, "gamma", "2024-01-03T00:00:00Z")),
      s"$loc/part=a/f2.parquet")
    val f3 = writeOneParquet(spark,
      df((10, "delta", "2024-02-01T00:00:00Z"), (11, "epsilon", "2024-02-02T00:00:00Z")),
      s"$loc/part=b/f3.parquet")

    // deletion-vector file masking row index 0 of f1 (id=1), per the
    // protocol's DV format section: file = 1-byte version, then
    // int32 BE size + payload + int32 BE CRC-32 of the payload;
    // payload = int32 LE magic 1681511377, int64 LE bitmap count, then
    // per bitmap int32 LE key + standard 32-bit Roaring portable bytes.
    val rb = new org.roaringbitmap.RoaringBitmap()
    rb.add(0)
    val rbBytes = {
      val bb = ByteBuffer.allocate(rb.serializedSizeInBytes()).order(ByteOrder.LITTLE_ENDIAN)
      rb.serialize(bb)
      bb.array()
    }
    val payload = ByteBuffer.allocate(4 + 8 + 4 + rbBytes.length).order(ByteOrder.LITTLE_ENDIAN)
    payload.putInt(1681511377)
    payload.putLong(1L)
    payload.putInt(0)
    payload.put(rbBytes)
    val pBytes = payload.array()
    val uuid = java.util.UUID.fromString("00112233-4455-6677-8899-aabbccddeeff")
    val dvFile = {
      val bos = new ByteArrayOutputStream()
      val dos = new DataOutputStream(bos)
      dos.writeByte(1)            // format version
      dos.writeInt(pBytes.length) // big-endian framing
      dos.write(pBytes)
      val c = new CRC32(); c.update(pBytes)
      dos.writeInt(c.getValue.toInt)
      dos.flush()
      bos.toByteArray
    }
    writeBytes(s"$loc/deletion_vector_$uuid.bin", dvFile)
    val uuidZ85 = {
      val bb = ByteBuffer.allocate(16)
      bb.putLong(uuid.getMostSignificantBits)
      bb.putLong(uuid.getLeastSignificantBits)
      z85(bb.array())
    }

    // schemaString is Spark's StructType JSON per the protocol
    val schemaString =
      """{\"type\":\"struct\",\"fields\":[""" +
        """{\"name\":\"id\",\"type\":\"integer\",\"nullable\":true,\"metadata\":{}},""" +
        """{\"name\":\"name\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},""" +
        """{\"name\":\"ts\",\"type\":\"timestamp\",\"nullable\":true,\"metadata\":{}},""" +
        """{\"name\":\"part\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}"""

    // stats ride as a JSON string INSIDE the action JSON → every quote
    // in the stats document is escaped in the log file
    def stats(n: Int, idLo: Int, idHi: Int, nameLo: String, nameHi: String,
        tsLo: String, tsHi: String): String = {
      val q = "\\\"" // backslash + quote, as written into the log file
      s"{${q}numRecords$q:$n," +
        s"${q}minValues$q:{${q}id$q:$idLo,${q}name$q:$q$nameLo$q,${q}ts$q:$q$tsLo$q}," +
        s"${q}maxValues$q:{${q}id$q:$idHi,${q}name$q:$q$nameHi$q,${q}ts$q:$q$tsHi$q}," +
        s"${q}nullCount$q:{${q}id$q:0,${q}name$q:0,${q}ts$q:0}}"
    }

    // version 0: protocol + metaData (+ a commitInfo the reader must skip)
    writeText(s"$loc/_delta_log/00000000000000000000.json",
      s"""{"commitInfo":{"operation":"CREATE TABLE","engineInfo":"fixture-gen"}}
         |{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}
         |{"metaData":{"id":"a0000000-0000-0000-0000-000000000001","format":{"provider":"parquet","options":{}},"schemaString":"$schemaString","partitionColumns":["part"],"configuration":{},"createdTime":1704067200000}}
         |""".stripMargin)

    // version 1: add f1 (part=a), f3 (part=b)
    writeText(s"$loc/_delta_log/00000000000000000001.json",
      s"""{"commitInfo":{"operation":"WRITE"}}
         |{"add":{"path":"part=a/f1.parquet","partitionValues":{"part":"a"},"size":$f1,"modificationTime":1704067200001,"dataChange":true,"stats":"${stats(2, 1, 2, "alpha", "beta", "2024-01-01T00:00:00.000000Z", "2024-01-02T00:00:00.000000Z")}"}}
         |{"add":{"path":"part=b/f3.parquet","partitionValues":{"part":"b"},"size":$f3,"modificationTime":1704067200001,"dataChange":true,"stats":"${stats(2, 10, 11, "delta", "epsilon", "2024-02-01T00:00:00.000000Z", "2024-02-02T00:00:00.000000Z")}"}}
         |""".stripMargin)

    // version 2: add f2 (part=a)
    writeText(s"$loc/_delta_log/00000000000000000002.json",
      s"""{"add":{"path":"part=a/f2.parquet","partitionValues":{"part":"a"},"size":$f2,"modificationTime":1704067200002,"dataChange":true,"stats":"${stats(1, 3, 3, "gamma", "gamma", "2024-01-03T00:00:00.000000Z", "2024-01-03T00:00:00.000000Z")}"}}
         |""".stripMargin)

    // version 3: remove f2 (replay must drop it)
    writeText(s"$loc/_delta_log/00000000000000000003.json",
      s"""{"remove":{"path":"part=a/f2.parquet","deletionTimestamp":1704067200003,"dataChange":true}}
         |""".stripMargin)

    // version 4: protocol upgrade to deletion vectors; f1 gains a DV
    // masking row 0 (remove-then-add of the same path, per protocol)
    writeText(s"$loc/_delta_log/00000000000000000004.json",
      s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}
         |{"remove":{"path":"part=a/f1.parquet","deletionTimestamp":1704067200004,"dataChange":true}}
         |{"add":{"path":"part=a/f1.parquet","partitionValues":{"part":"a"},"size":$f1,"modificationTime":1704067200001,"dataChange":true,"stats":"${stats(2, 1, 2, "alpha", "beta", "2024-01-01T00:00:00.000000Z", "2024-01-02T00:00:00.000000Z")}","deletionVector":{"storageType":"u","pathOrInlineDv":"$uuidZ85","offset":1,"sizeInBytes":${pBytes.length},"cardinality":1}}}
         |""".stripMargin)
  }

  /** CHANGE-DATA-FEED Delta fixture, authored straight from the
    * protocol's Change Data Feed section: a CDF-enabled table
    * (configuration delta.enableChangeDataFeed, legacy writer tier 4)
    * whose log exercises all three reconstruction rules — a blind
    * append (inserts synthesized from dataChange adds), an update
    * commit whose `cdc` actions point at `_change_data/` files carrying
    * `_change_type` update_preimage/update_postimage (file actions in
    * the same commit MUST be ignored for CDF), and a remove-only
    * delete whose extended remove metadata locates the file. */
  private def genDeltaCdf(spark: SparkSession): Unit = {
    val loc = s"$Root/delta/cdf"
    val dataSchema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("name", StringType)))
    def df(rows: (Int, String)*): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1), dataSchema)
    val cdcSchema = StructType(dataSchema.fields :+
      StructField("_change_type", StringType))
    def cdcDf(rows: (Int, String, String)*): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), 1), cdcSchema)

    val f1 = writeOneParquet(spark, df((1, "alpha"), (2, "beta")),
      s"$loc/part=a/f1.parquet")
    val f2 = writeOneParquet(spark, df((10, "kappa")),
      s"$loc/part=b/f2.parquet")
    // the v2 rewrite of f1 (post-update state) — CDF must IGNORE it
    val f1b = writeOneParquet(spark, df((1, "alpha"), (2, "BETA")),
      s"$loc/part=a/f1b.parquet")
    val cdcU = writeOneParquet(spark,
      cdcDf((2, "beta", "update_preimage"), (2, "BETA", "update_postimage")),
      s"$loc/_change_data/part=a/cdc-u1.parquet")

    val schemaString =
      """{\"type\":\"struct\",\"fields\":[""" +
        """{\"name\":\"id\",\"type\":\"integer\",\"nullable\":true,\"metadata\":{}},""" +
        """{\"name\":\"name\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},""" +
        """{\"name\":\"part\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}"""

    writeText(s"$loc/_delta_log/00000000000000000000.json",
      s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}
         |{"metaData":{"id":"c0000000-0000-0000-0000-0000000000cd","format":{"provider":"parquet","options":{}},"schemaString":"$schemaString","partitionColumns":["part"],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":1704067200000}}
         |""".stripMargin)
    // v1: blind append → CDF synthesizes inserts
    writeText(s"$loc/_delta_log/00000000000000000001.json",
      s"""{"commitInfo":{"operation":"WRITE"}}
         |{"add":{"path":"part=a/f1.parquet","partitionValues":{"part":"a"},"size":$f1,"modificationTime":1704067200001,"dataChange":true}}
         |{"add":{"path":"part=b/f2.parquet","partitionValues":{"part":"b"},"size":$f2,"modificationTime":1704067200001,"dataChange":true}}
         |""".stripMargin)
    // v2: UPDATE — cdc files authoritative; the rewrite's add/remove
    // must not leak into the change feed
    writeText(s"$loc/_delta_log/00000000000000000002.json",
      s"""{"commitInfo":{"operation":"UPDATE"}}
         |{"cdc":{"path":"_change_data/part=a/cdc-u1.parquet","partitionValues":{"part":"a"},"size":$cdcU,"dataChange":false}}
         |{"remove":{"path":"part=a/f1.parquet","deletionTimestamp":1704067200002,"dataChange":true,"partitionValues":{"part":"a"},"size":$f1}}
         |{"add":{"path":"part=a/f1b.parquet","partitionValues":{"part":"a"},"size":$f1b,"modificationTime":1704067200002,"dataChange":true}}
         |""".stripMargin)
    // v3: full-file DELETE — remove-only, extended metadata locates it
    writeText(s"$loc/_delta_log/00000000000000000003.json",
      s"""{"commitInfo":{"operation":"DELETE"}}
         |{"remove":{"path":"part=b/f2.parquet","deletionTimestamp":1704067200003,"dataChange":true,"partitionValues":{"part":"b"},"size":$f2}}
         |""".stripMargin)
  }

  /** Column-mapping (name mode) Delta fixture: files store PHYSICAL
    * `col-N` names, the schemaString carries the mapping metadata, and
    * partitionValues/stats are keyed physically — all per the
    * protocol's Column Mapping section. */
  private def genDeltaColumnMapping(spark: SparkSession): Unit = {
    val loc = s"$Root/delta/cm"
    // physical data columns: col-1 (logical id), col-2 (logical name);
    // logical partition column region -> physical col-3
    val physSchema = StructType(Seq(
      StructField("col-1", IntegerType),
      StructField("col-2", StringType)))
    def df(rows: (Int, String)*): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1), physSchema)
    val f1 = writeOneParquet(spark, df((1, "alpha"), (2, "beta")), s"$loc/region=e/f1.parquet")
    val f2 = writeOneParquet(spark, df((10, "gamma")), s"$loc/region=w/f2.parquet")

    // schemaString with the mapping metadata, escaped for embedding
    val q = "\\\""
    def fld(name: String, typ: String, id: Int, phys: String): String =
      s"{${q}name$q:$q$name$q,${q}type$q:$q$typ$q,${q}nullable$q:true," +
        s"${q}metadata$q:{${q}delta.columnMapping.id$q:$id," +
        s"${q}delta.columnMapping.physicalName$q:$q$phys$q}}"
    val schemaString =
      s"{${q}type$q:${q}struct$q,${q}fields$q:[" +
        fld("id", "integer", 1, "col-1") + "," +
        fld("name", "string", 2, "col-2") + "," +
        fld("region", "string", 3, "col-3") + "]}"
    def stats(n: Int, lo: Int, hi: Int): String =
      s"{${q}numRecords$q:$n,${q}minValues$q:{${q}col-1$q:$lo}," +
        s"${q}maxValues$q:{${q}col-1$q:$hi},${q}nullCount$q:{${q}col-1$q:0}}"

    writeText(s"$loc/_delta_log/00000000000000000000.json",
      s"""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}
         |{"metaData":{"id":"a0000000-0000-0000-0000-000000000002","format":{"provider":"parquet","options":{}},"schemaString":"$schemaString","partitionColumns":["region"],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"3"},"createdTime":1704067200000}}
         |""".stripMargin)
    // partitionValues keyed by the PHYSICAL name col-3
    writeText(s"$loc/_delta_log/00000000000000000001.json",
      s"""{"add":{"path":"region=e/f1.parquet","partitionValues":{"col-3":"e"},"size":$f1,"modificationTime":1704067200001,"dataChange":true,"stats":"${stats(2, 1, 2)}"}}
         |{"add":{"path":"region=w/f2.parquet","partitionValues":{"col-3":"w"},"size":$f2,"modificationTime":1704067200001,"dataChange":true,"stats":"${stats(1, 10, 10)}"}}
         |""".stripMargin)
  }

  /** Checkpoint-seeded Delta fixture: the classic single-file
    * checkpoint parquet + `_last_checkpoint`, with the PRE-checkpoint
    * commit files log-cleaned away (legal after checkpointing) — a
    * reader that does not actually seed from the checkpoint cannot
    * load this table. */
  private def genDeltaCheckpoint(spark: SparkSession): Unit = {
    val loc = s"$Root/delta/cp"
    val dataSchema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("v", StringType)))
    def df(rows: (Int, String)*): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1), dataSchema)
    val f1 = writeOneParquet(spark, df((1, "one"), (2, "two")), s"$loc/f1.parquet")
    val f2 = writeOneParquet(spark, df((3, "three")), s"$loc/f2.parquet")
    val f3 = writeOneParquet(spark, df((4, "four")), s"$loc/f3.parquet")

    val schemaString =
      """{"type":"struct","fields":[""" +
        """{"name":"id","type":"integer","nullable":true,"metadata":{}},""" +
        """{"name":"v","type":"string","nullable":true,"metadata":{}}]}"""

    // checkpoint schema per the protocol's classic-checkpoint section
    // (one nullable struct column per action type, one row per action)
    val protoType = StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType)))
    val metaType = StructType(Seq(
      StructField("id", StringType),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType))))
    val addType = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType)))
    val cpSchema = StructType(Seq(
      StructField("protocol", protoType, nullable = true),
      StructField("metaData", metaType, nullable = true),
      StructField("add", addType, nullable = true)))
    def addRow(path: String, size: Long, n: Int, lo: Int, hi: Int) =
      Row(null, null, Row(path, Map.empty[String, String], size, 1704067200002L, true,
        s"""{"numRecords":$n,"minValues":{"id":$lo},"maxValues":{"id":$hi},"nullCount":{"id":0}}"""))
    val rows = Seq(
      Row(Row(1, 2), null, null),
      Row(null, Row("a0000000-0000-0000-0000-000000000003", schemaString,
        Seq.empty[String], Map.empty[String, String]), null),
      addRow("f1.parquet", f1, 2, 1, 2),
      addRow("f2.parquet", f2, 1, 3, 3))
    writeOneParquet(spark,
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), cpSchema),
      s"$loc/_delta_log/00000000000000000002.checkpoint.parquet")
    writeText(s"$loc/_delta_log/_last_checkpoint", """{"version":2,"size":4}""")
    // versions 0-2 are log-cleaned; only the post-checkpoint commit remains
    val q = "\\\"" // backslash + quote as written into the log file
    val f3stats = s"{${q}numRecords$q:1,${q}minValues$q:{${q}id$q:4}," +
      s"${q}maxValues$q:{${q}id$q:4},${q}nullCount$q:{${q}id$q:0}}"
    writeText(s"$loc/_delta_log/00000000000000000003.json",
      s"""{"remove":{"path":"f2.parquet","deletionTimestamp":1704067200003,"dataChange":true}}
         |{"add":{"path":"f3.parquet","partitionValues":{},"size":$f3,"modificationTime":1704067200003,"dataChange":true,"stats":"$f3stats"}}
         |""".stripMargin)
  }

  /** V2-checkpoint Delta fixture (reader feature `v2Checkpoint`): a
    * uuid-named JSON top-level checkpoint — the flavor graft's own
    * writer never produces, so nothing here can round-trip through
    * shared code — whose add actions live in a parquet sidecar under
    * `_delta_log/_sidecars/`, with the pre-checkpoint log cleaned away.
    * Layout per PROTOCOL.md's V2 Checkpoint section: top-level carries
    * protocol / metaData / checkpointMetadata / sidecar actions; sidecar
    * files hold the file actions and live in the `_sidecars` dir,
    * referenced by file name. */
  private def genDeltaCheckpointV2(spark: SparkSession): Unit = {
    val loc = s"$Root/delta/cpv2"
    val dataSchema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("v", StringType)))
    def df(rows: (Int, String)*): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1), dataSchema)
    val f1 = writeOneParquet(spark, df((1, "one"), (2, "two")), s"$loc/f1.parquet")
    val f2 = writeOneParquet(spark, df((3, "three")), s"$loc/f2.parquet")
    val f3 = writeOneParquet(spark, df((4, "four")), s"$loc/f3.parquet")

    // sidecar parquet: file actions only (add struct column)
    val addType = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType)))
    val sidecarSchema = StructType(Seq(StructField("add", addType, nullable = true)))
    def addRow(path: String, size: Long, n: Int, lo: Int, hi: Int) =
      Row(Row(path, Map.empty[String, String], size, 1704067200002L, true,
        s"""{"numRecords":$n,"minValues":{"id":$lo},"maxValues":{"id":$hi},"nullCount":{"id":0}}"""))
    val sidecarName = "b10c0de1-5afe-4db4-9342-000000000001.parquet"
    val scSize = {
      writeOneParquet(spark,
        spark.createDataFrame(spark.sparkContext.parallelize(Seq(
          addRow("f1.parquet", f1, 2, 1, 2),
          addRow("f2.parquet", f2, 1, 3, 3)), 1), sidecarSchema),
        s"$loc/_delta_log/_sidecars/$sidecarName")
    }

    // schemaString rides as a JSON string INSIDE the action line →
    // its quotes are escaped in the file
    val schemaString =
      """{\"type\":\"struct\",\"fields\":[""" +
        """{\"name\":\"id\",\"type\":\"integer\",\"nullable\":true,\"metadata\":{}},""" +
        """{\"name\":\"v\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}"""
    // top-level JSON v2 checkpoint: one action per line
    writeText(s"$loc/_delta_log/00000000000000000002.checkpoint.80a083e8-7026-4e79-81be-64bd76c43a11.json",
      s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}
         |{"metaData":{"id":"a0000000-0000-0000-0000-0000000cpv2","format":{"provider":"parquet","options":{}},"schemaString":"$schemaString","partitionColumns":[],"configuration":{}}}
         |{"checkpointMetadata":{"version":2}}
         |{"sidecar":{"path":"$sidecarName","sizeInBytes":$scSize,"modificationTime":1704067200002}}
         |""".stripMargin)
    writeText(s"$loc/_delta_log/_last_checkpoint", """{"version":2,"size":5}""")
    // versions 0-2 are log-cleaned; one post-checkpoint commit replays
    val q = "\\\""
    val f3stats = s"{${q}numRecords$q:1,${q}minValues$q:{${q}id$q:4}," +
      s"${q}maxValues$q:{${q}id$q:4},${q}nullCount$q:{${q}id$q:0}}"
    writeText(s"$loc/_delta_log/00000000000000000003.json",
      s"""{"remove":{"path":"f2.parquet","deletionTimestamp":1704067200003,"dataChange":true}}
         |{"add":{"path":"f3.parquet","partitionValues":{},"size":$f3,"modificationTime":1704067200003,"dataChange":true,"stats":"$f3stats"}}
         |""".stripMargin)
  }

  // ==========================================================================
  // HUDI — fresh transcription of the Hudi COW table layout
  // ==========================================================================

  private def genHudi(spark: SparkSession): Unit = {
    val loc = s"$Root/hudi/basic"
    val i1 = "20240101000000000"
    val i2 = "20240102000000000"

    // Hudi base files CARRY the partition column and the five
    // _hoodie_* meta columns
    val schema = StructType(Seq(
      StructField("_hoodie_commit_time", StringType),
      StructField("_hoodie_commit_seqno", StringType),
      StructField("_hoodie_record_key", StringType),
      StructField("_hoodie_partition_path", StringType),
      StructField("_hoodie_file_name", StringType),
      StructField("id", IntegerType),
      StructField("name", StringType),
      StructField("part", StringType)))
    // per-row commit instants: a COW rewrite COPIES untouched records
    // with their ORIGINAL _hoodie_commit_time (Hudi's semantics — the
    // incremental query depends on it); only changed/new rows carry the
    // rewriting instant
    def base(partPath: String, fileName: String,
        rows: (Int, String, String)*): DataFrame = // (id, name, commitTime)
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.zipWithIndex.map { case ((id, nm, ct), i) =>
          Row(ct, s"${ct}_0_$i", id.toString, partPath, fileName,
            id, nm, partPath.split("=")(1))
        }, 1), schema)

    val f1v1 = s"fid1_0-0-0_$i1.parquet"
    val f2v1 = s"fid2_0-0-0_$i1.parquet"
    val f1v2 = s"fid1_0-1-0_$i2.parquet"
    val n1 = writeOneParquet(spark,
      base("part=a", f1v1, (1, "one", i1), (2, "two", i1)), s"$loc/part=a/$f1v1")
    val n2 = writeOneParquet(spark,
      base("part=b", f2v1, (10, "ten", i1)), s"$loc/part=b/$f2v1")
    // instant 2: COW upsert rewrites file group fid1 as a NEW slice —
    // id=1 is CARRIED (keeps i1), id=2 updated and id=3 inserted (i2)
    val n3 = writeOneParquet(spark,
      base("part=a", f1v2, (1, "one", i1), (2, "TWO", i2), (3, "three", i2)),
      s"$loc/part=a/$f1v2")
    require(n1 > 0 && n2 > 0 && n3 > 0)

    writeText(s"$loc/.hoodie/hoodie.properties",
      """#Updated at fixture-gen time
        |hoodie.table.name=fixture_basic
        |hoodie.table.type=COPY_ON_WRITE
        |hoodie.table.version=6
        |hoodie.table.partition.fields=part
        |hoodie.table.recordkey.fields=id
        |hoodie.datasource.write.hive_style_partitioning=true
        |hoodie.timeline.layout.version=1
        |""".stripMargin)

    writeText(s"$loc/.hoodie/$i1.commit",
      s"""{"partitionToWriteStats":{
         |  "part=a":[{"fileId":"fid1","path":"part=a/$f1v1","prevCommit":"null","numWrites":2,"numInserts":2,"totalWriteBytes":$n1,"fileSizeInBytes":$n1}],
         |  "part=b":[{"fileId":"fid2","path":"part=b/$f2v1","prevCommit":"null","numWrites":1,"numInserts":1,"totalWriteBytes":$n2,"fileSizeInBytes":$n2}]
         |},"compacted":false,"operationType":"UPSERT"}""".stripMargin)

    writeText(s"$loc/.hoodie/$i2.commit",
      s"""{"partitionToWriteStats":{
         |  "part=a":[{"fileId":"fid1","path":"part=a/$f1v2","prevCommit":"$i1","numWrites":3,"numUpdateWrites":1,"numInserts":1,"totalWriteBytes":$n3,"fileSizeInBytes":$n3}]
         |},"compacted":false,"operationType":"UPSERT"}""".stripMargin)

    // completed-instant markers real writers leave behind (empty
    // .requested/.inflight are part of the layout; readers key on .commit)
    writeText(s"$loc/.hoodie/$i1.commit.requested", "")
    writeText(s"$loc/.hoodie/$i1.inflight", "")
    writeText(s"$loc/.hoodie/$i2.commit.requested", "")
    writeText(s"$loc/.hoodie/$i2.inflight", "")
  }

  /** MERGE_ON_READ Hudi fixture. The log-file BYTES are framed by the
    * code below — a fresh transcription of the published HoodieLogFormat
    * (magic, v1 block layout, ordinal-keyed metadata maps, Avro data
    * block content v3) sharing nothing with graft's HudiLog — so the
    * production reader's parse of them is an independent check. */
  private def genHudiMor(spark: SparkSession): Unit = {
    val loc = s"$Root/hudi/mor"
    val i1 = "20240101000000000"
    val i2 = "20240102000000000"

    val schema = StructType(Seq(
      StructField("_hoodie_commit_time", StringType),
      StructField("_hoodie_commit_seqno", StringType),
      StructField("_hoodie_record_key", StringType),
      StructField("_hoodie_partition_path", StringType),
      StructField("_hoodie_file_name", StringType),
      StructField("id", IntegerType),
      StructField("name", StringType)))
    val baseName = s"fid1_0-0-0_$i1.parquet"
    val base = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(i1, s"${i1}_0_0", "1", "", baseName, 1, "one"),
        Row(i1, s"${i1}_0_1", "2", "", baseName, 2, "two"),
        Row(i1, s"${i1}_0_2", "3", "", baseName, 3, "three")), 1), schema)
    val n1 = writeOneParquet(spark, base, s"$loc/$baseName")

    // Avro writer schema for log records: meta columns + data columns +
    // the documented _hoodie_is_deleted soft-delete field
    val logSchemaJson =
      """{"type":"record","name":"hoodie_record","fields":[""" +
        """{"name":"_hoodie_commit_time","type":["null","string"],"default":null},""" +
        """{"name":"_hoodie_commit_seqno","type":["null","string"],"default":null},""" +
        """{"name":"_hoodie_record_key","type":["null","string"],"default":null},""" +
        """{"name":"_hoodie_partition_path","type":["null","string"],"default":null},""" +
        """{"name":"_hoodie_file_name","type":["null","string"],"default":null},""" +
        """{"name":"id","type":["null","int"],"default":null},""" +
        """{"name":"name","type":["null","string"],"default":null},""" +
        """{"name":"_hoodie_is_deleted","type":["null","boolean"],"default":null}]}"""
    val avroSchema = new Schema.Parser().parse(logSchemaJson)
    val logName = s".fid1_$i1.log.1_0-0-0"
    def rec(key: String, id: Int, name: String, deleted: Boolean): Array[Byte] = {
      val r = new GenericData.Record(avroSchema)
      r.put("_hoodie_commit_time", i2)
      r.put("_hoodie_commit_seqno", s"${i2}_0_0")
      r.put("_hoodie_record_key", key)
      r.put("_hoodie_partition_path", "")
      r.put("_hoodie_file_name", logName)
      r.put("id", Int.box(id))
      r.put("name", name)
      r.put("_hoodie_is_deleted", Boolean.box(deleted))
      val bos = new ByteArrayOutputStream()
      val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(bos, null)
      new GenericDatumWriter[GenericRecord](avroSchema).write(r, enc)
      enc.flush()
      bos.toByteArray
    }
    // content v3: int version, int record count, per record int len + bytes
    val contentBos = new ByteArrayOutputStream()
    val content = new DataOutputStream(contentBos)
    val recs = Seq(rec("2", 2, "TWO", deleted = false),
      rec("3", 3, "three", deleted = true))
    content.writeInt(3)
    content.writeInt(recs.size)
    recs.foreach { b => content.writeInt(b.length); content.write(b) }
    content.flush()
    // metadata map: int count, then (int key ordinal, int len, utf8)
    def metaMap(entries: (Int, String)*): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(entries.size)
      entries.sortBy(_._1).foreach { case (k, v) =>
        out.writeInt(k)
        val b = v.getBytes("UTF-8")
        out.writeInt(b.length)
        out.write(b)
      }
      out.flush()
      bos.toByteArray
    }
    val header = metaMap(0 -> i2, 2 -> logSchemaJson) // INSTANT_TIME, SCHEMA
    val footer = metaMap()
    val c = contentBos.toByteArray
    // block: MAGIC, size-after-this-field (incl trailing total), int
    // version 1, int type ordinal 3 (avro data), header, long content
    // length, content, footer, long total (incl magic)
    val blockBos = new ByteArrayOutputStream()
    val blk = new DataOutputStream(blockBos)
    val blockSize = 4L + 4L + header.length + 8L + c.length + footer.length + 8L
    blk.write("#HUDI#".getBytes("UTF-8"))
    blk.writeLong(blockSize)
    blk.writeInt(1)
    blk.writeInt(3)
    blk.write(header)
    blk.writeLong(c.length.toLong)
    blk.write(c)
    blk.write(footer)
    blk.writeLong(6L + 8L + blockSize)
    blk.flush()
    writeBytes(s"$loc/$logName", blockBos.toByteArray)

    writeText(s"$loc/.hoodie/hoodie.properties",
      """#fixture
        |hoodie.table.name=fixture_mor
        |hoodie.table.type=MERGE_ON_READ
        |hoodie.table.version=6
        |hoodie.table.recordkey.fields=id
        |hoodie.timeline.layout.version=1
        |""".stripMargin)
    writeText(s"$loc/.hoodie/$i1.deltacommit",
      s"""{"partitionToWriteStats":{
         |  "":[{"fileId":"fid1","path":"$baseName","prevCommit":"null","numWrites":3,"fileSizeInBytes":$n1}]
         |},"operationType":"UPSERT"}""".stripMargin)
    writeText(s"$loc/.hoodie/$i2.deltacommit",
      s"""{"partitionToWriteStats":{
         |  "":[{"fileId":"fid1","path":"$logName","prevCommit":"$i1","numWrites":2}]
         |},"operationType":"UPSERT"}""".stripMargin)
  }

  // ==========================================================================
  // ICEBERG — fresh transcription of the Apache Iceberg table spec (v2)
  // ==========================================================================

  // Avro schemas re-typed from the spec's manifest-list / manifest field
  // tables (field ids in comments match the spec's column ids).
  private val ManifestListAvro: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |  {"name":"manifest_path","type":"string","field-id":500},
      |  {"name":"manifest_length","type":"long","field-id":501},
      |  {"name":"partition_spec_id","type":"int","field-id":502},
      |  {"name":"content","type":"int","field-id":517},
      |  {"name":"sequence_number","type":"long","field-id":515},
      |  {"name":"min_sequence_number","type":"long","field-id":516},
      |  {"name":"added_snapshot_id","type":"long","field-id":503},
      |  {"name":"added_files_count","type":"int","field-id":504},
      |  {"name":"existing_files_count","type":"int","field-id":505},
      |  {"name":"deleted_files_count","type":"int","field-id":506},
      |  {"name":"added_rows_count","type":"long","field-id":512},
      |  {"name":"existing_rows_count","type":"long","field-id":513},
      |  {"name":"deleted_rows_count","type":"long","field-id":514},
      |  {"name":"partitions","type":["null",{"type":"array","items":{
      |    "type":"record","name":"field_summary","fields":[
      |      {"name":"contains_null","type":"boolean","field-id":509},
      |      {"name":"contains_nan","type":["null","boolean"],"default":null,"field-id":518},
      |      {"name":"lower_bound","type":["null","bytes"],"default":null,"field-id":510},
      |      {"name":"upper_bound","type":["null","bytes"],"default":null,"field-id":511}
      |    ]},"element-id":508}],"default":null,"field-id":507}
      |]}""".stripMargin)

  private val ManifestEntryAvro: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |  {"name":"status","type":"int","field-id":0},
      |  {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      |  {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      |  {"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
      |  {"name":"data_file","type":{"type":"record","name":"r2","fields":[
      |    {"name":"content","type":"int","field-id":134},
      |    {"name":"file_path","type":"string","field-id":100},
      |    {"name":"file_format","type":"string","field-id":101},
      |    {"name":"partition","type":{"type":"record","name":"r102","fields":[
      |      {"name":"category","type":["null","string"],"default":null,"field-id":1000}
      |    ]},"field-id":102},
      |    {"name":"record_count","type":"long","field-id":103},
      |    {"name":"file_size_in_bytes","type":"long","field-id":104},
      |    {"name":"null_value_counts","type":["null",{"type":"array","items":{
      |      "type":"record","name":"k121_v122","fields":[
      |        {"name":"key","type":"int","field-id":121},
      |        {"name":"value","type":"long","field-id":122}
      |      ]},"logicalType":"map"}],"default":null,"field-id":110},
      |    {"name":"lower_bounds","type":["null",{"type":"array","items":{
      |      "type":"record","name":"k126_v127","fields":[
      |        {"name":"key","type":"int","field-id":126},
      |        {"name":"value","type":"bytes","field-id":127}
      |      ]},"logicalType":"map"}],"default":null,"field-id":125},
      |    {"name":"upper_bounds","type":["null",{"type":"array","items":{
      |      "type":"record","name":"k129_v130","fields":[
      |        {"name":"key","type":"int","field-id":129},
      |        {"name":"value","type":"bytes","field-id":130}
      |      ]},"logicalType":"map"}],"default":null,"field-id":128},
      |    {"name":"equality_ids","type":["null",{"type":"array","items":"int",
      |      "element-id":136}],"default":null,"field-id":135}
      |  ]},"field-id":2}
      |]}""".stripMargin)

  /** Iceberg FORMAT-VERSION 3 fixture: a deletion vector stored as a
    * `deletion-vector-v1` blob in a hand-framed PUFFIN file (header
    * magic, blob bytes, JSON footer + LE size/flags trailer — all
    * transcribed from the puffin spec), referenced from a delete
    * manifest via the v3 `referenced_data_file` / `content_offset` /
    * `content_size_in_bytes` fields (spec ids 143-145). The DV blob
    * framing is the spec's: i32 BE length, magic D1 D3 39 64, portable
    * 64-bit roaring vector, i32 BE CRC of magic+vector. */
  private def genIcebergV3(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions.col
    val loc = s"$Root/iceberg/v3"
    val dataSchema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("name", StringType)))
    val raw = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1, "one"), Row(2, "two"), Row(3, "three")), 1), dataSchema)
      .select(
        col("id").as("id", new MetadataBuilder().putLong("parquet.field.id", 1).build()),
        col("name").as("name", new MetadataBuilder().putLong("parquet.field.id", 2).build()))
    val f1 = writeOneParquet(spark, raw, s"$loc/data/f1.parquet")

    // DV payload: magic 1681511377 LE + portable-64 roaring masking
    // row index 1 (the spec's vector serialization)
    val rb = new org.roaringbitmap.RoaringBitmap()
    rb.add(1)
    val rbBytes = {
      val bb = ByteBuffer.allocate(rb.serializedSizeInBytes()).order(ByteOrder.LITTLE_ENDIAN)
      rb.serialize(bb)
      bb.array()
    }
    val payload = ByteBuffer.allocate(4 + 8 + 4 + rbBytes.length).order(ByteOrder.LITTLE_ENDIAN)
    payload.putInt(1681511377)
    payload.putLong(1L) // one 32-bit bitmap
    payload.putInt(0)   // its key
    payload.put(rbBytes)
    val pBytes = payload.array()
    // blob frame: i32 BE length + payload + i32 BE CRC
    val blob = {
      val bos = new ByteArrayOutputStream()
      val dos = new DataOutputStream(bos)
      dos.writeInt(pBytes.length)
      dos.write(pBytes)
      val c = new CRC32(); c.update(pBytes)
      dos.writeInt(c.getValue.toInt)
      dos.flush(); bos.toByteArray
    }
    // puffin container: magic, blob, magic + footer json + size/flags LE, magic
    val magic = "PFA1".getBytes("UTF-8")
    val blobOffset = 4L
    val footerJson =
      (s"""{"blobs":[{"type":"deletion-vector-v1","fields":[],""" +
        s""""snapshot-id":2002,"sequence-number":2,""" +
        s""""offset":$blobOffset,"length":${blob.length},""" +
        s""""properties":{"referenced-data-file":"$loc/data/f1.parquet","cardinality":"1"}}],""" +
        s""""properties":{}}""").getBytes("UTF-8")
    val puffin = {
      val bos = new ByteArrayOutputStream()
      bos.write(magic)
      bos.write(blob)
      bos.write(magic)
      bos.write(footerJson)
      val t = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      t.putInt(footerJson.length); t.putInt(0)
      bos.write(t.array())
      bos.write(magic)
      bos.toByteArray
    }
    writeBytes(s"$loc/data/dv-1.puffin", puffin)

    // v3 manifest-entry schema: empty partition struct + fields 143-145
    val v3EntryAvro: Schema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |  {"name":"status","type":"int","field-id":0},
        |  {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
        |  {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
        |  {"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
        |  {"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |    {"name":"content","type":"int","field-id":134},
        |    {"name":"file_path","type":"string","field-id":100},
        |    {"name":"file_format","type":"string","field-id":101},
        |    {"name":"partition","type":{"type":"record","name":"r102","fields":[]},"field-id":102},
        |    {"name":"record_count","type":"long","field-id":103},
        |    {"name":"file_size_in_bytes","type":"long","field-id":104},
        |    {"name":"lower_bounds","type":["null",{"type":"array","items":{
        |      "type":"record","name":"k126_v127","fields":[
        |        {"name":"key","type":"int","field-id":126},
        |        {"name":"value","type":"bytes","field-id":127}
        |      ]},"logicalType":"map"}],"default":null,"field-id":125},
        |    {"name":"upper_bounds","type":["null",{"type":"array","items":{
        |      "type":"record","name":"k129_v130","fields":[
        |        {"name":"key","type":"int","field-id":129},
        |        {"name":"value","type":"bytes","field-id":130}
        |      ]},"logicalType":"map"}],"default":null,"field-id":128},
        |    {"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},
        |    {"name":"content_offset","type":["null","long"],"default":null,"field-id":144},
        |    {"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}
        |  ]},"field-id":2}
        |]}""".stripMargin)
    def v3entry(snapId: Long, content: Int, path: String, fmt: String,
        records: Long, size: Long, refFile: Option[String],
        off: Option[Long], len: Option[Long]): GenericRecord = {
      val r = new GenericData.Record(v3EntryAvro)
      r.put("status", 1)
      r.put("snapshot_id", snapId)
      r.put("sequence_number", null) // inherit from list entry
      r.put("file_sequence_number", null)
      val dfSchema = v3EntryAvro.getField("data_file").schema()
      val d = new GenericData.Record(dfSchema)
      d.put("content", content)
      d.put("file_path", path)
      d.put("file_format", fmt)
      d.put("partition", new GenericData.Record(dfSchema.getField("partition").schema()))
      d.put("record_count", records)
      d.put("file_size_in_bytes", size)
      refFile.foreach(v => d.put("referenced_data_file", v))
      off.foreach(v => d.put("content_offset", Long.box(v)))
      len.foreach(v => d.put("content_size_in_bytes", Long.box(v)))
      r.put("data_file", d)
      r
    }
    val schemaJson =
      """{"type":"struct","schema-id":0,"fields":[""" +
        """{"id":1,"name":"id","required":true,"type":"int"},""" +
        """{"id":2,"name":"name","required":false,"type":"string"}]}"""
    def manifestMeta(content: String) = Map(
      "schema" -> schemaJson, "schema-id" -> "0",
      "partition-spec" -> "[]", "partition-spec-id" -> "0",
      "format-version" -> "3", "content" -> content)
    val m1 = writeAvro(s"$loc/metadata/m1.avro", v3EntryAvro,
      manifestMeta("data"), Seq(
        v3entry(2001L, 0, s"$loc/data/f1.parquet", "PARQUET", 3, f1, None, None, None)))
    val md1 = writeAvro(s"$loc/metadata/md1.avro", v3EntryAvro,
      manifestMeta("deletes"), Seq(
        v3entry(2002L, 1, s"$loc/data/dv-1.puffin", "PUFFIN", 1, puffin.length.toLong,
          Some(s"$loc/data/f1.parquet"), Some(blobOffset), Some(blob.length.toLong))))

    def listEntry(path: String, length: Long, content: Int, seq: Long,
        snapId: Long, rows: Long): GenericRecord = {
      val r = new GenericData.Record(ManifestListAvro)
      r.put("manifest_path", path)
      r.put("manifest_length", length)
      r.put("partition_spec_id", 0)
      r.put("content", content)
      r.put("sequence_number", seq)
      r.put("min_sequence_number", seq)
      r.put("added_snapshot_id", snapId)
      r.put("added_files_count", 1)
      r.put("existing_files_count", 0)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", rows)
      r.put("existing_rows_count", 0L)
      r.put("deleted_rows_count", 0L)
      r.put("partitions", new java.util.ArrayList[GenericRecord]())
      r
    }
    def m1Entry = listEntry(s"$loc/metadata/m1.avro", m1, 0, 1L, 2001L, 3L)
    writeAvro(s"$loc/metadata/snap-2001.avro", ManifestListAvro, Map.empty,
      Seq(m1Entry))
    writeAvro(s"$loc/metadata/snap-2002.avro", ManifestListAvro, Map.empty,
      Seq(listEntry(s"$loc/metadata/md1.avro", md1, 1, 2L, 2002L, 1L), m1Entry))

    writeText(s"$loc/metadata/v2.metadata.json",
      s"""{
         |  "format-version": 3,
         |  "table-uuid": "b0000000-0000-0000-0000-000000000003",
         |  "location": "$loc",
         |  "last-sequence-number": 2,
         |  "last-updated-ms": 1704067202000,
         |  "last-column-id": 2,
         |  "current-schema-id": 0,
         |  "schemas": [$schemaJson],
         |  "default-spec-id": 0,
         |  "partition-specs": [{"spec-id": 0, "fields": []}],
         |  "last-partition-id": 999,
         |  "default-sort-order-id": 0,
         |  "sort-orders": [{"order-id": 0, "fields": []}],
         |  "properties": {"write.format.default": "parquet"},
         |  "current-snapshot-id": 2002,
         |  "snapshots": [
         |    {"snapshot-id": 2001, "sequence-number": 1, "timestamp-ms": 1704067201000,
         |     "manifest-list": "$loc/metadata/snap-2001.avro",
         |     "summary": {"operation": "append"}, "schema-id": 0},
         |    {"snapshot-id": 2002, "parent-snapshot-id": 2001, "sequence-number": 2,
         |     "timestamp-ms": 1704067202000,
         |     "manifest-list": "$loc/metadata/snap-2002.avro",
         |     "summary": {"operation": "delete"}, "schema-id": 0}
         |  ],
         |  "snapshot-log": [
         |    {"timestamp-ms": 1704067201000, "snapshot-id": 2001},
         |    {"timestamp-ms": 1704067202000, "snapshot-id": 2002}
         |  ],
         |  "metadata-log": [],
         |  "refs": {"main": {"snapshot-id": 2002, "type": "branch"}}
         |}
         |""".stripMargin)
    writeText(s"$loc/metadata/version-hint.text", "2")
  }

  private def intLE(v: Int): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array()
  private def longLE(v: Long): Array[Byte] =
    ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(v).array()

  private def writeAvro(path: String, schema: Schema, meta: Map[String, String],
      records: Seq[GenericRecord]): Long = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => w.setMeta(k, v) }
    w.create(schema, f)
    records.foreach(w.append)
    w.close()
    f.length()
  }

  private def genIceberg(spark: SparkSession): Unit = {
    val loc = s"$Root/iceberg/basic"

    // data files carry parquet field ids (spec: required for id-based
    // column resolution) — stamped via Spark column metadata
    import org.apache.spark.sql.functions.col
    val dataSchema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("category", StringType),
      StructField("val", LongType)))
    def df(rows: (Int, String, Long)*): DataFrame = {
      val raw = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), 1),
        dataSchema)
      raw.select(
        col("id").as("id", new MetadataBuilder().putLong("parquet.field.id", 1).build()),
        col("category").as("category", new MetadataBuilder().putLong("parquet.field.id", 2).build()),
        col("val").as("val", new MetadataBuilder().putLong("parquet.field.id", 3).build()))
    }
    val f1 = writeOneParquet(spark, df((1, "x", 100L), (2, "x", 200L)),
      s"$loc/data/category=x/f1.parquet")
    val f3 = writeOneParquet(spark, df((10, "y", 1000L), (11, "y", 1100L)),
      s"$loc/data/category=y/f3.parquet")
    val f2 = writeOneParquet(spark, df((3, "x", 300L)),
      s"$loc/data/category=x/f2.parquet")
    // equality-delete file: just the equality field column (id), field-id 1
    val delSchema = StructType(Seq(StructField("id", IntegerType, nullable = false)))
    val delDf = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(2)), 1), delSchema)
      .select(col("id").as("id", new MetadataBuilder().putLong("parquet.field.id", 1).build()))
    val fd = writeOneParquet(spark, delDf, s"$loc/data/category=x/eqdel-1.parquet")

    def entry(status: Int, snapId: Long, seq: Option[Long], content: Int,
        path: String, category: String, records: Long, size: Long,
        idLo: Int, idHi: Int, eqIds: Seq[Int]): GenericRecord = {
      val r = new GenericData.Record(ManifestEntryAvro)
      r.put("status", status)
      r.put("snapshot_id", snapId)
      r.put("sequence_number", seq.map(Long.box).orNull)
      r.put("file_sequence_number", seq.map(Long.box).orNull)
      val dfSchema = ManifestEntryAvro.getField("data_file").schema()
      val d = new GenericData.Record(dfSchema)
      d.put("content", content)
      d.put("file_path", path)
      d.put("file_format", "PARQUET")
      val p = new GenericData.Record(dfSchema.getField("partition").schema())
      p.put("category", category)
      d.put("partition", p)
      d.put("record_count", records)
      d.put("file_size_in_bytes", size)
      def kvList(itemsField: String, pairs: Seq[(Int, Array[Byte])]): java.util.List[GenericRecord] = {
        val itemSchema = dfSchema.getField(itemsField).schema()
          .getTypes.get(1).getElementType
        val l = new java.util.ArrayList[GenericRecord]()
        pairs.foreach { case (k, v) =>
          val kv = new GenericData.Record(itemSchema)
          kv.put("key", k)
          kv.put("value", ByteBuffer.wrap(v))
          l.add(kv)
        }
        l
      }
      d.put("lower_bounds", kvList("lower_bounds", Seq(1 -> intLE(idLo))))
      d.put("upper_bounds", kvList("upper_bounds", Seq(1 -> intLE(idHi))))
      if (eqIds.nonEmpty) {
        val l = new java.util.ArrayList[Integer]()
        eqIds.foreach(i => l.add(Int.box(i)))
        d.put("equality_ids", l)
      }
      r.put("data_file", d)
      r
    }

    val schemaJson =
      """{"type":"struct","schema-id":0,"fields":[""" +
        """{"id":1,"name":"id","required":true,"type":"int"},""" +
        """{"id":2,"name":"category","required":false,"type":"string"},""" +
        """{"id":3,"name":"val","required":false,"type":"long"}]}"""
    val specJson =
      """[{"name":"category","transform":"identity","source-id":2,"field-id":1000}]"""
    def manifestMeta(content: String) = Map(
      "schema" -> schemaJson, "schema-id" -> "0",
      "partition-spec" -> specJson, "partition-spec-id" -> "0",
      "format-version" -> "2", "content" -> content)

    // m1 (snapshot 1001, seq 1): f1 + f3; entries leave sequence_number
    // NULL so the reader must INHERIT it from the manifest-list entry
    val m1 = writeAvro(s"$loc/metadata/m1.avro", ManifestEntryAvro,
      manifestMeta("data"), Seq(
        entry(1, 1001L, None, 0, s"$loc/data/category=x/f1.parquet", "x", 2, f1, 1, 2, Nil),
        entry(1, 1001L, None, 0, s"$loc/data/category=y/f3.parquet", "y", 2, f3, 10, 11, Nil)))
    // m2 (snapshot 1002, seq 2): f2 added
    val m2 = writeAvro(s"$loc/metadata/m2.avro", ManifestEntryAvro,
      manifestMeta("data"), Seq(
        entry(1, 1002L, None, 0, s"$loc/data/category=x/f2.parquet", "x", 1, f2, 3, 3, Nil)))
    // md1 (snapshot 1003, seq 3): equality delete of id=2 (applies to
    // data files with sequence number < 3, per v2 sequence rules)
    val md1 = writeAvro(s"$loc/metadata/md1.avro", ManifestEntryAvro,
      manifestMeta("deletes"), Seq(
        entry(1, 1003L, None, 2, s"$loc/data/category=x/eqdel-1.parquet", "x", 1, fd, 2, 2, Seq(1))))

    def listEntry(path: String, length: Long, content: Int, seq: Long,
        snapId: Long, added: Int, rows: Long,
        catLo: String, catHi: String): GenericRecord = {
      val r = new GenericData.Record(ManifestListAvro)
      r.put("manifest_path", path)
      r.put("manifest_length", length)
      r.put("partition_spec_id", 0)
      r.put("content", content)
      r.put("sequence_number", seq)
      r.put("min_sequence_number", seq)
      r.put("added_snapshot_id", snapId)
      r.put("added_files_count", added)
      r.put("existing_files_count", 0)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", rows)
      r.put("existing_rows_count", 0L)
      r.put("deleted_rows_count", 0L)
      val sumSchema = ManifestListAvro.getField("partitions").schema()
        .getTypes.get(1).getElementType
      val s = new GenericData.Record(sumSchema)
      s.put("contains_null", false)
      s.put("contains_nan", false)
      s.put("lower_bound", ByteBuffer.wrap(catLo.getBytes("UTF-8")))
      s.put("upper_bound", ByteBuffer.wrap(catHi.getBytes("UTF-8")))
      val l = new java.util.ArrayList[GenericRecord]()
      l.add(s)
      r.put("partitions", l)
      r
    }

    // a manifest-list entry keeps the sequence number the manifest was
    // ADDED at, even when carried forward into later snapshots' lists
    def m1Entry = listEntry(s"$loc/metadata/m1.avro", m1, 0, 1L, 1001L, 2, 4L, "x", "y")
    def m2Entry = listEntry(s"$loc/metadata/m2.avro", m2, 0, 2L, 1002L, 1, 1L, "x", "x")
    writeAvro(s"$loc/metadata/snap-1001.avro", ManifestListAvro, Map.empty,
      Seq(m1Entry))
    writeAvro(s"$loc/metadata/snap-1002.avro", ManifestListAvro, Map.empty,
      Seq(m2Entry, m1Entry))
    writeAvro(s"$loc/metadata/snap-1003.avro", ManifestListAvro, Map.empty,
      Seq(listEntry(s"$loc/metadata/md1.avro", md1, 1, 3L, 1003L, 1, 1L, "x", "x"),
        m2Entry, m1Entry))

    writeText(s"$loc/metadata/v3.metadata.json",
      s"""{
         |  "format-version": 2,
         |  "table-uuid": "b0000000-0000-0000-0000-000000000002",
         |  "location": "$loc",
         |  "last-sequence-number": 3,
         |  "last-updated-ms": 1704067203000,
         |  "last-column-id": 3,
         |  "current-schema-id": 0,
         |  "schemas": [$schemaJson],
         |  "default-spec-id": 0,
         |  "partition-specs": [{"spec-id": 0, "fields": $specJson}],
         |  "last-partition-id": 1000,
         |  "default-sort-order-id": 0,
         |  "sort-orders": [{"order-id": 0, "fields": []}],
         |  "properties": {"write.format.default": "parquet"},
         |  "current-snapshot-id": 1003,
         |  "snapshots": [
         |    {"snapshot-id": 1001, "sequence-number": 1, "timestamp-ms": 1704067201000,
         |     "manifest-list": "$loc/metadata/snap-1001.avro",
         |     "summary": {"operation": "append"}, "schema-id": 0},
         |    {"snapshot-id": 1002, "parent-snapshot-id": 1001, "sequence-number": 2,
         |     "timestamp-ms": 1704067202000,
         |     "manifest-list": "$loc/metadata/snap-1002.avro",
         |     "summary": {"operation": "append"}, "schema-id": 0},
         |    {"snapshot-id": 1003, "parent-snapshot-id": 1002, "sequence-number": 3,
         |     "timestamp-ms": 1704067203000,
         |     "manifest-list": "$loc/metadata/snap-1003.avro",
         |     "summary": {"operation": "overwrite"}, "schema-id": 0}
         |  ],
         |  "snapshot-log": [
         |    {"timestamp-ms": 1704067201000, "snapshot-id": 1001},
         |    {"timestamp-ms": 1704067202000, "snapshot-id": 1002},
         |    {"timestamp-ms": 1704067203000, "snapshot-id": 1003}
         |  ],
         |  "metadata-log": [],
         |  "refs": {
         |    "main": {"snapshot-id": 1003, "type": "branch"},
         |    "before-deletes": {"snapshot-id": 1002, "type": "tag"}
         |  }
         |}
         |""".stripMargin)
    writeText(s"$loc/metadata/version-hint.text", "3")
  }
}
