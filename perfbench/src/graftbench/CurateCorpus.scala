package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.queries.{Dedup, Pipeline}

object CurateCorpus {
  val Shards = 2
  /** Chosen, not measured: a shard small enough that one curation pass
    * takes a few seconds, so a 10 s run times several passes. */
  val DocsPerShard = 1000
  /** Untimed rounds before timing: two passes over the shards. After one
    * pass the first timed op still ran 10-30% slower than the rest. */
  val WarmupRounds = 2 * Shards
  /** Floor on the share of planted vector pairs embedding dedup must find:
    * its hyperplane LSH is approximate. n-gram dedup is exact (prefix
    * filter, then a verify), so its answer must equal the planted pairs. */
  val EmbeddingRecallFloor = 0.90
  /** The pipeline's quality gate keeps texts of at least this many words:
    * score = min(1, words / 100) for texts without punctuation, kept at 0.3. */
  val QualityMinWords = 30

  val DocSchema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType)))
  val VecSchema: StructType = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  private def words(t: String): Int = t.split(' ').length

  /** Reference answer of `Pipeline.pipelineEndToEnd` on a shard, from its
    * planted structure: (lang, n_docs, n_chunks) by lang. A document is
    * kept when it passes the quality gate (the language gate keeps every
    * text of this vocabulary), has the smallest id among documents of its
    * text, and is not the larger id of a planted pair, which MinHash
    * clustering removes whatever the pair's languages and lengths. */
  def expectedPipeline(s: Gen.Shard): Seq[(String, Long, Long)] = {
    val nonCanonical = (s.exactPairs ++ s.nearDupPairs).map(_._2).toSet
    val firstOfText = s.docs.groupBy(_.text).values.map(_.map(_.id).min).toSet
    s.docs.filter(d => words(d.text) >= QualityMinWords && firstOfText(d.id) &&
        !nonCanonical(d.id))
      .groupBy(_.lang).toSeq.sortBy(_._1).map { case (l, ds) =>
        (l, ds.size.toLong, ds.map(d => ((words(d.text) - 1) / 48 + 1).toLong).sum)
      }
  }

  /** Reference edges of `Dedup.dedupNgramJaccard` on a shard: (doc_id,
    * cluster_id) -> jaccard. Documents of the same text and language join
    * the smallest id at 1.0; a planted near pair of one language is an
    * edge at its word-bigram jaccard. Pairs across languages are never
    * compared. */
  def expectedNgram(s: Gen.Shard): Map[(Long, Long), Double] = {
    val byId = s.docs.map(d => d.id -> d).toMap
    val members = s.docs.groupBy(d => (d.text, d.lang)).values.flatMap { ds =>
      val rep = ds.map(_.id).min
      ds.filter(_.id != rep).map(d => (d.id, rep) -> 1.0)
    }
    val near = s.nearDupPairs.filter { case (a, b) => byId(a).lang == byId(b).lang }.map {
      case (a, b) =>
        val (x, y) = (Gen.bigrams(byId(a).text), Gen.bigrams(byId(b).text))
        (b, a) -> (x & y).size.toDouble / (x | y).size
    }
    (members ++ near).toMap
  }
}

/** Curation passes over a seeded corpus split into equal shards: each op
  * runs the end-to-end pipeline, n-gram Jaccard dedup and embedding dedup
  * on one shard directory. Every answer is checked against the shard's
  * planted structure: the pipeline's and n-gram dedup's answers must equal
  * their reference models, and embedding dedup must find the planted near
  * copies and report true cosines. */
final class CurateCorpus(spark: SparkSession, seed: Long) extends Workload {
  import CurateCorpus._

  private var shards: IndexedSeq[(String, Gen.Shard)] = IndexedSeq.empty
  private var docsDone = 0L
  private var vecRecall = 1.0

  def build(dir: String): Unit = {
    shards = (0 until Shards).map { k =>
      val s = Gen.shard(seed, k, DocsPerShard, k.toLong * DocsPerShard,
        k * math.round(DocsPerShard * Gen.VecsPerDoc))
      val d = s"$dir/shard-$k"
      writeFile(s.docs.map(x => Row(x.id, x.text, x.lang)), DocSchema, d, "documents")
      writeFile(s.vecs.map(x => Row(x.id, x.embedding.toSeq, x.label)), VecSchema, d, "embeddings")
      (d, s)
    }
  }

  def warmup(): Unit = {
    val untimed = new Recorder(spark.sparkContext, traced = false)
    (0 until WarmupRounds).foreach(i => round(i, untimed))
    require(!untimed.ops.exists(_.failed), "curate_corpus warm-up failed")
    docsDone = 0
  }

  /** Writes `rows` as the single parquet file `dir/name.parquet`, the
    * layout of the installed test corpus. */
  private def writeFile(rows: Seq[Row], schema: StructType, dir: String, name: String): Unit = {
    val tmp = s"$dir/.$name"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles.find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    require(part.renameTo(new java.io.File(s"$dir/$name.parquet")), s"cannot place $name.parquet")
    Main.deleteTree(new java.io.File(tmp))
  }

  /** One pass covers every shard once. */
  def cycle: Int = Shards

  /** Directory and planted structure of shard `k`. */
  def shard(k: Int): (String, Gen.Shard) = shards(k)

  def round(i: Int, rec: Recorder): Unit = {
    val k = i % shards.size
    val (d, s) = shards(k)
    val got = rec.op("curate.pass") {
      val p = rec.call("pipeline")(Pipeline.pipelineEndToEnd(spark, d).collect().toSeq)
      val ng = rec.call("ngram")(Dedup.dedupNgramJaccard(spark, d).collect().toSeq)
      val em = rec.call("embedding")(Dedup.dedupEmbedding(spark, d).collect().toSeq)
      (p, ng, em)
    }
    got.foreach { case (p, ng, em) =>
      val errors = check(s, p, ng, em)
      if (errors.nonEmpty) {
        rec.failLast()
        errors.foreach(e => System.err.println(s"perfbench: shard $k: $e"))
      } else docsDone += s.docs.size
    }
  }

  private[graftbench] def check(s: Gen.Shard, p: Seq[Row], ng: Seq[Row], em: Seq[Row]): Seq[String] = {
    val errors = Seq.newBuilder[String]
    // pipeline: (lang, n_docs, n_chunks) by lang
    val pGot = p.map(x => (x.getAs[String]("lang"), x.getAs[Long]("n_docs"), x.getAs[Long]("n_chunks")))
    val pWant = expectedPipeline(s)
    if (pGot != pWant) errors += s"pipeline answered $pGot, want $pWant"
    // n-gram output: (doc_id, cluster_id, jac)
    val want = expectedNgram(s)
    val got = ng.map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    val survivors = s.docs.size - ng.count(_.getDouble(2) == 1.0)
    val planted = s.docs.map(d => (d.text, d.lang)).distinct.size
    if (survivors != planted)
      errors += s"exact-dedup survivors $survivors, planted unique (text, lang) pairs $planted"
    val missing = want.keySet -- got.keySet
    val extra = got.keySet -- want.keySet
    val offJac = want.keySet.intersect(got.keySet).count(e => math.abs(got(e) - want(e)) > 1e-4)
    if (missing.nonEmpty || extra.nonEmpty || offJac > 0 || ng.size != got.size)
      errors += s"n-gram dedup: ${missing.size} planted edges missing, ${extra.size} unplanted, " +
        s"$offJac with a wrong jaccard, ${ng.size - got.size} repeated"
    // embedding output: (a_id, b_id, cos_sim), planted pairs found, true cosines
    val vecEdges = em.map(x => (x.getLong(0), x.getLong(1))).toSet
    val vr = s.nearVecPairs.count(vecEdges).toDouble / math.max(1, s.nearVecPairs.size)
    vecRecall = math.min(vecRecall, vr)
    if (vr < EmbeddingRecallFloor) errors += f"embedding near-duplicate recall $vr%.3f < $EmbeddingRecallFloor"
    val unit = s.vecs.map { v =>
      val x = v.embedding.map(_.toDouble)
      val n = math.sqrt(x.map(c => c * c).sum)
      v.id -> x.map(_ / n)
    }.toMap
    val wrongCos = em.count { x =>
      val (a, b) = (unit.get(x.getLong(0)), unit.get(x.getLong(1)))
      a.isEmpty || b.isEmpty || x.getLong(0) >= x.getLong(1) || x.getDouble(2) < 0.4 ||
        math.abs(a.get.zip(b.get).map { case (u, v) => u * v }.sum - x.getDouble(2)) > 2e-4
    }
    if (wrongCos > 0) errors += s"embedding dedup: $wrongCos of ${em.size} pairs with a wrong cosine"
    errors.result()
  }

  def verify(rec: Recorder): Seq[String] = Nil

  def rows: Long = docsDone

  def inputs: Seq[(String, Any)] = {
    val ss = shards.map(_._2)
    def perShard(f: Gen.Shard => Any) = ss.map(f).mkString(",")
    val byId = ss.flatMap(_.docs).map(d => d.id -> d).toMap
    def sameLang(ps: Seq[(Long, Long)]) = ps.count { case (a, b) => byId(a).lang == byId(b).lang }
    val lens = ss.flatMap(_.docs).map(d => d.text.split(' ').length)
    Seq(
      "shards" -> Shards,
      "docs_per_shard" -> DocsPerShard,
      "vectors_per_shard" -> perShard(_.vecs.size),
      "words_per_doc" -> f"${lens.min}..${lens.max}, mean ${lens.sum.toDouble / lens.size}%.1f",
      "language_shares" -> ss.flatMap(_.docs).groupBy(_.lang).toSeq.sortBy(_._1)
        .map { case (l, ds) => f"$l=${ds.size.toDouble / byId.size}%.3f" }.mkString(","),
      "exact_copies_per_shard" -> perShard(s => s"${s.exactPairs.size} (${sameLang(s.exactPairs)} same-language)"),
      "near_copies_per_shard" -> perShard(s => s"${s.nearDupPairs.size} (${sameLang(s.nearDupPairs)} same-language)"),
      "near_vector_copies_per_shard" -> perShard(_.nearVecPairs.size),
      "unique_texts_per_shard" -> perShard(_.uniqueTexts),
      "pipeline_kept_per_shard" -> perShard(s => expectedPipeline(s).map(_._2).sum),
      "embedding_recall_min" -> f"$vecRecall%.3f (floor $EmbeddingRecallFloor)",
      "metadata_working_set" -> s"${2 * Shards} parquet inputs, under the Tables schema cache cap 256")
  }
}
