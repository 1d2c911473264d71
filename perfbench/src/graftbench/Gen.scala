package graftbench

import java.util.SplittableRandom

/** One row of the keyed lake tables: key `id`, partition `p`, a version
  * counter `v` that every rewrite bumps, and a string payload `s`. */
final case class LakeRow(id: Long, p: Int, v: Long, s: String) {
  /** Bytes of user data the row carries (8 + 4 + 8 + UTF-8 payload). */
  def userBytes: Long = 20L + s.length
}

/** A generated document and its embedding. */
final case class Doc(id: Long, lang: String, text: String)
final case class Vec(id: Long, embedding: Array[Float], label: Int)

/** Seeded input generators. Every stream is derived from the run seed and
  * a fixed per-stream salt, so the same seed gives the same inputs. */
object Gen {
  /** Seed of the recorded baseline runs. */
  val DefaultSeed = 1L
  /** Seed kept out of tuning, for checking a claimed gain. */
  val HeldOutSeed = 7919L

  def rng(seed: Long, salt: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt.hashCode.toLong)

  private val Alnum = "abcdefghijklmnopqrstuvwxyz0123456789"

  def payload(r: SplittableRandom): String = {
    val n = 12 + r.nextInt(13)
    val b = new StringBuilder(n)
    (0 until n).foreach(_ => b += Alnum.charAt(r.nextInt(Alnum.length)))
    b.toString
  }

  def row(r: SplittableRandom, id: Long, partitions: Int, v: Long): LakeRow =
    LakeRow(id, (id % partitions).toInt, v, payload(r))

  // ---- corpus ----------------------------------------------------------
  // Shapes measured on the installed test corpus (sf0.1: documents.parquet,
  // 5000 documents; embeddings.parquet, 2000 vectors). See perfbench/README.md.

  /** The measured corpus's 30 words, each 3.3-3.4% of all tokens. */
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "table", "merge", "column", "value", "stream", "vector",
    "small", "data", "filter", "big", "join", "group", "sort", "hash",
    "customer", "line", "order", "slow", "part", "fast", "row", "the", "agg",
    "key", "a", "query", "scan", "batch")
  /** Word the measured corpus appends to a copied text to make a near copy. */
  val NearMark = "dup"
  /** Words per base text: uniform over 10..99, as measured. */
  val MinWords = 10
  val MaxWords = 99
  /** Measured language labels and shares (en 2059, zh 753, es 744, fr 742,
    * de 702 of 5000). A label is drawn for every document on its own,
    * copies included: it is not derived from the text. */
  val Langs: IndexedSeq[(String, Double)] = IndexedSeq(
    "de" -> 0.1404, "en" -> 0.4118, "es" -> 0.1488, "fr" -> 0.1484, "zh" -> 0.1506)
  /** Measured shares of documents that copy another one: 8 of 5000 repeat
    * an earlier text verbatim, 250 of 5000 are an earlier text plus
    * " dup". */
  val ExactDupShare = 0.0016
  val NearDupShare = 0.05
  /** Measured: 2000 vectors to 5000 documents, 64 dimensions, unit norm,
    * Gaussian components, labels uniform over 0..9. */
  val VecsPerDoc = 0.4
  val EmbeddingDim = 64
  /** Chosen, not measured: the installed vectors hold no near duplicates
    * (no pair reaches cosine 0.61), so an embedding dedup run on them has
    * nothing planted to find. This share of vectors are near copies of
    * another vector, the same share as the near-copy documents. */
  val VecNearShare = NearDupShare

  /** Planted structure of one corpus shard. `nearDupPairs` are (base,
    * near copy) document ids, `nearVecPairs` (base, near copy) vector ids,
    * each with the smaller id first. */
  final case class Shard(docs: IndexedSeq[Doc], vecs: IndexedSeq[Vec],
      exactPairs: Seq[(Long, Long)], nearDupPairs: Seq[(Long, Long)],
      nearVecPairs: Seq[(Long, Long)]) {
    /** Distinct texts; exact dedup keeps one document of each. */
    def uniqueTexts: Int = docs.map(_.text).distinct.size
  }

  private def lang(r: SplittableRandom): String = {
    val u = r.nextDouble() * Langs.map(_._2).sum
    val cum = Langs.scanLeft(0.0)(_ + _._2).tail
    Langs(math.max(0, cum.indexWhere(u < _)))._1
  }

  /** `n` documents whose ids start at `firstId`, and `n * VecsPerDoc`
    * vectors whose ids start at `firstVecId`. Documents: unique base texts,
    * verbatim copies of some bases (exact duplicates) and copies of other
    * bases with [[NearMark]] appended (near duplicates), shuffled. Vectors:
    * random unit vectors, and near copies of some of them (the base plus
    * noise of norm 0.1, cosine about 0.995), shuffled. */
  def shard(seed: Long, index: Int, n: Int, firstId: Long, firstVecId: Long): Shard = {
    val r = rng(seed, s"corpus-$index")
    val nExact = math.round(n * ExactDupShare).toInt
    val nNear = math.round(n * NearDupShare).toInt
    val nBase = n - nExact - nNear
    val seen = scala.collection.mutable.HashSet[String]()
    def words(len: Int) = IndexedSeq.fill(len)(Vocab(r.nextInt(Vocab.length))).mkString(" ")
    val bases = Iterator.continually(words(MinWords + r.nextInt(MaxWords - MinWords + 1)))
      .filter(seen.add).take(nBase).toIndexedSeq
    // exact and near copies come from distinct bases, so every planted
    // pair is one (base, copy) edge and no document has two copies
    val order = shuffle(r, bases.indices)
    val nearSrc = order.take(nNear)
    val exactSrc = order.slice(nNear, nNear + nExact)
    val kinds = bases.indices.map(i => (bases(i), i, 0)) ++
      exactSrc.map(b => (bases(b), b, 1)) ++ nearSrc.map(b => (s"${bases(b)} $NearMark", b, 2))
    val placed = shuffle(r, kinds.indices).map(kinds)
    val ids = placed.indices.map(firstId + _)
    val docs = placed.indices.map(i => Doc(ids(i), lang(r), placed(i)._1))
    val baseId = placed.indices.filter(i => placed(i)._3 == 0).map(i => placed(i)._2 -> ids(i)).toMap
    def pairs(kind: Int) = placed.indices.filter(i => placed(i)._3 == kind).map { i =>
      val (a, b) = (baseId(placed(i)._2), ids(i))
      (math.min(a, b), math.max(a, b))
    }

    val nVec = math.round(n * VecsPerDoc).toInt
    val nVecNear = math.round(nVec * VecNearShare).toInt
    val baseVec = IndexedSeq.fill(nVec - nVecNear)(unit(Array.fill(EmbeddingDim)(r.nextGaussian())))
    val vecSrc = shuffle(r, baseVec.indices).take(nVecNear)
    val vecKinds = baseVec.indices.map(i => (baseVec(i), i, false)) ++ vecSrc.map { b =>
      (unit(baseVec(b).map(x => x + 0.1 / math.sqrt(EmbeddingDim) * r.nextGaussian())), b, true)
    }
    val vecPlaced = shuffle(r, vecKinds.indices).map(vecKinds)
    val vecIds = vecPlaced.indices.map(firstVecId + _)
    val vecs = vecPlaced.indices.map(i => Vec(vecIds(i), vecPlaced(i)._1.map(_.toFloat), r.nextInt(10)))
    val baseVecId = vecPlaced.indices.filter(i => !vecPlaced(i)._3).map(i => vecPlaced(i)._2 -> vecIds(i)).toMap
    val vecPairs = vecPlaced.indices.filter(i => vecPlaced(i)._3).map { i =>
      val (a, b) = (baseVecId(vecPlaced(i)._2), vecIds(i))
      (math.min(a, b), math.max(a, b))
    }
    Shard(docs, vecs, pairs(1), pairs(2), vecPairs)
  }

  /** Word bigrams of a text, the shingles n-gram dedup compares. */
  def bigrams(t: String): Set[(String, String)] = {
    val w = t.split(' ')
    w.indices.init.map(i => (w(i), w(i + 1))).toSet
  }

  private def unit(x: Array[Double]): Array[Double] = {
    val n = math.sqrt(x.map(v => v * v).sum)
    x.map(_ / n)
  }

  def shuffle[T](r: SplittableRandom, xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
}
