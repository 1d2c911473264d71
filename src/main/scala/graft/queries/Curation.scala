package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Corpus-curation operators — the dataset-construction stages a
  * pretraining run performs AFTER cleaning/dedup (which Pipeline/Dedup
  * cover): benchmark decontamination, stratified sampling, domain-mixture
  * construction, sequence packing, and repetition-based quality filters
  * (the Rae et al. 2021 "Gopher rules" family).
  *
  * Everything is bit-deterministic across partitionings and cluster
  * sizes: sampling and ordering decisions key on `md5(doc_id)` — a
  * content-independent, engine-portable hash (Spark's `md5` and DuckDB's
  * `md5` agree byte-for-byte on UTF-8 input, so every operator here is
  * oracle-verified end-to-end, not rows-only).
  *
  * Scale shapes (the 100 TB lens, per operator):
  *  - decontam: the benchmark side is bounded by construction (eval
  *    suites are MBs, not TBs) → broadcast its n-gram set; the corpus
  *    side is one map pass + a broadcast-hash semi-join, no shuffle of
  *    corpus data.
  *  - stratified sampling: hash-threshold per stratum → pure filter,
  *    map-only, zero shuffle, no per-stratum sort (a rank-based "exact
  *    top-k per stratum" would serialize each stratum through one
  *    partition — strata are few and huge at 100 TB).
  *  - domain mixture: running-sum budget cap needs a per-domain prefix
  *    sum; domains are few → the window would serialize. Same two-phase
  *    prefix-sum trick as packing: bucket by hash prefix WITHIN each
  *    domain, distributed sort per (domain, bucket), metadata-sized
  *    bucket-offset join.
  *  - packing: a global prefix sum over a deterministic order. NOT a
  *    single-partition global window (the classic scale-killer): a
  *    two-phase distributed prefix sum — per-bucket windows over a hex
  *    prefix of the order key + an O(buckets) offset map joined back.
  *  - repetition: pure per-row column expressions, map-only.
  */
object Curation {

  /** Engine-portable deterministic per-doc order/sample key:
    * lowercase-hex md5 of the decimal doc_id string. */
  private def hashKey: Column =
    md5(col("doc_id").cast("string").cast("binary"))

  private val HashKeySql = "md5(CAST(doc_id AS VARCHAR))"

  // ---------------------------------------------------------------------
  // curate_decontam — benchmark decontamination (8-gram overlap)
  // ---------------------------------------------------------------------

  /** Docs whose doc_id % 97 == 0 stand in for the held-out benchmark. */
  private val EvalMod = 97
  private val NGramN = 8

  // (8-gram strings come from the native NGramStrings expression — the
  // equivalent transform/slice HOF pipeline evaluated interpreted under
  // the Generate and cost 6 s at sf0.1; r09 decontam stage receipts)

  /** Benchmark decontamination — the step every pretraining pipeline runs
    * before training: count, per corpus document, the distinct word
    * 8-grams it shares with the eval set (GPT-3 App. C / PaLM use exactly
    * this shape: n-gram overlap, n≈8-13). Output one row per NON-eval doc
    * with its overlap count and a 0/1 contamination flag.
    *
    * Plan shape: eval n-grams are deduped and BROADCAST (eval suites are
    * bounded small by construction — forcing this broadcast is correct,
    * unlike an open-vocabulary dictionary); the corpus side is one
    * map pass producing (doc_id, gram) + a broadcast semi-join + one
    * partial-agg'd count. Corpus bytes are never shuffled. [oracle] */
  def curateDecontam(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(s, d))
      .select(col("doc_id"),
        ngramStrings(split(col("text"), "\\s+"), NGramN).as("grams"))
    val evalGrams = docs.filter(col("doc_id") % EvalMod === 0)
      .select(explode(col("grams")).as("g")).distinct()
    val hits = docs.filter(col("doc_id") % EvalMod =!= 0)
      .select(col("doc_id"), explode(col("grams")).as("g"))
      // broadcast semi-filter BEFORE the distinct (r16 opt, guide §3.2):
      // the old distinct-then-join shuffled EVERY corpus gram occurrence
      // just to dedupe pairs that mostly don't match any eval gram; the
      // map-side hash join drops non-matching grams first, so the
      // distinct's exchange carries only eval-overlapping (doc, gram)
      // pairs — bounded by |eval grams| × docs-that-overlap, not by the
      // corpus. Same rows out: the join key is exactly the distinct key's
      // gram half, evalGrams is already distinct, and inner-join-then-
      // distinct ≡ distinct-then-inner-join on any multiset.
      .join(broadcast(evalGrams), "g")
      .distinct() // count DISTINCT shared grams per doc
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    Tables.documents(s, d).filter(col("doc_id") % EvalMod =!= 0)
      .select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        when(coalesce(col("n_overlap"), lit(0L)) > 0, 1).otherwise(0)
          .as("contaminated"))
  }

  // ---------------------------------------------------------------------
  // curate_sample_stratified — hash-threshold sampling per language
  // ---------------------------------------------------------------------

  /** Per-language sampling fractions, expressed as 6-hex-digit md5-prefix
    * thresholds (fraction ≈ threshold / 16^6). Literal thresholds keep
    * Spark and the SQL oracle byte-identical: `substr(md5,1,6) < t` is a
    * plain string compare in both engines. */
  private val StratumThresholds: Seq[(String, String)] = Seq(
    "de" -> "800000", // 0.50
    "en" -> "199999", // 0.10
    "es" -> "666666", // 0.40
    "fr" -> "4ccccc", // 0.30
    "zh" -> "333333") // 0.20

  /** Deterministic stratified sampling — downweight the over-represented
    * language, keep more of the rare ones. A doc survives iff the first 6
    * hex chars of md5(doc_id) fall below its language's threshold: pure
    * filter, map-only, no shuffle, no per-stratum sort, and the SAME docs
    * survive at any cluster size. (Rank-based exact-k sampling would
    * funnel each stratum through one sort — strata are few and huge at
    * 100 TB; hash thresholds hit the target fraction to ±ε with zero
    * coordination.) [oracle] */
  /** The stratified keep-filter as a reusable Column (shared with the
    * streaming curation entry — identical survivors batch or
    * streaming). */
  private[graft] def stratumKeep: Column = {
    val prefix = substring(hashKey, 1, 6)
    StratumThresholds.foldRight(lit(false): Column) {
      case ((lang, thr), other) =>
        when(col("lang") === lang, prefix < thr).otherwise(other)
    }
  }

  /** DuckDB mirror of [[stratumKeep]] for oracle SQL. */
  private[graft] def stratumKeepSql: String =
    s"""CASE lang
       ${StratumThresholds.map { case (l, t) =>
         s"WHEN '$l' THEN substring($HashKeySql, 1, 6) < '$t'" }
         .mkString("\n       ")}
       ELSE FALSE END"""

  def curateSampleStratified(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(stratumKeep)
      .select(col("doc_id"), col("lang"), col("source"))

  // ---------------------------------------------------------------------
  // curate_mix_domains — per-domain char-budget mixture
  // ---------------------------------------------------------------------

  private val DomainBudgetChars = 2500L

  /** Domain-mixture construction: take documents per source domain, in
    * deterministic md5 order, until the domain's char budget is exceeded
    * (each domain's first budget-crossing doc is included, so every
    * domain with data contributes at least one doc). This is the
    * data-mixture step that turns per-domain weights into an actual
    * training set.
    *
    * The budget cap is a per-domain PREFIX SUM over the hash order — and
    * domains are few and huge at 100 TB, so a plain window partitioned by
    * source would serialize each domain through one task. Same two-phase
    * distributed prefix sum as [[curatePackSequences]], partitioned by
    * (source, 256 hash-prefix buckets): distributed sort per bucket, one
    * O(domains × buckets) metadata aggregate for the offsets, broadcast
    * join back. Docs past the budget are filtered before any further
    * stage sees them. [oracle] */
  def curateMixDomains(s: SparkSession, d: String): DataFrame = {
    val keyed = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"), hashKey.as("k"),
        substring(hashKey, 1, 2).as("bkt"))
    val w = Window.partitionBy("source", "bkt").orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inBucket = keyed.withColumn("cum_in_bkt", sum(col("n_chars")).over(w))
    // offset of each (source, bucket) = total chars of all LOWER buckets
    // in the same source — O(domains × 256) rows, broadcast back
    val bucketTotals = keyed.groupBy("source", "bkt")
      .agg(sum(col("n_chars")).as("bkt_total"))
    val wOff = Window.partitionBy("source").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketTotals.withColumn(
      "bkt_offset", coalesce(sum(col("bkt_total")).over(wOff), lit(0L)))
      .select("source", "bkt", "bkt_offset")
    inBucket.join(broadcast(offsets), Seq("source", "bkt"))
      .withColumn("cum_before",
        col("bkt_offset") + col("cum_in_bkt") - col("n_chars"))
      .filter(col("cum_before") < DomainBudgetChars)
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("cum_before"))
  }

  // ---------------------------------------------------------------------
  // curate_pack_sequences — concat-and-chunk sequence packing
  // ---------------------------------------------------------------------

  private val SeqCapacity = 64L

  /** GPT-style sequence packing: concatenate all documents in a
    * deterministic global order (md5 of doc_id) and cut the token stream
    * into fixed 64-token training sequences; emit, per document, the
    * sequence id and offset where its first token lands. Downstream shard
    * writers use exactly this map to build packed training batches
    * without padding waste.
    *
    * The global prefix sum is computed DISTRIBUTED, not as a
    * single-partition global window: the order key's first 2 hex chars
    * split the stream into 256 ordered buckets; each bucket does its own
    * window cumsum (distributed sort), an O(256)-row aggregate yields
    * each bucket's global offset, and a broadcast join adds them. Because
    * bucket prefix order == key order, the result equals the exact global
    * cumulative sum at any cluster size. (At 100 TB, widen the prefix to
    * 3-4 hex chars — same plan, 4k/65k buckets.) [oracle]
    *
    * The gate runs 64-token sequences (documents span sequences, the
    * harder direction for the oracle); production packing runs 2-8 K
    * (sequences span documents AND bucket boundaries) — [[packSequences]]
    * takes the capacity, and CurationSpec's scale receipt checks the
    * distributed prefix sum against an exact in-memory cumsum at 2 K/8 K
    * capacities on a 10x corpus. */
  def curatePackSequences(s: SparkSession, d: String): DataFrame =
    packSequences(s, d, SeqCapacity)

  private[graft] def packSequences(s: SparkSession, d: String,
      capacity: Long): DataFrame = {
    val keyed = Tables.fanOut(Tables.documents(s, d))
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("k", hashKey)
      .withColumn("bkt", substring(col("k"), 1, 2))
    val w = Window.partitionBy("bkt").orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inBucket = keyed.withColumn("cum_in_bkt", sum(col("n_tokens")).over(w))
    val wOff = Window.orderBy("bkt") // O(256) rows — driver-scale window
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy("bkt").agg(sum(col("n_tokens")).as("bkt_total"))
      .withColumn("bkt_offset", coalesce(sum(col("bkt_total")).over(wOff), lit(0L)))
      .select("bkt", "bkt_offset")
    inBucket.join(broadcast(offsets), "bkt")
      .withColumn("cum_before",
        col("bkt_offset") + col("cum_in_bkt") - col("n_tokens"))
      .select(col("doc_id"),
        expr(s"cum_before div $capacity").as("seq_id"),
        (col("cum_before") % capacity).as("seq_offset"),
        col("n_tokens"))
  }

  // ---------------------------------------------------------------------
  // text_repetition — Gopher-rule repetition signals
  // ---------------------------------------------------------------------

  /** Repetition-based quality signals (Rae et al. 2021 §A1.1: excess
    * repetition predicts low-quality/boilerplate text): duplicate-word
    * fraction, duplicate-bigram fraction, and top-word dominance.
    * Map-only at any scale; the count inputs come from ONE native pass
    * per row (RepetitionStats — the earlier HOF formulation evaluated
    * interpreted with a quadratic top-word scan and was the heaviest
    * per-row op in the sf1 run, 3.2 s exec; the fraction arithmetic
    * stays in codegen'd column space so oracle rounding is
    * unchanged). [oracle] */
  def textRepetition(s: SparkSession, d: String): DataFrame = {
    val stats = org.apache.spark.sql.graftshim.ColumnExpr.column(
      graft.expressions.RepetitionStats(
        org.apache.spark.sql.graftshim.ColumnExpr.expression(
          split(col("text"), "\\s+"))))
    val n = col("r.n_words").cast("double")
    Tables.fanOut(Tables.documents(s, d))
      .select(col("doc_id"), stats.as("r"))
      .select(
        col("doc_id"),
        col("r.n_words").as("n_words"),
        Money.qround(lit(1.0) - col("r.n_distinct") / n, 4).as("dup_word_frac"),
        Money.qround(when(col("r.n_words") >= 2,
          lit(1.0) - col("r.n_distinct_bigrams") / col("r.n_bigrams").cast("double"))
          .otherwise(0.0), 4).as("dup_2gram_frac"),
        Money.qround(col("r.top_count") / n, 4).as("top_word_frac"))
  }

  /** MODEL-BASED QUALITY CLASSIFIER — the CCNet / FineWeb distillation
    * pattern: an expensive TEACHER (here the composite heuristic
    * [[Text.qualityScoreCol]]; in production an LLM judge or a
    * wiki-vs-crawl contrast set) labels a training split, and a cheap
    * linear STUDENT (whitespace tokens → HashingTF(4096) term counts →
    * binary logistic regression, spark.ml) learns to reproduce it so the
    * full corpus can be scored at a fraction of the teacher's cost.
    * Confident-band training (teacher's top/bottom 40% by train-split
    * quantiles; the ambiguous middle is excluded) — the standard
    * distillation trick for a threshold teacher.
    *
    * Deterministic: the 1-in-5 holdout keys on xxhash64(doc_id), the
    * band thresholds are train-split approxQuantiles (bounded driver
    * artifact), and the output is the (holdout, teacher_label,
    * pred_label) confusion matrix so the entry carries its own
    * evaluation; CurationSpec pins holdout agreement.
    *
    * 100 TB shape: featurization is map-only; each L-BFGS iteration is
    * one treeAggregate over the confident train split (no shuffle of
    * document bodies); the model is a bounded artifact (4096 doubles)
    * broadcast for scoring — the corpus is the expensive object, never
    * the model. [rows] */
  /** Train the linear student on `d`'s documents: returns (fitted
    * pipeline, band thresholds). Shared by the batch entry and the
    * STREAMING scorer — the trained model is a bounded artifact any
    * surface (batch scan, micro-batch, foreachBatch) can apply. */
  private[graft] def qualityStudent(s: SparkSession, d: String)
      : (org.apache.spark.ml.PipelineModel, Double, Double) = {
    import org.apache.spark.ml.Pipeline
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.feature.{HashingTF, RegexTokenizer}
    val train = Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        Text.qualityScoreCol(col("text")).as("q"))
      .filter(pmod(xxhash64(col("doc_id")), lit(5)) =!= 0)
    val Array(lo, hi) =
      train.stat.approxQuantile("q", Array(0.4, 0.6), 0.001)
    val confident = train.filter(col("q") <= lo || col("q") >= hi)
      .withColumn("label", when(col("q") >= hi, 1.0).otherwise(0.0))
    val model = new Pipeline().setStages(Array(
      new RegexTokenizer().setInputCol("text").setOutputCol("toks")
        .setPattern("\\s+"),
      new HashingTF().setInputCol("toks").setOutputCol("features")
        .setNumFeatures(1 << 12),
      new LogisticRegression().setMaxIter(30).setRegParam(1e-3)))
      .fit(confident)
    (model, lo, hi)
  }

  def curateQualityClassify(s: SparkSession, d: String): DataFrame = {
    val (model, lo, hi) = qualityStudent(s, d)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        Text.qualityScoreCol(col("text")).as("q"))
      .withColumn("holdout", pmod(xxhash64(col("doc_id")), lit(5)) === 0)
    // score EVERYTHING (the point of the student); evaluate against the
    // teacher's label on the same confident bands
    val scored = model.transform(
      docs.withColumn("teacher_label",
        when(col("q") >= hi, 1L).when(col("q") <= lo, 0L).otherwise(-1L)))
    scored.filter(col("teacher_label") >= 0)
      .groupBy(col("holdout"), col("teacher_label"),
        col("prediction").cast("long").as("pred_label"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** SEMANTIC DIVERSITY SAMPLING — the cluster-balanced companion to
    * SemDeDup (the D4/SSL-prototypes curation family): k-means-cluster
    * the embedding space (the same bounded-codebook machinery
    * [[Dedup.dedupSemantic]] trains; assignment is the map-only PqEncode
    * argmin), then sample each cluster down to a ~fixed budget so
    * over-represented semantic regions stop dominating the mixture.
    * Every cluster keeps its min-id vector unconditionally (guaranteed
    * representation) and the rest survive a deterministic
    * md5(vec_id)-threshold at rate target/size — the same
    * engine-portable hash-sampling posture as
    * [[curateSampleStratified]], now with LEARNED strata.
    *
    * 100 TB shape: centroids are a bounded driver artifact; assignment
    * is map-only (codebook in the task closure); the only aggregate is
    * k rows (cluster sizes + anchors, broadcast back); the keep
    * decision is a pure filter. The corpus is NEVER shuffled — strictly
    * cheaper than the dedup it complements. [rows] */
  def curateSampleSemantic(s: SparkSession, d: String): DataFrame = {
    val target = 64.0
    // shared clustering front end (two-level guard included) — see
    // Dedup.clusterEmbeddings; persisted because the assignment pass
    // feeds both the stats aggregate and the keep-decision join
    val assigned = Dedup.clusterEmbeddings(s, d).drop("u")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = assigned.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"), min("vec_id").as("anchor"))
    // first 8 md5 hex chars as a uniform [0,1) fraction — deterministic
    // across partitionings, engines and cluster sizes
    val frac = conv(substring(md5(col("vec_id").cast("string")), 1, 8),
      16, 10).cast("double") / 4294967296.0
    val out = assigned.join(broadcast(stats), "cluster_id")
      .select(col("vec_id"), col("cluster_id"), col("cluster_size"),
        (col("vec_id") === col("anchor") ||
          frac < least(lit(1.0), lit(target) / col("cluster_size")))
          .as("is_kept"))
    val result = out.localCheckpoint()
    assigned.unpersist(blocking = false)
    result
  }

  // ---------------------------------------------------------------------
  // curate_shard_shuffle — deterministic training-shard permutation
  // ---------------------------------------------------------------------

  private val NumShards = 8L

  /** Deterministic corpus shard-shuffle — the step between curation and
    * the shard writer: every document gets a pseudo-random but
    * REPRODUCIBLE shard assignment and a position in its shard's read
    * order, which is what makes a training run's data order replayable
    * from the corpus alone (no RNG state to persist). The permutation
    * key is a Knuth multiplicative hash of doc_id,
    * `(doc_id * 2654435761) % 2^32` — plain integer arithmetic both
    * engines evaluate identically, so the whole permutation is
    * oracle-verified; shard = key mod 8.
    *
    * The within-shard rank is a per-shard global row_number — which at
    * 100 TB must NOT run as one window task per shard (8 tasks would
    * each serialize 1/8th of the corpus). Same two-phase distributed
    * prefix shape as [[curatePackSequences]]: the key's high 8 bits
    * split each shard into 256 ORDERED sub-buckets (sub-bucket order ==
    * key order by construction), each (shard, sub-bucket) ranks its rows
    * with a distributed window, and an O(shards × 256)-row broadcast
    * offset map lifts local ranks to shard-global positions. One
    * shuffle, bounded window partitions, exact result. [oracle] */
  def curateShardShuffle(s: SparkSession, d: String): DataFrame = {
    val keyed = Tables.documents(s, d)
      .select(col("doc_id"),
        (col("doc_id") * lit(2654435761L)) % lit(4294967296L) as "k")
      .withColumn("shard", col("k") % NumShards)
      .withColumn("bkt", expr("k div 16777216")) // high 8 bits of k
    val w = Window.partitionBy("shard", "bkt").orderBy("k", "doc_id")
    val inBucket = keyed.withColumn("rn", row_number().over(w).cast("long"))
    val wOff = Window.partitionBy("shard").orderBy("bkt") // 8×256 rows
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy("shard", "bkt").agg(count(lit(1)).as("n"))
      .withColumn("bkt_offset", coalesce(sum(col("n")).over(wOff), lit(0L)))
      .select("shard", "bkt", "bkt_offset")
    inBucket.join(broadcast(offsets), Seq("shard", "bkt"))
      .select(col("doc_id"), col("shard"),
        (col("bkt_offset") + col("rn") - 1L).as("pos"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curate_shard_shuffle" -> (curateShardShuffle _),
    "curate_quality_classify" -> (curateQualityClassify _),
    "curate_sample_semantic" -> (curateSampleSemantic _),
    "curate_decontam" -> (curateDecontam _),
    "curate_sample_stratified" -> (curateSampleStratified _),
    "curate_mix_domains" -> (curateMixDomains _),
    "curate_pack_sequences" -> (curatePackSequences _),
    "text_repetition" -> (textRepetition _))

  private val ToksSql =
    """list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)"""

  val oracles: Map[String, String] = Map(
    // the oracle ranks with ONE plain window per shard — proving the
    // distributed two-phase prefix equals the naive global semantics
    "curate_shard_shuffle" ->
      s"""WITH k AS (
            SELECT doc_id, (doc_id * 2654435761) % 4294967296 AS k
            FROM documents)
          SELECT doc_id, CAST(k % $NumShards AS BIGINT) AS shard,
                 CAST(row_number() OVER (PARTITION BY k % $NumShards
                   ORDER BY k, doc_id) - 1 AS BIGINT) AS pos
          FROM k""",
    "curate_decontam" ->
      s"""WITH t AS (
            SELECT doc_id, $ToksSql AS toks FROM documents),
          g AS (
            SELECT doc_id, array_to_string(toks[i : i + 7], ' ') AS g
            FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
            WHERE len(toks) >= 8),
          eg AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0),
          hits AS (
            SELECT g.doc_id, count(DISTINCT g.g) AS n_overlap
            FROM g JOIN eg USING (g) WHERE g.doc_id % 97 <> 0
            GROUP BY g.doc_id)
          SELECT d.doc_id,
                 coalesce(h.n_overlap, 0) AS n_overlap,
                 CASE WHEN coalesce(h.n_overlap, 0) > 0 THEN 1 ELSE 0 END
                   AS contaminated
          FROM documents d LEFT JOIN hits h USING (doc_id)
          WHERE d.doc_id % 97 <> 0""",
    "curate_sample_stratified" ->
      s"""SELECT doc_id, lang, source FROM documents
          WHERE $stratumKeepSql""",
    "curate_mix_domains" ->
      s"""WITH c AS (
            SELECT doc_id, source, n_chars,
                   CAST(coalesce(sum(n_chars) OVER (
                     PARTITION BY source ORDER BY $HashKeySql
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS cum_before
            FROM documents)
          SELECT doc_id, source, n_chars, cum_before
          FROM c WHERE cum_before < $DomainBudgetChars""",
    "curate_pack_sequences" ->
      s"""WITH t AS (
            SELECT doc_id, CAST(len($ToksSql) AS BIGINT) AS n_tokens,
                   $HashKeySql AS k
            FROM documents),
          c AS (
            SELECT doc_id, n_tokens,
                   CAST(coalesce(sum(n_tokens) OVER (ORDER BY k
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS cum_before
            FROM t)
          SELECT doc_id,
                 cum_before // $SeqCapacity AS seq_id,
                 cum_before % $SeqCapacity AS seq_offset,
                 n_tokens
          FROM c""",
    "text_repetition" ->
      s"""WITH t AS (
            SELECT doc_id, $ToksSql AS toks FROM documents),
          b AS (
            SELECT doc_id, toks,
                   CASE WHEN len(toks) >= 2
                        THEN list_transform(range(1, len(toks)),
                               i -> array_to_string(toks[i : i + 1], ' '))
                        ELSE [] END AS bigrams
            FROM t)
          SELECT doc_id,
                 len(toks) AS n_words,
                 floor((1.0 - len(list_distinct(toks))
                       / CAST(len(toks) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS dup_word_frac,
                 floor((CASE WHEN len(toks) >= 2
                   THEN 1.0 - len(list_distinct(bigrams))
                        / CAST(len(bigrams) AS DOUBLE)
                   ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS dup_2gram_frac,
                 floor((list_max(list_transform(list_distinct(toks),
                     w -> len(list_filter(toks, x -> x = w))))
                       / CAST(len(toks) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS top_word_frac
          FROM b""")
}
