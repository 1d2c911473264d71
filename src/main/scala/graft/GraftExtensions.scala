package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.expressions._

/** SQL surface for graft's native expressions: registers every
  * `graft_*` function so `spark.sql("SELECT graft_dot(a, b) ...")` works —
  * the standard extension-library integration point
  * (`spark.sql.extensions=graft.GraftExtensions`, or a session
  * builder's `withExtensions(new GraftExtensions)`).
  *
  * `GraftExtensions.register(spark)` installs the same functions into an
  * already-built session (useful in notebooks and tests).
  *
  * Mirrors how the reference exposes its operators through SQL-callable
  * entry points registered at extension load
  * (pg_lakehouse_iceberg/src/pg_lakehouse_iceberg.c: PG_FUNCTION_INFO_V1
  * exports); here registration is per-session and purely additive.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptors.foreach(ext.injectFunction)
    // metadata-only COUNT/MIN/MAX over a lake table (all four formats)
    // collapse to a local relation — at resolution, where the predicates
    // are still as written (see the rule doc)
    ext.injectResolutionRule(_ => new graft.lake.sql.MetadataAggregateRule)
    // SQL UPDATE / MERGE INTO lowered onto each format's native commit
    ext.injectResolutionRule(_ => new graft.lake.sql.GraftRowLevelSqlRule)
    // lake-table reads (all four formats) substituted with the format
    // reader's native plan — optimizer-time so DataFrame-chain filters are
    // already on the relation and reach file pruning (see the rule doc)
    ext.injectOptimizerRule(_ => new graft.lake.sql.NativeScanRule)
    // runtime bucket-dir pruning over bucket[N] interop estates — maps
    // dim join values through IcebergBucket into the verified bucket
    // partition column (see the rule doc); operator-optimization batch,
    // so PlanDynamicPruningFilters plans the injected subquery later
    ext.injectOptimizerRule(_ => new graft.lake.sql.InteropBucketDppRule)
    // `SELECT … FROM \`graft-iceberg\`.\`/path\`` — direct SQL over the
    // interop formats; must run in the HINTS batch, ahead of Spark's
    // ResolveSQLOnFile (which rejects non-file providers loudly)
    ext.injectHintResolutionRule(_ => new graft.lake.sql.GraftInteropPathRule)
  }
}

object GraftExtensions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** (identifier, info, builder) triples for every graft SQL function. */
  private[graft] val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_dot", "graft_dot(a, b) - dot product of two array<double>",
      (args: Seq[Expression]) => DotProduct(args(0), args(1))),
    ("graft_sorted_intersect_count",
      "graft_sorted_intersect_count(a, b) - |A∩B| of two sorted distinct array<bigint>",
      (args: Seq[Expression]) => SortedIntersectCount(args(0), args(1))),
    ("graft_shingle_ids",
      "graft_shingle_ids(tokens, n) - sorted distinct xxhash64 ids of n-word shingles",
      (args: Seq[Expression]) => ShingleIds(args(0), intArg(args(1), "n"))),
    ("graft_ngram_ids",
      "graft_ngram_ids(tokens, n) - order-preserving non-distinct n-gram ids",
      (args: Seq[Expression]) => NGramIds(args(0), intArg(args(1), "n"))),
    ("graft_minhash_band_keys",
      "graft_minhash_band_keys(ids, k, bands) - LSH bucket keys from k minhash slots",
      (args: Seq[Expression]) =>
        MinHashBandKeys(args(0), intArg(args(1), "k"), intArg(args(2), "bands"))),
    ("graft_simhash", "graft_simhash(tokens) - 64-bit simhash signature",
      (args: Seq[Expression]) => SimHashSig(args(0))),
    ("graft_hyperplane_band_keys",
      "graft_hyperplane_band_keys(vec, bands, bits) - hyperplane-LSH bucket keys",
      (args: Seq[Expression]) =>
        HyperplaneBandKeys(args(0), intArg(args(1), "bands"), intArg(args(2), "bits"))),
    ("graft_normalize", "graft_normalize(vec) - vec / l2norm(vec)",
      (args: Seq[Expression]) => NormalizeVector(args(0))),
    ("graft_winnow",
      "graft_winnow(tokens, n, w) - winnowing fingerprint struct(n_fp, fp_min, fp_sig)",
      (args: Seq[Expression]) =>
        WinnowFingerprint(args(0), intArg(args(1), "n"), intArg(args(2), "w"))),
    ("graft_quantize8",
      "graft_quantize8(vec) - int8 quantization stats struct(n_dims, vmin, vmax, max_abs_err)",
      (args: Seq[Expression]) => Quantize8Stats(args(0))),
    ("graft_ngram_strings",
      "graft_ngram_strings(tokens, n) - space-joined word n-gram strings (decontam gram source)",
      (args: Seq[Expression]) => NGramStrings(args(0), intArg(args(1), "n"))),
    ("graft_repetition_stats",
      "graft_repetition_stats(tokens) - Gopher repetition count inputs " +
        "struct(n_words, n_distinct, n_bigrams, n_distinct_bigrams, top_count)",
      (args: Seq[Expression]) => RepetitionStats(args(0))),
    ("graft_iceberg_bucket",
      "graft_iceberg_bucket(value, n) - Iceberg bucket[n] transform " +
        "(murmur3 x86-32 seed 0 per the table spec, NOT Spark's hash)",
      (args: Seq[Expression]) => IcebergBucket(args(0), intArg(args(1), "n")))
  ).map { case (name, usage, builder) =>
    (FunctionIdentifier(name),
      new ExpressionInfo("graft.expressions", null, name, usage, ""),
      builder)
  }

  /** Installs the graft functions into an existing session. */
  def register(spark: SparkSession): Unit =
    descriptors.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
