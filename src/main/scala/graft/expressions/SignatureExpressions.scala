package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass signature expressions for the dedup/ANN family.
  *
  * The r02 explode → k-aggregate formulation was already codegen'd, but it
  * paid a full shuffle per signature (groupBy doc over the exploded corpus
  * — at 100 TB the exploded shingle stream is ~10× the corpus). Each
  * expression here computes a whole document/vector signature in ONE pass
  * over the input array, so signature derivation becomes a narrow map-only
  * projection and the only shuffle left in an LSH pipeline is the band-
  * bucket join itself — the minimal shuffle the algorithm requires.
  *
  * All are `CodegenFallback`: the per-row work is a tight JIT'd JVM loop
  * over `ArrayData` primitives (no boxing per element), and one virtual
  * eval call per ROW is noise next to per-element lambda dispatch of the
  * HOF alternative. Hashing uses Spark's XXH64 — the same mixers the
  * builtin xxhash64 uses — with fixed literal seeds, so results are
  * deterministic across runs, partitionings and cluster sizes.
  */
object Signatures {
  /** Chained xxhash64 of a token window: h := H(tokenᵢ, h). Token-boundary
    * safe (unlike hashing the concatenation) because each token is hashed
    * with the running hash as seed. */
  private[expressions] final val ShingleSeed = 0x9747b28cL

  private[expressions] def rotl(x: Long, r: Int): Long =
    if (r % 64 == 0) x else (x << (r % 64)) | (x >>> (64 - (r % 64)))

  /** CROSS-ENGINE primitives (r16): the polynomial/LCG hash family every
    * oracle-backed signature variant shares. All arithmetic stays under
    * 2^63 at every step, so an external SQL engine with non-wrapping
    * BIGINT (DuckDB errors on overflow — xxhash64's wrapping multiplies
    * are inexpressible there) replays each value bit-for-bit. */
  private[expressions] final val PolyMod = 1000000007L // word/shingle hashes
  private[expressions] final val LcgMod = 2147483647L  // 2^31−1 streams

  /** Deterministic pseudo-random stream value for flat index `idx`: two
    * Lehmer affine rounds with a QUADRATIC mix between them (an
    * affine-only chain stays affine in idx — a lattice). Uniform on
    * [0, 2^31−1); max intermediate (2^31−2)² < 2^62. */
  private[expressions] def lcgMix(idx: Long): Long = {
    val m = LcgMod
    val x15 = ((idx + 1L) * 48271L + 11L) % m
    val x2 = (x15 * x15 + x15) % m
    (x2 * 48271L + 11L) % m
  }

  /** Code-point polynomial word hash: fold cp: (h·mult + cp) mod 1e9+7
    * from `seed` — iterates CODE POINTS (DuckDB's unicode()/length()
    * unit), not UTF-16 chars. */
  private[expressions] def polyWordHash(s: String, seed: Long, mult: Long): Long = {
    var h = seed
    var ci = 0
    while (ci < s.length) {
      val cp = s.codePointAt(ci)
      h = (h * mult + cp) % PolyMod
      ci += Character.charCount(cp)
    }
    h
  }

  /** Both simhash polynomials in ONE code-point pass, packed
    * `(h₇,₁₃₁ << 31) | h₁₃,₁₃₇` (each value < 1e9+7 < 2^30 — the
    * halves cannot overlap). Bit-identical to two [[polyWordHash]]
    * calls; exists because the simhash hot path hashed every token
    * TWICE and the fused fold halves the iteration (the oracle replays
    * the same arithmetic either way). */
  private[expressions] def polyWordHash2(s: String): Long = {
    var h1 = 7L
    var h2 = 13L
    var ci = 0
    while (ci < s.length) {
      val cp = s.codePointAt(ci)
      h1 = (h1 * 131L + cp) % PolyMod
      h2 = (h2 * 137L + cp) % PolyMod
      ci += Character.charCount(cp)
    }
    (h1 << 31) | h2
  }
}

/** `graft_shingle_ids(tokens, n)` → sorted distinct array<long>: xxhash64
  * ids of the n-word shingles of a whitespace-tokenized document. Empty
  * tokens are skipped (mirrors `split(text,'\\s+')` producing a leading
  * "" on padded input); a document shorter than n tokens contributes one
  * whole-document shingle, so every doc gets a non-degenerate signature.
  * Output feeds BOTH MinHash banding and the exact-Jaccard verify
  * (SortedIntersectCount), so the corpus is tokenized exactly once.
  */
case class ShingleIds(child: Expression, n: Int, polynomial: Boolean = false)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, "shingle width must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_shingle_ids needs array<string>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_ids"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    // collect non-empty tokens (split("\\s+") yields "" before leading ws)
    val toks = new java.util.ArrayList[UTF8String](m)
    var i = 0
    while (i < m) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        if (t.numBytes() > 0) toks.add(t)
      }
      i += 1
    }
    val k = toks.size()
    val nShingles = if (k < n) 1 else k - n + 1
    val hs = new Array[Long](nShingles)
    // polynomial mode (r16): the WinnowFingerprint formula — word hash
    // (seed 7, ×131) folded per shingle (seed 11, ×1000003), mod 1e9+7 —
    // so an external SQL oracle regenerates every id; default stays the
    // chained xxhash64 (stronger hash for the non-oracled scale paths)
    val pw: Array[Long] =
      if (!polynomial) null
      else {
        val a = new Array[Long](k)
        var wi = 0
        while (wi < k) {
          a(wi) = Signatures.polyWordHash(toks.get(wi).toString, 7L, 131L)
          wi += 1
        }
        a
      }
    var s = 0
    while (s < nShingles) {
      val end = if (k < n) k else s + n
      if (polynomial) {
        var h = 11L
        var j = s
        while (j < end) { h = (h * 1000003L + pw(j)) % Signatures.PolyMod; j += 1 }
        hs(s) = h
      } else {
        var h = Signatures.ShingleSeed
        var j = s
        while (j < end) { h = XXH64.hashUTF8String(toks.get(j), h); j += 1 }
        hs(s) = h
      }
      s += 1
    }
    java.util.Arrays.sort(hs)
    // dedupe in place (sorted)
    var w = 0
    var r = 0
    while (r < nShingles) {
      if (r == 0 || hs(r) != hs(r - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    new GenericArrayData(if (w == nShingles) hs else java.util.Arrays.copyOf(hs, w))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_ngram_ids(tokens, n)` → ORDER-PRESERVING, NON-distinct xxhash64
  * ids of the n-grams — the language-model companion to ShingleIds (which
  * is sorted+distinct for set semantics). A document with fewer than n
  * tokens yields an empty array (no n-grams exist — unlike ShingleIds's
  * whole-doc fallback, an LM must not invent one). Position i of the
  * output is the n-gram starting at token i, so `element_at` aligns
  * unigram and bigram streams for conditional-probability lookups.
  */
/** Space-joined word `n`-grams as STRINGS, one native pass — for
  * operators whose n-grams must be oracle-comparable (an external SQL
  * engine can rebuild the same strings; it cannot rebuild xxhash64
  * ids). Empty tokens are skipped like the id variants; a document with
  * fewer than `n` tokens yields an empty array (a sub-n-gram fragment
  * can't witness an n-gram match). Exists because the equivalent
  * `transform(sequence…, slice…)` higher-order pipeline evaluates
  * interpreted and cost ~6 s at sf0.1 under a Generate
  * (r09 decontam stage receipts: HOF explode 5.8 s, this 0.4 s). */
case class NGramStrings(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, "n-gram width must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_ngram_strings needs array<string>, got $t")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_ngram_strings"

  private val space = UTF8String.fromString(" ")

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val toks = new java.util.ArrayList[UTF8String](m)
    var i = 0
    while (i < m) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        if (t.numBytes() > 0) toks.add(t)
      }
      i += 1
    }
    val k = toks.size()
    val out = new Array[AnyRef](math.max(0, k - n + 1))
    var s = 0
    while (s < out.length) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = toks.get(s + j); j += 1 }
      out(s) = UTF8String.concatWs(space, parts: _*)
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class NGramIds(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, "n-gram width must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_ngram_ids needs array<string>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_ngram_ids"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val toks = new java.util.ArrayList[UTF8String](m)
    var i = 0
    while (i < m) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        if (t.numBytes() > 0) toks.add(t)
      }
      i += 1
    }
    val k = toks.size()
    val out = new Array[Long](math.max(0, k - n + 1))
    var s = 0
    while (s < out.length) {
      var h = Signatures.ShingleSeed
      var j = s
      while (j < s + n) { h = XXH64.hashUTF8String(toks.get(j), h); j += 1 }
      out(s) = h
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_minhash_band_keys(ids, k, bands)` → array<long>[bands]: the k
  * MinHash slots (Broder 1997, permutation-free: slot j = min over ids of
  * h1 ⊕ rotl(h2, j) with h2 = xxhash64(h1)) folded into one bucket key per
  * LSH band. Documents agreeing on a whole band collide. One pass over the
  * id set; map-only — banding needs no aggregate and no shuffle.
  */
case class MinHashBandKeys(child: Expression, k: Int, bands: Int,
    affine: Boolean = false)
    extends UnaryExpression with CodegenFallback {
  require(k % bands == 0, s"k=$k must divide into bands=$bands")
  private val rowsPerBand = k / bands

  /** affine mode (r16): slot j's permutation is (a_j·x + b_j) mod 2^31−1
    * with a_j/b_j from the shared [[Signatures.lcgMix]] stream, band keys
    * the polynomial fold — every step int64-safe, so an external SQL
    * oracle replays the whole signature. The xxhash default stays for
    * the non-oracled scale paths. Ids are normalized into [0, m) first
    * (a no-op for the polynomial shingle ids the oracle pairs this
    * with, but safe for any long). */
  @transient private lazy val affineAB: Array[Long] = {
    val ab = new Array[Long](2 * k)
    var j = 0
    while (j < k) {
      ab(2 * j) = Signatures.lcgMix(2L * j) % (Signatures.LcgMod - 1) + 1 // a != 0
      ab(2 * j + 1) = Signatures.lcgMix(2L * j + 1)
      j += 1
    }
    ab
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_minhash_band_keys needs array<bigint>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_band_keys"

  override protected def nullSafeEval(input: Any): Any = {
    val ids = input.asInstanceOf[ArrayData]
    val m = ids.numElements()
    val sig = new Array[Long](k)
    // affine sentinel: every (a·x+b) mod LcgMod < LcgMod, so an empty id
    // set keeps LcgMod in every slot — the oracle's coalesce value
    java.util.Arrays.fill(sig, if (affine) Signatures.LcgMod else Long.MaxValue)
    var i = 0
    while (i < m) {
      // null ids skipped (GenericArrayData rows would NPE on getLong;
      // same null posture as DotProduct — ADVICE r02)
      if (!ids.isNullAt(i)) {
        val h1 = ids.getLong(i)
        if (affine) {
          val x = ((h1 % Signatures.LcgMod) + Signatures.LcgMod) % Signatures.LcgMod
          var j = 0
          while (j < k) {
            val v = (affineAB(2 * j) * x + affineAB(2 * j + 1)) % Signatures.LcgMod
            if (v < sig(j)) sig(j) = v
            j += 1
          }
        } else {
          val h2 = XXH64.hashLong(h1, 7777L)
          var j = 0
          while (j < k) {
            val v = h1 ^ Signatures.rotl(h2, j)
            if (v < sig(j)) sig(j) = v
            j += 1
          }
        }
      }
      i += 1
    }
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      if (affine) {
        var h = 11L
        var j = 0
        while (j < rowsPerBand) {
          h = (h * 1000003L + sig(b * rowsPerBand + j)) % Signatures.PolyMod
          j += 1
        }
        keys(b) = h
      } else {
        var h = XXH64.hashLong(b.toLong, 42L)
        var j = 0
        while (j < rowsPerBand) { h = XXH64.hashLong(sig(b * rowsPerBand + j), h); j += 1 }
        keys(b) = h
      }
      b += 1
    }
    new GenericArrayData(keys)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_simhash(tokens)` → 64-bit SimHash (Charikar 2002): per token
  * instance, ±1 per bit of xxhash64(token); sign of each counter is the
  * signature bit. One pass, map-only. Empty tokens skipped.
  */
case class SimHashSig(child: Expression, polynomial: Boolean = false)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_simhash needs array<string>, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < m) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        if (t.numBytes() > 0) {
          // polynomial mode (r16): 62 usable bits from two code-point
          // polynomials (seeds 7/13, mults 131/137, mod 1e9+7 — int64-
          // safe for the SQL oracle); bits 62–63 are constant 0, so
          // their counters only ever decrement and the sign rule below
          // keeps them 0 on both engines. xxhash64 stays the default.
          val h =
            if (polynomial) Signatures.polyWordHash2(t.toString)
            else XXH64.hashUTF8String(t, 42L)
          var j = 0
          while (j < 64) {
            if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
            j += 1
          }
        }
      }
      i += 1
    }
    var sim = 0L
    var j = 0
    while (j < 64) { if (counts(j) > 0) sim |= (1L << j); j += 1 }
    sim
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_hyperplane_band_keys(vec)` → array<long>[bands]: random-
  * hyperplane LSH for cosine (Charikar 2002). Band b's key packs
  * `bitsPerBand` sign bits sign(v · plane_p). Plane components are a
  * deterministic splitmix64 stream of (plane, dim) — regenerated lazily
  * per executor, nothing to broadcast, identical on every node. Map-only:
  * replaces the r02 posexplode → nBits-aggregate shuffle.
  *
  * `maxDim` bounds the plane matrix; input dimensions beyond it are
  * ignored (callers pass maxDim ≥ embedding dim).
  */
case class HyperplaneBandKeys(child: Expression, bands: Int, bitsPerBand: Int,
    maxDim: Int = 256, lcgPlanes: Boolean = false)
    extends UnaryExpression with CodegenFallback {
  require(bitsPerBand >= 1 && bitsPerBand <= 62, "band key must fit a long")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_hyperplane_band_keys needs array<double>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_hyperplane_band_keys"

  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Plane component for flat index `idx` in MODULAR int64-safe
    * arithmetic (r16): two Lehmer affine rounds with a QUADRATIC mix
    * between them — an affine-only chain stays affine in idx, putting
    * components on a lattice (correlated planes, collapsing band keys);
    * x·x+x breaks that while every intermediate stays under 2^63, so an
    * external SQL engine (DuckDB BIGINT, which errors on overflow —
    * splitmix64's wrapping 64-bit multiplies are inexpressible there)
    * replays the value bit-for-bit. Uniform [-0.5, 0.5); sign-hash LSH
    * is scale-invariant so the narrower range changes nothing. */
  private def lcgComponent(idx: Long): Double =
    Signatures.lcgMix(idx).toDouble / Signatures.LcgMod - 0.5

  /** plane p, flattened: component for dim i at p*maxDim+i, uniform [-1,1]
    * (splitmix64) or [-0.5,0.5) (lcgPlanes — the cross-engine variant). */
  @transient private lazy val planes: Array[Double] = {
    val nPlanes = bands * bitsPerBand
    val a = new Array[Double](nPlanes * maxDim)
    var p = 0
    while (p < nPlanes) {
      var i = 0
      while (i < maxDim) {
        a(p * maxDim + i) =
          if (lcgPlanes) lcgComponent(p.toLong * maxDim + i)
          else {
            val u = splitmix64(p.toLong * 1000003L + i)
            // (u >>> 11) has 53 random bits → [0, 2^53); the 2^-53 scale
            // puts it on [0,1) so the affine map lands on the DOCUMENTED
            // [-1,1). (A 2^-52 scale — [0,2) — made every component mean
            // +1: all planes pointed near the all-ones direction, band
            // keys collapsed, and the LSH band join degenerated toward
            // cross.)
            (u >>> 11) * (1.0 / (1L << 53)) * 2.0 - 1.0
          }
        i += 1
      }
      p += 1
    }
    a
  }

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dim = math.min(v.numElements(), maxDim)
    val pl = planes
    val keys = new Array[Long](bands)
    var p = 0
    var b = 0
    while (b < bands) {
      var key = 0L
      var j = 0
      while (j < bitsPerBand) {
        val off = p * maxDim
        var d = 0.0
        var i = 0
        // null elements contribute 0 (same posture as DotProduct)
        while (i < dim) { if (!v.isNullAt(i)) d += v.getDouble(i) * pl(off + i); i += 1 }
        key = (key << 1) | (if (d > 0.0) 1L else 0L)
        j += 1
        p += 1
      }
      keys(b) = key
      b += 1
    }
    new GenericArrayData(keys)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_winnow(tokens, n, w)` → struct(n_fp, fp_min, fp_sig): winnowing
  * fingerprints (Schleimer/Wilkerson/Aiken 2003) in one pass — n-word
  * shingle hashes, min per sliding window of w, distinct mins = the
  * document signature (count / min / order-independent xor). Replaces a
  * posexplode → WindowExec → two-groupBy pipeline (two shuffles + a
  * per-doc sort) with a map-only projection. A document with fewer than
  * w shingles contributes one whole-range fingerprint, mirroring the
  * window shape of the r02 DataFrame formulation.
  *
  * The shingle hash is a PLAIN POLYNOMIAL over code points (r16):
  * word hash = fold cp: (h·131 + cp) mod 1e9+7 from seed 7; shingle
  * hash = fold word-hashes: (h·1000003 + wh) mod 1e9+7 from seed 11 —
  * integer arithmetic an external SQL engine replays exactly
  * (list_reduce + unicode() in the DuckDB oracle), which is what lets
  * text_fingerprint carry a hard rows+hash oracle instead of the old
  * xxhash-chain's rows-only gate. Winnowing cares only that the hash
  * is deterministic and well-spread; 1e9+7 is ample at corpus scale
  * (window-min collisions only perturb which shingle represents a
  * window).
  */
case class WinnowFingerprint(child: Expression, n: Int, w: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1 && w >= 1)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_winnow needs array<string>, got $t")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("n_fp", LongType, nullable = false),
    StructField("fp_min", LongType, nullable = false),
    StructField("fp_sig", LongType, nullable = false)))
  override def prettyName: String = "graft_winnow"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val toks = new java.util.ArrayList[UTF8String](m)
    var i = 0
    while (i < m) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        if (t.numBytes() > 0) toks.add(t)
      }
      i += 1
    }
    val k = toks.size()
    // per-word polynomial hashes computed once (each word participates
    // in up to n shingles) — see class doc for the cross-engine formula
    val whs = new Array[Long](k)
    var wi = 0
    while (wi < k) {
      whs(wi) = Signatures.polyWordHash(toks.get(wi).toString, 7L, 131L)
      wi += 1
    }
    val nShingles = if (k < n) 1 else k - n + 1
    val hs = new Array[Long](nShingles)
    var s = 0
    while (s < nShingles) {
      val end = if (k < n) k else s + n
      var h = 11L
      var j = s
      while (j < end) { h = (h * 1000003L + whs(j)) % 1000000007L; j += 1 }
      hs(s) = h
      s += 1
    }
    // rolling window-min (w is small; O(nShingles·w) beats deque setup)
    val nWin = if (nShingles < w) 1 else nShingles - w + 1
    val mins = new Array[Long](nWin)
    var e = 0
    while (e < nWin) {
      val from = e
      val to = if (nShingles < w) nShingles else e + w
      var mn = Long.MaxValue
      var j = from
      while (j < to) { if (hs(j) < mn) mn = hs(j); j += 1 }
      mins(e) = mn
      e += 1
    }
    java.util.Arrays.sort(mins)
    var nFp = 0L
    var sig = 0L
    var r = 0
    while (r < nWin) {
      if (r == 0 || mins(r) != mins(r - 1)) { nFp += 1; sig ^= mins(r) }
      r += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(nFp, mins(0), sig)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_quantize8(vec)` → struct(n_dims, vmin, vmax, max_abs_err):
  * per-vector int8 scalar quantization (FAISS SQ8 shape) — codes are
  * round((v−min)/scale) for scale=(max−min)/255 — evaluated and
  * immediately reconstructed in the same pass to report the max absolute
  * reconstruction error. 4× smaller storage than float32 with bounded
  * error ≤ scale/2; constant vectors quantize losslessly (scale 0).
  */
case class Quantize8Stats(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_quantize8 needs array<double>, got $t")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("n_dims", LongType, nullable = false),
    StructField("vmin", DoubleType, nullable = false),
    StructField("vmax", DoubleType, nullable = false),
    StructField("max_abs_err", DoubleType, nullable = false)))
  override def prettyName: String = "graft_quantize8"

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val m = v.numElements()
    var mn = Double.MaxValue
    var mx = Double.MinValue
    var any = false
    var i = 0
    // null elements read as 0 (same posture as DotProduct)
    while (i < m) {
      val x = if (v.isNullAt(i)) 0.0 else v.getDouble(i)
      if (x < mn) mn = x; if (x > mx) mx = x; any = true; i += 1
    }
    if (!any) { mn = 0.0; mx = 0.0 }
    val scale = (mx - mn) / 255.0
    var err = 0.0
    if (scale > 0.0) {
      i = 0
      while (i < m) {
        val x = if (v.isNullAt(i)) 0.0 else v.getDouble(i)
        val code = math.round((x - mn) / scale)
        val recon = mn + code * scale
        val e = math.abs(recon - x)
        if (e > err) err = e
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.InternalRow(m.toLong, mn, mx, err)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_normalize(vec)` → v/‖v‖₂ in one primitive pass (zero vectors pass
  * through). The `transform(v, x -> x/n)` HOF alternative re-evaluates the
  * norm subtree per element, interpreted. Pre-normalizing once per vector
  * turns every downstream pairwise cosine into a single graft_dot.
  */
case class NormalizeVector(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_normalize needs array<double>, got $t")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_normalize"

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val m = v.numElements()
    val out = new Array[Double](m)
    var s = 0.0
    var i = 0
    // null elements become 0 (same posture as DotProduct)
    while (i < m) {
      val x = if (v.isNullAt(i)) 0.0 else v.getDouble(i)
      out(i) = x; s += x * x; i += 1
    }
    if (s > 0.0) {
      val inv = 1.0 / math.sqrt(s)
      i = 0
      while (i < m) { out(i) *= inv; i += 1 }
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
