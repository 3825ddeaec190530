package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Map-only near-dup signatures.
  *
  * [[MinHashAgg]]/[[SimHashAgg]] compute fingerprints as aggregates
  * over EXPLODED shingle rows — correct, but the explode multiplies
  * the corpus by ~|tokens| and the groupBy shuffles that multiple
  * before a single byte of signature exists. A document's fingerprint
  * is a pure function of its own shingle set, so these scalar twins
  * compute it in place during the scan: at 100 TB the fingerprint
  * stage becomes a map-only pass and the FIRST shuffle in the dedup
  * pipeline is the (tiny) banded-signature bucket join.
  *
  * Bit-for-bit identical to the aggregate path (spec-pinned): elements
  * are hashed exactly like Spark's `xxhash64(elem)` (XXH64, seed 42),
  * then re-mixed/voted with the same finalizers as the aggregates.
  * One behavioral seam: `explode` silently DROPS empty-shingle docs,
  * a scalar projection keeps every row — callers filter
  * `size(shingles) > 0` to preserve the pipeline semantics (an empty
  * set has no similarity signal; its all-MaxValue / all-zero
  * fingerprint would otherwise collide with every other empty doc).
  */
private[functions] object SigHash {
  /** Golden-ratio odd constant for per-permutation seeds. */
  val Golden = 0x9e3779b97f4a7c15L

  /** Murmur3 finalizer — THE mixing function of the signature family.
    * [[MinHashAgg]] and [[MinHashSig]] delegate here: the scalar and
    * aggregate fingerprints are contractually bit-identical, so there
    * must be exactly one copy of this function to diverge from. */
  def mix(x: Long): Long = {
    var h = x
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  /** Same value as the `xxhash64(col)` Catalyst expression. */
  def elementHash(s: AnyRef): Long = XxHash64Function.hash(s, StringType, 42L)

  def checkStringArray(prettyName: String, dt: DataType): TypeCheckResult = dt match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects an array<string> shingle argument, got ${other.simpleString}")
  }
}

/** Scalar MinHash signature: `graft_minhash_sig(shingles, n)` ==
  * `graft_minhash(xxhash64(shingle), n)` aggregated over the exploded
  * shingles (for non-empty shingle sets). */
case class MinHashSig(child: Expression, numHashes: Int)
  extends UnaryExpression with CodegenFallback {

  require(numHashes >= 1 && numHashes <= 1024)

  override def checkInputDataTypes(): TypeCheckResult =
    SigHash.checkStringArray(prettyName, child.dataType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var e = 0
    while (e < n) {
      if (!arr.isNullAt(e)) {
        val h = SigHash.elementHash(arr.getUTF8String(e))
        var i = 0
        while (i < numHashes) {
          val p = SigHash.mix(h + i * SigHash.Golden)
          if (p < sig(i)) sig(i) = p
          i += 1
        }
      }
      e += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Portable scalar MinHash signature:
  * `graft_minhash_sig_md5(shingles, n)` — the ENGINE-NEUTRAL
  * permutation family the registered dedup path rides
  * ([[graft.operators.Dedup.minhashSignatures]]), chosen so a plain-SQL
  * engine can replay the signature bit-for-bit and oracle-check the
  * whole MinHash pipeline (the same portability move `hash_split` made
  * with md5 prefixes and `ann_ivf_trained` made for k-means):
  *
  *  - per shingle, ONE md5 digest; its 16 bytes split big-endian into
  *    two 64-bit halves `h1`, `h2` — exactly the integers a SQL engine
  *    gets from the md5 HEX string's two 16-char halves,
  *  - permutation i is Kirsch-Mitzenmacher double hashing
  *    `p_i = h1 + i * (h2 | 1)  (mod 2^64)` (`h2 | 1` keeps the stride
  *    odd, i.e. a bijection mod 2^64) — one digest plus n wrapping
  *    adds per shingle, NOT n digests,
  *  - the signature element is the UNSIGNED minimum of `p_i` over the
  *    shingle set, stored as the same-bits signed long (consumers only
  *    ever compare elements for equality, and an oracle minimizing in
  *    the non-negative mod-2^64 domain picks the same winner).
  *
  * The xxhash64-family [[MinHashSig]]/[[MinHashAgg]] pair stays as the
  * fastest engine-native variant; this one trades ~one md5 per shingle
  * for end-to-end replayability (at 100 TB the signature stage is
  * still map-only and digest cost is per-shingle, not per-permutation).
  */
case class MinHashSigMd5(child: Expression, numHashes: Int)
  extends UnaryExpression with CodegenFallback {

  require(numHashes >= 1 && numHashes <= 1024)

  override def checkInputDataTypes(): TypeCheckResult =
    SigHash.checkStringArray(prettyName, child.dataType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig_md5"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sig = Array.fill(numHashes)(-1L) // all ones == unsigned max
    val md = MinHashSigMd5.digests.get()
    var e = 0
    while (e < n) {
      if (!arr.isNullAt(e)) {
        md.reset()
        val d = md.digest(arr.getUTF8String(e).getBytes)
        var h1 = 0L
        var h2 = 0L
        var b = 0
        while (b < 8) {
          h1 = (h1 << 8) | (d(b) & 0xffL)
          h2 = (h2 << 8) | (d(b + 8) & 0xffL)
          b += 1
        }
        val step = h2 | 1L
        var p = h1 // p_i = h1 + i*step, accumulated by wrapping adds
        var i = 0
        while (i < numHashes) {
          if (java.lang.Long.compareUnsigned(p, sig(i)) < 0) sig(i) = p
          p += step
          i += 1
        }
      }
      e += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigMd5 =
    copy(child = newChild)
}

object MinHashSigMd5 {
  /** MessageDigest is stateful and not thread-safe; one per thread
    * (expression instances can be shared across local-mode tasks).
    * Shared by the whole md5 signature family ([[MinHashSigMd5]],
    * [[SimHashSigMd5]], [[SrpBucketsMd5]]). */
  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private[functions] def digest(): java.security.MessageDigest = digests.get()
}

/** Scalar 64-bit SimHash fingerprint: `graft_simhash_sig(shingles)` ==
  * `graft_simhash(xxhash64(shingle))` aggregated over the exploded
  * shingles (for non-empty shingle sets). */
case class SimHashSig(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    SigHash.checkStringArray(prettyName, child.dataType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash_sig"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Long](64)
    var e = 0
    while (e < n) {
      if (!arr.isNullAt(e)) {
        val h = SigHash.elementHash(arr.getUTF8String(e))
        var i = 0
        while (i < 64) {
          votes(i) += (((h >>> i) & 1L) << 1) - 1L
          i += 1
        }
      }
      e += 1
    }
    var fp = 0L
    var i = 0
    while (i < 64) {
      if (votes(i) > 0) fp |= 1L << i
      i += 1
    }
    fp
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashSig =
    copy(child = newChild)
}

/** Portable scalar 64-bit SimHash: `graft_simhash_sig_md5(shingles)`
  * — the ENGINE-NEUTRAL fingerprint family the registered simhash
  * dedup path rides, completing for SimHash what [[MinHashSigMd5]]
  * did for MinHash (and closing the last text-side rows-only row):
  *
  *  - per shingle, ONE md5 digest; its FIRST 8 bytes big-endian form
  *    the 64-bit token hash `h1` — exactly the integer a SQL engine
  *    gets from the md5 HEX string's first 16 characters (the same
  *    parse the `dedup_minhash` oracle already replays),
  *  - per-bit ±1 votes over the DISTINCT shingle set (bit i of `h1`
  *    set → +1, clear → -1), summed per document,
  *  - fingerprint bit i is set iff the vote sum is STRICTLY positive
  *    (ties → 0, matching [[SimHashAgg]]/[[SimHashSig]]), stored as
  *    the same-bits signed long.
  *
  * An oracle replays the votes with integer bit extraction
  * (`(h1 // 2^i) % 2`) and reassembles the unsigned fingerprint as a
  * HUGEINT, mapping to the signed long domain by subtracting 2^64
  * above 2^63. Banding and Hamming distance downstream are pure
  * integer arithmetic on that value, so the WHOLE simhash pipeline
  * becomes replayable. The xxhash64-family [[SimHashSig]]/[[SimHashAgg]]
  * pair stays as the fastest engine-native variant; at 100 TB this
  * stage is still map-only and the digest cost is one md5 per
  * distinct shingle — identical to the minhash-md5 trade already
  * taken.
  */
case class SimHashSigMd5(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    SigHash.checkStringArray(prettyName, child.dataType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash_sig_md5"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Long](64)
    val md = MinHashSigMd5.digest()
    // dedup defensively: graft_shingles already emits a distinct set,
    // but the documented contract (votes over the DISTINCT shingle
    // set, the form the SQL oracle's SELECT DISTINCT replays) must
    // hold for ANY caller — a direct SQL invocation with repeated
    // elements would otherwise double-vote
    val seen = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
    var e = 0
    while (e < n) {
      if (!arr.isNullAt(e) && seen.add(arr.getUTF8String(e))) {
        md.reset()
        val d = md.digest(arr.getUTF8String(e).getBytes)
        var h1 = 0L
        var b = 0
        while (b < 8) { h1 = (h1 << 8) | (d(b) & 0xffL); b += 1 }
        var i = 0
        while (i < 64) {
          votes(i) += (((h1 >>> i) & 1L) << 1) - 1L
          i += 1
        }
      }
      e += 1
    }
    var fp = 0L
    var i = 0
    while (i < 64) {
      if (votes(i) > 0) fp |= 1L << i
      i += 1
    }
    fp
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashSigMd5 =
    copy(child = newChild)
}
