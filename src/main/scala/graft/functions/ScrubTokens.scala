package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass boilerplate-bigram scrub over a token array: returns
  * `struct<n_tokens, n_removed, scrubbed>` where a token is removed
  * when the (lowercased) bigram it closes or opens is in `grams`.
  *
  * Replaces the declarative HOF form
  * ([[graft.operators.Corpus.scrubBoilerplateDeclarative]]): per token
  * that form concatenates TWO lowercase bigrams and linearly scans the
  * gram array for each — tokens × 2 × |grams| interpreted string
  * compares, measured 11.9 s at sf0.1 (the worst query in the suite by
  * 3×). Here each bigram is built ONCE (shared by the two tokens it
  * touches), membership is one hash probe, and the whole document is
  * a single JVM loop: same output bit-for-bit (spec-pinned), ~10×
  * less work.
  *
  * The gram set is memoized against the incoming ArrayData (reference
  * first, cheap equals fallback) — the grams column is a broadcast
  * 1-row crossJoin, so every row carries the same ~topN-element array;
  * rebuilding a 20-entry hash set per row would be acceptable, reusing
  * it is free. @volatile pairs (array, set) in one write for the same
  * JMM reason as [[SrpBucketsMd5]].
  */
case class ScrubTokens(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<string>, array<string>), got $other")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_removed", LongType, nullable = false),
    StructField("scrubbed", StringType, nullable = false)))

  override def prettyName: String = "graft_scrub_tokens"

  @transient @volatile private var cached: (ArrayData, java.util.HashSet[UTF8String]) = _

  private def gramSet(g: ArrayData): java.util.HashSet[UTF8String] = {
    val c = cached
    if (c != null && ((c._1 eq g) || c._1 == g)) return c._2
    val n = g.numElements()
    val s = new java.util.HashSet[UTF8String](n * 2)
    var i = 0
    while (i < n) {
      if (!g.isNullAt(i)) s.add(g.getUTF8String(i))
      i += 1
    }
    cached = (g.copy(), s) // copy: UnsafeArrayData may alias reused buffers
    s
  }

  private val Space = UTF8String.fromString(" ")

  override def nullSafeEval(tokensAny: Any, gramsAny: Any): Any = {
    val tokens = tokensAny.asInstanceOf[ArrayData]
    val grams = gramSet(gramsAny.asInstanceOf[ArrayData])
    val n = tokens.numElements()
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      toks(i) = if (tokens.isNullAt(i)) UTF8String.EMPTY_UTF8 else tokens.getUTF8String(i)
      i += 1
    }
    // flag(i) = bigram (i, i+1) is boilerplate; each bigram built once
    val flags = new Array[Boolean](math.max(n - 1, 0))
    if (!grams.isEmpty) {
      var lowPrev = if (n > 0) toks(0).toLowerCase else null
      i = 0
      while (i < n - 1) {
        val lowNext = toks(i + 1).toLowerCase
        flags(i) = grams.contains(UTF8String.concat(lowPrev, Space, lowNext))
        lowPrev = lowNext
        i += 1
      }
    }
    val kept = new java.util.ArrayList[UTF8String](n)
    i = 0
    while (i < n) {
      val drop = (i > 0 && flags(i - 1)) || (i < n - 1 && flags(i))
      if (!drop) kept.add(toks(i))
      i += 1
    }
    val scrubbed = UTF8String.concatWs(Space, kept.toArray(new Array[UTF8String](kept.size())): _*)
    InternalRow(n.toLong, (n - kept.size()).toLong, scrubbed)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
