package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Sign-random-projection buckets for `tables` LSH hash tables in ONE
  * pass over the vector: `graft_srp_buckets_md5(vec, tables, bits)` —
  * the ENGINE-NEUTRAL hyperplane family the `ann_lsh` rows ride, same
  * move as [[graft.functions.MinHashSigMd5]] /
  * [[graft.functions.SimHashSigMd5]] for the text signatures:
  *
  *  - hyperplane weight (t, j, d) is ±1 from md5 of the literal key
  *    string `"t:j:d"` — +1 iff the digest's TOP BIT is clear, i.e.
  *    iff the md5 HEX string's first character is '0'..'7' (the test
  *    a SQL engine runs verbatim),
  *  - the projection folds dimensions left-to-right in doubles
  *    (float→double widening exact, multiplication by ±1 exact), the
  *    convention every green ANN oracle row already proves,
  *  - bucket bit j set iff the projection is STRICTLY positive.
  *
  * The weight matrix is tables×bits×dims md5 digests — a CONSTANT
  * (4×8×64 = 2048 at the registered parameters), computed once per
  * executor and cached, so the per-row cost is one native loop of
  * tables×bits dims-long projections — the per-row indexing cost of
  * LSH, which at corpus scale runs once per vector per write.
  */
case class SrpBucketsMd5(child: Expression, tables: Int, numBits: Int)
  extends UnaryExpression with CodegenFallback {

  require(tables >= 1 && numBits >= 1 && numBits <= 63)

  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorExpressions.isNumericArray(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects an array<double|float> argument, got ${child.dataType.simpleString}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_srp_buckets_md5"

  // The ±1 hyperplane matrix depends only on (tables, numBits, dims) —
  // built once per task on the first row and reused. @transient:
  // rebuilt lazily per executor. The (dims, matrix) pair is built into
  // a local and published via ONE volatile write — Spark deserializes a
  // fresh instance per task, but if one instance were ever evaluated
  // from two threads, separate non-volatile fields would let a reader
  // pair the new dims with a stale matrix (JMM reordering) and emit
  // silently wrong buckets.
  @transient @volatile private var cached: (Int, Array[Double]) = _

  private def signMatrix(n: Int): Array[Double] = {
    val c = cached
    if (c != null && c._1 == n) return c._2
    val md = MinHashSigMd5.digest()
    val m = new Array[Double](tables * numBits * n)
    var p = 0
    var t = 0
    while (t < tables) {
      var j = 0
      while (j < numBits) {
        var d = 0
        while (d < n) {
          md.reset()
          val dig = md.digest(s"$t:$j:$d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
          m(p) = if ((dig(0) & 0x80) == 0) 1.0 else -1.0
          p += 1; d += 1
        }
        j += 1
      }
      t += 1
    }
    cached = (n, m)
    m
  }

  override def nullSafeEval(input: Any): Any = {
    val emb = input.asInstanceOf[ArrayData]
    val get = VectorExpressions.getter(child.dataType)
    val n = emb.numElements()
    var d = 0
    while (d < n) { // one null scan up front, not one per (table, bit)
      if (emb.isNullAt(d)) return null
      d += 1
    }
    val m = signMatrix(n)
    val vec = new Array[Double](n)
    d = 0
    while (d < n) { vec(d) = get(emb, d); d += 1 }
    val out = new Array[Long](tables)
    var p = 0
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var j = 0
      while (j < numBits) {
        var proj = 0.0
        d = 0
        while (d < n) { proj += vec(d) * m(p); p += 1; d += 1 }
        if (proj > 0) bucket |= 1L << j
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override def nullable: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): SrpBucketsMd5 =
    copy(child = newChild)
}
