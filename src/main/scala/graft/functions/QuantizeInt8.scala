package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** One-pass symmetric int8 quantization of a numeric vector: each
  * component maps to floor(x·127/max|x| + 0.5), kept as an
  * integer-valued double (see [[graft.operators.Ann.quantize]] — this
  * is its native twin, spec-pinned bit-identical). The declarative HOF
  * form walks the vector three times interpreted (cast pass, max-abs
  * pass, quantize pass); this is one JVM loop for the max and one for
  * the emit — the per-vector indexing cost of the quantized-ANN scan,
  * the same hot-path argument as [[SrpBucketsMd5]].
  *
  * NULL contract: a null ELEMENT poisons the whole result to NULL (a
  * vector with holes has no meaningful scale). The HOF twin
  * ([[graft.operators.Ann.quantizeHof]]) reproduces this with an
  * explicit `exists(isnull)` guard — spec-pinned on vectors with and
  * without null elements. An all-zero vector quantizes to itself. */
case class QuantizeInt8(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorExpressions.isNumericArray(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects an array<double|float> argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_quantize_int8"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val get = VectorExpressions.getter(child.dataType)
    val n = arr.numElements()
    val v = new Array[Double](n)
    var ma = 0.0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val x = get(arr, i)
      v(i) = x
      val a = math.abs(x)
      if (a > ma) ma = a
      i += 1
    }
    if (ma == 0.0) return new GenericArrayData(v)
    val out = new Array[Double](n)
    i = 0
    while (i < n) {
      out(i) = math.floor(v(i) * 127.0 / ma + 0.5)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
