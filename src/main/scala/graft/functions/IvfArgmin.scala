package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructType}

/** Nearest-IVF-cell assignment fused into ONE native pass: given a
  * vector and the broadcast centroid array
  * `array<struct<cell: long, cemb: array<double|float>, cnrm: double>>`
  * (as built by [[graft.operators.Ann.ivfCentroids]]), returns the
  * `cell` maximizing cosine similarity, ties to the lower cell id.
  *
  * This is the per-row IVF indexing cost — at corpus scale it runs
  * once per vector per write, the same argument that made
  * [[SrpBucketsMd5]] native. The declarative twin
  * (`array_min(transform(cents, struct(-cos, cell)))`, kept in
  * [[graft.operators.Ann.nearestCells]] for the top-nprobe query path
  * and spec-pinned equal) pays an interpreted lambda bind plus a
  * struct allocation per centroid per row; here it is one fused loop.
  *
  * Ordering matches the struct-min twin exactly: the score is the
  * same `-(dot(emb, cemb) / (nrm * cnrm))` double (the row norm is
  * recomputed with [[L2Norm]]'s fold, so the value is bit-identical),
  * compared with `java.lang.Double.compare` (NaN greatest, -0.0 <
  * 0.0) — Spark's own double ordering inside struct comparison.
  *
  * Malformed input (ragged centroid, null element, empty centroid
  * set) returns NULL outright rather than replicating the HOF form's
  * null-field struct ordering; [[graft.operators.Ann.ivfCentroids]]
  * cannot produce those shapes.
  */
case class IvfArgmin(left: Expression, right: Expression)
  extends BinaryExpression {

  private def centroidType(dt: DataType): Option[(DataType, DataType)] = dt match {
    case ArrayType(st: StructType, _) if st.length == 3 =>
      (st(0).dataType, st(1).dataType, st(2).dataType) match {
        case (LongType, cembT, DoubleType) if VectorExpressions.isNumericArray(cembT) =>
          Some((st(1).dataType, cembT))
        case _ => None
      }
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorExpressions.isNumericArray(left.dataType) && centroidType(right.dataType).nonEmpty)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<double|float>, array<struct<long, array<double|float>, " +
        s"double>>), got ${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_ivf_argmin"

  // Element accessors resolved once per deserialized instance, not
  // per row.
  @transient private lazy val ge = VectorExpressions.getter(left.dataType)
  @transient private lazy val gc =
    VectorExpressions.getter(centroidType(right.dataType).get._2)

  /** Public entry for codegen'd calls (the BloomProbe convention: the
    * argmin loop stays this one method, but the cell-assignment
    * projection around it stays inside whole-stage codegen instead of
    * the CodegenFallback trait ejecting the operator). */
  def argmin(a: org.apache.spark.sql.catalyst.util.ArrayData,
             b: org.apache.spark.sql.catalyst.util.ArrayData): Any = nullSafeEval(a, b)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftIvfArgmin", this, classOf[IvfArgmin].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("r")
      s"""
         |Object $r = $ref.argmin($a, $b);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((java.lang.Long) $r).longValue(); }
       """.stripMargin
    })
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val emb = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val cents = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = emb.numElements()
    val k = cents.numElements()
    if (k == 0) return null
    // row norm: L2Norm's exact fold, so -(dot/(nrm*cnrm)) is the same
    // double the declarative twin computes
    var ss = 0.0
    var i = 0
    while (i < n) {
      if (emb.isNullAt(i)) return null
      val v = ge(emb, i)
      ss += v * v
      i += 1
    }
    val nrm = math.sqrt(ss)
    var found = false
    var bestNeg = 0.0
    var bestCell = 0L
    var c = 0
    while (c < k) {
      if (cents.isNullAt(c)) return null
      val st = cents.getStruct(c, 3)
      if (st.isNullAt(0) || st.isNullAt(1) || st.isNullAt(2)) return null
      val cell = st.getLong(0)
      val cemb = st.getArray(1)
      val cnrm = st.getDouble(2)
      if (cemb.numElements() != n) return null
      var s = 0.0
      var d = 0
      while (d < n) {
        if (cemb.isNullAt(d)) return null
        s += ge(emb, d) * gc(cemb, d)
        d += 1
      }
      val neg = -(s / (nrm * cnrm))
      val cmp = if (found) java.lang.Double.compare(neg, bestNeg) else -1
      if (cmp < 0 || (cmp == 0 && cell < bestCell)) {
        bestNeg = neg
        bestCell = cell
        found = true
      }
      c += 1
    }
    bestCell
  }

  override def nullable: Boolean = true

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): IvfArgmin =
    copy(left = newLeft, right = newRight)
}
