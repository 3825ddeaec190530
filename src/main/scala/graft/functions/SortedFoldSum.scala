package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The deterministic-fold sum as ONE native aggregate: sums `value`
  * over the group in ascending `key` order, starting from 0.0 —
  * bit-identical to the declarative
  * `aggregate(array_sort(collect_list(struct(key, value))), 0.0, +)`
  * it replaces, and to DuckDB's `list_reduce(list(x ORDER BY key))`.
  *
  * This is the hot inner expression of every trained-quantizer
  * re-center (`Ann.kmeansCentroids` / `Pq.trainCodebooks` with
  * `deterministic = true`): the declarative form allocates a struct
  * per input row, sorts an object array per group with interpreted
  * comparisons, then folds with a per-element lambda bind. This
  * aggregate keeps two primitive arrays, merges by concatenation
  * (order is resolved once at eval by a primitive sort), and folds in
  * a tight loop. Keys are unique per group in every caller (vec_id),
  * so the sort is total; with duplicate keys the fold sums the
  * duplicates adjacently in their (key, value) order — still
  * deterministic.
  *
  * Scale shape is unchanged from the declarative form: the buffer
  * carries the group's (key, value) pairs — the documented price of
  * byte-reproducibility over map-side-combinable partial sums. */
case class SortedFoldSum(
    key: Expression,
    value: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArrayBuffer[(Long, Double)]] {

  override def children: Seq[Expression] = Seq(key, value)
  override def nullable: Boolean = false
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sorted_fold_sum"

  override def checkInputDataTypes(): TypeCheckResult =
    if (key.dataType == LongType && value.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (key: bigint, value: double), got " +
        s"(${key.dataType.simpleString}, ${value.dataType.simpleString})")

  override def createAggregationBuffer(): ArrayBuffer[(Long, Double)] =
    new ArrayBuffer[(Long, Double)](4)

  override def update(buffer: ArrayBuffer[(Long, Double)],
                      input: InternalRow): ArrayBuffer[(Long, Double)] = {
    val k = key.eval(input)
    val v = value.eval(input)
    if (k != null && v != null)
      buffer += ((k.asInstanceOf[Long], v.asInstanceOf[Double]))
    buffer
  }

  override def merge(buffer: ArrayBuffer[(Long, Double)],
                     other: ArrayBuffer[(Long, Double)]): ArrayBuffer[(Long, Double)] = {
    buffer ++= other
    buffer
  }

  override def eval(buffer: ArrayBuffer[(Long, Double)]): Any = {
    val arr = buffer.toArray
    java.util.Arrays.sort(arr, new java.util.Comparator[(Long, Double)] {
      def compare(a: (Long, Double), b: (Long, Double)): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c else java.lang.Double.compare(a._2, b._2)
      }
    })
    var acc = 0.0
    var i = 0
    while (i < arr.length) { acc += arr(i)._2; i += 1 }
    acc
  }

  override def serialize(buffer: ArrayBuffer[(Long, Double)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buffer.length * 16)
    buffer.foreach { case (k, v) => bb.putLong(k); bb.putDouble(v) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[(Long, Double)] = {
    val bb = ByteBuffer.wrap(bytes)
    val out = new ArrayBuffer[(Long, Double)](bytes.length / 16)
    while (bb.hasRemaining) out += ((bb.getLong(), bb.getDouble()))
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SortedFoldSum =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SortedFoldSum =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): SortedFoldSum =
    copy(key = newChildren(0), value = newChildren(1))
}

/** [[SortedFoldSum]]'s STRING-keyed twin — the fold convention for
  * groups keyed by text (charlm's per-doc trigram fold; PageRank's
  * in-task neighbour fold follows the same key order). Keys are compared as unsigned UTF-8
  * bytes, which is exactly both Spark's `UTF8String.compareTo` (what
  * the declarative `array_sort(struct(key, value))` used) and
  * DuckDB's binary collation `ORDER BY key` — so the replacement is
  * bit-identical on both engines for ANY key content, ASCII or not. */
case class SortedFoldSumStr(
    key: Expression,
    value: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArrayBuffer[(Array[Byte], Double)]] {

  override def children: Seq[Expression] = Seq(key, value)
  override def nullable: Boolean = false
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sorted_fold_sum_str"

  override def checkInputDataTypes(): TypeCheckResult =
    if (key.dataType == StringType && value.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (key: string, value: double), got " +
        s"(${key.dataType.simpleString}, ${value.dataType.simpleString})")

  override def createAggregationBuffer(): ArrayBuffer[(Array[Byte], Double)] =
    new ArrayBuffer[(Array[Byte], Double)](4)

  override def update(buffer: ArrayBuffer[(Array[Byte], Double)],
                      input: InternalRow): ArrayBuffer[(Array[Byte], Double)] = {
    val k = key.eval(input)
    val v = value.eval(input)
    if (k != null && v != null)
      // getBytes copies out of Spark's reused buffer
      buffer += ((k.asInstanceOf[UTF8String].getBytes, v.asInstanceOf[Double]))
    buffer
  }

  override def merge(buffer: ArrayBuffer[(Array[Byte], Double)],
                     other: ArrayBuffer[(Array[Byte], Double)]): ArrayBuffer[(Array[Byte], Double)] = {
    buffer ++= other
    buffer
  }

  override def eval(buffer: ArrayBuffer[(Array[Byte], Double)]): Any = {
    val arr = buffer.toArray
    java.util.Arrays.sort(arr, new java.util.Comparator[(Array[Byte], Double)] {
      def compare(a: (Array[Byte], Double), b: (Array[Byte], Double)): Int = {
        val x = a._1; val y = b._1
        val n = math.min(x.length, y.length)
        var i = 0
        while (i < n) {
          val c = (x(i) & 0xff) - (y(i) & 0xff)
          if (c != 0) return c
          i += 1
        }
        val lc = x.length - y.length
        if (lc != 0) lc else java.lang.Double.compare(a._2, b._2)
      }
    })
    var acc = 0.0
    var i = 0
    while (i < arr.length) { acc += arr(i)._2; i += 1 }
    acc
  }

  override def serialize(buffer: ArrayBuffer[(Array[Byte], Double)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buffer.map(_._1.length + 12).sum)
    buffer.foreach { case (k, v) => bb.putInt(k.length); bb.put(k); bb.putDouble(v) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[(Array[Byte], Double)] = {
    val bb = ByteBuffer.wrap(bytes)
    val out = new ArrayBuffer[(Array[Byte], Double)](4)
    while (bb.hasRemaining) {
      val len = bb.getInt()
      val k = new Array[Byte](len)
      bb.get(k)
      out += ((k, bb.getDouble()))
    }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SortedFoldSumStr =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SortedFoldSumStr =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): SortedFoldSumStr =
    copy(key = newChildren(0), value = newChildren(1))
}
