package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `kmv_minima(hash, k)`: the k smallest DISTINCT long values per
  * group, as an ascending array — the KMV distinct-count sketch's
  * state (Bar-Yossef et al. RANDOM 2002), as a true partial aggregate.
  *
  * This is the piece that makes KMV scale: as a
  * `TypedImperativeAggregate` it participates in Spark's two-phase
  * hash aggregation, so each map task reduces its partition to AT MOST
  * k longs per group BEFORE the exchange, and the shuffle carries
  * k values per (partition, group) instead of the full distinct hash
  * set that a `distinct` + window formulation pays. Merge is exact:
  * the k-minima of a union is the k-minima of the merged k-minima
  * sets, so the result is identical on any partitioning.
  *
  * State is a bounded `java.util.TreeSet` (dedup + order in one
  * structure; insert/evict is O(log k) with k typically 64-1024).
  * Nulls are skipped, mirroring SQL aggregate convention.
  */
case class KmvAgg(
    child: Expression,
    kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
  with BinaryLike[Expression] {

  private lazy val k: Int = {
    val v = kExpr.eval(InternalRow.empty)
    require(v != null, "kmv_minima: k must be a non-null literal")
    v.asInstanceOf[Number].intValue
  }

  override def left: Expression = child
  override def right: Expression = kExpr

  override def checkInputDataTypes(): TypeCheckResult = {
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"kmv_minima expects a BIGINT hash column, got " +
          child.dataType.catalogString)
    else if (!kExpr.foldable || kExpr.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        "kmv_minima expects a foldable INT k")
    else {
      // eval here (not via the lazy `k`) so CAST(NULL AS INT) yields a
      // TypeCheckFailure instead of an analysis-time require() crash
      val v = kExpr.eval(InternalRow.empty)
      if (v == null)
        TypeCheckResult.TypeCheckFailure(
          "kmv_minima: k must be a non-null literal")
      else if (v.asInstanceOf[Number].intValue < 2)
        TypeCheckResult.TypeCheckFailure(
          s"kmv_minima: k=${v.asInstanceOf[Number].intValue} must be >= 2")
      else TypeCheckResult.TypeCheckSuccess
    }
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  override def update(buffer: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      // only insert if it can enter the k-minima (avoids churn on the
      // common no-op path once the buffer is saturated)
      if (buffer.size < k || h < buffer.last()) {
        buffer.add(h)
        if (buffer.size > k) buffer.pollLast()
      }
    }
    buffer
  }

  override def merge(buffer: java.util.TreeSet[java.lang.Long],
                     other: java.util.TreeSet[java.lang.Long])
      : java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    var proceed = true
    while (proceed && it.hasNext) {
      val h = it.next()
      if (buffer.size < k || h < buffer.last()) {
        buffer.add(h)
        if (buffer.size > k) buffer.pollLast()
      } else proceed = false // other is ascending: rest can't enter
    }
    buffer
  }

  override def eval(buffer: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Long](buffer.size)
    val it = buffer.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buffer: java.util.TreeSet[java.lang.Long])
      : Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buffer.size)
    bb.putInt(buffer.size)
    val it = buffer.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte])
      : java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val s = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { s.add(bb.getLong); i += 1 }
    s
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KmvAgg =
    copy(child = newLeft, kExpr = newRight)
  override def prettyName: String = "kmv_minima"
}

object KmvAgg {
  val info: (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression) = (
    FunctionIdentifier("kmv_minima"),
    new ExpressionInfo(classOf[KmvAgg].getName, "kmv_minima"),
    (children: Seq[Expression]) => {
      if (children.size != 2)
        throw new IllegalArgumentException(
          s"kmv_minima requires exactly 2 arguments (hash, k), " +
            s"got ${children.size}")
      KmvAgg(children(0), children(1))
    })
}
