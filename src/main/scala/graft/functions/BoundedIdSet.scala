package graft.functions

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The distinct values of a bigint column, sorted ascending — or null
  * once there are more than `cap` of them. A `collect_set` that gives
  * up instead of growing: each task keeps at most `cap + 1` values and
  * then only an overflow flag, and the merged result is bounded the
  * same way, so the aggregate is safe where its result is collected to
  * the driver (an `Observation`) whatever the input's cardinality.
  * Null inputs are ignored, like the built-in collecting aggregates.
  *
  * Scale shape: the [[KMinValues]] / [[MisraGriesTopK]] contract —
  * bounded state per task, at most `cap` values per partial — but exact
  * while under the cap rather than a sketch.
  */
case class BoundedIdSet(child: Expression, cap: Long,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BoundedIdSet.Ids]
    with UnaryLike[Expression] {

  require(cap >= 0, "cap must be >= 0")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName: argument must be bigint, got ${other.simpleString}")
    }

  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "bounded_id_set"

  override def createAggregationBuffer(): BoundedIdSet.Ids = new BoundedIdSet.Ids(cap)

  override def update(buffer: BoundedIdSet.Ids, input: InternalRow): BoundedIdSet.Ids = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: BoundedIdSet.Ids, other: BoundedIdSet.Ids): BoundedIdSet.Ids = {
    buffer.mergeIn(other)
    buffer
  }

  override def eval(buffer: BoundedIdSet.Ids): Any =
    if (buffer.overflowed) null
    else new GenericArrayData(buffer.ids.toArray.sorted)

  override def serialize(buffer: BoundedIdSet.Ids): Array[Byte] = buffer.toBytes

  override def deserialize(bytes: Array[Byte]): BoundedIdSet.Ids =
    BoundedIdSet.Ids.fromBytes(bytes, cap)

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedIdSet =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): BoundedIdSet =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): BoundedIdSet =
    copy(child = newChild)
}

object BoundedIdSet {

  def apply(ids: Column, cap: Long): Column =
    GraftColumnBridge.toColumn(
      BoundedIdSet(GraftColumnBridge.toExpression(ids), cap).toAggregateExpression())

  /** At most `cap` distinct values, or none and the overflow flag. */
  final class Ids(val cap: Long) {
    val ids: mutable.HashSet[Long] = mutable.HashSet.empty
    var overflowed: Boolean = false

    def add(v: Long): Unit =
      if (!overflowed) {
        ids += v
        if (ids.size > cap) { overflowed = true; ids.clear() }
      }

    def mergeIn(other: Ids): Unit =
      if (other.overflowed) { overflowed = true; ids.clear() }
      else other.ids.foreach(add)

    def toBytes: Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeBoolean(overflowed)
      out.writeInt(ids.size)
      ids.foreach(out.writeLong)
      out.flush()
      bos.toByteArray
    }
  }

  object Ids {
    def fromBytes(bytes: Array[Byte], cap: Long): Ids = {
      val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
      val s = new Ids(cap)
      s.overflowed = in.readBoolean()
      val size = in.readInt()
      var i = 0
      while (i < size) { s.ids += in.readLong(); i += 1 }
      s
    }
  }
}
