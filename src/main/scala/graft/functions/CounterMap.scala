package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable
import scala.runtime.LongRef

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `counter_map(key)` — the reference's `collections.Counter` as a native
  * Spark aggregate (/root/reference/src/senzing_pipeline.py:289-305 counts
  * entities per alias into a dict): a [[TypedImperativeAggregate]] whose
  * buffer is one hash map per group, map-side combinable like any partial
  * aggregate, producing `map<K, bigint>`. K is the key's own type where
  * that is `string` or `bigint`; any other integral key is widened to
  * `bigint`, and any other key is counted by its string form. Keys are
  * emitted in K's natural order — Spark's own ordering, so byte order for
  * strings —
  * which makes the output the same under any partitioning. Null keys are
  * not counted (a map key cannot be null); a caller that needs them counts
  * them beside the counter, as [[graft.ops.Relational.aliasCounts]] does.
  *
  * This is the A1 path: the alias priors
  * ([[graft.ops.Relational.aliasCounts]] and everything built on it, the
  * entity-linking gazetteer included) aggregate one counter per alias, so
  * the (alias, entity) rows cross the network once, keyed by alias alone.
  * The two-level relational form it replaced is a test-scope oracle
  * (`Oracles.aliasProbabilitiesTwoLevel`), law-equated in RelationalSpec.
  *
  * Memory shape: many groups per task do not pile up in memory — past
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` groups the
  * ObjectHashAggregate falls back to a spillable sort-based aggregation —
  * but one group's map is not spilled: all distinct keys of one alias
  * sit in one task's memory and leave as one map row. An alias with
  * millions of distinct entities needs that much heap, where the
  * two-level form's window would spill.
  *
  * Buffer serialization is a manual length-prefixed encoding (no Java
  * serialization in the shuffle path).
  */
case class CounterMap(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[Any, LongRef]] with ImplicitCastInputTypes {

  override def prettyName: String = "counter_map"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType =
    MapType(child.dataType, LongType, valueContainsNull = false)

  // the buffer holds Spark's internal key values, whose equals must be the
  // grouping equality: longs and binary-collation strings (a fractional key
  // keeps its exact value as a string rather than being truncated to bigint)
  override def inputTypes: Seq[DataType] = Seq(child.dataType match {
    case ByteType | ShortType | IntegerType | LongType => LongType
    case _ => StringType
  })

  override def createAggregationBuffer(): mutable.HashMap[Any, LongRef] =
    mutable.HashMap.empty

  override def update(buffer: mutable.HashMap[Any, LongRef],
                      input: InternalRow): mutable.HashMap[Any, LongRef] = {
    val k = child.eval(input)
    if (k != null) buffer.get(k) match {
      case Some(n) => n.elem += 1L
      // a string key may point into the input row's reused memory
      case None => buffer.update(InternalRow.copyValue(k), new LongRef(1L))
    }
    buffer
  }

  override def merge(buffer: mutable.HashMap[Any, LongRef],
                     other: mutable.HashMap[Any, LongRef]): mutable.HashMap[Any, LongRef] = {
    other.foreach { case (k, v) =>
      buffer.get(k) match {
        case Some(n) => n.elem += v.elem
        case None => buffer.update(k, v)
      }
    }
    buffer
  }

  override def eval(buffer: mutable.HashMap[Any, LongRef]): Any = {
    val sorted = buffer.toArray.sortBy(_._1)(PhysicalDataType.ordering(child.dataType))
    ArrayBasedMapData(sorted.map(_._1), sorted.map(_._2.elem: Any))
  }

  override def serialize(buffer: mutable.HashMap[Any, LongRef]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.size)
    buffer.foreach { case (k, v) =>
      k match {
        case s: UTF8String =>
          val kb = s.getBytes
          out.writeInt(kb.length); out.write(kb)
        case n: Long => out.writeLong(n)
      }
      out.writeLong(v.elem)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[Any, LongRef] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val readKey: () => Any =
      if (child.dataType == StringType) () => {
        val kb = new Array[Byte](in.readInt()); in.readFully(kb)
        UTF8String.fromBytes(kb)
      } else () => in.readLong()
    val n = in.readInt()
    val m = mutable.HashMap.empty[Any, LongRef]
    var i = 0
    while (i < n) {
      m.update(readKey(), new LongRef(in.readLong()))
      i += 1
    }
    m
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CounterMap =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CounterMap =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CounterMap =
    copy(child = newChildren.head)
}
