package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `counter_map(key)` — the reference's `collections.Counter` as a native
  * Spark aggregate (/root/reference/src/senzing_pipeline.py:289-305 counts
  * entities per alias into a dict): a [[TypedImperativeAggregate]] whose
  * buffer is one hash map per group, map-side combinable like any partial
  * aggregate, producing `map<string, bigint>` with keys emitted in sorted
  * order (deterministic output under any partitioning).
  *
  * This is the third of SURVEY.md §4's optional custom-Catalyst niceties
  * (after the cosine expression and the Aho–Corasick matcher). The shipped
  * A1 path ([[graft.ops.Relational.aliasProbabilities]]) remains the
  * two-level hash aggregation — for a FIXED small candidate fan-out the
  * relational form stays inside codegen and is usually faster; the counter
  * buffer wins when per-group cardinality is large enough that the
  * intermediate (alias, entity) pair table dominates (one shuffled row per
  * group instead of one per distinct pair). RelationalSpec pins the
  * equality law between the two.
  *
  * Buffer serialization is a manual length-prefixed encoding (no Java
  * serialization in the shuffle path).
  */
case class CounterMap(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  override def prettyName: String = "counter_map"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType =
    MapType(StringType, LongType, valueContainsNull = false)

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(buffer: mutable.HashMap[String, Long],
                      input: InternalRow): mutable.HashMap[String, Long] = {
    val k = child.eval(input)
    if (k != null) {
      val key = k.toString
      buffer.update(key, buffer.getOrElse(key, 0L) + 1L)
    }
    buffer
  }

  override def merge(buffer: mutable.HashMap[String, Long],
                     other: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    other.foreach { case (k, v) =>
      buffer.update(k, buffer.getOrElse(k, 0L) + v)
    }
    buffer
  }

  override def eval(buffer: mutable.HashMap[String, Long]): Any = {
    val sorted = buffer.toArray.sortBy(_._1)
    ArrayBasedMapData(
      sorted.map(kv => UTF8String.fromString(kv._1): Any),
      sorted.map(_._2: Any))
  }

  override def serialize(buffer: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.size)
    buffer.foreach { case (k, v) =>
      val kb = k.getBytes("UTF-8")
      out.writeInt(kb.length); out.write(kb); out.writeLong(v)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val m = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val kb = new Array[Byte](len); in.readFully(kb)
      m.update(new String(kb, "UTF-8"), in.readLong())
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
