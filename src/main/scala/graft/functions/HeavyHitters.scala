package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries heavy-hitters sketch as a native Catalyst aggregate.
  *
  * The scale story: exact top-N tokens over 100 TB needs a full
  * `groupBy(token)` — a shuffle of every token occurrence. The MG sketch
  * keeps at most k counters per partition, merges in O(k log k), and
  * guarantees every item with frequency > n/(k+1) survives with count
  * undercounted by at most n/(k+1). So the aggregation state that crosses
  * the wire is k entries per partition, not the token universe — the same
  * reason `approx_count_distinct` exists. When k exceeds the true distinct
  * count the sketch never decrements and the counts are EXACT, which is
  * the regime the oracle checks; the lossy regime is covered by invariant
  * tests (frequency guarantee + undercount bound).
  *
  * `TypedImperativeAggregate` is the native path for arbitrary aggregation
  * state: Spark runs it partial-then-final with the buffer serialized
  * between stages (update → serialize → shuffle → merge → eval), exactly
  * like collect_set/percentile internals.
  */
case class MisraGriesTopK(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("token", StringType, nullable = false),
    StructField("est", LongType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty[String, Long]

  override def update(
      buf: mutable.HashMap[String, Long],
      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.asInstanceOf[UTF8String].toString
      buf.get(key) match {
        case Some(c) => buf.update(key, c + 1L)
        case None if buf.size < k => buf.update(key, 1L)
        case None =>
          // classic MG: a miss against a full table decrements every
          // counter; zeros vacate their slots
          val dead = mutable.ArrayBuffer.empty[String]
          buf.keysIterator.foreach { kk =>
            val nc = buf(kk) - 1L
            if (nc <= 0L) dead += kk else buf.update(kk, nc)
          }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(
      a: mutable.HashMap[String, Long],
      b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    b.foreach { case (kk, c) => a.update(kk, a.getOrElse(kk, 0L) + c) }
    if (a.size > k) {
      // standard MG merge (Agarwal et al., "Mergeable Summaries"): subtract
      // the (k+1)-th largest count from everything, keep the positives —
      // error bounds of the inputs add, summary stays size <= k
      val cut = a.values.toArray.sorted(Ordering.Long.reverse).apply(k)
      val keep = a.iterator.map { case (kk, c) => (kk, c - cut) }
        .filter(_._2 > 0L).toSeq
      a.clear()
      keep.foreach { case (kk, c) => a.update(kk, c) }
    }
    a
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val sorted = buf.toSeq.sortBy { case (t, c) => (-c, t) }
    new GenericArrayData(sorted.map { case (t, c) =>
      InternalRow(UTF8String.fromString(t), c)
    }.toArray[Any])
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (kk, c) =>
      val bytes = kk.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(bytes.length)
      out.write(bytes)
      out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val sb = new Array[Byte](len)
      in.readFully(sb)
      buf.update(new String(sb, java.nio.charset.StandardCharsets.UTF_8), in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def prettyName: String = "mg_topk"
}

object HeavyHitters {

  /** Resolve the `k` argument of `mg_topk(col, k)`: must be a foldable
    * integral literal > 0. INT and BIGINT literals both work (a bare
    * `CAST(64 AS BIGINT)` previously died in an opaque ClassCastException);
    * anything else fails with an error naming the function.
    */
  def resolveK(e: Expression): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        "mg_topk(col, k): k must be a foldable integer literal, got " + e.sql)
    val k = e.eval() match {
      case i: Int  => i.toLong
      case l: Long => l
      case s: Short => s.toLong
      case b: Byte => b.toLong
      case other => throw new IllegalArgumentException(
        "mg_topk(col, k): k must be an integer literal, got " +
          (if (other == null) "NULL" else other.getClass.getSimpleName) + s" (${e.sql})")
    }
    if (k <= 0 || k > Int.MaxValue)
      throw new IllegalArgumentException(
        s"mg_topk(col, k): k must be in [1, ${Int.MaxValue}], got $k")
    k.toInt
  }
}
