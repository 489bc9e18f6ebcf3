package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.classic.GraftPlanBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.Platform

/** A frame kept as packed UnsafeRow bytes: the stored form of a frame that
  * several writes read. Each partition's rows are copied, in Tungsten's own
  * byte layout, into a few ~4 MiB arrays (`[int used][int length][row]…`;
  * one oversized row gets an array of its own size), persisted
  * MEMORY_AND_DISK. [[frame]] reads them back by re-pointing one UnsafeRow
  * per partition — no per-row objects, no compression statistics, no Java
  * serialization. Like `persist`, nothing is packed until the first action
  * on [[frame]]; [[release]] drops the arrays.
  */
final class RowBatches private (val frame: DataFrame, batches: RDD[Array[Byte]]) {
  def release(): Unit = batches.unpersist(blocking = false)
}

object RowBatches {
  private val ChunkBytes = 4 << 20
  private val Base = Platform.BYTE_ARRAY_OFFSET

  /** Under AQE a plan with exchanges runs its query stages when its RDD is
    * built, so `df` should be exchange-free for the store to stay lazy.
    */
  def persist(df: DataFrame): RowBatches = {
    val schema = df.schema
    val batches = df.queryExecution.toRdd.mapPartitions(pack(_, schema))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val rows = batches.mapPartitions(unpack(_, schema.length))
    new RowBatches(GraftPlanBridge.internalCreateDataFrame(df.sparkSession, rows, schema), batches)
  }

  private def pack(rows: Iterator[InternalRow], schema: StructType): Iterator[Array[Byte]] =
    new Iterator[Array[Byte]] {
      private val toUnsafe = UnsafeProjection.create(schema)
      private var pending: UnsafeRow = null // the projection reuses it: copy before the next
      private def fetch(): Unit = if (pending == null && rows.hasNext) pending = toUnsafe(rows.next())
      def hasNext: Boolean = { fetch(); pending != null }
      def next(): Array[Byte] = {
        fetch()
        val chunk = new Array[Byte](math.max(ChunkBytes, 8 + pending.getSizeInBytes))
        var used = 4
        while (pending != null && used + 4 + pending.getSizeInBytes <= chunk.length) {
          Platform.putInt(chunk, Base + used, pending.getSizeInBytes)
          pending.writeToMemory(chunk, Base + used + 4)
          used += 4 + pending.getSizeInBytes
          pending = null
          fetch()
        }
        Platform.putInt(chunk, Base, used)
        if (pending == null) java.util.Arrays.copyOf(chunk, used) else chunk // trim the last
      }
    }

  private def unpack(chunks: Iterator[Array[Byte]], numFields: Int): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private val row = new UnsafeRow(numFields)
      private var chunk: Array[Byte] = Array.emptyByteArray
      private var at, used = 0
      def hasNext: Boolean = {
        while (at >= used && chunks.hasNext) {
          chunk = chunks.next(); used = Platform.getInt(chunk, Base); at = 4
        }
        at < used
      }
      def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        val size = Platform.getInt(chunk, Base + at)
        row.pointTo(chunk, Base + at + 4, size)
        at += 4 + size
        row
      }
    }
}
