package graft.streaming

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A minimal DataSource-v2 MICRO-BATCH STREAMING format that emits the
  * Kafka wire shape — the proof that [[EventBus.BusEventSource]]'s "any
  * DSv2 streaming format" contract is real, with no broker or connector
  * jar anywhere on the classpath.
  *
  * What it models: a partitioned message bus whose records are opaque
  * binary key/value payloads addressed by (topic, partition, offset).
  * Global offsets are the replay cursor — `latestOffset` advances by
  * `rowsPerBatch` per trigger, `planInputPartitions(start, end)` fans the
  * offset range across `partitions` readers (global offset i lands on
  * partition i mod P with per-partition offset i div P, Kafka's layout),
  * and record CONTENT is a pure function of the global offset, so any
  * restart that replays a committed range reproduces identical bytes.
  * That determinism is what lets the exactly-once sink test assert
  * contiguous event ids across a stop/restart from the same checkpoint:
  * the offsets in the checkpoint, not luck, decide what is re-read
  * (`deserializeOffset`/`commit` re-arm the generator past restored
  * state, so a restarted query resumes instead of rewinding).
  *
  * The payload is the JSON serialization of the same deterministic event
  * mapping [[EventBus.RateEventSource]] uses, timestamped at microsecond
  * precision (the wire-format lesson the decode test pins: a millis
  * format would silently truncate event time). Downstream, the stream is
  * decoded by the PURE projection [[EventBus.decodeBusRecords]] — this
  * source never parses; parsing and poison handling live in one place.
  *
  * Options: `rowsPerBatch` (default 256), `partitions` (default 4),
  * `topic` (default "events"), `startMs`/`advanceMsPerBatch` as in the
  * rate source.
  */
class WireBus extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WireBus.wireSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new WireBusTable(new CaseInsensitiveStringMap(properties))
}

object WireBus {
  /** The Kafka wire shape [[EventBus.decodeBusRecords]] consumes. */
  val wireSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType)))

  private val EventTypes = Seq("view", "click", "purchase", "signup", "error")

  /** The deterministic event payload for global offset i — identical
    * semantics to [[EventBus.RateEventSource]]'s column mapping, serialized
    * as the producer would put it on the wire (micros-precision ISO
    * timestamp).
    */
  private[graft] def payloadJson(i: Long, rowsPerBatch: Long, startMs: Long,
      advanceMs: Long): String = {
    val tsMicros = (startMs + (i / rowsPerBatch) * advanceMs) * 1000L
    val iso = java.time.Instant.EPOCH.plus(tsMicros, java.time.temporal.ChronoUnit.MICROS)
      .atOffset(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"))
    val value = (math.floorMod(i * 37L, 10000L)).toDouble / 100.0
    s"""{"event_id":$i,"ts":"$iso","user_id":${math.floorMod(i, 97L)},""" +
      s""""event_type":"${EventTypes(math.floorMod(i, 5L).toInt)}",""" +
      s""""value":$value,"props":"{\\"k\\": ${math.floorMod(i, 100L)}}"}"""
  }
}

final class WireBusTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = "wirebus"
  override def schema(): StructType = WireBus.wireSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    val rowsPerBatch = options.getLong("rowsPerBatch", 256L)
    val nParts = options.getInt("partitions", 4)
    val topic = options.getOrDefault("topic", "events")
    val startMs = options.getLong("startMs", 1700000000000L)
    val advanceMs = options.getLong("advanceMsPerBatch", 60000L)
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = WireBus.wireSchema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new WireBusStream(rowsPerBatch, nParts, topic, startMs, advanceMs,
            checkpointLocation)
      }
    }
  }
}

private final case class WireBusOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

private final case class WireBusPartition(
    partIdx: Int, nParts: Int, start: Long, end: Long,
    rowsPerBatch: Long, topic: String, startMs: Long, advanceMs: Long)
  extends InputPartition

final class WireBusStream(rowsPerBatch: Long, nParts: Int, topic: String,
    startMs: Long, advanceMs: Long, checkpointLoc: String)
  extends MicroBatchStream {

  // The generator's high-water mark, PERSISTED under this source's own
  // checkpoint directory (the real-source pattern — a broker's "latest
  // offset" survives the driver). A fresh instance after a restart must
  // never report a latestOffset BELOW the engine's restored start offset:
  // the engine may ask for latestOffset before it hands us any restored
  // offset to deserialize, and offsets are opaque to it — a stale low
  // answer would make it plan old ranges under new batch ids (observed as
  // duplicated event ids in the restart E2E). deserializeOffset/commit
  // still re-arm as a belt on top of the marker.
  private val marker: java.nio.file.Path = {
    val base =
      if (checkpointLoc.startsWith("file:"))
        java.nio.file.Paths.get(java.net.URI.create(checkpointLoc))
      else java.nio.file.Paths.get(checkpointLoc)
    java.nio.file.Files.createDirectories(base)
    base.resolve("wirebus-highwater")
  }

  // Fallback recovery: the committed high water from the ENGINE's offset
  // log (`<ckpt>/offsets/<batchId>`, this source's offset JSON is its
  // last line). The marker lives at `<ckpt>/sources/<i>/`, so the offset
  // log is two levels up. Used when the marker is corrupt or missing —
  // the engine may call latestOffset() BEFORE any deserializeOffset() on
  // restart, and a 0 answer in that window would re-plan old ranges
  // under new batch ids (duplicated events, the exact hazard the marker
  // exists for).
  private def engineHighWater(): Option[Long] = {
    val offsets = Option(marker.getParent)
      .flatMap(p => Option(p.getParent)).flatMap(p => Option(p.getParent))
      .map(_.resolve("offsets"))
      .filter(java.nio.file.Files.isDirectory(_))
    offsets.flatMap { dir =>
      val s = java.nio.file.Files.list(dir)
      val batchFiles =
        try s.iterator().asScala
          .filter(_.getFileName.toString.forall(_.isDigit)).toSeq
        finally s.close()
      val parsed = batchFiles.flatMap { f =>
        scala.util.Try {
          val lines = java.nio.file.Files.readAllLines(f).asScala
            .map(_.trim).filter(_.nonEmpty)
          lines.last.toLong
        }.toOption
      }
      if (parsed.isEmpty) None else Some(parsed.max)
    }
  }

  // Crash-safe read: a marker torn by a mid-write crash (possible only
  // before round 12's atomic-move publish, or on a filesystem without
  // atomic rename) recovers LOUDLY from the engine's committed offset
  // log rather than silently reporting 0 — a 0 in the pre-deserialize
  // latestOffset window would duplicate events (see engineHighWater).
  // deserializeOffset/commit still re-arm as a belt on top.
  @volatile private var target: Long =
    if (java.nio.file.Files.exists(marker))
      scala.util.Try(
        new String(java.nio.file.Files.readAllBytes(marker), "UTF-8").trim.toLong
      ).getOrElse {
        val rec = engineHighWater().getOrElse(0L)
        System.err.println(s"[wirebus] high-water marker at $marker is " +
          s"corrupt; recovered target=$rec from the engine offset log")
        rec
      }
    else 0L

  // Publish via write-temp + ATOMIC_MOVE: readers see the old complete
  // value or the new complete value, never a torn write (the same
  // put-then-rename discipline as DeltaLog's `_last_checkpoint` pointer).
  private def persist(): Unit = {
    val tmp = marker.resolveSibling(marker.getFileName.toString + ".tmp")
    java.nio.file.Files.write(tmp, s"$target\n".getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, marker,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  override def initialOffset(): Offset = WireBusOffset(0L)

  override def latestOffset(): Offset = synchronized {
    target += rowsPerBatch
    persist()
    WireBusOffset(target)
  }

  override def deserializeOffset(json: String): Offset = synchronized {
    val n = json.trim.toLong
    if (n > target) { target = n; persist() }
    WireBusOffset(n)
  }

  override def commit(end: Offset): Unit = synchronized {
    val n = end.asInstanceOf[WireBusOffset].n
    if (n > target) { target = n; persist() }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[WireBusOffset].n
    val e = end.asInstanceOf[WireBusOffset].n
    (0 until nParts).map(p =>
      WireBusPartition(p, nParts, s, e, rowsPerBatch, topic, startMs, advanceMs)
        : InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val wp = partition.asInstanceOf[WireBusPartition]
        new PartitionReader[InternalRow] {
          // global offsets in [start, end) owned by this partition
          private var i = {
            val first = wp.start + math.floorMod(wp.partIdx - wp.start, wp.nParts.toLong)
            first - wp.nParts // next() pre-increments
          }
          override def next(): Boolean = { i += wp.nParts; i < wp.end }
          override def get(): InternalRow = {
            val json = WireBus.payloadJson(i, wp.rowsPerBatch, wp.startMs, wp.advanceMs)
            InternalRow(
              i.toString.getBytes("UTF-8"),
              json.getBytes("UTF-8"),
              UTF8String.fromString(wp.topic),
              wp.partIdx,
              i / wp.nParts)
          }
          override def close(): Unit = ()
        }
      }
    }

  override def stop(): Unit = ()
}
