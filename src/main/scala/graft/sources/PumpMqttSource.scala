package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** S1/S2 — the MQTT subscribe source as a Spark DataSourceV2
  * `MicroBatchStream`.
  *
  * Reference behavior re-expressed (`/root/reference/mqtt.go:69-137`,
  * `main.go:110-121`, `pump_pipe.go:21-54`): subscribe to
  * `topicroot/topicprefix/<n>` for each topic group (or the `/#` wildcard),
  * stamp each delivery with the receive time, and feed the pipeline. The
  * reference spawns one goroutine pipe per topic group; here each topic
  * group becomes one [[InputPartition]] — the same fan-in parallelism,
  * but scheduled by Spark, and with *checkpointed offsets*: on recovery
  * the stream re-reads from the last committed offset, upgrading the
  * reference's QoS-0 at-most-once to at-least-once replay — effectively
  * exactly-once once paired with the pump's per-batchId idempotent sink
  * writes (deliberate deviation, SURVEY §4.2).
  *
  * Usage:
  * {{{
  *   spark.readStream.format("pump-mqtt")
  *     .option("broker", "default")        // MemoryBroker registry key
  *     .option("topics", "pump/data/0,pump/data/1")
  *     .load()
  * }}}
  * Schema: `topic string, payload binary, received_time timestamp` —
  * the reference's `Message` struct (`pump_pipe.go:15-19`).
  *
  * The in-memory broker serves local/test mode (single JVM). A production
  * deployment swaps the [[MessageBroker]] seam for a network MQTT client
  * per partition; the offset/partition plumbing here is unchanged.
  */
class PumpMqttProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "pump-mqtt"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PumpMqttSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new PumpMqttTable(new CaseInsensitiveStringMap(properties))
}

object PumpMqttSource {
  val Schema: StructType = StructType(Seq(
    StructField("topic", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("received_time", TimestampType, nullable = false)))

  def topicsOf(options: CaseInsensitiveStringMap): Seq[String] =
    options.getOrDefault("topics", "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
}

class PumpMqttTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = s"pump-mqtt(${options.getOrDefault("topics", "")})"
  override def schema(): StructType = PumpMqttSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    () => new PumpMqttScan(
      options.getOrDefault("broker", "default"),
      PumpMqttSource.topicsOf(options),
      Option(options.get("maxmsgspertrigger")).map(_.toLong))
}

class PumpMqttScan(brokerName: String, topics: Seq[String],
                   maxMsgsPerTrigger: Option[Long]) extends Scan {
  override def readSchema(): StructType = PumpMqttSource.Schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new PumpMqttMicroBatchStream(brokerName, topics, maxMsgsPerTrigger)
}

/** Offset = per-topic message count, serialized as sorted-key JSON.
  * Backslashes are escaped BEFORE quotes (and unescaped in the reverse
  * order) so topic names containing `\` or `"` round-trip as valid JSON.
  */
case class TopicOffsets(counts: Map[String, Long]) extends Offset {
  override def json(): String =
    counts.toSeq.sortBy(_._1)
      .map { case (t, n) =>
        val esc = t.replace("\\", "\\\\").replace("\"", "\\\"")
        s""""$esc":$n"""
      }
      .mkString("{", ",", "}")
}

object TopicOffsets {
  private val Entry = """"((?:[^"\\]|\\.)*)":(\d+)""".r
  def fromJson(s: String): TopicOffsets =
    TopicOffsets(Entry.findAllMatchIn(s)
      .map(m => m.group(1).replace("\\\"", "\"").replace("\\\\", "\\")
        -> m.group(2).toLong).toMap)
}

/** @param maxMsgsPerTrigger the size-half of the reference's time-or-size
  *   commit policy (K3, DBObjectItemsSize=64, `data_dbstore.go:18`): caps
  *   messages admitted per micro-batch via Spark admission control; the
  *   trigger interval carries the time-half. Doubles as the backpressure
  *   bound the reference gets from its clamped channel buffers
  *   (SURVEY §4.2).
  */
class PumpMqttMicroBatchStream(brokerName: String, topics: Seq[String],
                               maxMsgsPerTrigger: Option[Long] = None)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private val broker: MemoryBroker = MemoryBroker.get(brokerName)
  // pins the broker's logs until this stream commits past them or stops
  private val reader = broker.register(topics)

  /** Concrete topics behind the subscription list: wildcard filters (`+`
    * single-level, `#` tail — the reference's non-grouped `root/prefix/#`
    * mode, `mqtt.go:73-77`) expand against the broker's CURRENT topic set,
    * re-resolved at every offset poll so topics that first publish after
    * the stream starts are picked up at the next trigger — the local-mode
    * equivalent of a live broker's server-side subscription matching.
    * Offsets checkpoint per CONCRETE topic, so admission control, replay,
    * and partition planning are identical in wildcard and literal modes.
    */
  private def resolvedTopics: Seq[String] = topics.flatMap(broker.expand).distinct

  /** End bound frozen at query start for Trigger.AvailableNow (drain up to
    * here across however many rate-limited batches, then stop).
    */
  @volatile private var availableNowEnd: Option[Map[String, Long]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(resolvedTopics.map(t => t -> broker.endOffset(t)).toMap)

  private def currentEnd: Map[String, Long] =
    availableNowEnd.getOrElse(resolvedTopics.map(t => t -> broker.endOffset(t)).toMap)

  /** With no checkpoint, start at the earliest message still retained. */
  override def initialOffset(): Offset =
    TopicOffsets(resolvedTopics.map(t => t -> broker.startOffset(t)).toMap)

  override def latestOffset(): Offset = TopicOffsets(currentEnd)

  override def getDefaultReadLimit: ReadLimit =
    maxMsgsPerTrigger.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def reportLatestOffset(): Offset = latestOffset()

  private def maxRowsOf(limit: ReadLimit): Option[Long] = limit match {
    case mr: ReadMaxRows => Some(mr.maxRows())
    case c: CompositeReadLimit =>
      c.getReadLimits.toSeq.flatMap(maxRowsOf).reduceOption((a, b) => math.min(a, b))
    case _ => None
  }

  /** Admission-controlled latest offset: admit up to the limit, spread
    * across topics in sorted order (deterministic restart).
    */
  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val start = startOffset.asInstanceOf[TopicOffsets].counts
    val end = currentEnd
    maxRowsOf(limit) match {
      case Some(max) =>
        var budget = max
        val admitted = scala.collection.mutable.Map(start.toSeq: _*)
        end.keys.toSeq.sorted.foreach { t =>
          val from = start.getOrElse(t, 0L)
          val take = math.min(end.getOrElse(t, 0L) - from, budget)
          if (take > 0) { admitted(t) = from + take; budget -= take }
          else admitted.getOrElseUpdate(t, from)
        }
        TopicOffsets(admitted.toMap)
      case None => TopicOffsets(end)
    }
  }

  override def deserializeOffset(json: String): Offset = TopicOffsets.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TopicOffsets].counts
    val e = end.asInstanceOf[TopicOffsets].counts
    // one partition per (concrete) topic group — the reference's per-pipe
    // parallelism (S2); the end offset's key set carries the wildcard
    // expansion, so planning needs no re-resolution
    e.keys.toSeq.sorted.flatMap { t =>
      val (from, until) = (s.getOrElse(t, 0L), e.getOrElse(t, 0L))
      if (until > from) Some(PumpMqttPartition(brokerName, t, from, until)) else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PumpMqttReaderFactory

  override def commit(end: Offset): Unit =
    reader.commit(end.asInstanceOf[TopicOffsets].counts)
  override def stop(): Unit = reader.close()
}

case class PumpMqttPartition(brokerName: String, topic: String, from: Long, until: Long)
    extends InputPartition

class PumpMqttReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PumpMqttPartition]
    new PartitionReader[InternalRow] {
      private val msgs = MemoryBroker.get(p.brokerName).read(p.topic, p.from, p.until).iterator
      private var current: BrokerMessage = _
      override def next(): Boolean = { if (msgs.hasNext) { current = msgs.next(); true } else false }
      override def get(): InternalRow =
        InternalRow(UTF8String.fromString(current.topic), current.payload,
          current.receivedTimeMicros)
      override def close(): Unit = ()
    }
  }
}
