package graft.sources

import java.util

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxRows, ReadMinRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.annotation.tailrec
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
  *     .option("minmsgspertrigger", "64")  // optional admission control,
  *     .option("maxtriggerdelay", "5s")     // see PumpMqttSource.readLimitOf
  *     .load()
  * }}}
  * Schema: `topic string, payload binary, received_time timestamp` —
  * the reference's `Message` struct (`pump_pipe.go:15-19`).
  *
  * The source reads a [[MemoryBroker]] by name, which an [[MqttBridge]]
  * feeds from the network (`graft.Main run`), or which the caller
  * publishes into directly (tests). Brokers resolve per JVM, so `local[n]`
  * is the supported mode.
  */
class PumpMqttProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "pump-mqtt"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PumpMqttSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new PumpMqttTable(new CaseInsensitiveStringMap(properties))
}

/** `mqtt-direct`: `pump-mqtt` over a private [[MqttBridge]] and broker, so
  * one query subscribes a live broker with no other wiring. Options:
  * `topics` and those of [[MqttBridge.start]] (`host`, `port`, ...).
  */
class MqttDirectProvider extends PumpMqttProvider {
  override def shortName(): String = "mqtt-direct"
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new PumpMqttTable(new CaseInsensitiveStringMap(properties), direct = true)
}

object PumpMqttSource {
  val Schema: StructType = StructType(Seq(
    StructField("topic", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("received_time", TimestampType, nullable = false)))

  def topicsOf(options: CaseInsensitiveStringMap): Seq[String] =
    options.getOrDefault("topics", "").split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** The stream's default read limit, from the options that mirror Kafka's
    * `maxOffsetsPerTrigger`, `minOffsetsPerTrigger` and `maxTriggerDelay`:
    *  - `maxmsgspertrigger` caps the messages one micro-batch admits. It
    *    is a backpressure bound, like the reference's clamped channel
    *    buffers (SURVEY §4.2); it never starts a batch early.
    *  - `minmsgspertrigger` holds a batch back until that many messages
    *    are pending over all topics, or `maxtriggerdelay` (ms, or a
    *    duration such as `5s`; default `15m`, as in Kafka) has passed since
    *    the last admitted batch. With Spark's default trigger this is the
    *    reference's time-or-size commit policy (K3, `data_dbstore.go:18-19`).
    */
  def readLimitOf(options: CaseInsensitiveStringMap): ReadLimit = {
    val max = Option(options.get("maxmsgspertrigger")).map(n => ReadLimit.maxRows(n.toLong))
    val min = Option(options.get("minmsgspertrigger")).map(n => ReadLimit.minRows(n.toLong,
      JavaUtils.timeStringAsMs(options.getOrDefault("maxtriggerdelay", "15m"))))
    (min ++ max).toSeq match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case both => ReadLimit.compositeLimit(both.toArray)
    }
  }

  /** Splits a budget of `max` messages across topics by water-filling:
    * each topic with messages pending gets `min(pending, equal share of
    * what is left)`, repeated until the budget or the pending messages
    * run out, and a last remainder smaller than the number of topics still
    * pending goes one message each in sorted topic order. So no topic
    * starves behind busier ones earlier in sort order, and the split is a
    * pure function of its inputs, which keeps replanning after a restart
    * deterministic.
    */
  def fairShare(pending: Map[String, Long], max: Long): Map[String, Long] = {
    @tailrec def fill(open: Seq[(String, Long)], left: Long,
                      got: Map[String, Long]): Map[String, Long] =
      if (left <= 0 || open.isEmpty) got
      else {
        val share = left / open.size
        val grant = (if (share == 0) open.take(left.toInt).map { case (t, _) => t -> 1L }
                     else open.map { case (t, p) => t -> math.min(p, share) }).toMap
        fill(open.map { case (t, p) => t -> (p - grant.getOrElse(t, 0L)) }.filter(_._2 > 0),
          left - grant.values.sum,
          got ++ grant.map { case (t, n) => t -> (got.getOrElse(t, 0L) + n) })
      }
    fill(pending.toSeq.filter(_._2 > 0).sortBy(_._1), max, Map.empty)
  }
}

/** @param direct read a private bridge's broker (`mqtt-direct`), not `broker`'s */
class PumpMqttTable(options: CaseInsensitiveStringMap, direct: Boolean = false)
    extends Table with SupportsRead {
  override def name(): String =
    if (direct) s"mqtt-direct(${options.get("host")}:${options.get("port")})"
    else s"pump-mqtt(${options.getOrDefault("topics", "")})"
  override def schema(): StructType = PumpMqttSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = () => new Scan {
    override def readSchema(): StructType = PumpMqttSource.Schema
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      if (direct)
        new PumpMqttMicroBatchStream(s"mqtt-direct-${java.util.UUID.randomUUID()}",
          PumpMqttSource.topicsOf(options), bridge = Some(options))
      else
        new PumpMqttMicroBatchStream(options.getOrDefault("broker", "default"),
          PumpMqttSource.topicsOf(options), PumpMqttSource.readLimitOf(options))
  }
}

/** Offset = per-topic message count in the log of one [[MemoryBroker]]
  * incarnation, serialized as sorted-key JSON with the incarnation first
  * under the key `#incarnation` (no MQTT topic name holds a `#`).
  * Backslashes are escaped BEFORE quotes (and unescaped in the reverse
  * order) so topic names containing `\` or `"` round-trip as valid JSON.
  *
  * An empty incarnation, as in JSON written before incarnations existed,
  * means the live broker's log. Equality compares counts only: two
  * offsets that Spark compares within one process life come from the
  * same log.
  */
final case class TopicOffsets(counts: Map[String, Long], incarnation: String = "") extends Offset {
  override def json(): String =
    (Option.when(incarnation.nonEmpty)(s""""#incarnation":"$incarnation"""") ++
      counts.toSeq.sortBy(_._1).map { case (t, n) =>
        val esc = t.replace("\\", "\\\\").replace("\"", "\\\"")
        s""""$esc":$n"""
      })
      .mkString("{", ",", "}")

  override def equals(other: Any): Boolean = other match {
    case o: TopicOffsets => counts == o.counts
    case _ => super.equals(other)
  }
  override def hashCode(): Int = counts.hashCode()
}

object TopicOffsets {
  private val Entry = """"((?:[^"\\]|\\.)*)":(\d+)""".r
  private val Incarnation = """^\{"#incarnation":"([^"]*)"""".r.unanchored
  def fromJson(s: String): TopicOffsets =
    TopicOffsets(Entry.findAllMatchIn(s)
      .map(m => m.group(1).replace("\\\"", "\"").replace("\\\\", "\\")
        -> m.group(2).toLong).toMap,
      s match { case Incarnation(id) => id; case _ => "" })
}

/** @param readLimit the default admission control
  *   ([[PumpMqttSource.readLimitOf]]): `ReadLimit.maxRows` caps a batch,
  *   `ReadLimit.minRows` holds one back until enough messages are pending
  *   or its delay has passed; a composite of the two applies both.
  * @param bridge `mqtt-direct`'s options: when set, the stream subscribes
  *   `topics` into `brokerName` through its own [[MqttBridge]], which it
  *   closes on stop.
  */
class PumpMqttMicroBatchStream(brokerName: String, topics: Seq[String],
                               readLimit: ReadLimit = ReadLimit.allAvailable(),
                               bridge: Option[CaseInsensitiveStringMap] = None)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // started first: a failed connect then leaves no broker or reader behind
  private val subscription = bridge.map(MqttBridge.start(_, topics, brokerName))
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

  /** The restart rule. Offsets from another broker incarnation (a
    * checkpoint written before this process started, or before the broker
    * was released) index a log that is gone: QoS 0 never re-sends it. As a
    * start such an offset means the live log's retained start, so what the
    * bridge delivered before the restore is read; as an end it plans
    * nothing, so a replayed pre-restart batch drains empty; and committing
    * it never trims. An offset without an incarnation means the live log.
    */
  private def isLive(o: TopicOffsets): Boolean =
    o.incarnation.isEmpty || o.incarnation == broker.incarnation

  private def startOf(o: TopicOffsets, topics: Iterable[String]): Map[String, Long] =
    if (isLive(o)) o.counts else topics.map(t => t -> broker.startOffset(t)).toMap

  /** With no checkpoint, start at the earliest message still retained. */
  override def initialOffset(): Offset =
    TopicOffsets(resolvedTopics.map(t => t -> broker.startOffset(t)).toMap, broker.incarnation)

  override def latestOffset(): Offset = TopicOffsets(currentEnd, broker.incarnation)

  override def getDefaultReadLimit: ReadLimit = readLimit

  override def reportLatestOffset(): Offset = latestOffset()

  private def limitsOf(limit: ReadLimit): Seq[ReadLimit] = limit match {
    case c: CompositeReadLimit => c.getReadLimits.toSeq.flatMap(limitsOf)
    case l => Seq(l)
  }

  /** When the last batch was admitted under a `minRows` limit; 0 admits the
    * first poll at once. Only the micro-batch thread calls `latestOffset`.
    */
  private var lastAdmitMs = 0L

  /** Admission-controlled latest offset. Under `minRows(n, delay)` it
    * returns `startOffset` (no batch) while fewer than n messages are
    * pending over all topics and less than the delay has passed since the
    * last admitted batch, except under Trigger.AvailableNow, whose frozen
    * end must drain. Under `maxRows(max)` it admits at most `max`,
    * split across topics by [[PumpMqttSource.fairShare]].
    */
  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val end = currentEnd
    val start = startOf(startOffset.asInstanceOf[TopicOffsets], end.keys)
    val limits = limitsOf(limit)
    val pending = end.map { case (t, e) => t -> math.max(0L, e - start.getOrElse(t, 0L)) }
    val minRows = limits.collectFirst { case m: ReadMinRows if availableNowEnd.isEmpty => m }
    val now = System.currentTimeMillis()
    if (minRows.exists(m => pending.values.sum < m.minRows && now - lastAdmitMs < m.maxTriggerDelayMs)) {
      startOffset
    } else {
      if (minRows.nonEmpty) lastAdmitMs = now
      limits.collect { case m: ReadMaxRows => m.maxRows() }.reduceOption(_ min _) match {
        case Some(max) =>
          val take = PumpMqttSource.fairShare(pending, max)
          TopicOffsets(start ++ end.keys.map(t => t -> (start.getOrElse(t, 0L) + take.getOrElse(t, 0L))),
            broker.incarnation)
        case None => TopicOffsets(end, broker.incarnation)
      }
    }
  }

  override def deserializeOffset(json: String): Offset = TopicOffsets.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val endOffsets = end.asInstanceOf[TopicOffsets]
    val e = if (isLive(endOffsets)) endOffsets.counts else Map.empty[String, Long]
    val s = startOf(start.asInstanceOf[TopicOffsets], e.keys)
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

  override def commit(end: Offset): Unit = {
    val o = end.asInstanceOf[TopicOffsets]
    if (isLive(o)) reader.commit(o.counts)
  }
  override def stop(): Unit = { reader.close(); subscription.foreach(_.close()) }
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
