package graft.sources

import java.util.concurrent.ConcurrentHashMap
import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.jdk.CollectionConverters._

final case class BrokerMessage(topic: String, payload: Array[Byte], receivedTimeMicros: Long)

/** A message log addressed by MONOTONIC ABSOLUTE offsets (total messages
  * ever appended) that physically holds only the suffix not yet trimmed:
  * one topic of a [[MemoryBroker]]. `trimTo(n)` drops the prefix below
  * absolute offset `n`, so memory is bounded by what readers have not
  * committed, not by stream lifetime.
  */
private[sources] final class DeliveryBuffer {
  private val buf = new mutable.ArrayBuffer[BrokerMessage]()
  private var base = 0L

  def append(m: BrokerMessage): Unit = synchronized { buf += m }
  def start: Long = synchronized(base)
  def end: Long = synchronized(base + buf.length)

  /** Messages [s, e), clamped to the end. Offsets below the retained start
    * were trimmed, so asking for them is an error, never a silently
    * shorter batch. No Long offset is narrowed to Int before the clamp.
    */
  def slice(s: Long, e: Long): Array[BrokerMessage] = synchronized {
    if (s < base) throw new IllegalStateException(
      s"offset $s lies below the retained start $base: every registered reader had committed past it")
    val lo = math.min(s - base, buf.length.toLong)
    val hi = math.max(lo, math.min(buf.length.toLong, e - base))
    buf.slice(lo.toInt, hi.toInt).toArray
  }

  /** Drop the prefix below absolute offset `n` (a stale `n` never un-trims). */
  def trimTo(n: Long): Unit = synchronized {
    val drop = math.min(math.max(0L, n - base), buf.length.toLong).toInt
    if (drop > 0) { buf.remove(0, drop); base += drop }
  }
}

/** In-process topic log, keyed by a broker name so concurrent queries
  * don't share state: [[MqttBridge]] appends, the `pump-mqtt` source reads
  * and re-reads exactly (SURVEY §4.2). Resolved per JVM (`local[n]`).
  *
  * Offsets are absolute; the retained suffix lies above the slowest
  * registered reader's commit. Each [[MemoryBroker.Reader]] (one per
  * streaming query source) pins every topic its filters match at the end
  * it last committed — at offset 0 until its first commit — and each
  * topic is trimmed to the minimum pin over the readers that match it.
  * Spark never asks a source again for offsets at or below a committed
  * end (`SparkDataStream.commit`), and a crash-replayed batch starts at
  * the previous batch's end, which stays retained. A topic no reader
  * matches is kept whole for the reader that may come. A query stopped
  * and restarted on the same broker resumes only if no other reader
  * committed past its checkpoint in between; otherwise its first read
  * throws rather than skip messages.
  */
class MemoryBroker {
  /** Offsets count from 0 in every incarnation, so an offset means
    * something only against the one it was read from.
    */
  val incarnation: String = java.util.UUID.randomUUID().toString

  private val logs = new ConcurrentHashMap[String, DeliveryBuffer]()
  private val readers = mutable.Set[MemoryBroker.Reader]() // guarded by itself

  def publish(topic: String, payload: Array[Byte],
              receivedTimeMicros: Long = System.currentTimeMillis() * 1000L): Unit =
    logs.computeIfAbsent(topic, _ => new DeliveryBuffer)
      .append(BrokerMessage(topic, payload, receivedTimeMicros))

  def endOffset(topic: String): Long = {
    val log = logs.get(topic)
    if (log == null) 0L else log.end
  }

  /** The first offset still held for a topic (0 until it is trimmed). */
  def startOffset(topic: String): Long = {
    val log = logs.get(topic)
    if (log == null) 0L else log.start
  }

  /** Messages [from, until); throws when `from` lies below the retained start. */
  def read(topic: String, from: Long, until: Long): Seq[BrokerMessage] = {
    val log = logs.get(topic)
    if (log == null) Seq.empty
    else ArraySeq.unsafeWrapArray(log.slice(from, until))
  }

  def topics: Seq[String] = logs.keys().asScala.toSeq

  /** Resolve a subscription filter to concrete topic logs: MQTT wildcard
    * filters (`+` single-level, `#` tail — the reference's non-grouped
    * `root/prefix/#` mode, `mqtt.go:73-77`) match against the current
    * topic set via the same matcher the network broker path uses
    * ([[graft.sources.mqtt.MqttCodec.topicMatches]]); a literal filter is
    * itself. Sorted for deterministic partition planning.
    */
  def expand(filter: String): Seq[String] =
    if (filter.contains('#') || filter.contains('+'))
      topics.filter(t => graft.sources.mqtt.MqttCodec.topicMatches(filter, t)).sorted
    else Seq(filter)

  /** Register a reader of the topics `filters` match. It pins them at
    * offset 0 until its first [[MemoryBroker.Reader.commit]].
    */
  def register(filters: Seq[String]): MemoryBroker.Reader = readers.synchronized {
    val r = new MemoryBroker.Reader(this, filters)
    readers += r
    r
  }

  private def commit(r: MemoryBroker.Reader, ends: Map[String, Long]): Unit =
    readers.synchronized { r.committed = ends; trim(ends.keys) }

  private def unregister(r: MemoryBroker.Reader): Unit = readers.synchronized {
    if (readers.remove(r)) trim(topics.filter(r.reads))
  }

  private def trim(ts: Iterable[String]): Unit = ts.foreach { t =>
    val pins = readers.iterator.filter(_.reads(t)).map(_.committed.getOrElse(t, 0L))
    val log = logs.get(t)
    if (log != null && pins.hasNext) log.trimTo(pins.min)
  }
}

/** Named-broker registry so executors (same JVM in local mode) and the
  * driver resolve the same instance via a string option.
  */
object MemoryBroker {
  private val brokers = new ConcurrentHashMap[String, MemoryBroker]()
  def get(name: String): MemoryBroker =
    brokers.computeIfAbsent(name, _ => new MemoryBroker)

  /** Drop `name` from the registry, so its logs are freed once the last
    * query holding the instance is gone. A later `get` starts empty.
    */
  def release(name: String): Unit = brokers.remove(name)

  /** One streaming source's registration with a [[MemoryBroker]]. */
  final class Reader private[MemoryBroker] (broker: MemoryBroker, filters: Seq[String]) {
    // the ends of the last commit; guarded by the broker's reader set
    private[MemoryBroker] var committed = Map.empty[String, Long]
    private[MemoryBroker] def reads(topic: String): Boolean =
      filters.exists(f => graft.sources.mqtt.MqttCodec.topicMatches(f, topic))

    /** Offsets below `ends` will not be asked for again by this reader. */
    def commit(ends: Map[String, Long]): Unit = broker.commit(this, ends)
    /** Stop pinning: the reader is gone. */
    def close(): Unit = broker.unregister(this)
  }
}
