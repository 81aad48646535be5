package graft.sources

import java.util.concurrent.ConcurrentHashMap
import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** S1's transport seam. The reference subscribes to an MQTT broker
  * (`/root/reference/mqtt.go:69-89`); the Spark source below reads through
  * this trait so the same `MicroBatchStream` serves (a) the in-process
  * [[MemoryBroker]] used by tests/local mode and (b) a real network MQTT
  * client in production (paho or a raw-TCP MQTT 3.1.1 client — a network
  * dependency deliberately kept out of the oracle path, SURVEY §4.3).
  *
  * Contract: per topic, a log addressed by absolute offsets (the count of
  * messages published before it); the retained suffix lies above the
  * slowest registered reader's commit. Exact re-reads of everything a
  * reader has not committed are what make the Spark source *replayable*
  * (checkpointed offsets + re-read = at-least-once delivery; combined
  * with the pump's per-batchId idempotent sink writes it is effectively
  * exactly-once end to end — a documented improvement over the
  * reference's QoS-0 at-most-once, SURVEY §4.2).
  */
trait MessageBroker {
  /** Current end offset (count of messages ever published) for a topic. */
  def endOffset(topic: String): Long
  /** Read messages [from, until) for a topic. */
  def read(topic: String, from: Long, until: Long): Seq[BrokerMessage]
}

final case class BrokerMessage(topic: String, payload: Array[Byte], receivedTimeMicros: Long)

/** A message log addressed by MONOTONIC ABSOLUTE offsets (total messages
  * ever appended) that physically holds only the suffix not yet trimmed:
  * [[MemoryBroker]]'s per-topic log and the driver-side delivery buffer
  * of [[MqttDirectMicroBatchStream]].
  *
  *  - `trimTo(n)` drops the prefix below absolute offset `n`, so memory is
  *    bounded by what readers have not committed, not by stream lifetime;
  *  - `rebaseTo(restored)` maps a checkpointed offset from a PREVIOUS
  *    process life onto this buffer: the pre-restart messages are gone —
  *    QoS 0 never re-sends — so the restored position becomes the new
  *    base and the replayed batch drains empty instead of silently
  *    re-labeling fresh messages as old ones. Messages the reconnected
  *    client buffered BEFORE the checkpoint was restored are fresh
  *    deliveries of this process life, so they are KEPT and relabeled to
  *    offsets >= restored — clearing them would lose data beyond what
  *    QoS-0 semantics already concede;
  *  - `slice` clamps to the held window (the direct source's QoS-0
  *    restart rule) and never narrows a Long offset to Int before the
  *    clamp; `exactSlice` refuses a start below the held window instead.
  */
private[sources] final class DeliveryBuffer {
  private val buf = new mutable.ArrayBuffer[BrokerMessage]()
  private var base = 0L

  def append(m: BrokerMessage): Unit = synchronized { buf += m }
  def start: Long = synchronized(base)
  def end: Long = synchronized(base + buf.length)

  /** Adopt a restored checkpoint offset that lies beyond anything this
    * instance has buffered (restart case). No-op during steady state.
    * Already-buffered messages are fresh deliveries of THIS process life
    * (the pre-restart ones are unrecoverable over QoS 0), so they stay
    * buffered and simply take offsets >= `n`; the replayed span
    * [start, n) still drains empty via the slice clamp.
    */
  def rebaseTo(n: Long): Unit = synchronized {
    if (n > base + buf.length) base = n
  }

  def slice(s: Long, e: Long): Array[BrokerMessage] = synchronized {
    val lo = math.min(math.max(0L, s - base), buf.length.toLong)
    val hi = math.max(lo, math.min(buf.length.toLong, e - base))
    buf.slice(lo.toInt, hi.toInt).toArray
  }

  /** `slice` for a reader promised exact replay: offsets below the
    * retained start were trimmed, so asking for them is an error, never
    * a silently shorter batch.
    */
  def exactSlice(s: Long, e: Long): Array[BrokerMessage] = synchronized {
    if (s < base) throw new IllegalStateException(
      s"offset $s lies below the retained start $base: every registered reader had committed past it")
    slice(s, e)
  }

  /** Drop the prefix below absolute offset `n` (a stale `n` never un-trims). */
  def trimTo(n: Long): Unit = synchronized {
    val drop = math.min(math.max(0L, n - base), buf.length.toLong).toInt
    if (drop > 0) { buf.remove(0, drop); base += drop }
  }
}

/** In-process topic log, keyed by a broker id so multiple concurrent
  * tests don't share state. Stands in for the MQTT broker the way
  * `MemoryStream` stands in for a socket.
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
    else ArraySeq.unsafeWrapArray(log.exactSlice(from, until))
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
object MemoryBroker extends MessageBroker {
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

  // MessageBroker over the default instance (single-broker convenience)
  override def endOffset(topic: String): Long = get("default").endOffset(topic)
  override def read(topic: String, from: Long, until: Long): Seq[BrokerMessage] =
    get("default").read(topic, from, until)
}
