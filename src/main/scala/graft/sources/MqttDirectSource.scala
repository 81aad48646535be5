package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.mqtt.MqttClient

/** S1 alternate path — a DataSourceV2 streaming source that subscribes to
  * a LIVE `tcp://` MQTT broker directly (no bridge, no log): the driver
  * holds the QoS-0 subscription (exactly the reference's network
  * position, `/root/reference/mqtt.go:69-126`), buffers deliveries, and
  * each micro-batch drains a buffered slice to the executors.
  *
  * Delivery semantics are the REFERENCE'S OWN: QoS 0, at-most-once —
  * a restart cannot replay what the wire never re-sends (same contract
  * as Spark's built-in socket source, and why this source reports
  * at-most-once rather than pretending otherwise). For durable,
  * exactly-once ingestion, run [[MqttBridge]] into the broker log and
  * read with `pump-mqtt` — the bridge is the production path; this
  * source is the zero-infrastructure one.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("mqtt-direct")
  *     .option("host", "127.0.0.1").option("port", "1883")
  *     .option("topics", "pump/data/0,pump/data/1")
  *     .load()
  * }}}
  * Schema matches `pump-mqtt`: topic string, payload binary,
  * received_time timestamp (stamped on delivery, like the reference).
  */
class MqttDirectProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "mqtt-direct"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PumpMqttSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new MqttDirectTable(new CaseInsensitiveStringMap(properties))
}

class MqttDirectTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String =
    s"mqtt-direct(${options.get("host")}:${options.get("port")})"
  override def schema(): StructType = PumpMqttSource.Schema
  override def capabilities(): util.Set[TableCapability] = {
    val s = new util.HashSet[TableCapability]()
    s.add(TableCapability.MICRO_BATCH_READ); s
  }
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    () => new MqttDirectScan(
      options.getOrDefault("host", "127.0.0.1"),
      options.getOrDefault("port", "1883").toInt,
      PumpMqttSource.topicsOf(options),
      options.getOrDefault("username", ""),
      options.getOrDefault("password", ""),
      options.getOrDefault("qos", "0").toInt,
      options.getOrDefault("cleansession", "true").toBoolean,
      options.getOrDefault("keepalive", "60").toInt,
      options.getOrDefault("pingtimeout", "10").toInt,
      options.getOrDefault("autoreconnect", "true").toBoolean,
      options.getOrDefault("reconnectdelayms", "500").toLong,
      options.getOrDefault("scheme", "tcp"),
      Option(options.get("ssltruststore")).map(p =>
        (p, options.getOrDefault("ssltruststorepassword", ""))))
}

class MqttDirectScan(host: String, port: Int, topics: Seq[String],
                     username: String = "", password: String = "",
                     qos: Int = 0, cleanSession: Boolean = true,
                     keepAliveSecs: Int = 60,
                     pingTimeoutSecs: Int = 10,
                     autoReconnect: Boolean = true,
                     reconnectDelayMs: Long = 500L,
                     scheme: String = "tcp",
                     sslTrustStore: Option[(String, String)] = None) extends Scan {
  override def readSchema(): StructType = PumpMqttSource.Schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new MqttDirectMicroBatchStream(host, port, topics, username, password,
      qos, cleanSession, keepAliveSecs, pingTimeoutSecs, autoReconnect,
      reconnectDelayMs, scheme, sslTrustStore)
}

/** Count offset over the driver-side delivery buffer. */
case class CountOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

class MqttDirectMicroBatchStream(host: String, port: Int, topics: Seq[String],
                                 username: String = "", password: String = "",
                                 qos: Int = 0, cleanSession: Boolean = true,
                                 keepAliveSecs: Int = 60,
                                 pingTimeoutSecs: Int = 10,
                                 autoReconnect: Boolean = true,
                                 reconnectDelayMs: Long = 500L,
                                 scheme: String = "tcp",
                                 sslTrustStore: Option[(String, String)] = None)
    extends MicroBatchStream {

  // delivery buffer, appended by the client's reader thread, drained by
  // micro-batches, trimmed on commit; a restored offset rebases it
  private val buffer = new DeliveryBuffer
  @volatile private var stopped = false

  private def connect(): MqttClient = {
    val c = new MqttClient(host, port,
      s"graft-direct-${System.identityHashCode(this)}",
      onMessage = (topic, payload) =>
        buffer.append(BrokerMessage(topic, payload, System.currentTimeMillis() * 1000L)),
      username = username, password = password, cleanSession = cleanSession,
      keepAliveSecs = keepAliveSecs, pingTimeoutSecs = pingTimeoutSecs,
      scheme = scheme, sslTrustStore = sslTrustStore)
    // a broker that CONNACKs but never SUBACKs must not leak the
    // connected client (socket + reader + pinger) per retry — the
    // MqttClient constructor guards the CONNACK phase the same way
    try { c.subscribe(topics, qos); c }
    catch { case e: Throwable =>
      try c.close() catch { case _: Throwable => }
      throw e
    }
  }

  // the initial connect still fails FAST — a bad host/port/credential is
  // a configuration error, not an outage to retry through
  @volatile private var client = connect()

  // Auto-reconnect, the reference's paho SetAutoReconnect(true)
  // (`/root/reference/mqtt.go:41`): the client makes a dead link LOUD
  // (reader/pinger close the socket on EOF, reset, or ping timeout) and
  // this supervisor is the policy acting on it — reconnect with capped
  // exponential backoff, then RE-SUBSCRIBE (the broker holds no session
  // for us: cleansession QoS-0 by default). The delivery buffer is owned
  // by the stream, not the client, so absolute offsets stay monotonic
  // across client lives and in-flight batches are untouched; messages
  // published while the link was down are gone — QoS-0 at-most-once,
  // exactly the semantics the reference accepts.
  private val supervisor = new Thread(() => {
    try {
      var delay = reconnectDelayMs
      while (!stopped) {
        Thread.sleep(200L)
        if (!stopped && client.isClosed) {
          try {
            val c = connect()
            // stop() may have raced the (uninterruptible-socket-I/O)
            // connect: a client adopted after stop would leak forever
            if (stopped) c.close()
            else { client = c; delay = reconnectDelayMs }
          } catch {
            case _: InterruptedException => throw new InterruptedException
            case _: Throwable =>
              Thread.sleep(delay)
              delay = math.min(delay * 2, reconnectDelayMs * 10)
          }
        }
      }
    } catch { case _: InterruptedException => /* stopping */ }
  }, s"mqtt-reconnect-${System.identityHashCode(this)}")
  if (autoReconnect) { supervisor.setDaemon(true); supervisor.start() }

  override def initialOffset(): Offset = CountOffset(0L)
  override def latestOffset(): Offset = CountOffset(buffer.end)
  override def deserializeOffset(json: String): Offset = {
    val n = json.toLong
    // a checkpointed offset ahead of everything we hold can only come
    // from a previous process life — rebase so fresh deliveries are not
    // mistaken for the (unrecoverable, QoS-0) pre-restart ones
    buffer.rebaseTo(n)
    CountOffset(n)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val slice = buffer.slice(
      start.asInstanceOf[CountOffset].n, end.asInstanceOf[CountOffset].n)
    // one partition per topic group — the reference's per-pipe shape (S2)
    slice.groupBy(_.topic).map { case (_, msgs) =>
      MqttDirectPartition(msgs): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new MqttDirectReaderFactory

  override def commit(end: Offset): Unit =
    buffer.trimTo(end.asInstanceOf[CountOffset].n)
  override def stop(): Unit = {
    stopped = true
    if (autoReconnect) {
      supervisor.interrupt()
      // wait out a connect already past the stopped check (bounded by
      // the client's own 10 s CONNACK/SUBACK awaits) so the close below
      // sees the final client reference; re-assert our own interrupt if
      // the join is cut short (the caller's shutdown signal must survive)
      try supervisor.join(15000)
      catch { case _: InterruptedException =>
        Thread.currentThread().interrupt()
      }
    }
    client.close()
  }
}

/** Rows ship inside the partition (driver-buffered source, like Spark's
  * own socket source).
  */
case class MqttDirectPartition(msgs: Array[BrokerMessage])
    extends InputPartition

class MqttDirectReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[MqttDirectPartition]
    new PartitionReader[InternalRow] {
      private val it = p.msgs.iterator
      private var cur: BrokerMessage = _
      override def next(): Boolean = { if (it.hasNext) { cur = it.next(); true } else false }
      override def get(): InternalRow =
        InternalRow(UTF8String.fromString(cur.topic), cur.payload, cur.receivedTimeMicros)
      override def close(): Unit = ()
    }
  }
}
