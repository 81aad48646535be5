package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.engine.SourceMqtt
import graft.sources.mqtt.MqttClient

/** S1's network leg: an MQTT subscription feeding the replayable broker
  * log the `pump-mqtt` source reads.
  *
  * The reference's pipe architecture is mqtt-callback -> bounded channel ->
  * pipeline (`/root/reference/mqtt.go:117-126`, `pump_pipe.go:42-54`).
  * Here the callback appends into the [[MemoryBroker]]'s per-topic log,
  * which decouples network receipt from micro-batch planning like the
  * reference's channel and gives the source stable offsets to checkpoint:
  * the network leg is at-most-once (QoS 0, as shipped), everything
  * downstream of the log is exactly-once.
  */
object MqttBridge {

  /** A live subscription with the reference's auto-reconnect (paho's
    * `SetAutoReconnect(true)`, the reference's `mqtt.go:41`). The client
    * makes a dead link loud (reader and pinger close the socket on EOF,
    * reset or ping timeout); a supervisor polls for that every 200 ms,
    * reconnects with capped exponential backoff and re-subscribes (the
    * broker holds no session for a clean-session QoS-0 client). The log
    * belongs to the broker, not the client, so offsets stay monotonic
    * across client lives; what was published while the link was down is
    * gone, as QoS 0 at-most-once accepts.
    *
    * Closing the bridge also releases its broker from the [[MemoryBroker]]
    * registry: the bridge is the broker's writer, so once it and the
    * queries reading the broker have stopped, nothing of the run stays
    * reachable.
    */
  final class Bridge private[MqttBridge] (connect: () => MqttClient, brokerName: String,
                                          reconnectDelayMs: Long) extends AutoCloseable {
    @volatile private var stopped = false
    // the initial connect fails fast: a bad host, port or credential is a
    // configuration error, not an outage to retry through
    @volatile private var client = connect()

    private val supervisor = new Thread(() => {
      try {
        var delay = reconnectDelayMs
        while (!stopped) {
          Thread.sleep(200L)
          if (!stopped && client.isClosed) {
            try {
              val c = connect()
              // close() may have raced the (uninterruptible socket I/O)
              // connect: a client adopted after close would leak forever
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
      } catch { case _: InterruptedException => /* closing */ }
    }, s"mqtt-reconnect-$brokerName")
    supervisor.setDaemon(true)
    supervisor.start()

    override def close(): Unit = {
      stopped = true
      supervisor.interrupt()
      // wait out a connect already past the stopped check (bounded by the
      // client's own 10 s CONNACK/SUBACK awaits) so the close below sees
      // the final client; re-assert the caller's interrupt if the join is
      // cut short
      try supervisor.join(15000)
      catch { case _: InterruptedException => Thread.currentThread().interrupt() }
      client.close()
      MemoryBroker.release(brokerName)
    }
  }

  /** Subscribe `topics` at `host:port` and append deliveries into
    * `MemoryBroker.get(brokerName)` stamped with receive time
    * (`mqtt.go:123` time.Now().Unix()). Credentials and session settings
    * mirror the reference's client options (`mqtt.go:41-52`).
    */
  def start(host: String, port: Int, topics: Seq[String], brokerName: String,
            clientId: String = s"graft-pump-${System.nanoTime()}",
            username: String = "", password: String = "",
            cleanSession: Boolean = true, keepAliveSecs: Int = 60,
            pingTimeoutSecs: Int = 10, scheme: String = "tcp",
            sslTrustStore: Option[(String, String)] = None,
            qos: Int = 0, reconnectDelayMs: Long = 500L): Bridge = {
    val log = MemoryBroker.get(brokerName)
    def connect(): MqttClient = {
      val c = new MqttClient(host, port, clientId,
        onMessage = (topic, payload) =>
          log.publish(topic, payload, System.currentTimeMillis() * 1000L),
        username = username, password = password, cleanSession = cleanSession,
        keepAliveSecs = keepAliveSecs, pingTimeoutSecs = pingTimeoutSecs,
        scheme = scheme, sslTrustStore = sslTrustStore)
      // a broker that CONNACKs but never SUBACKs must not leak the
      // connected client (socket, reader, pinger) per retry
      try { c.subscribe(topics, qos); c }
      catch { case e: Throwable => try c.close() catch { case _: Throwable => }; throw e }
    }
    try new Bridge(() => connect(), brokerName, reconnectDelayMs)
    catch { case e: Throwable => MemoryBroker.release(brokerName); throw e }
  }

  /** [[start]] from `mqtt-direct`'s options: `host`, `port`, `scheme`
    * (`tcp` or `ssl`), `username`, `password`, `ssltruststore` and
    * `ssltruststorepassword`, `keepalive` and `pingtimeout` (seconds),
    * `cleansession`, `qos` and `reconnectdelayms`.
    */
  def start(options: CaseInsensitiveStringMap, topics: Seq[String], brokerName: String): Bridge =
    start(options.getOrDefault("host", "127.0.0.1"), options.getOrDefault("port", "1883").toInt,
      topics, brokerName,
      username = options.getOrDefault("username", ""),
      password = options.getOrDefault("password", ""),
      cleanSession = options.getOrDefault("cleansession", "true").toBoolean,
      keepAliveSecs = options.getOrDefault("keepalive", "60").toInt,
      pingTimeoutSecs = options.getOrDefault("pingtimeout", "10").toInt,
      scheme = options.getOrDefault("scheme", "tcp"),
      sslTrustStore = Option(options.get("ssltruststore")).map(p =>
        (p, options.getOrDefault("ssltruststorepassword", ""))),
      qos = options.getOrDefault("qos", "0").toInt,
      reconnectDelayMs = options.getOrDefault("reconnectdelayms", "500").toLong)

  /** The INI's `[source-mqtt]` section as `mqtt-direct` options, so
    * `graft.Main run` and the `mqtt-direct` source connect alike.
    */
  def options(src: SourceMqtt): CaseInsensitiveStringMap = {
    val uri = new java.net.URI(src.server)
    new CaseInsensitiveStringMap(Map(
      "scheme" -> uri.getScheme, "host" -> uri.getHost, "port" -> uri.getPort.toString,
      "username" -> src.username, "password" -> src.password,
      "cleansession" -> src.cleanSession.toString, "keepalive" -> src.keepAliveSecs.toString,
      "pingtimeout" -> src.pingTimeoutSecs.toString, "qos" -> src.qos.toString).asJava)
  }
}
