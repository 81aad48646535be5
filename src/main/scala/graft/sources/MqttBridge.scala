package graft.sources

import graft.sources.mqtt.MqttClient

/** S1's production wiring: a network MQTT subscription feeding the
  * replayable broker log the Spark source reads.
  *
  * The reference's pipe architecture is mqtt-callback -> bounded channel ->
  * pipeline (`/root/reference/mqtt.go:117-126`, `pump_pipe.go:42-54`).
  * Here the callback appends into the [[MemoryBroker]]'s per-topic log
  * (absolute offsets; the retained suffix lies above the slowest
  * registered reader's commit), which (a) decouples network receipt from
  * micro-batch planning exactly like the reference's channel, and (b)
  * gives the DataSourceV2 source stable offsets to checkpoint against —
  * the network leg is at-most-once (QoS 0, as shipped), everything
  * downstream of the log is exactly-once.
  *
  * One bridge per topic group preserves S2's per-pipe parallelism.
  */
object MqttBridge {

  /** Closing the bridge also releases its broker from the
    * [[MemoryBroker]] registry: the bridge is the broker's writer, so
    * once it and the queries reading the broker have stopped, nothing of
    * the run stays reachable.
    */
  final class Bridge private[MqttBridge] (client: MqttClient, brokerName: String)
      extends AutoCloseable {
    override def close(): Unit = {
      client.close()
      MemoryBroker.release(brokerName)
    }
  }

  /** Subscribe `topics` at `host:port` and append deliveries into
    * `MemoryBroker.get(brokerName)` stamped with receive time
    * (`mqtt.go:123` time.Now().Unix()). Credentials mirror the
    * reference's broker options (`mqtt.go:46-52`).
    */
  def start(host: String, port: Int, topics: Seq[String], brokerName: String,
            clientId: String = s"graft-pump-${System.nanoTime()}",
            username: String = "", password: String = "",
            cleanSession: Boolean = true, keepAliveSecs: Int = 60,
            pingTimeoutSecs: Int = 10, scheme: String = "tcp",
            sslTrustStore: Option[(String, String)] = None): Bridge = {
    val log = MemoryBroker.get(brokerName)
    val client = new MqttClient(host, port, clientId,
      onMessage = (topic, payload) =>
        log.publish(topic, payload, System.currentTimeMillis() * 1000L),
      username = username, password = password, cleanSession = cleanSession,
      keepAliveSecs = keepAliveSecs, pingTimeoutSecs = pingTimeoutSecs,
      scheme = scheme, sslTrustStore = sslTrustStore)
    client.subscribe(topics)
    new Bridge(client, brokerName)
  }
}
