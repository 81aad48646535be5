package graft.sources

import java.nio.charset.StandardCharsets

import graft.SparkSpec
import graft.engine.PumpConfig
import graft.sources.mqtt.{MqttClient, MqttCodec, MqttMiniServer}
import graft.streaming.Pump
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** S1 over a real socket: mini broker <- client publish, bridge subscribe
  * -> broker log -> DataSourceV2 -> dual-sink pump.
  */
class MqttSpec extends SparkSpec {

  test("topic filter matching: exact, +, #") {
    import MqttCodec.topicMatches
    assert(topicMatches("pump/data/0", "pump/data/0"))
    assert(!topicMatches("pump/data/0", "pump/data/1"))
    assert(topicMatches("pump/data/#", "pump/data/0"))
    assert(topicMatches("pump/data/#", "pump/data/0/extra"))
    assert(topicMatches("pump/+/0", "pump/data/0"))
    assert(!topicMatches("pump/+", "pump/data/0"))
    assert(!topicMatches("pump/data/+", "pump/data"))
  }

  test("CONNECT carries the configured clean-session flag and keepalive") {
    // cleansession=false, keepalive=300 (the reference example INI's
    // source section) — flags byte bit 1 clear, 16-bit keepalive field
    val p = MqttCodec.connectPacket("c1", cleanSession = false,
      keepAliveSecs = 300)
    // variable header: "MQTT"(6 bytes utf8) + level + flags + keepalive
    val flags = p(7) & 0xff
    assert((flags & 0x02) === 0, "clean-session bit must be CLEAR")
    assert((((p(8) & 0xff) << 8) | (p(9) & 0xff)) === 300)
    val d = MqttCodec.connectPacket("c1") // defaults: clean, 60 s
    assert((d(7) & 0x02) === 0x02)
    assert((((d(8) & 0xff) << 8) | (d(9) & 0xff)) === 60)
    // a session-resuming client against the mini broker still connects
    val server = new MqttMiniServer()
    try {
      val c = new MqttClient("127.0.0.1", server.port, "resume",
        cleanSession = false, keepAliveSecs = 300, pingTimeoutSecs = 1)
      c.publish("t", "x".getBytes(StandardCharsets.UTF_8))
      c.close()
    } finally server.close()
    intercept[IllegalArgumentException] {
      new MqttClient("127.0.0.1", 1, "bad", keepAliveSecs = 1)
    }
  }

  test("client/server round-trip: connect, subscribe, publish, receive") {
    val server = new MqttMiniServer()
    try {
      val received = new java.util.concurrent.LinkedBlockingQueue[(String, String)]()
      val sub = new MqttClient("127.0.0.1", server.port, "sub",
        (t, p) => received.put((t, new String(p, StandardCharsets.UTF_8))))
      sub.subscribe(Seq("pump/data/#"))
      val pub = new MqttClient("127.0.0.1", server.port, "pub")
      pub.publish("pump/data/3", "hello".getBytes(StandardCharsets.UTF_8))
      pub.publish("other/topic", "nope".getBytes(StandardCharsets.UTF_8))
      pub.publish("pump/data/1", "world".getBytes(StandardCharsets.UTF_8))
      val a = received.poll(10, java.util.concurrent.TimeUnit.SECONDS)
      val b = received.poll(10, java.util.concurrent.TimeUnit.SECONDS)
      assert(Set(a, b) === Set(("pump/data/3", "hello"), ("pump/data/1", "world")))
      assert(received.poll(300, java.util.concurrent.TimeUnit.MILLISECONDS) == null)
      sub.close(); pub.close()
    } finally server.close()
  }

  test("network e2e: socket publish -> bridge -> pump dual sink") {
    val server = new MqttMiniServer()
    val brokerName = "mqtt-e2e"
    try {
      val cfg = PumpConfig()
      val bridge = MqttBridge.start("127.0.0.1", server.port, cfg.sourceTopics, brokerName)
      val pub = new MqttClient("127.0.0.1", server.port, "producer")
      (0 until 12).foreach { i =>
        pub.publish(cfg.sourceTopics(i % cfg.sourceTopics.size),
          PumpConfig.GoldenSample.getBytes(StandardCharsets.UTF_8))
      }
      // QoS-0 delivery is async; wait for the bridge log to fill
      val deadline = System.currentTimeMillis() + 10000
      def total = cfg.sourceTopics.map(MemoryBroker.get(brokerName).endOffset).sum
      while (total < 12 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(total === 12)

      val out = tmpDir("mqtt-e2e")
      val sinks = Pump.Sinks(s"$out/raw", s"$out/adapter", s"$out/ckpt")
      Pump.start(spark, cfg, sinks, brokerName, Trigger.AvailableNow())
        .awaitTermination(120000)
      assert(spark.read.parquet(sinks.rawPath).count() === 12)
      assert(spark.read.parquet(sinks.adapterPath).count() === 24)
      bridge.close(); pub.close()
      // closing the bridge dropped the broker it fed from the registry,
      // so the name now resolves to a fresh, empty one
      assert(total === 0)
      MemoryBroker.release(brokerName)
    } finally server.close()
  }
}
