package graft.sources

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.sources.mqtt.{MqttClient, MqttMiniServer}
import org.apache.spark.sql.streaming.Trigger

/** `mqtt-direct` (`pump-mqtt` over a private bridge) end-to-end against
  * the mini MQTT server: live subscribe, micro-batch drains, per-topic
  * partitions, auto-reconnect, TLS, and a clean stop.
  */
class MqttDirectSpec extends SparkSpec {

  test("mqtt-direct streams live broker traffic into micro-batches") {
    val server = new MqttMiniServer()
    try {
      val df = spark.readStream.format("mqtt-direct")
        .option("host", "127.0.0.1")
        .option("port", server.port.toString)
        .option("topics", "pump/data/0,pump/data/1")
        .load()
      val q = df.writeStream.format("memory").queryName("direct_sink")
        .trigger(Trigger.ProcessingTime("250 milliseconds")).start()
      try {
        // QoS 0 has no retained messages: wait until the stream has run a
        // batch (subscription provably live) before publishing
        val initDeadline = System.currentTimeMillis() + 60000
        while (q.lastProgress == null && System.currentTimeMillis() < initDeadline)
          Thread.sleep(100)
        assert(q.lastProgress != null, "stream never initialized")
        val pub = new MqttClient("127.0.0.1", server.port, "direct-pub")
        (0 until 12).foreach { i =>
          pub.publish(s"pump/data/${i % 2}", s"m$i".getBytes(StandardCharsets.UTF_8))
        }
        pub.close()
        val deadline = System.currentTimeMillis() + 60000
        def count() = spark.sql("SELECT count(*) FROM direct_sink").head().getLong(0)
        while (count() < 12 && System.currentTimeMillis() < deadline) Thread.sleep(200)
        assert(count() === 12)
        val rows = spark.sql("SELECT topic, CAST(payload AS STRING) FROM direct_sink")
          .collect().map(r => (r.getString(0), r.getString(1)))
        assert(rows.map(_._1).toSet === Set("pump/data/0", "pump/data/1"))
        assert(rows.map(_._2).toSet === (0 until 12).map(i => s"m$i").toSet)
      } finally q.stop()
    } finally server.close()
  }

  test("auto-reconnect: broker dies mid-stream, restarts on the same " +
    "port, delivery resumes through the same offsets") {
    var server = new MqttMiniServer()
    val port = server.port
    try {
      val df = spark.readStream.format("mqtt-direct")
        .option("host", "127.0.0.1")
        .option("port", port.toString)
        .option("topics", "pump/data/0")
        .option("keepalive", "2") // fast ping cadence: dead links surface quickly
        .option("pingtimeout", "1")
        .option("reconnectdelayms", "100")
        .load()
      val q = df.writeStream.format("memory").queryName("reconnect_sink")
        .trigger(Trigger.ProcessingTime("250 milliseconds")).start()
      try {
        val initDeadline = System.currentTimeMillis() + 60000
        while (q.lastProgress == null && System.currentTimeMillis() < initDeadline)
          Thread.sleep(100)
        assert(q.lastProgress != null, "stream never initialized")
        def count() =
          spark.sql("SELECT count(*) FROM reconnect_sink").head().getLong(0)
        // phase 1: delivery over the first broker life
        val pub1 = new MqttClient("127.0.0.1", port, "reconnect-pub1")
        pub1.publish("pump/data/0", "before".getBytes(StandardCharsets.UTF_8))
        pub1.close()
        val d1 = System.currentTimeMillis() + 60000
        while (count() < 1 && System.currentTimeMillis() < d1) Thread.sleep(200)
        assert(count() === 1, "first-life delivery never arrived")
        // phase 2: kill the broker — the subscriber's link drops (EOF)
        server.close()
        Thread.sleep(500)
        // phase 3: restart on the SAME port (retry through TIME_WAIT)
        val bindDeadline = System.currentTimeMillis() + 30000
        var restarted: MqttMiniServer = null
        while (restarted == null && System.currentTimeMillis() < bindDeadline) {
          try restarted = new MqttMiniServer(port)
          catch { case _: java.net.BindException => Thread.sleep(250) }
        }
        assert(restarted != null, s"could not rebind port $port")
        server = restarted
        // phase 4: QoS 0 keeps nothing, so publish probes until one lands
        // through the re-subscribed client
        val d2 = System.currentTimeMillis() + 60000
        var i = 0
        while (count() < 2 && System.currentTimeMillis() < d2) {
          try {
            val p = new MqttClient("127.0.0.1", port, s"reconnect-probe$i")
            p.publish("pump/data/0", s"after$i".getBytes(StandardCharsets.UTF_8))
            p.close()
          } catch { case _: Throwable => /* broker still settling */ }
          i += 1
          Thread.sleep(300)
        }
        assert(count() >= 2, "delivery never resumed after broker restart")
        val rows = spark.sql(
            "SELECT CAST(payload AS STRING) FROM reconnect_sink")
          .collect().map(_.getString(0))
        assert(rows.contains("before"))
        assert(rows.exists(_.startsWith("after")))
      } finally q.stop()
    } finally server.close()
  }

  test("broker auth: wrong credentials refused with CONNACK rc=4, right ones accepted") {
    val server = new MqttMiniServer(auth = Some(("pump", "secret")))
    try {
      // missing credentials
      val e1 = intercept[IllegalArgumentException] {
        new MqttClient("127.0.0.1", server.port, "anon")
      }
      assert(e1.getMessage.contains("rc=4"))
      // wrong password
      val e2 = intercept[IllegalArgumentException] {
        new MqttClient("127.0.0.1", server.port, "bad",
          username = "pump", password = "nope")
      }
      assert(e2.getMessage.contains("rc=4"))
      // correct credentials: full pub/sub roundtrip
      val got = new java.util.concurrent.LinkedBlockingQueue[String]()
      val sub = new MqttClient("127.0.0.1", server.port, "authed-sub",
        onMessage = (_, p) => got.put(new String(p, StandardCharsets.UTF_8)),
        username = "pump", password = "secret")
      sub.subscribe(Seq("pump/data/0"))
      val pub = new MqttClient("127.0.0.1", server.port, "authed-pub",
        username = "pump", password = "secret")
      pub.publish("pump/data/0", "hello".getBytes(StandardCharsets.UTF_8))
      assert(got.poll(10, java.util.concurrent.TimeUnit.SECONDS) === "hello")
      pub.close(); sub.close()
    } finally server.close()
  }

  test("QoS 1 publish blocks on PUBACK and deliveries are acked end-to-end") {
    val server = new MqttMiniServer()
    try {
      val got = new java.util.concurrent.LinkedBlockingQueue[String]()
      val sub = new MqttClient("127.0.0.1", server.port, "qos1-sub",
        onMessage = (_, p) => got.put(new String(p, StandardCharsets.UTF_8)))
      sub.subscribe(Seq("pump/data/+"), qos = 1)
      val pub = new MqttClient("127.0.0.1", server.port, "qos1-pub")
      // publish() at QoS 1 returns only after the broker's PUBACK — if
      // the ack path were broken this would throw after the DUP retry
      (0 until 5).foreach { i =>
        pub.publish("pump/data/7", s"q$i".getBytes(StandardCharsets.UTF_8), qos = 1)
      }
      val seen = (0 until 5).map(_ =>
        got.poll(10, java.util.concurrent.TimeUnit.SECONDS)).toSet
      assert(seen === (0 until 5).map(i => s"q$i").toSet)
      // a QoS-0 publish to a QoS-1 subscription downgrades, still delivers
      pub.publish("pump/data/7", "zero".getBytes(StandardCharsets.UTF_8))
      assert(got.poll(10, java.util.concurrent.TimeUnit.SECONDS) === "zero")
      pub.close(); sub.close()
    } finally server.close()
  }

  test("ssl:// end-to-end: TLS mini-server, TLS publisher, TLS DSv2 " +
    "source — scheme parity with the reference's free-form broker " +
    "scheme (conf.go:26-27)") {
    // throwaway PKI via the JDK's keytool (graft.TlsTestPki — no binary
    // blobs in the repo)
    val pki = graft.TlsTestPki.create()
    val truststore = pki.truststore
    val pw = pki.password

    val server = new MqttMiniServer(
      serverSocketFactory = Some(pki.serverSocketFactory))
    try {
      val df = spark.readStream.format("mqtt-direct")
        .option("host", "127.0.0.1")
        .option("port", server.port.toString)
        .option("scheme", "ssl")
        .option("ssltruststore", truststore)
        .option("ssltruststorepassword", pw)
        .option("topics", "pump/data/0")
        .load()
      val q = df.writeStream.format("memory").queryName("direct_ssl_sink")
        .trigger(Trigger.ProcessingTime("250 milliseconds")).start()
      try {
        val initDeadline = System.currentTimeMillis() + 60000
        while (q.lastProgress == null && System.currentTimeMillis() < initDeadline)
          Thread.sleep(100)
        assert(q.lastProgress != null, "stream never initialized")
        val pub = new MqttClient("127.0.0.1", server.port, "ssl-pub",
          scheme = "ssl", sslTrustStore = Some((truststore, pw)))
        (0 until 6).foreach { i =>
          pub.publish("pump/data/0", s"s$i".getBytes(StandardCharsets.UTF_8))
        }
        pub.close()
        val deadline = System.currentTimeMillis() + 60000
        def count() = spark.sql("SELECT count(*) FROM direct_ssl_sink")
          .head().getLong(0)
        while (count() < 6 && System.currentTimeMillis() < deadline)
          Thread.sleep(200)
        assert(count() === 6)
        assert(spark.sql(
          "SELECT CAST(payload AS STRING) FROM direct_ssl_sink")
          .collect().map(_.getString(0)).toSet ===
          (0 until 6).map(i => s"s$i").toSet)
      } finally q.stop()
      // a plain-tcp client against the TLS listener must fail loudly,
      // not hang: the handshake-or-CONNACK guard turns it into a
      // constructor failure
      intercept[Throwable] {
        new MqttClient("127.0.0.1", server.port, "plain-against-tls")
      }
    } finally server.close()
  }

  test("ssl:// endpoint identification: a trusted certificate for the " +
    "WRONG host is refused at handshake (the Go tls.Dial default — " +
    "chain validation alone would accept any trusted cert, MITM-style)") {
    // validly signed and in the client's trust store, but its SAN names
    // a different host than the one we connect to
    val pki = graft.TlsTestPki.create(san = "dns:broker.elsewhere.example")
    val ss = pki.serverSocketFactory.createServerSocket(0)
    val accepter = new Thread(() => try {
      val s = ss.accept() // handshake fails client-side; just hold the socket
      try s.getInputStream.read() catch { case _: Throwable => }
      s.close()
    } catch { case _: Throwable => })
    accepter.setDaemon(true); accepter.start()
    try {
      val e = intercept[javax.net.ssl.SSLHandshakeException] {
        graft.sources.mqtt.MqttTransport.connect("ssl", "127.0.0.1",
          ss.getLocalPort, Some((pki.truststore, pki.password)))
      }
      // JSSE's identity-check failure, not a chain failure
      assert(e.getMessage.contains("subject alternative names") ||
        e.getMessage.contains("No name matching") ||
        e.getMessage.contains("identification"))
    } finally ss.close()
  }

  test("a stopped mqtt-direct query leaves no connection or reconnect thread alive") {
    def live(): Set[Thread] = Thread.getAllStackTraces.keySet.asScala.toSet.filter(t =>
      t.isAlive && Seq("mqtt-conn-", "mqtt-reconnect-").exists(t.getName.startsWith))
    val server = new MqttMiniServer()
    try {
      val before = live()
      val q = spark.readStream.format("mqtt-direct")
        .option("host", "127.0.0.1")
        .option("port", server.port.toString)
        .option("topics", "pump/data/0")
        .load()
        .writeStream.format("memory").queryName("direct_threads_sink")
        .trigger(Trigger.ProcessingTime("250 milliseconds")).start()
      try {
        val initDeadline = System.currentTimeMillis() + 30000
        while (q.lastProgress == null && System.currentTimeMillis() < initDeadline)
          Thread.sleep(100)
        assert(q.lastProgress != null, "stream never initialized")
        assert((live() -- before).size === 2) // the broker's connection and the supervisor
      } finally q.stop()
      // the server stays up: a thread it still runs is a connection the
      // stopped query left open
      val deadline = System.currentTimeMillis() + 3000
      while ((live() -- before).nonEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert((live() -- before).map(_.getName) === Set.empty[String])
    } finally server.close()
  }
}
