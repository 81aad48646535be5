package graft.sources

import java.io.{DataInputStream, DataOutputStream}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import graft.engine.SourceMqtt
import graft.sources.mqtt.MqttCodec._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

/** The bridge `graft.Main run` starts connects as the INI's
  * `[source-mqtt]` section says.
  */
class MqttBridgeSpec extends AnyFunSuite {

  test("[source-mqtt]'s ssl:// scheme and session settings reach the bridge's client") {
    val pki = graft.TlsTestPki.create()
    val listener = pki.serverSocketFactory.createServerSocket(0)
    // a one-connection TLS broker that records the CONNECT it is sent
    val connects = new LinkedBlockingQueue[Array[Byte]]()
    val broker = new Thread(() => try {
      val s = listener.accept()
      val in = new DataInputStream(s.getInputStream)
      val out = new DataOutputStream(s.getOutputStream)
      connects.put(readPacket(in).payload)
      writePacket(out, PacketType.CONNACK, 0, Array[Byte](0, 0))
      val sub = readPacket(in).payload
      writePacket(out, PacketType.SUBACK, 0, Array(sub(0), sub(1), 0.toByte))
      while (in.read() >= 0) {} // hold the link until the client closes it
      s.close()
    } catch { case _: Throwable => }, "fake-tls-broker")
    broker.setDaemon(true)
    broker.start()
    try {
      val src = SourceMqtt(server = s"ssl://127.0.0.1:${listener.getLocalPort}",
        cleanSession = false, keepAliveSecs = 30)
      // the INI has no trust-store key; this broker's certificate needs one
      val opts = new java.util.HashMap[String, String](MqttBridge.options(src).asCaseSensitiveMap())
      opts.put("ssltruststore", pki.truststore)
      opts.put("ssltruststorepassword", pki.password)
      val bridge = MqttBridge.start(new CaseInsensitiveStringMap(opts), Seq("pump/data/0"), "bridge-settings")
      try {
        val connect = connects.poll(10, TimeUnit.SECONDS)
        assert(connect != null, "no CONNECT arrived over TLS")
        val (_, protoUsed) = readUtf8(connect, 0)
        val flags = connect(protoUsed + 1) & 0xff
        assert((flags & 0x02) === 0, "clean-session flag set")
        val keepAlive = ((connect(protoUsed + 2) & 0xff) << 8) | (connect(protoUsed + 3) & 0xff)
        assert(keepAlive === 30)
      } finally bridge.close()
    } finally listener.close()
  }
}
