package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import graft.sources.mqtt.MqttCodec
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Wire-codec invariants: varint remaining-length and utf8 round-trips,
  * packet framing, topic-filter matching laws.
  */
object MqttCodecPropertySpec extends Properties("MqttCodec") {

  property("remaining-length varint round-trips (0..256MB-1)") =
    forAll(Gen.choose(0, 268435455)) { n =>
      val bos = new ByteArrayOutputStream()
      MqttCodec.writeRemainingLength(new DataOutputStream(bos), n)
      MqttCodec.readRemainingLength(
        new DataInputStream(new ByteArrayInputStream(bos.toByteArray))) == n
    }

  property("utf8 string round-trips") =
    forAll(Gen.asciiPrintableStr.suchThat(_.length < 1000)) { s =>
      val b = MqttCodec.utf8(s)
      val (back, used) = MqttCodec.readUtf8(b, 0)
      back == s && used == b.length
    }

  property("packet framing round-trips arbitrary payloads") =
    forAll(Gen.choose(1, 14), Gen.listOf(Gen.choose(-128, 127).map(_.toByte))) {
      (ptype, bytes) =>
        val payload = bytes.toArray
        val bos = new ByteArrayOutputStream()
        MqttCodec.writePacket(new DataOutputStream(bos), ptype, 0, payload)
        val pkt = MqttCodec.readPacket(
          new DataInputStream(new ByteArrayInputStream(bos.toByteArray)))
        pkt.packetType == ptype && java.util.Arrays.equals(pkt.payload, payload)
    }

  private val countsGen = Gen.mapOf(Gen.zip(
    Gen.oneOf(Gen.alphaNumStr.suchThat(_.nonEmpty),
      Gen.const("""weird"topic"""), Gen.const("pump/data/0"),
      Gen.const("""back\slash"""), Gen.const("""trailing\"""),
      Gen.const("""mix\"both\\""")),
    Gen.choose(0L, Long.MaxValue)))
  // "" is an offset without an incarnation
  private val incarnationGen = Gen.oneOf(Gen.const(""), Gen.uuid.map(_.toString))

  property("TopicOffsets JSON round-trips, including quoted/backslashed topic names") =
    forAll(countsGen, incarnationGen) { (m, id) =>
      val back = TopicOffsets.fromJson(TopicOffsets(m, id).json())
      back.counts == m && back.incarnation == id
    }

  property("TopicOffsets counts and equality exclude the incarnation") =
    forAll(countsGen, Gen.uuid.map(_.toString)) { (m, id) =>
      val o = TopicOffsets.fromJson(TopicOffsets(m, id).json())
      o.counts == m && o == TopicOffsets(m) && o.hashCode == TopicOffsets(m).hashCode
    }

  property("TopicOffsets JSON written without an incarnation parses as before") =
    forAll(countsGen) { m =>
      // the entries alone, as checkpoints hold them from before incarnations
      val legacy = m.toSeq.sortBy(_._1).map { case (t, n) =>
        s""""${t.replace("\\", "\\\\").replace("\"", "\\\"")}":$n"""
      }.mkString("{", ",", "}")
      val o = TopicOffsets.fromJson(legacy)
      o.counts == m && o.incarnation == "" && TopicOffsets(m).json() == legacy
    }

  private val levelGen = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString.take(5))
  private val topicGen = Gen.nonEmptyListOf(levelGen).map(_.take(4).mkString("/"))

  property("exact filter matches only itself") =
    forAll(topicGen, topicGen) { (a, b) =>
      MqttCodec.topicMatches(a, a) && (MqttCodec.topicMatches(a, b) == (a == b))
    }

  property("# tail filter matches any extension") =
    forAll(topicGen, topicGen) { (root, ext) =>
      MqttCodec.topicMatches(s"$root/#", s"$root/$ext")
    }
}
