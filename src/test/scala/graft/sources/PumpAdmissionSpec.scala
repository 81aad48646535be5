package graft.sources

import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.scalatest.funsuite.AnyFunSuite

/** Admission control of the pump source: `minRows(n, delay)` holds a batch
  * back until n messages are pending over all topics or the delay has
  * passed (K3's time-or-size rule), and `maxRows(max)` splits its budget
  * fairly across topics.
  */
class PumpAdmissionSpec extends AnyFunSuite {

  private val topics = (0 until 5).map(i => s"pump/data/$i")

  private def publish(b: MemoryBroker, topic: String, n: Int): Unit =
    (0 until n).foreach(i => b.publish(topic, Array(i.toByte), i.toLong))

  private def withBroker(name: String)(f: MemoryBroker => Unit): Unit =
    try f(MemoryBroker.get(name)) finally MemoryBroker.release(name)

  private def at(counts: (String, Long)*) = TopicOffsets(counts.toMap)

  /** The first poll after start always admits, so the delay counts from
    * here.
    */
  private def firstPoll(s: PumpMqttMicroBatchStream): TopicOffsets =
    s.latestOffset(s.initialOffset(), s.getDefaultReadLimit).asInstanceOf[TopicOffsets]

  test("minRows holds the start offset below n before the delay, and releases at n") {
    withBroker("admit-size") { b =>
      val s = new PumpMqttMicroBatchStream("admit-size", Seq("a", "b"), ReadLimit.minRows(10, 3600000))
      val start = firstPoll(s) // nothing pending yet: admits nothing, starts the delay
      assert(start === at("a" -> 0L, "b" -> 0L))
      publish(b, "a", 6); publish(b, "b", 3)
      assert(s.latestOffset(start, s.getDefaultReadLimit) eq start)
      publish(b, "b", 1) // 10 pending, summed over both topics
      assert(s.latestOffset(start, s.getDefaultReadLimit) === at("a" -> 6L, "b" -> 4L))
      s.stop()
    }
  }

  test("minRows releases after the delay with fewer than n pending") {
    withBroker("admit-delay") { b =>
      val s = new PumpMqttMicroBatchStream("admit-delay", Seq("a"), ReadLimit.minRows(64, 200))
      val t0 = System.currentTimeMillis()
      val start = firstPoll(s)
      publish(b, "a", 3)
      var end = s.latestOffset(start, s.getDefaultReadLimit)
      while (end eq start) { Thread.sleep(20); end = s.latestOffset(start, s.getDefaultReadLimit) }
      assert(System.currentTimeMillis() - t0 >= 200)
      assert(end === at("a" -> 3L))
      s.stop()
    }
  }

  test("a composite of minRows and maxRows holds below n and caps at max") {
    withBroker("admit-composite") { b =>
      val limit = ReadLimit.compositeLimit(Array(ReadLimit.minRows(10, 3600000), ReadLimit.maxRows(4)))
      val s = new PumpMqttMicroBatchStream("admit-composite", Seq("a"), limit)
      val start = firstPoll(s)
      publish(b, "a", 9)
      assert(s.latestOffset(start, limit) eq start)
      publish(b, "a", 1)
      assert(s.latestOffset(start, limit) === at("a" -> 4L))
      s.stop()
    }
  }

  test("the source options compose into the default read limit") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import scala.jdk.CollectionConverters._
    def limitOf(kv: (String, String)*) =
      PumpMqttSource.readLimitOf(new CaseInsensitiveStringMap(kv.toMap.asJava))
    assert(limitOf() === ReadLimit.allAvailable())
    assert(limitOf("maxMsgsPerTrigger" -> "7") === ReadLimit.maxRows(7))
    assert(limitOf("minmsgspertrigger" -> "64", "maxtriggerdelay" -> "5s") ===
      ReadLimit.minRows(64, 5000))
    assert(limitOf("minmsgspertrigger" -> "64", "maxtriggerdelay" -> "250") ===
      ReadLimit.minRows(64, 250))
    assert(limitOf("minmsgspertrigger" -> "64", "maxmsgspertrigger" -> "500") ===
      ReadLimit.compositeLimit(Array(ReadLimit.minRows(64, 15 * 60000), ReadLimit.maxRows(500))))
  }

  test("Trigger.AvailableNow disables the minRows hold: a frozen end must drain") {
    withBroker("admit-available-now") { b =>
      val s = new PumpMqttMicroBatchStream("admit-available-now", Seq("a"),
        ReadLimit.minRows(64, 3600000))
      val start = firstPoll(s)
      publish(b, "a", 5)
      assert(s.latestOffset(start, s.getDefaultReadLimit) eq start)
      s.prepareForTriggerAvailableNow()
      assert(s.latestOffset(start, s.getDefaultReadLimit) === at("a" -> 5L))
      s.stop()
    }
  }

  test("maxRows gives every topic a share: none starves behind earlier topics") {
    withBroker("admit-fair") { b =>
      topics.foreach(publish(b, _, 100))
      val s = new PumpMqttMicroBatchStream("admit-fair", topics, ReadLimit.maxRows(10))
      val start = s.initialOffset()
      val end = s.latestOffset(start, s.getDefaultReadLimit).asInstanceOf[TopicOffsets]
      assert(end.counts === topics.map(_ -> 2L).toMap)
      s.stop()
    }
  }

  test("fairShare water-fills: small topics take all they have, the rest split what is left") {
    import PumpMqttSource.fairShare
    assert(fairShare(Map("a" -> 1L, "b" -> 50L, "c" -> 50L), 11) === Map("a" -> 1L, "b" -> 5L, "c" -> 5L))
    // a remainder below the number of open topics goes in sorted order
    assert(fairShare(Map("c" -> 9L, "a" -> 9L, "b" -> 9L), 8) === Map("a" -> 3L, "b" -> 3L, "c" -> 2L))
    assert(fairShare(Map("a" -> 2L, "b" -> 0L, "c" -> 3L), 100) === Map("a" -> 2L, "c" -> 3L))
    assert(fairShare(Map("a" -> 5L), 0) === Map.empty)
    val rnd = new scala.util.Random(17)
    (1 to 200).foreach { _ =>
      val pending = (0 until 1 + rnd.nextInt(8)).map(i => s"t$i" -> rnd.nextInt(40).toLong).toMap
      val max = rnd.nextInt(120).toLong
      val got = fairShare(pending, max)
      assert(got.values.sum === math.min(max, pending.values.sum))
      assert(got.forall { case (t, n) => n > 0 && n <= pending(t) })
      // water-filling: a topic left short got at least as much as any other, less one
      val short = pending.keys.filter(t => got.getOrElse(t, 0L) < pending(t))
      short.foreach(t => assert(got.values.forall(_ <= got.getOrElse(t, 0L) + 1)))
    }
  }
}
