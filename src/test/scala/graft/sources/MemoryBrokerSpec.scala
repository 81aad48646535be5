package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** Retention of the in-process broker log: each topic keeps only the
  * suffix above the slowest registered reader's commit.
  */
class MemoryBrokerSpec extends AnyFunSuite {

  private def brokerWith(name: String, topic: String, n: Int): MemoryBroker = {
    val b = MemoryBroker.get(name)
    (0 until n).foreach(i => b.publish(topic, Array(i.toByte), i.toLong))
    b
  }
  private def stream(name: String, topics: String*) =
    new PumpMqttMicroBatchStream(name, topics)
  private def offsets(t: String, n: Long) = TopicOffsets(Map(t -> n))

  test("the log trims to the slowest of two readers; offsets stay absolute") {
    val name = "retain-slowest"
    val b = brokerWith(name, "t", 10)
    try {
      val (fast, slow) = (stream(name, "t"), stream(name, "t"))
      fast.commit(offsets("t", 8))
      assert(b.startOffset("t") === 0) // slow has not committed: pinned
      slow.commit(offsets("t", 3))
      assert(b.startOffset("t") === 3)
      assert(b.endOffset("t") === 10)
      assert(b.read("t", 3, 10).map(_.receivedTimeMicros) === (3L until 10L))
      b.publish("t", Array(10.toByte), 10L)
      slow.commit(offsets("t", 9))
      assert(b.startOffset("t") === 8) // now fast is the slower one
      assert(b.endOffset("t") === 11)
      assert(b.read("t", 8, 11).map(_.receivedTimeMicros) === Seq(8L, 9L, 10L))
      fast.stop(); slow.stop()
    } finally MemoryBroker.release(name)
  }

  test("a read below the retained start throws instead of clamping") {
    val name = "retain-throw"
    val b = brokerWith(name, "t", 6)
    try {
      val r = stream(name, "t")
      r.commit(offsets("t", 4))
      val e = intercept[IllegalStateException](b.read("t", 2, 6))
      assert(e.getMessage.contains("retained start 4"))
      assert(b.read("t", 4, 6).size === 2)
      r.stop()
    } finally MemoryBroker.release(name)
  }

  test("a late reader's initial offset is the retained start") {
    val name = "retain-late"
    val b = brokerWith(name, "t", 5)
    try {
      val early = stream(name, "t")
      early.commit(offsets("t", 5))
      val late = stream(name, "t")
      assert(late.initialOffset() === offsets("t", 5))
      // the late reader pins from here on: the early one cannot trim past it
      b.publish("t", Array(5.toByte), 5L)
      early.commit(offsets("t", 6))
      assert(b.startOffset("t") === 5)
      early.stop(); late.stop()
    } finally MemoryBroker.release(name)
  }

  test("stop() unpins the log; a topic no reader matches is kept whole") {
    val name = "retain-stop"
    val b = brokerWith(name, "t", 10)
    (0 until 4).foreach(i => b.publish("other", Array(i.toByte), i.toLong))
    try {
      val (fast, slow) = (stream(name, "t"), stream(name, "t"))
      fast.commit(offsets("t", 7))
      slow.commit(offsets("t", 2))
      assert(b.startOffset("t") === 2)
      slow.stop()
      assert(b.startOffset("t") === 7)
      fast.stop()
      assert(b.startOffset("t") === 7) // no reader left: nothing more trimmed
      assert(b.startOffset("other") === 0)
    } finally MemoryBroker.release(name)
  }

  test("a wildcard reader pins a topic it has not committed yet") {
    val name = "retain-wildcard"
    val b = brokerWith(name, "pump/data/0", 4)
    try {
      val wild = stream(name, "pump/data/#")
      val literal = stream(name, "pump/data/1")
      wild.commit(offsets("pump/data/0", 4))
      assert(b.startOffset("pump/data/0") === 4)
      (0 until 3).foreach(i => b.publish("pump/data/1", Array(i.toByte), i.toLong))
      literal.commit(offsets("pump/data/1", 3))
      // the wildcard reader would start the new topic at 0
      assert(b.startOffset("pump/data/1") === 0)
      wild.commit(TopicOffsets(Map("pump/data/0" -> 4L, "pump/data/1" -> 2L)))
      assert(b.startOffset("pump/data/1") === 2)
      wild.stop(); literal.stop()
    } finally MemoryBroker.release(name)
  }
}
