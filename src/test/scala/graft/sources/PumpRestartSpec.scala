package graft.sources

import java.nio.charset.StandardCharsets

import graft.SparkSpec
import graft.engine.PumpConfig
import graft.streaming.Pump
import org.apache.spark.sql.streaming.Trigger

/** The restart rule of the `pump-mqtt` source: offsets name the broker
  * incarnation whose log they index, and one from another incarnation
  * (a checkpoint from before the process or broker restarted) never makes
  * the live log's messages count as already read.
  */
class PumpRestartSpec extends SparkSpec {

  private val cfg = PumpConfig()

  private def withBroker(name: String)(f: MemoryBroker => Unit): Unit =
    try f(MemoryBroker.get(name)) finally MemoryBroker.release(name)

  private def publish(b: MemoryBroker, topic: String, n: Int): Unit =
    (1 to n).foreach(i => b.publish(topic, Array(i.toByte), i.toLong))

  test("a pump restarted on a new broker incarnation reads every message once") {
    val name = "restart-incarnation"
    val out = tmpDir("pump-restart-incarnation")
    val sinks = Pump.Sinks(s"$out/raw", s"$out/adapter", s"$out/ckpt")
    def publishSeqs(seqs: Range): Unit = seqs.foreach { i =>
      MemoryBroker.get(name).publish(cfg.sourceTopics(i % cfg.sourceTopics.size),
        s"""{"seq": $i}""".getBytes(StandardCharsets.UTF_8))
    }
    def run(): Unit =
      Pump.start(spark, cfg, sinks, name, Trigger.AvailableNow()).awaitTermination(60000)
    def seqs(): Seq[Long] = spark.read.parquet(sinks.rawPath)
      .selectExpr("CAST(get_json_object(CAST(payload AS STRING), '$.seq') AS BIGINT)")
      .collect().map(_.getLong(0)).toSeq.sorted
    try {
      publishSeqs(0 until 10)
      run()
      assert(seqs() === (0L until 10L))
      // a new process's broker: its offsets count from 0 again
      MemoryBroker.release(name)
      publishSeqs(10 until 25)
      run()
      assert(seqs() === (0L until 25L))
      // the next incarnation holds as many messages as the checkpoint's end
      MemoryBroker.release(name)
      publishSeqs(25 until 40)
      run()
      assert(seqs() === (0L until 40L))
    } finally MemoryBroker.release(name)
  }

  test("a replayed batch whose end is from another incarnation is empty, and its commit never trims") {
    withBroker("restart-replay") { b =>
      publish(b, "t", 4)
      val s = new PumpMqttMicroBatchStream("restart-replay", Seq("t"))
      // a batch planned before the restart indexes a log that is gone
      val (start, end) = (TopicOffsets(Map("t" -> 2L), "gone"), TopicOffsets(Map("t" -> 3L), "gone"))
      assert(s.planInputPartitions(start, end).isEmpty)
      s.commit(end)
      assert(b.startOffset("t") === 0)
      // without an incarnation the same offsets index the live log
      assert(s.planInputPartitions(TopicOffsets(Map("t" -> 2L)), TopicOffsets(Map("t" -> 3L))).toSeq ===
        Seq(PumpMqttPartition("restart-replay", "t", 2L, 3L)))
      s.commit(TopicOffsets(Map("t" -> 3L), b.incarnation))
      assert(b.startOffset("t") === 3)
      s.commit(TopicOffsets(Map("t" -> 1L), b.incarnation)) // a stale commit never un-trims
      assert(b.startOffset("t") === 3)
      s.stop()
    }
  }

  test("deliveries buffered before a checkpoint is restored are read") {
    withBroker("restart-buffered") { b =>
      val s = new PumpMqttMicroBatchStream("restart-buffered", Seq("t"))
      // the bridge delivered 3 messages before Spark restored an offset
      // that had read 100 messages of an earlier incarnation
      publish(b, "t", 3)
      val restored = s.deserializeOffset(TopicOffsets(Map("t" -> 100L), "gone").json())
      val end = s.latestOffset(restored, s.getDefaultReadLimit).asInstanceOf[TopicOffsets]
      assert(end === TopicOffsets(Map("t" -> 3L)))
      assert(end.incarnation === b.incarnation)
      val parts = s.planInputPartitions(restored, end)
      assert(parts.toSeq === Seq(PumpMqttPartition("restart-buffered", "t", 0L, 3L)))
      val r = s.createReaderFactory().createReader(parts.head)
      val read = Iterator.continually(r.next()).takeWhile(identity).map(_ => r.get().getLong(2)).toSeq
      assert(read === Seq(1L, 2L, 3L))
      s.stop()
    }
  }
}
