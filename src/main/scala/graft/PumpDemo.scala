package graft

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.engine.PumpConfig
import graft.sources.MemoryBroker
import graft.streaming.{MonitorStream, Pump}

/** `run`-mode demo — the reference's `main.go:72-125` lifecycle end-to-end
  * on the in-memory broker: publish golden payloads across the 5 topic
  * groups, run the pump (dual sink) + monitor (metrics publish), print
  * sink counts and one metrics doc.
  */
object PumpDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val cfg = PumpConfig()
    val brokerName = "demo"
    val b = MemoryBroker.get(brokerName)
    val topics = cfg.sourceTopics
    (0 until 500).foreach { i =>
      b.publish(topics(i % topics.size), PumpConfig.GoldenSample.getBytes(StandardCharsets.UTF_8),
        1704067200000000L + i * 200000L)
    }
    b.publish(topics.head, "not json".getBytes(StandardCharsets.UTF_8), 1704067200000000L)

    val out = java.nio.file.Files.createTempDirectory("pump-demo").toString
    try {
      val sinks = Pump.Sinks(s"$out/raw", s"$out/adapter", s"$out/ckpt")
      Pump.start(spark, cfg, sinks, brokerName, Trigger.AvailableNow()).awaitTermination(120000)
      MonitorStream.start(spark, cfg, brokerName, s"$out/mon-ckpt", Trigger.AvailableNow())
        .awaitTermination(120000)

      val raw = spark.read.parquet(sinks.rawPath)
      val adapter = spark.read.parquet(sinks.adapterPath)
      println(s"RAW_ROWS=${raw.count()} ADAPTER_ROWS=${adapter.count()}")
      println("RAW_PARTITIONS=" + raw.select("collect_date").distinct().count())
      val monTopics = b.topics.filter(_.startsWith(cfg.monitor.topicRoot)).sorted
      println("MON_TOPICS=" + monTopics.mkString(","))
      monTopics.headOption.foreach { t =>
        println("DOC=" + new String(b.read(t, 0, 1).head.payload, StandardCharsets.UTF_8))
      }
    } finally {
      spark.stop()
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(out))
    }
  }
}
