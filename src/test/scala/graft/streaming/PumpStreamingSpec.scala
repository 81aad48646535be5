package graft.streaming

import java.nio.charset.StandardCharsets

import graft.SparkSpec
import graft.engine.{PumpConfig, SourceMqtt}
import graft.sources.MemoryBroker
import org.apache.spark.sql.streaming.Trigger

/** End-to-end streaming: broker -> pump-mqtt source -> mid -> dual sink
  * (SURVEY §3.1 steady-state path), plus the monitor query (G1-G6/K6).
  */
class PumpStreamingSpec extends SparkSpec {

  private val cfg = PumpConfig()
  private def publishGolden(brokerName: String, n: Int): Unit = {
    val b = MemoryBroker.get(brokerName)
    val topics = cfg.sourceTopics
    (0 until n).foreach { i =>
      b.publish(topics(i % topics.size),
        PumpConfig.GoldenSample.getBytes(StandardCharsets.UTF_8),
        receivedTimeMicros = 1704067200000000L + i * 1000000L)
    }
  }

  test("pump dual-writes raw and adapter paths from the streaming source") {
    val brokerName = "pump-e2e"
    publishGolden(brokerName, 20)
    // one corrupt + one protocol-violating message: raw keeps them, adapter drops
    val b = MemoryBroker.get(brokerName)
    b.publish(cfg.sourceTopics.head, """{"1": {"bad""".getBytes(StandardCharsets.UTF_8),
      1704067300000000L)
    b.publish(cfg.sourceTopics.head, """{"1": 42}""".getBytes(StandardCharsets.UTF_8),
      1704067301000000L)

    val out = tmpDir("pump-out")
    val sinks = Pump.Sinks(s"$out/raw", s"$out/adapter", s"$out/ckpt")
    val q = Pump.start(spark, cfg, sinks, brokerName, Trigger.AvailableNow())
    q.awaitTermination(120000)

    val raw = spark.read.parquet(sinks.rawPath)
    val adapter = spark.read.parquet(sinks.adapterPath)
    assert(raw.count() === 22) // T3: raw path sees every message
    assert(adapter.count() === 40) // 20 good msgs x 2 records each (A2)
    assert(raw.columns.toSet === Set("mid", "topic", "payload", "collect_datetime",
      "collect_date", "batch_id"))
    assert(adapter.columns.toSet === Set("mid", "collect_datetime", "collect_date", "batch_id",
      "command", "key_id", "params_key", "params_thingKey", "params_ts", "params_value"))
    // every message got a distinct mid (T2)
    assert(raw.select("mid").distinct().count() === 22)
    // adapter rows keep the reference type lattice (Float64 values)
    val vals = adapter.select("params_value").distinct().collect().map(_.getDouble(0)).toSet
    assert(vals === Set(564.0, 128.0))
  }

  test("wildcard /# subscription ingests every matching topic (non-grouped mode)") {
    // the shipped reference config's enablegroupnum=false mode subscribes
    // `pump/data/#` (mqtt.go:73-77) — the local broker must honor MQTT
    // wildcard matching, not treat the filter as a literal log key
    val wcfg = PumpConfig(source = SourceMqtt(enableGroupNum = false))
    assert(wcfg.sourceTopics === Seq("pump/data/#"))
    val brokerName = "pump-wildcard"
    val b = MemoryBroker.get(brokerName)
    // messages across several concrete topics, including a nested level
    // ('#' matches any depth) and one non-matching sibling root
    (0 until 12).foreach { i =>
      b.publish(s"pump/data/${i % 3}",
        PumpConfig.GoldenSample.getBytes(StandardCharsets.UTF_8),
        receivedTimeMicros = 1704067200000000L + i * 1000000L)
    }
    b.publish("pump/data/9/nested",
      PumpConfig.GoldenSample.getBytes(StandardCharsets.UTF_8), 1704067300000000L)
    b.publish("other/data/0",
      PumpConfig.GoldenSample.getBytes(StandardCharsets.UTF_8), 1704067301000000L)

    val out = tmpDir("pump-wildcard")
    val sinks = Pump.Sinks(s"$out/raw", s"$out/adapter", s"$out/ckpt")
    val q = Pump.start(spark, wcfg, sinks, brokerName, Trigger.AvailableNow())
    q.awaitTermination(120000)
    val raw = spark.read.parquet(sinks.rawPath)
    assert(raw.count() === 13) // 12 grouped + 1 nested; sibling root excluded
    assert(raw.select("topic").distinct().collect().map(_.getString(0)).toSet ===
      Set("pump/data/0", "pump/data/1", "pump/data/2", "pump/data/9/nested"))
  }

  test("exactly-once on restart: checkpointed offsets do not re-ingest") {
    val brokerName = "pump-restart"
    publishGolden(brokerName, 10)
    val out = tmpDir("pump-restart")
    val sinks = Pump.Sinks(s"$out/raw", s"$out/adapter", s"$out/ckpt")
    Pump.start(spark, cfg, sinks, brokerName, Trigger.AvailableNow()).awaitTermination(120000)
    assert(spark.read.parquet(sinks.rawPath).count() === 10)
    // second run with 5 new messages: only the delta lands
    publishGolden(brokerName, 5)
    Pump.start(spark, cfg, sinks, brokerName, Trigger.AvailableNow()).awaitTermination(120000)
    assert(spark.read.parquet(sinks.rawPath).count() === 15)
  }

  test("replayed micro-batch is idempotent: same batchId overwrites, new batchId appends") {
    import graft.engine.{JsonInference, PumpQueries}
    import org.apache.spark.sql.functions._
    val inf = JsonInference.inferFromSample(PumpQueries.payloadSample)
    val out = tmpDir("pump-replay")
    val sinks = Pump.Sinks(s"$out/raw", s"$out/adapter", s"$out/ckpt")
    def batchOf(n: Int, tsBase: Long) = {
      import spark.implicits._
      (0 until n).map(i => ("pump/data/0",
          s"""{"r1": {"k": $i}, "r2": {"nested": {"k": $i}}}""".getBytes("UTF-8"),
          new java.sql.Timestamp(tsBase + i * 1000L)))
        .toDF("topic", "payload", "received_time")
    }
    val write = Pump.writeBatch(PumpConfig(jsonSample = PumpQueries.payloadSample), inf, sinks) _
    write(batchOf(6, 1704067200000L), 0L)
    val rawMids = spark.read.parquet(sinks.rawPath).select("mid").collect().map(_.getString(0)).sorted
    // failure replay: same batchId runs again -> no duplicates, identical mids
    write(batchOf(6, 1704067200000L), 0L)
    assert(spark.read.parquet(sinks.rawPath).count() === 6)
    assert(spark.read.parquet(sinks.adapterPath).count() === 12)
    val replayMids = spark.read.parquet(sinks.rawPath).select("mid").collect().map(_.getString(0)).sorted
    assert(replayMids.toSeq === rawMids.toSeq) // mid is batchId-seeded: replay-deterministic
    // next batch (same collect_date) appends without touching batch 0
    write(batchOf(4, 1704067300000L), 1L)
    assert(spark.read.parquet(sinks.rawPath).count() === 10)
    assert(spark.read.parquet(sinks.adapterPath).count() === 20)
    assert(spark.read.parquet(sinks.rawPath)
      .where(col("batch_id") === 0).count() === 6)
  }

  test("mids do not repeat across consecutive batches over 5 topic partitions") {
    import graft.engine.{JsonInference, PumpQueries}
    import spark.implicits._
    val inf = JsonInference.inferFromSample(PumpQueries.payloadSample)
    val out = tmpDir("pump-mids")
    val sinks = Pump.Sinks(s"$out/raw", s"$out/adapter", s"$out/ckpt")
    // one input partition per topic, as the source plans a batch
    def batchOf(n: Int) = spark.sparkContext.parallelize(0 until n, 5)
      .map(i => (s"pump/data/${i % 5}", s"""{"r1": {"k": $i}}""".getBytes("UTF-8"),
        new java.sql.Timestamp(1704067200000L + i * 1000L)))
      .toDF("topic", "payload", "received_time")
    val write = Pump.writeBatch(PumpConfig(jsonSample = PumpQueries.payloadSample), inf, sinks) _
    write(batchOf(10), 0L)
    write(batchOf(10), 1L)
    val raw = spark.read.parquet(sinks.rawPath)
    assert(raw.count() === 20)
    assert(raw.select("mid").distinct().count() === 20)
  }

  test("compaction folds per-batch dirs into per-date files, rows intact") {
    import graft.engine.{JsonInference, PumpQueries}
    import org.apache.spark.sql.functions._
    val inf = JsonInference.inferFromSample(PumpQueries.payloadSample)
    val out = tmpDir("pump-compact")
    val sinks = Pump.Sinks(s"$out/raw", s"$out/adapter", s"$out/ckpt")
    def batchOf(n: Int, tsBase: Long) = {
      import spark.implicits._
      (0 until n).map(i => ("pump/data/0",
          s"""{"r1": {"k": $i}, "r2": {"nested": {"k": $i}}}""".getBytes("UTF-8"),
          new java.sql.Timestamp(tsBase + i * 1000L)))
        .toDF("topic", "payload", "received_time")
    }
    val write = Pump.writeBatch(PumpConfig(jsonSample = PumpQueries.payloadSample), inf, sinks) _
    // 3 micro-batches on a closed date + 1 on a still-open date
    val day = 86400000L
    (0 until 3).foreach(b => write(batchOf(5, 1704067200000L + b * 60000L), b.toLong))
    write(batchOf(4, 1704067200000L + day), 3L)
    val before = spark.read.parquet(sinks.rawPath)
      .select("mid", "topic", "collect_datetime").collect().toSet
    def files(p: String) = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(p)).filter(_.getName.endsWith(".parquet"))
    }
    val filesBefore = files(sinks.rawPath).size
    // compact ONLY the closed date: the open date keeps its batch_id=N
    // dirs, so this is the mixed compacted/uncompacted layout the sink
    // lives in permanently once the stream outruns the maintenance job
    assert(Pump.compact(spark, sinks.rawPath, isClosed = _ == "2024-01-01") === 1)
    val after = spark.read.parquet(sinks.rawPath)
    assert(after.select("mid", "topic", "collect_datetime").collect().toSet === before)
    // batch_id level SURVIVES as the -1 sentinel (uniform partition depth)
    assert(after.columns.toSet === Set("mid", "topic", "payload",
      "collect_datetime", "collect_date", "batch_id"))
    assert(after.where(col("collect_date") === "2024-01-01")
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq === Seq(-1L))
    assert(after.where(col("collect_date") =!= "2024-01-01")
      .select("batch_id").distinct().count() === 1) // open date untouched
    assert(files(sinks.rawPath).size < filesBefore)
    // late replay of an already-compacted batch: re-appends batch_id=1 at
    // the same depth — duplicated rows until the next compact, never a
    // structurally unreadable sink
    write(batchOf(5, 1704067200000L + 60000L), 1L)
    val replayed = spark.read.parquet(sinks.rawPath)
    assert(replayed.count() === before.size + 5)
    // re-compaction DEDUPS the replayed rows back out: mids are
    // batchId-seeded, so the replay regenerated rows bit-identical to the
    // already-folded ones — exactly-once is restored at the next
    // maintenance run instead of the duplicates baking in permanently
    assert(Pump.compact(spark, sinks.rawPath, isClosed = _ == "2024-01-01") === 1)
    assert(spark.read.parquet(sinks.rawPath)
      .select("mid", "topic", "collect_datetime").collect().toSet === before)
    assert(spark.read.parquet(sinks.rawPath).count() === before.size)
  }

  test("size-cap admission control splits batches but delivers everything (K3)") {
    val brokerName = "pump-sizecap"
    publishGolden(brokerName, 30)
    val df = spark.readStream.format("pump-mqtt")
      .option("broker", brokerName)
      .option("topics", cfg.sourceTopics.mkString(","))
      .option("maxmsgspertrigger", "7")
      .load()
    val out = tmpDir("sizecap-out")
    val q = df.writeStream.format("parquet")
      .option("path", s"$out/data").option("checkpointLocation", s"$out/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.read.parquet(s"$out/data").count() === 30)
    // 30 msgs at <=7 per micro-batch: at least 5 non-empty batches ran
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 5, s"batches=${batches.map(_.numInputRows).mkString(",")}")
    assert(batches.forall(_.numInputRows <= 7))
  }

  test("default policy: a batch starts at commitItems pending, else after the commit interval (K3)") {
    import org.apache.spark.sql.streaming.StreamingQueryProgress
    val brokerName = "pump-k3-default"
    val b = MemoryBroker.get(brokerName)
    // n equals the first burst, so no poll can split it between two batches
    val kcfg = cfg.copy(db = cfg.db.copy(commitItems = 100))
    val out = tmpDir("pump-k3-default")
    val sinks = Pump.Sinks(s"$out/raw", s"$out/adapter", s"$out/ckpt")
    val q = Pump.start(spark, kcfg, sinks, brokerName)
    def batches: Seq[StreamingQueryProgress] = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    def awaitRows(n: Long, deadline: Long): Unit = {
      while (batches.map(_.numInputRows).sum < n && System.currentTimeMillis() < deadline) {
        q.exception.foreach(e => throw e)
        Thread.sleep(20)
      }
    }
    def startMs(p: StreamingQueryProgress) = java.time.Instant.parse(p.timestamp).toEpochMilli
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (!q.status.message.startsWith("Waiting for data") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      val burst = System.currentTimeMillis()
      publishGolden(brokerName, 100)
      awaitRows(100, burst + 60000)
      assert(batches.map(_.numInputRows) === Seq(100L))
      // the pump polls continuously: the burst did not wait for a 5 s tick
      assert(startMs(batches.head) - burst < 2500)
      val trickle = System.currentTimeMillis()
      publishGolden(brokerName, 10)
      awaitRows(110, trickle + 30000) // the commit interval releases them
      assert(batches.map(_.numInputRows) === Seq(100L, 10L))
      // held for the commit interval after the burst's batch was admitted
      assert(startMs(batches(1)) - startMs(batches.head) >= 4000)
      assert(spark.read.parquet(sinks.rawPath).count() === 110)
    } finally q.stop()
  }

  test("streaming dedup drops duplicate payloads within the watermark (X1 streaming form)") {
    val brokerName = "pump-dedup"
    val b = MemoryBroker.get(brokerName)
    val topics = cfg.sourceTopics
    // 10 distinct payloads, each published twice (broker redelivery)
    (0 until 20).foreach { i =>
      val payload = s"""{"r${i % 10}": {"k": ${i % 10}}}"""
      b.publish(topics(i % topics.size),
        payload.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        1704067200000000L + (i % 10) * 1000000L)
    }
    val out = tmpDir("pump-dedup")
    val sinks = Pump.Sinks(s"$out/raw", s"$out/adapter", s"$out/ckpt")
    Pump.start(spark, cfg, sinks, brokerName, Trigger.AvailableNow(),
      dedupeWindow = Some("10 minutes")).awaitTermination(120000)
    assert(spark.read.parquet(sinks.rawPath).count() === 10)
  }

  test("raw-only mode skips the adapter branch (T4)") {
    val brokerName = "pump-rawonly"
    publishGolden(brokerName, 8)
    val out = tmpDir("pump-rawonly")
    val sinks = Pump.Sinks(s"$out/raw", s"$out/adapter", s"$out/ckpt")
    Pump.start(spark, cfg, sinks, brokerName, Trigger.AvailableNow(), rawOnly = true)
      .awaitTermination(120000)
    assert(spark.read.parquet(sinks.rawPath).count() === 8)
    assert(!new java.io.File(sinks.adapterPath).exists())
  }

  test("source partitions by topic group (S2 parallelism)") {
    val brokerName = "pump-parts"
    publishGolden(brokerName, 25)
    val df = spark.readStream.format("pump-mqtt")
      .option("broker", brokerName)
      .option("topics", cfg.sourceTopics.mkString(","))
      .load()
    val out = tmpDir("parts-out")
    val q = df.writeStream.format("parquet")
      .option("path", s"$out/data").option("checkpointLocation", s"$out/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.read.parquet(s"$out/data")
    assert(got.count() === 25)
    // all 5 topic groups present (begingroupnum=0..endgroupnum=4)
    assert(got.select("topic").distinct().count() === 5)
  }

  test("pump + monitor on one broker: each topic keeps at most one batch behind the slower query") {
    import org.apache.spark.sql.streaming.StreamingQuery
    import graft.sources.TopicOffsets
    val brokerName = "pump-retain"
    val b = MemoryBroker.get(brokerName)
    val out = tmpDir("pump-retain")
    val sinks = Pump.Sinks(s"$out/raw", s"$out/adapter", s"$out/ckpt")
    val trigger = Trigger.ProcessingTime("200 milliseconds")
    val pump = Pump.start(spark, cfg, sinks, brokerName, trigger)
    val mon = MonitorStream.start(spark, cfg, brokerName, s"$out/mon-ckpt", trigger)
    def readTo(q: StreamingQuery): Map[String, Long] =
      Option(q.lastProgress).map(p => TopicOffsets.fromJson(p.sources.head.endOffset).counts)
        .getOrElse(Map.empty)
    val perTopic = 2
    val rounds = 4
    try {
      (1 to rounds).foreach { round =>
        publishGolden(brokerName, perTopic * cfg.sourceTopics.size)
        val ends = cfg.sourceTopics.map(t => t -> b.endOffset(t)).toMap
        val deadline = System.currentTimeMillis() + 60000
        while (!Seq(pump, mon).forall(readTo(_) == ends) && System.currentTimeMillis() < deadline) {
          Seq(pump, mon).foreach(_.exception.foreach(e => throw e))
          Thread.sleep(50)
        }
        assert(Seq(pump, mon).forall(readTo(_) == ends), s"round $round not read by both queries")
        // both queries read every earlier round before this one was
        // published, and each commits its previous batch's end when it
        // plans the next, so no topic holds more than this round
        cfg.sourceTopics.foreach { t =>
          assert(b.endOffset(t) === round * perTopic)
          assert(b.endOffset(t) - b.startOffset(t) <= perTopic, s"topic $t after round $round")
        }
      }
    } finally { mon.stop(); pump.stop() }
    val total = perTopic * cfg.sourceTopics.size * rounds
    assert(spark.read.parquet(sinks.rawPath).count() === total)
    assert(spark.read.parquet(sinks.adapterPath).count() === 2 * total)
    assert(mon.recentProgress.map(_.numInputRows).sum === total)
  }

  test("listener monitor publishes per-batch throughput docs (G1-G3 progress face)") {
    val brokerName = "pump-listener"
    publishGolden(brokerName, 20)
    val listener = new MonitorListener(cfg, brokerName)
    spark.streams.addListener(listener)
    try {
      val out = tmpDir("listener-out")
      val sinks = Pump.Sinks(s"$out/raw", s"$out/adapter", s"$out/ckpt")
      val q = Pump.start(spark, cfg, sinks, brokerName, Trigger.AvailableNow())
      q.awaitTermination(120000)
      // listener events are async; give the bus a moment
      val b = MemoryBroker.get(brokerName)
      val deadline = System.currentTimeMillis() + 10000
      def topic = b.topics.find(_ == s"${cfg.monitor.topicRoot}/graft-pump")
      while (topic.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(topic.nonEmpty, s"monitor topics: ${b.topics.mkString(",")}")
      val docs = b.read(topic.get, 0, b.endOffset(topic.get))
        .map(m => new String(m.payload, java.nio.charset.StandardCharsets.UTF_8))
      assert(docs.exists(_.contains("\"numInputRows\":20")))
      assert(docs.forall(d => d.contains("batchDurationMs") &&
        d.contains("processedRowsPerSecond") && d.contains("totalRows")))
    } finally spark.streams.removeListener(listener)
  }

  test("monitor counter state absorbs window re-emissions as deltas, not totals") {
    val cs = new MonitorStream.CounterState
    def ts(s: Long) = new java.sql.Timestamp(1704067200000L + s * 1000L)
    // trigger 1: window W0 emits total 100 events / 1000 bytes
    assert(cs.absorb(Seq((ts(0), "t", 100L, 1000L))) === Seq(("t", 100L, 1000L)))
    assert(cs.cumulative("t") === ((100L, 1000L)))
    // trigger 2: late data within the watermark — W0 re-emits its NEW
    // TOTAL 150; only the 50-event delta may count
    assert(cs.absorb(Seq((ts(0), "t", 150L, 1500L))) === Seq(("t", 50L, 500L)))
    assert(cs.cumulative("t") === ((150L, 1500L)))
    // trigger 3: a foreachBatch replay re-emits the same totals verbatim —
    // zero delta, cumulative unchanged (no double count)
    assert(cs.absorb(Seq((ts(0), "t", 150L, 1500L))) === Seq(("t", 0L, 0L)))
    assert(cs.cumulative("t") === ((150L, 1500L)))
    // a new window adds normally, per topic
    cs.absorb(Seq((ts(5), "t", 30L, 300L), (ts(5), "u", 7L, 70L)))
    assert(cs.cumulative("t") === ((180L, 1800L)))
    assert(cs.cumulative("u") === ((7L, 70L)))
    assert(cs.topicCount === 2)
    // the prune horizon honors its parameter: a window inside the horizon
    // keeps its lastSeen entry, so a re-emission stays a delta
    val wide = new MonitorStream.CounterState(pruneHorizonMs = 10L * 3600000L)
    wide.absorb(Seq((ts(0), "t", 100L, 0L)))
    wide.absorb(Seq((new java.sql.Timestamp(ts(0).getTime + 2 * 3600000L), "t", 1L, 0L)))
    assert(wide.absorb(Seq((ts(0), "t", 120L, 0L))) === Seq(("t", 20L, 0L)))
    assert(MonitorStream.durationMs("30 seconds") === 30000L)
    assert(MonitorStream.durationMs("2 hours") === 7200000L)
  }

  test("monitor aggregates windows and publishes docs to the monitor topic (K6)") {
    val brokerName = "pump-monitor"
    publishGolden(brokerName, 30)
    val out = tmpDir("mon-out")
    val q = MonitorStream.start(spark, cfg, brokerName, s"$out/ckpt", Trigger.AvailableNow(),
      watermarkDelay = "0 seconds")
    q.awaitTermination(120000)
    val b = MemoryBroker.get(brokerName)
    val monTopics = b.topics.filter(_.startsWith(cfg.monitor.topicRoot))
    // slashes sanitized to underscores (mqtt.go:93)
    assert(monTopics.nonEmpty)
    assert(monTopics.forall(t => t.startsWith(s"${cfg.monitor.topicRoot}/pump_data_")))
    val doc = new String(b.read(monTopics.head, 0, 1).head.payload, StandardCharsets.UTF_8)
    // the FULL reference document shape (monitor.go:130-176): all 4
    // sections with their exact key inventory
    for (section <- Seq("Info", "PerformanceMetrics", "QueueWaitInfo",
        "GapBetweenRawAndAdapterInfo", "DataInfo", "DataDBStoreInfo",
        "SubscribeMsgInfo", "DataProcessMsgInfo", "DataAdapterInfo",
        "DataProcessDataObjectInfo", "RawDataObjectReceiveInfo",
        "RawDataObjectCommitInfo", "AdapterDataObjectReceiveInfo",
        "AdapterDataObjectCommitInfo"))
      assert(doc.contains("\"" + section + "\":"), s"missing $section in $doc")
    for (key <- Seq("RunTime(s)", "PipeNum", "MonPubSucceed", "MonPubFailed",
        "WaitForProcess", "WaitForRawDataObjectToDB",
        "WaitForRawDataObjectToDBCommit", "WaitForAdapter",
        "WaitForProcessDataObject", "WaitForAdapterDataObjectToDB",
        "WaitForAdapterDataObjectToDBCommit", "GapToDB", "GapToDBCommit",
        "SubMsgPerSec", "SubMsgSizePerSec", "SubMsgSucceed", "SubMsgFailed",
        "AvgPeriodSubMsgPerSec", "DpMsgPerSec", "DaMsgPerSec",
        "DaPdoMsgPerSec", "CheckErrors", "DbsRDOReceivePerSec",
        "DbsRDOCommitPerSec", "DbsADOReceivePerSec", "DbsADOCommitPerSec"))
      assert(doc.contains("\"" + key + "\":"), s"missing $key in $doc")
    // atomic micro-batch commit: every stage saw the same count, so queue
    // lags and raw-vs-adapter gaps are structurally zero (documented
    // deviation in MonitorStream.start)
    assert(doc.contains("\"WaitForProcess\":0"))
    assert(doc.contains("\"GapToDB\":0"))
    // the document is valid JSON (parse via Spark's JSON reader)
    import spark.implicits._
    val parsed = spark.read.json(Seq(doc).toDS)
    assert(!parsed.columns.contains("_corrupt_record"))
    assert(parsed.columns.sorted === Array("DataDBStoreInfo", "DataInfo",
      "Info", "PerformanceMetrics"))
  }
}
