package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.Main
import graft.engine.{DbStore, PumpConfig, SourceMqtt}
import graft.sinks.{ClickHouseNativeMiniServer, LiveSinkErrors}
import graft.sources.{MemoryBroker, MqttBridge, TopicOffsets}
import graft.sources.mqtt.MqttMiniServer
import graft.streaming.{MonitorListener, MonitorStream, Pump}

/** Open-loop benchmark of the pump as `graft.Main run` wires it: MQTT
  * bridge on an in-process broker, monitor listener and monitor stream,
  * `Pump.start` with its default 5 s trigger and `Main.liveSink`.
  *
  * {{{
  *   PumpBench --workload small_fast --seed 1 --seconds 20 --trace 0 \
  *     --out run.json --work <scratch dir>
  * }}}
  *
  * One run: set up the whole stack five times (each from before
  * the SparkSession exists to the first committed pump batch), keep the
  * last one running, measure for `--seconds`, drain, stop, read
  * the sinks back and check them. The run's JSON goes to `--out`; the
  * exit code is 0 when the outputs are correct and the run is valid.
  */
object PumpBench {

  final case class Workload(name: String, rate: Double, shape: Shape, live: Boolean)

  val Workloads: Map[String, Workload] = Seq(
    Workload("small_fast", 15000, Shape.Golden(2, 64), live = false),
    Workload("wide_fanout", 1000, Shape.Wide(32, 0), live = false),
    Workload("live_tcp", 6000, Shape.Golden(2, 64), live = true),
  ).map(w => w.name -> w).toMap

  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** A run whose generator ran later than this is invalid. */
  val LateBoundMs = 250.0

  /** How long before a trigger the measure phase opens and closes. */
  val WindowMarginMs = 250.0

  /** Set-ups per run; the median is `setup_s`. The first is a cold JVM,
    * so with five the median is the second-slowest of four warm restarts,
    * which stays steady where the slower of two would not.
    */
  val Setups = 5

  /** `Pump.start`'s default trigger interval. */
  val IntervalMs: Double = DbStore().commitIntervalSecs * 1000.0

  final case class Args(workload: Workload, seed: Long, seconds: Double, trace: Boolean,
                        out: File, work: File, master: String, stamps: Map[String, String])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = Workloads.getOrElse(need("workload"),
      throw new IllegalArgumentException(s"unknown workload ${need("workload")}"))
    val cores = Runtime.getRuntime.availableProcessors()
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(need("out")), new File(need("work")),
      m.getOrElse("master", s"local[$cores]"),
      m.filter(_._1.startsWith("stamp.")).map { case (k, v) => k.stripPrefix("stamp.") -> v })
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val result = try run(a) catch {
      case e: Throwable =>
        e.printStackTrace()
        Map[String, Any]("error" -> e.toString, "correct" -> false, "valid" -> false)
    }
    writeAtomically(a.out, Json.writeValueAsString(result))
    val ok = result.get("correct").contains(true) && result.get("valid").contains(true)
    System.out.flush(); System.err.flush()
    // Spark leaves non-daemon threads behind after stop(); exit explicitly
    Runtime.getRuntime.halt(if (ok) 0 else 1)
  }

  private def writeAtomically(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    val tmp = new File(f.getPath + ".tmp")
    java.nio.file.Files.writeString(tmp.toPath, s)
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def session(master: String, work: File): SparkSession = {
    val cores = master.stripPrefix("local[").stripSuffix("]") match {
      case "*" => Runtime.getRuntime.availableProcessors().toString
      case n => n
    }
    // Main.session()'s settings, with the shuffle width set the way the
    // repo's test environment sets SPARK_GRAFT_CPUS (= cores)
    SparkSession.builder()
      .master(master)
      .appName("graft-pump")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
  }

  /** The pump stack of `Main.run` (Main.scala:52-63) plus the generator. */
  final class Stack(val spark: SparkSession, w: Workload, seed: Long, val dir: File) {
    val brokerName = s"perfbench-${System.nanoTime()}"
    val mqtt = new MqttMiniServer()
    val ch: Option[ClickHouseNativeMiniServer] =
      if (w.live) Some(new ClickHouseNativeMiniServer()) else None
    val cfg: PumpConfig = PumpConfig(
      source = SourceMqtt(server = s"tcp://127.0.0.1:${mqtt.port}"),
      db = ch.map(c => DbStore(scheme = "tcp", hostname = "127.0.0.1", port = c.port))
        .getOrElse(DbStore()),
      jsonSample = Shape.sample(w.shape))
    val sinks = Pump.Sinks(new File(dir, "raw").getPath, new File(dir, "adapter").getPath,
      new File(dir, "ckpt").getPath)
    private val uri = new java.net.URI(cfg.source.server)
    val bridge = MqttBridge.start(uri.getHost, uri.getPort, cfg.sourceTopics, brokerName,
      username = cfg.source.username, password = cfg.source.password)
    val gen = new Generator(w.shape, w.rate, seed, "127.0.0.1", mqtt.port, cfg.sourceTopics.toIndexedSeq)
    private val listener = new MonitorListener(cfg, brokerName)
    private var pumpQ: StreamingQuery = _
    private var monQ: StreamingQuery = _

    def start(beforePump: () => Unit): Unit = {
      spark.streams.addListener(listener)
      beforePump()
      gen.start()
      pumpQ = Pump.start(spark, cfg, sinks, brokerName, null, live = Main.liveSink(cfg))
      monQ = MonitorStream.start(spark, cfg, brokerName, new File(dir, "mon-ckpt").getPath, null)
    }

    def pump: StreamingQuery = pumpQ
    def monitor: StreamingQuery = monQ

    /** Pump batches that read messages, by batch id. */
    def pumpBatches: Seq[StreamingQueryProgress] =
      pumpQ.recentProgress.filter(_.numInputRows > 0).groupBy(_.batchId).map(_._2.last).toSeq.sortBy(_.batchId)

    def failIfDead(): Unit = Seq(pumpQ, monQ).foreach { q =>
      q.exception.foreach(e => throw new IllegalStateException(s"${q.name} died", e))
    }

    def sourceEnd: Long = cfg.sourceTopics.map(MemoryBroker.get(brokerName).endOffset).sum

    def stop(): Unit = {
      // Main.run's finally order: monitor, pump, bridge
      if (monQ != null) monQ.stop()
      if (pumpQ != null) pumpQ.stop()
      bridge.close()
      spark.streams.removeListener(listener)
      mqtt.close()
      ch.foreach(_.close())
    }
  }

  def committedEnd(p: StreamingQueryProgress): Long =
    p.sources.map(s => TopicOffsets.fromJson(s.endOffset).counts.values.sum).sum

  def commitMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble + p.batchDuration

  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  private def waitFor(what: String, timeoutMs: Long, st: Stack)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      st.failIfDead()
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(10)
    }
  }

  private def sleepUntil(wallMs: Double, st: Stack): Unit =
    while (System.currentTimeMillis() < wallMs) {
      st.failIfDead()
      Thread.sleep(math.max(1L, math.min(100L, (wallMs - System.currentTimeMillis()).toLong)))
    }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def treeBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else f.length()

  private def cpuNanos: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcTotals: (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)
  }

  def run(a: Args): Map[String, Any] = {
    val w = a.workload
    deleteTree(a.work)
    a.work.mkdirs()
    val runStart = System.nanoTime()
    LiveSinkErrors.reset()

    // --- set-up, several times: the last stack stays up for the measurement
    val setups = scala.collection.mutable.ArrayBuffer[Double]()
    var st: Stack = null
    var tracer: Option[Tracer] = None
    var sampler: Option[Sampler] = None
    for (k <- 1 to Setups) {
      val last = k == Setups
      // the measured stack starts just after a trigger fires, so the time
      // before the measure phase, and what is published in it, is the
      // same in every run
      if (last) Thread.sleep((IntervalMs - System.currentTimeMillis() % IntervalMs).toLong + 100)
      // a restart inside this JVM should not pay for collecting the
      // stack stopped before it
      System.gc()
      val t0 = System.currentTimeMillis()
      val spark = session(a.master, a.work)
      log(f"setup $k: session after ${System.currentTimeMillis() - t0} ms")
      st = new Stack(spark, w, a.seed, new File(a.work, s"stack$k"))
      val s = st
      st.start(() => if (last && a.trace) {
        tracer = Some(new Tracer(spark, s.sinks.rawPath, s.sinks.adapterPath))
        tracer.foreach(_.attach())
      })
      log(f"setup $k: queries started after ${System.currentTimeMillis() - t0} ms")
      waitFor("the first pump batch", 120000, st)(st.pumpBatches.nonEmpty)
      log(f"setup $k: first batch started at +${startMs(st.pumpBatches.head) - t0}%.0f ms, committed at +${commitMs(st.pumpBatches.head) - t0}%.0f ms")
      setups += commitMs(st.pumpBatches.head) - t0
      if (!last) {
        st.gen.stopNow(); st.stop(); spark.stop(); deleteTree(st.dir)
      }
    }
    val spark = st.spark
    // The measure phase spans whole trigger intervals: it opens and
    // closes `WindowMarginMs` before a trigger fires, so the last message
    // it counts is committed by the very next batch.
    val firstCommit = commitMs(st.pumpBatches.head)
    val mStart = math.ceil((firstCommit + WindowMarginMs) / IntervalMs) * IntervalMs - WindowMarginMs
    val mEnd = mStart + a.seconds * 1000
    if (a.trace) sampler = Some(new Sampler(st).start())

    sleepUntil(mStart, st)
    val (cpu0, (gcMs0, gcN0), wall0) = (cpuNanos, gcTotals, System.nanoTime())
    sleepUntil(mEnd, st)
    val (cpu1, (gcMs1, gcN1), wall1) = (cpuNanos, gcTotals, System.nanoTime())
    st.gen.stopAt(mEnd)
    val published = st.gen.count
    waitFor("the pump to commit every message", 60000, st)(
      st.pumpBatches.lastOption.exists(committedEnd(_) >= published))
    sampler.foreach(_.stop())
    log(f"drained ${System.currentTimeMillis() - mEnd}%.0f ms after the measure phase")
    System.gc(); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val monDocs = st.cfg.sourceTopics
      .map(t => MemoryBroker.get(st.brokerName).endOffset(st.cfg.monitorTopic(t))).sum
    val brokerLogBytes = st.gen.bytesPublished
    val pumpProgress = st.pumpBatches
    val monProgress = st.monitor.recentProgress.toSeq
    st.stop()
    tracer.foreach(_.detach())

    // --- read the sinks back and check them
    val checkStart = System.currentTimeMillis()
    val check = Check(spark, st, w, published)
    log(s"checked the sinks in ${System.currentTimeMillis() - checkStart} ms")

    // --- metrics of the measure phase
    val inWindow = pumpProgress.filter(p => startMs(p) >= mStart && startMs(p) < mEnd)
    val firstSeq = st.gen.dueBefore(mStart)
    val lastSeq = st.gen.dueBefore(mEnd) // exclusive
    val windowMsgs = lastSeq - firstSeq
    val commits = pumpProgress.map(p => p.batchId -> commitMs(p)).toMap
    val sel = check.raw.seq.indices.filter { i =>
      val s = check.raw.seq(i); s >= firstSeq && s < lastSeq
    }.toArray
    val (lat, unmatched) = Stats.latencies(sel.map(check.raw.due), sel.map(check.raw.batch), commits)
    val p50 = Stats.percentile(lat, 0.5)
    val p99 = Stats.percentile(lat, 0.99)
    val e2e = Map[String, Double](
      "setup_s" -> Stats.median(setups.toSeq) / 1000,
      "latency_p50_ms" -> p50.value,
      "latency_p99_ms" -> p99.value,
      "heap_live_mb" -> heapMb,
    )

    // --- validity
    val late = st.gen.lateMs(firstSeq, lastSeq)
    val lateP99 = Stats.percentile(late, 0.99)
    val lastInWindow = pumpProgress.filter(p => commitMs(p) <= mEnd).lastOption
    val backlogEnd = lastInWindow.map(p => st.gen.dueBefore(commitMs(p)) - committedEnd(p)).getOrElse(-1L)
    val backlogLimit = w.rate * IntervalMs / 1000
    val invalid = Seq(
      if (lateP99.value > LateBoundMs) Some(s"generator late p99 ${lateP99.value} ms > $LateBoundMs ms") else None,
      if (backlogEnd < 0 || backlogEnd > backlogLimit)
        Some(s"source backlog $backlogEnd msgs at the end of the measure phase > $backlogLimit") else None,
      if (inWindow.isEmpty) Some("no pump batch started in the measure phase") else None,
      if (unmatched > 0) Some(s"$unmatched messages in batches without progress") else None,
    ).flatten

    // --- leak check, after stop
    val persisted = spark.sparkContext.getPersistentRDDs.size
    spark.stop()
    deleteTree(a.work)
    val threadsLeft = {
      val deadline = System.currentTimeMillis() + 3000
      def count = Thread.getAllStackTraces.keySet().asScala
        .count(t => t.isAlive && Seq("mqtt-conn-", "mqtt-accept", "ch-native-").exists(t.getName.startsWith))
      while (count > 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
      count
    }
    val tmpBytes = treeBytes(a.work)
    log(s"stopped and cleaned up in ${System.currentTimeMillis() - checkStart} ms after the check started")
    val leaks = Map("leak.persisted_rdds" -> persisted.toDouble, "leak.threads" -> threadsLeft.toDouble,
      "leak.tmp_bytes" -> tmpBytes.toDouble)

    val failures = check.failures
    val correct = failures.total == 0 && leaks.values.forall(_ == 0) && LiveSinkErrors.count == 0
    val mqttLag = sel.map(i => (check.raw.received(i) - check.raw.due(i)) / 1000.0)
    val layers: Map[String, Double] = leaks ++ Map(
      "gen.late_p99_ms" -> lateP99.value,
      "mqtt.lag_p50_ms" -> Stats.percentile(mqttLag, 0.5).value,
      "mqtt.lag_p99_ms" -> Stats.percentile(mqttLag, 0.99).value,
      "mqtt.delivered_frac" -> check.distinctRaw.toDouble / published,
      "failed_frac" -> Stats.failedFrac(failures, published),
      "adapter.rejects" -> check.rejects.toDouble,
      "live.rows" -> check.liveRows.toDouble,
      "live.errors" -> LiveSinkErrors.count.toDouble,
      "jvm.gc_ms" -> (gcMs1 - gcMs0).toDouble,
      "jvm.gc_count" -> (gcN1 - gcN0).toDouble,
      "proc.cores_busy" -> (cpu1 - cpu0).toDouble / (wall1 - wall0),
      "proc.cpu_ms_per_kmsg" -> (cpu1 - cpu0) / 1e6 / windowMsgs * 1000,
      "broker.log_mb" -> brokerLogBytes / 1048576.0,
      "monitor.docs" -> monDocs.toDouble,
    ) ++ Layers.pump(inWindow, a.seconds * 1000) ++
      Layers.monitor(monProgress.filter(p => startMs(p) >= mStart && startMs(p) < mEnd), a.seconds * 1000) ++
      sampler.map(_.metrics(mStart, mEnd)).getOrElse(Map.empty) ++
      tracer.map(t => Layers.traced(t, inWindow)).getOrElse(Map.empty)

    Map(
      "workload" -> w.name, "seed" -> a.seed, "trace" -> a.trace, "seconds" -> a.seconds,
      "rate_msgs_per_s" -> w.rate, "master" -> a.master,
      "valid" -> invalid.isEmpty, "invalid_reasons" -> invalid,
      "correct" -> correct, "attempted" -> published, "failed" -> failures.total,
      "failures" -> Map("lost" -> failures.lost, "duplicated" -> failures.duplicated,
        "adapter_wrong" -> failures.adapterWrong, "live_missing" -> failures.liveMissing),
      "e2e" -> e2e, "per_layer" -> layers,
      "samples" -> Map("latency" -> p50.n, "setups_ms" -> setups.toSeq,
        "measure_msgs" -> windowMsgs, "measure_batches" -> inWindow.size,
        "truncated" -> st.gen.truncatedCount,
        // one document per topic per monitor trigger that read messages
        "monitor_docs_expected" -> monProgress.count(_.numInputRows > 0) * st.cfg.sourceTopics.size),
      "validity" -> Map("gen_late_p99_ms" -> lateP99.value, "late_bound_ms" -> LateBoundMs,
        "backlog_end_msgs" -> backlogEnd, "backlog_limit_msgs" -> backlogLimit),
      "stamps" -> (a.stamps ++ Map(
        "nproc" -> Runtime.getRuntime.availableProcessors().toString,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
        "spark" -> org.apache.spark.SPARK_VERSION)),
      "wall_s" -> (System.nanoTime() - runStart) / 1e9,
      "progress" -> pumpProgress.map(p => Json.readTree(p.json)),
      "monitor_progress" -> monProgress.map(p => Json.readTree(p.json)),
    ) ++ tracer.map(t => Map(
      "self_ms_p50" -> Layers.selfP50(t, inWindow),
      "spans" -> Layers.spans(t, pumpProgress))).getOrElse(Map.empty)
  }
}
