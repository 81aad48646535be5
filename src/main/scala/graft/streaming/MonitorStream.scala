package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.engine.{Monitor, PumpConfig}
import graft.sources.MemoryBroker

/** The monitor as a second streaming query — SURVEY §2.5 G1-G6 + K6.
  *
  * The reference's monitor goroutine counts stage events and publishes a
  * nested JSON metrics document to `monitor_topicroot/<sanitized topic>`
  * every `publishinterval` seconds (`/root/reference/monitor.go:108-189`,
  * `mqtt.go:91-103`). Here the instrumentation events are the source
  * stream itself: a tumbling event-time window aggregates per-topic
  * count/bytes, rates are normalized by the window length, and the
  * assembled document is published back through the broker seam inside
  * `foreachBatch` (K6 — a plain client call, no Spark extension needed,
  * SURVEY §4.3).
  *
  * `withWatermark` bounds the aggregation state — a documented improvement
  * over the reference's unbounded wall-clock ticker (SURVEY §2.7): without
  * it a long-running stream at scale would accumulate window state
  * forever.
  */
object MonitorStream {

  /** The windowed metrics aggregate (shared batch/streaming shape).
    * In append mode a window only emits once the watermark passes its end;
    * the delay bounds how long late instrumentation events are admitted.
    */
  def metricsAgg(source: DataFrame, windowSecs: Int,
                 watermarkDelay: String = "30 seconds"): DataFrame =
    source
      .withWatermark("received_time", watermarkDelay)
      .groupBy(window(col("received_time"), s"$windowSecs seconds"), col("topic"))
      .agg(
        count(lit(1)).as("events"),
        sum(length(col("payload")) + length(col("topic")) + lit(4)).as("bytes"))
      .select(
        col("window.start").as("window_start"),
        col("topic"),
        col("events"),
        col("bytes"),
        round(col("events").cast("double") / windowSecs, 6).as("events_per_sec"),
        round(col("bytes").cast("double") / windowSecs, 6).as("bytes_per_sec"))

  /** Driver-side counter state for the monitor query — the Spark
    * counterpart of the reference's atomic counter block
    * (`monitor.go:21-66`). Update-mode re-emits a (window, topic) group's
    * NEW TOTAL on every trigger that touches it (and an at-least-once
    * foreachBatch replay re-emits it verbatim), so cumulative counters
    * must absorb per-group DELTAS, not raw emissions — `lastSeen`
    * remembers each group's previously-absorbed total, and groups farther
    * behind the newest emitted window than `pruneHorizonMs` are pruned so
    * driver state stays bounded. The horizon must comfortably exceed the
    * watermark delay (the caller derives it from the configured delay) —
    * pruning a window the watermark still allows to update would make its
    * next re-emission double-count.
    */
  private[streaming] final class CounterState(pruneHorizonMs: Long = 3600000L) {
    private val cum = scala.collection.mutable.Map[String, (Long, Long)]()
    private val lastSeen =
      scala.collection.mutable.Map[(java.sql.Timestamp, String), (Long, Long)]()

    /** Absorb one batch of (windowStart, topic, events, bytes) emissions;
      * returns this tick's per-topic deltas (the interval counters).
      */
    def absorb(emitted: Seq[(java.sql.Timestamp, String, Long, Long)]):
        Seq[(String, Long, Long)] = synchronized {
      val deltas = emitted.map { case (w, topic, n, b) =>
        val prev = lastSeen.put((w, topic), (n, b)).getOrElse((0L, 0L))
        (topic, n - prev._1, b - prev._2)
      }
      deltas.foreach { case (topic, dn, db) =>
        val old = cum.getOrElse(topic, (0L, 0L))
        cum(topic) = (old._1 + dn, old._2 + db)
      }
      if (emitted.nonEmpty) {
        val newest = emitted.map(_._1.getTime).max
        lastSeen.filterInPlace { case ((w, _), _) =>
          w.getTime >= newest - pruneHorizonMs }
      }
      deltas.groupBy(_._1).map { case (topic, ds) =>
        (topic, ds.map(_._2).sum, ds.map(_._3).sum)
      }.toSeq
    }

    def cumulative(topic: String): (Long, Long) =
      synchronized(cum.getOrElse(topic, (0L, 0L)))
    def topicCount: Int = synchronized(cum.size)
  }

  /** Parse the simple duration strings used for watermark delays
    * ("30 seconds", "2 hours") to milliseconds.
    */
  private[streaming] def durationMs(s: String): Long = {
    val parts = s.trim.split("\\s+", 2)
    require(parts.length == 2, s"cannot parse duration '$s'")
    val v = parts(0).toLong
    parts(1).toLowerCase(java.util.Locale.ROOT) match {
      case u if u.startsWith("milli") => v
      case u if u.startsWith("sec")   => v * 1000L
      case u if u.startsWith("min")   => v * 60000L
      case u if u.startsWith("hour")  => v * 3600000L
      case u if u.startsWith("day")   => v * 86400000L
      case u => throw new IllegalArgumentException(s"unknown duration unit '$u'")
    }
  }

  /** G6 document + K6 publish to `monitorRoot/<topic with / -> _>`.
    *
    * Publishes the reference's FULL 4-section document
    * (`monitor.go:130-176`, assembled by [[Monitor.fullMetricsDoc]]), not
    * just Info/DataInfo. Cumulative counters live on the DRIVER across
    * micro-batches — exactly the reference's position, whose monitor is
    * one goroutine of atomic counters; state is a few longs per topic.
    *
    * Semantic mapping (documented deviation, SURVEY §2.5): a Spark
    * micro-batch commits atomically, so every pipeline stage of the
    * reference sees the same count — the 7 QueueWaitInfo lags and both
    * gaps are structurally ZERO here (there are no inter-stage queues to
    * lag), and per-stage Failed stays 0 (a failed batch retries rather
    * than half-completing). A dashboard built against the reference's
    * document shape reads this build's monitor unchanged.
    *
    * Publishing runs in `foreachPartition` on the EXECUTORS and is
    * at-least-once under task retries (a retried partition re-publishes
    * its rows — acceptable for idempotent metrics documents). The
    * default publisher resolves [[MemoryBroker]] by name, which is
    * per-JVM, as the `pump-mqtt` source it reads is: `local[n]` is the
    * supported mode. `publisherFactory` replaces it, e.g. with a
    * [[graft.sources.mqtt.MqttClient]] publishing to a network broker; the
    * factory is invoked on the executor, once per partition.
    */
  def start(spark: SparkSession, cfg: PumpConfig, brokerName: String,
            checkpoint: String, trigger: Trigger = null,
            watermarkDelay: String = "30 seconds",
            publisherFactory: () => (String, Array[Byte]) => Unit = null)
      : StreamingQuery = {
    val source = spark.readStream
      .format("pump-mqtt")
      .option("broker", brokerName)
      .option("topics", cfg.sourceTopics.mkString(","))
      .load()
    val intervalSecs = cfg.monitor.publishIntervalSecs
    val agg = metricsAgg(source, intervalSecs, watermarkDelay)
    val t = if (trigger != null) trigger
            else Trigger.ProcessingTime(s"$intervalSecs seconds")
    // prune horizon: well past the configured watermark (plus window
    // slack), never under 10 minutes — a 1 h constant here would
    // double-count under a watermarkDelay longer than an hour
    val counters = new CounterState(math.max(600000L,
      2 * durationMs(watermarkDelay) + 2000L * intervalSecs))
    // publish successes counted where the publishes happen (executors) —
    // an accumulator, not a driver AtomicLong
    val pubs = spark.sparkContext.longAccumulator("monitor-publishes")
    val monRoot = cfg.monitor.topicRoot
    val startedAtMs = System.currentTimeMillis()
    // Update mode mirrors the reference's ticker: each trigger publishes the
    // windows touched this interval (partial counts included), rather than
    // waiting for the watermark to close them — `monitor.go:178-189`
    // publishes-then-resets every tick. The watermark still bounds state.
    agg.writeStream
      .queryName("graft-monitor")
      .outputMode("update")
      .trigger(t)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the ONE driver seam: the cumulative counters ARE driver state
        // (the reference's monitor goroutine), so the per-tick emissions
        // — bounded by windows×topics, never event volume — cross to the
        // driver to be delta-absorbed. (A chained stateful operator after
        // an update-mode aggregation, the executor-side alternative, is
        // unsupported by Structured Streaming.)
        val emitted = batch
          .select(col("window_start"), col("topic"), col("events"), col("bytes"))
          .collect()
          .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
        if (emitted.nonEmpty) {
          // this tick's interval counters = the deltas absorbed this batch
          val rows = counters.absorb(emitted.toSeq)
          val runtimeSecs =
            math.max(1L, (System.currentTimeMillis() - startedAtMs) / 1000)
          import spark.implicits._
          // check_errors IS the reference's DBStoreErrNum: every live
          // db-store failure lands on the doc's DataDBStoreInfo
          // .CheckErrors field (monitor.go:176 binds DBStoreErrNum
          // there; :256-258 the G8 error channel increments it) — the
          // counted-and-dropped counter LiveSinkErrors carries for the
          // live ClickHouse sinks
          val base = rows.map { case (topic, n, b) =>
            (topic, counters.cumulative(topic)._1, n, b, runtimeSecs,
              counters.topicCount.toLong, pubs.value.longValue(), 0L,
              graft.sinks.LiveSinkErrors.count)
          }.toDF("topic", "cum", "win", "bytes_win", "runtime_secs",
            "pipe_num", "pub_succeed", "pub_failed", "check_errors")
          // every stage carries the same committed count (atomic batch)
          val stageCols = graft.engine.Monitor.RefStages.flatMap { st =>
            Seq(col("cum").as(s"${st}_succeed"), lit(0L).as(s"${st}_failed"),
              col("win").as(s"${st}_win"))
          } ++ Seq("sub", "dp", "da").map(st => col("bytes_win").as(s"${st}_size_win"))
          val counterCols = base.select((col("topic") +: col("runtime_secs") +:
            col("pipe_num") +: col("pub_succeed") +: col("pub_failed") +:
            col("check_errors") +: stageCols): _*)
          // K6: publish WHERE THE DOCS ARE — each partition resolves its
          // own broker client and publishes its rows (swap
          // MemoryBroker.get for a pooled network client on a cluster);
          // the publish target is a column, so no config object rides
          // the closure
          val name = brokerName
          val acc = pubs
          val factory = publisherFactory
          // the target column applies the same sanitization rule as
          // PumpConfig.monitorTopic (slash -> underscore under the
          // monitor root); PumpStreamingSpec pins the published names
          // against the config form
          Monitor.fullMetricsDoc(counterCols, intervalSecs)
            .select(
              concat(lit(s"$monRoot/"), translate(col("topic"), "/", "_"))
                .as("target"),
              col("doc"))
            .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
              val publish: (String, Array[Byte]) => Unit =
                if (factory != null) factory()
                else {
                  val broker = MemoryBroker.get(name)
                  (t, p) => broker.publish(t, p)
                }
              it.foreach { r =>
                publish(r.getString(0),
                  r.getString(1).getBytes(StandardCharsets.UTF_8))
                acc.add(1L)
              }
            }
        }
      }
      .start()
  }
}
