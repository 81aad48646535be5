package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics of the measure phase. */
object Layers {
  import PumpBench.startMs

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)

  private def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def p99(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.percentile(xs.toArray, 0.99).value

  /** From the pump query's own progress (no listener). */
  def pump(batches: Seq[StreamingQueryProgress], windowMs: Double): Map[String, Double] = Map(
    "pump.batches" -> batches.size.toDouble,
    "pump.rows_per_batch.p50" -> p50(batches.map(_.numInputRows.toDouble)),
    "pump.trigger_ms.p50" -> p50(batches.map(dur(_, "triggerExecution"))),
    "pump.trigger_ms.p99" -> p99(batches.map(dur(_, "triggerExecution"))),
    "pump.addBatch_ms.p50" -> p50(batches.map(dur(_, "addBatch"))),
    "pump.walCommit_ms.p50" -> p50(batches.map(dur(_, "walCommit"))),
    "pump.commitOffsets_ms.p50" -> p50(batches.map(dur(_, "commitOffsets"))),
    "pump.queryPlanning_ms.p50" -> p50(batches.map(dur(_, "queryPlanning"))),
    "source.latestOffset_ms.p50" -> p50(batches.map(dur(_, "latestOffset"))),
    "source.getBatch_ms.p50" -> p50(batches.map(dur(_, "getBatch"))),
    "pump.busy_frac" -> batches.map(dur(_, "triggerExecution")).sum / windowMs,
    "pump.msgs_per_busy_s" ->
      batches.map(_.numInputRows).sum * 1000.0 / batches.map(dur(_, "triggerExecution")).sum,
  )

  def monitor(batches: Seq[StreamingQueryProgress], windowMs: Double): Map[String, Double] = {
    val state = batches.lastOption.toSeq.flatMap(_.stateOperators.toSeq)
    Map(
      "monitor.trigger_ms.p50" -> p50(batches.map(dur(_, "triggerExecution"))),
      "monitor.busy_frac" -> batches.map(dur(_, "triggerExecution")).sum / windowMs,
      "monitor.state_rows" -> state.map(_.numRowsTotal.toDouble).sum,
      "monitor.state_bytes" -> state.map(_.memoryUsedBytes.toDouble).sum,
    )
  }

  /** The phases of one trigger, in the order MicroBatchExecution runs
    * them; each starts where the one before ended.
    */
  val Phases: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  final case class Span(batch: Long, name: String, parent: String, start: Double, end: Double) {
    def interval: Stats.Interval = Stats.Interval(start, end)
  }

  /** One span tree per pump batch: trigger at the root, its phases below
    * it, and the SQL executions of the batch (raw write, adapter write,
    * live raw, live adapter) under `addBatch`.
    */
  def tree(t: Tracer, p: StreamingQueryProgress): Seq[Span] = {
    val s0 = startMs(p)
    val root = Span(p.batchId, "trigger", "", s0, s0 + dur(p, "triggerExecution"))
    val phases = Phases.scanLeft(Option.empty[Span]) { (prev, name) =>
      val s = prev.map(_.end).getOrElse(s0)
      Some(Span(p.batchId, name, "trigger", s, s + dur(p, name)))
    }.flatten
    val execs = sinkWrites(t, p).map(e =>
      Span(p.batchId, e.kind, "addBatch", e.startMs.toDouble, math.max(e.startMs, e.endMs).toDouble))
    root +: (phases ++ execs)
  }

  /** The pump's SQL executions that started during the batch's trigger:
    * the micro-batch itself (`pump_batch`) and the sink writes it runs.
    */
  def execsOf(t: Tracer, p: StreamingQueryProgress): Seq[t.Exec] = {
    val s0 = startMs(p)
    val s1 = s0 + dur(p, "triggerExecution")
    t.execs.values().asScala.toSeq
      .filter(e => e.kind != "other" && e.startMs >= s0 - 1 && e.startMs <= s1 + 1)
      .sortBy(_.id)
  }

  private def sinkWrites(t: Tracer, p: StreamingQueryProgress): Seq[t.Exec] =
    execsOf(t, p).filter(_.kind != "pump_batch")

  /** Self time per span: its length minus what its children cover. */
  def selfTimes(spans: Seq[Span]): Seq[(Span, Double)] =
    spans.map { s =>
      val kids = spans.filter(c => c.parent == s.name && c.batch == s.batch).map(_.interval)
      s -> Stats.selfTime(s.interval, kids)
    }

  def spans(t: Tracer, batches: Seq[StreamingQueryProgress]): Seq[Map[String, Any]] =
    batches.flatMap(p => selfTimes(tree(t, p))).map { case (s, self) =>
      Map("batch" -> s.batch, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self)
    }

  /** Per span name, the median over `batches` of its self time. */
  def selfP50(t: Tracer, batches: Seq[StreamingQueryProgress]): Map[String, Double] =
    batches.flatMap(p => selfTimes(tree(t, p))).groupBy(_._1.name)
      .map { case (name, xs) => name -> p50(xs.map(_._2)) }

  def traced(t: Tracer, batches: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val per = batches.map(p => (p, execsOf(t, p), selfTimes(tree(t, p))))
    def execMs(kind: String) = per.flatMap(_._2.filter(_.kind == kind))
      .map(e => (e.endMs - e.startMs).toDouble)
    def sumOver(kind: String)(f: t.Exec => Long) =
      per.flatMap(_._2.filter(_.kind == kind)).map(f).sum.toDouble
    val stages = per.map { case (_, ex, _) => ex.flatMap(e => t.stagesOf(e.id)) }
    Map(
      "pump.fanout_other_ms.p50" -> p50(per.map(_._3.collectFirst {
        case (s, self) if s.name == "addBatch" => self }.getOrElse(0.0))),
      "spark.jobs_per_batch" -> p50(per.map(_._2.map(e =>
        Option(t.jobsOfExec.get(e.id)).map(_.intValue).getOrElse(0)).sum.toDouble)),
      "spark.stages_per_batch" -> p50(stages.map(_.size.toDouble)),
      "spark.tasks_per_batch" -> p50(stages.map(_.map(_.tasks).sum.toDouble)),
      "sink.raw_write_ms.p50" -> p50(execMs("raw_write")),
      "sink.adapter_write_ms.p50" -> p50(execMs("adapter_write")),
      "sink.raw_files" -> sumOver("raw_write")(_.files),
      "sink.adapter_files" -> sumOver("adapter_write")(_.files),
      "sink.raw_bytes" -> sumOver("raw_write")(_.outBytes),
      "sink.adapter_bytes" -> sumOver("adapter_write")(_.outBytes),
      "sink.shuffle_bytes" -> stages.flatten.map(_.shuffleBytes).sum.toDouble,
      "adapter.stage_ms.p50" -> p50(per.map(_._2.filter(_.kind == "adapter_write")
        .flatMap(e => t.stagesOf(e.id).filter(_.shuffleMap)).map(_.runMs).sum.toDouble)),
      "adapter.rows_out" -> sumOver("adapter_write")(_.outRows),
      "adapter.parses_per_batch" -> p50(per.map(_._2.count(_.parses).toDouble)),
      "live.raw_ms.p50" -> p50(execMs("live_raw")),
      "live.adapter_ms.p50" -> p50(execMs("live_adapter")),
    )
  }
}

/** Samples, every 100 ms, how far the pump's and the monitor's committed
  * source offsets trail the broker log.
  */
final class Sampler(st: PumpBench.Stack) {
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Long, Long)]()
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) {
      val end = st.sourceEnd
      def committed(q: org.apache.spark.sql.streaming.StreamingQuery) =
        Option(q.lastProgress).map(PumpBench.committedEnd).getOrElse(0L)
      samples.add((System.currentTimeMillis().toDouble, end - committed(st.pump),
        end - committed(st.monitor)))
      Thread.sleep(100)
    }
  }, "perfbench-sampler")

  def start(): Sampler = { thread.setDaemon(true); thread.start(); this }
  def stop(): Unit = { running = false; thread.join() }

  def metrics(from: Double, until: Double): Map[String, Double] = {
    val in = samples.asScala.filter(s => s._1 >= from && s._1 < until).toSeq
    def p99(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.percentile(xs.toArray, 0.99).value
    Map("source.backlog_msgs.p99" -> p99(in.map(_._2.toDouble)),
      "monitor.backlog_msgs.p99" -> p99(in.map(_._3.toDouble)))
  }
}
