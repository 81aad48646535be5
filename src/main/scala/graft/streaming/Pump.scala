package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.engine.{Adapter, JsonInference, PumpConfig}
import graft.functions.RandomId

/** The pump's streaming lifecycle — SURVEY §3.1 re-expressed Spark-first.
  *
  * Reference steady-state path (`/root/reference/data_processor.go:70-84`):
  * every message gets a random mid (T2), then fans out to BOTH the raw-DB
  * path and the adapter path (T3) — both paths must see exactly the same
  * messages. Batches flush on a time-or-size policy (K3,
  * `data_dbstore.go:430-452`).
  *
  * Spark translation: ONE streaming query; `foreachBatch` persists the
  * micro-batch and writes raw before adapter — single-pass fan-out with
  * the reference's dual-sink consistency guarantee (SURVEY §7.3). K3 is
  * the source's `ReadLimit.minRows` admission control under Spark's
  * default trigger (see [[start]]): a batch starts once `commitItems` (64)
  * messages are pending or `commitIntervalSecs` (5 s) after the previous
  * one, whichever comes first.
  *
  * Scale: both sinks append date-partitioned parquet (MergeTree date key
  * analog); the adapter branch's explode/flatten is narrow (no shuffle),
  * so a 1000-executor cluster ingests partition-parallel with zero
  * exchange — the only cluster-wide coordination is offset commit.
  */
object Pump {

  final case class Sinks(rawPath: String, adapterPath: String, checkpoint: String)

  /** Build the per-batch dual write. Exposed separately so batch tests and
    * the streaming query share the exact same code path.
    *
    * Idempotence: `foreachBatch` is at-least-once — after a failure between
    * the raw and adapter writes (or after the raw commit), Spark replays the
    * micro-batch with the same `batchId`. Both sinks therefore partition by
    * `(collect_date, batch_id)` and use *dynamic partition overwrite*: a
    * replay rewrites exactly its own `batch_id` partitions and never touches
    * other batches', making the dual sink effectively exactly-once end to
    * end (deterministic source offsets + idempotent writes). The mid column
    * is also seeded by `batchId`, so a replay regenerates identical mids —
    * which is also what keeps the guarantee across compaction: a replay of
    * an already-compacted batch re-appends rows bit-identical to the folded
    * ones, and [[compact]]'s fold dedups full rows, restoring exactly-once
    * at the next maintenance run (between replay and re-compaction the
    * duplicated batch is visible — the one bounded at-least-once window).
    * At scale the per-batch directories are the usual streaming-ingest
    * layout; the periodic [[compact]] job folds them per date partition.
    */
  def writeBatch(cfg: PumpConfig, inf: JsonInference.Inferred, sinks: Sinks,
                 rawOnly: Boolean = false,
                 live: Option[(DataFrame, Option[DataFrame]) => Unit] = None)(
      batch: DataFrame, batchId: Long): Unit = {
    // T3: both branches must observe the same (row, mid) pairs (SURVEY
    // §7.3 dual-sink). mid is batchId-seeded so recomputation would be
    // bit-identical — but the persist stays anyway: without it the source
    // scan runs once per branch and the batch's numInputRows double-counts,
    // corrupting the monitor's ingest-throughput face (measured: 40 for a
    // 20-message batch). Persisting the micro-batch before multi-sink
    // fan-out is the canonical foreachBatch pattern for exactly this
    // reason.
    val withMid = batch
      .withColumn("mid", RandomId.random_id(cfg.midLength, seed = midSeed(batchId)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // K4 — raw path stores every message, parse failures included (T6
      // routing happens after the fan-out, data_processor.go:78-79)
      // Repartition on the partition key before a partitionBy write:
      // without it every task opens a file per date it touches (tasks x
      // dates tiny files — the classic partitioned-write mistake at
      // scale). A small mid-derived salt caps per-date skew at 2 writers
      // (salt trades writer parallelism against file count per date).
      val rawFrame = Adapter.rawProjection(withMid,
        mid = col("mid"), topic = col("topic"), payload = col("payload"),
        receivedTime = col("received_time"))
      def writeRaw(): Unit =
        rawFrame
          .withColumn("batch_id", lit(batchId))
          .repartition(col("collect_date"), pmod(crc32(col("mid")), lit(2)))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("collect_date", "batch_id").parquet(sinks.rawPath)

      // K5 — adapter path: A1 parse -> A3 reject -> A2 explode -> A4/A5 flatten
      lazy val adapterFrame = Adapter.adapt(
        withMid.select(col("mid"), col("payload"),
          col("received_time").cast("timestamp").as("collect_datetime")),
        "payload", inf, carry = Seq("mid", "collect_datetime"))
      def writeAdapter(): Unit = {
        adapterFrame
          .withColumn("collect_date", to_date(col("collect_datetime")))
          .withColumn("batch_id", lit(batchId))
          .repartition(col("collect_date"), pmod(crc32(col("mid")), lit(2)))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("collect_date", "batch_id").parquet(sinks.adapterPath)
      }

      // T4 — raw-only mode skips the adapter branch entirely
      // (data_processor.go:86-99 StartDataProcessTask)
      if (rawOnly) writeRaw()
      else {
        // The two sink writes run CONCURRENTLY — the reference's dual-path
        // fan-out is two goroutine consumers of one producer
        // (data_processor.go:78-79), and here both jobs read the same
        // persisted micro-batch (Spark's block manager computes each
        // cached partition once under lock, whichever job asks first).
        // Failure semantics are unchanged from sequential: any failure
        // fails the batch and the replay overwrites BOTH sinks' batch_id
        // partitions idempotently. BOTH futures are awaited before any
        // rethrow — returning with a write still running would let the
        // replayed batch race the orphaned job on the same sink path
        // (two concurrent dynamic-overwrite commits of one partition).
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        import scala.util.Try
        val raw = Future(writeRaw())
        val adapter = Future(writeAdapter())
        val rawDone = Try(Await.result(raw, Duration.Inf))
        val adapterDone = Try(Await.result(adapter, Duration.Inf))
        rawDone.get
        adapterDone.get
      }
      // the optional LIVE dual sink (K4/K5's ClickHouse form) runs
      // after the parquet commit, off the same persisted micro-batch
      // and the same (row, mid) pairs. Delivery there is at-least-once
      // on replay (HTTP inserts have no batch_id partition to
      // overwrite) — the reference's own dbstore is at-least-once with
      // a failed-commit counter, so this is parity; the parquet sinks
      // beside it remain the exactly-once system of record.
      live.foreach(f => f(rawFrame, if (rawOnly) None else Some(adapterFrame)))
    } finally withMid.unpersist()
  }

  /** The `random_id` seed of batch `batchId`. RandomId seeds each
    * partition with `seed + partitionIndex` and `java.util.Random` keeps
    * the seed's low 48 bits, so putting the batch id above 20 partition
    * bits gives every (batch, partition) pair below 2^28 batches and 2^20
    * partitions its own id sequence, where `seed + partitionIndex` alone
    * would repeat across neighbouring batches. Batch 0 keeps seed 0.
    */
  private def midSeed(batchId: Long): Long = batchId << 20

  /** The promised compaction: fold a sink's per-batch directories into
    * consolidated per-date files. Streaming ingest accumulates one
    * `batch_id=N` directory per micro-batch (the idempotence unit);
    * once those batches are final — i.e. the stream has committed past
    * them — the batch_id level is bookkeeping with no further value, and
    * thousands of small files per date degrade every downstream scan.
    *
    * Dates to compact are listed driver-side (partition directory names,
    * not data); each date's rows are rewritten in `filesPerDate` files
    * via a single overwrite of that date partition. Run it for CLOSED
    * dates only (e.g. yesterday and older) from a maintenance schedule.
    *
    * The compacted rows land under a `batch_id=-1` SENTINEL partition,
    * not directly under the date directory: Spark partition discovery
    * requires every leaf file at the same depth, so dropping the
    * batch_id level for some dates while the stream keeps writing
    * `batch_id=N` for open dates would make the whole sink unreadable
    * ("Conflicting directory structures"). The sentinel keeps the depth
    * uniform, keeps reads working mid-compaction-rollout, and means a
    * late replay of batch N re-appends `batch_id=N` at the same depth —
    * degraded (that batch's rows are duplicated until the next compact
    * run re-folds the date) but never structurally broken.
    *
    * Folding DEDUPS full rows: replayed rows are bit-identical to the
    * already-folded ones (mids are batchId-seeded, so a replay regenerates
    * them exactly), while legitimate distinct rows always differ (random
    * mid per message; unique key_id per record within a message). Without
    * the dedup a replay-after-compact would bake its duplicates in
    * permanently — the dedup is what scopes writeBatch's exactly-once
    * claim across compaction instead of voiding it.
    *
    * @return number of date partitions compacted
    */
  def compact(spark: SparkSession, sinkPath: String,
              isClosed: String => Boolean = _ => true,
              filesPerDate: Int = 1): Int = {
    // the fold rides StateMaintenance's manifest-committed protocol
    // with each DATE PARTITION as the fold root: stage the rewritten
    // rows in a hidden dir, commit with one small manifest object,
    // roll forward with per-file idempotent moves. Works unchanged on
    // hdfs:// and s3a:// sinks (no atomic directory rename anywhere),
    // and a crash at any point either vanishes (pre-commit) or
    // completes on the next call (recoverDir below runs for EVERY
    // date, open or closed — a crashed fold repairs even if its date
    // is no longer selected).
    val (fs, root) = StateMaintenance.fsRoot(sinkPath)
    if (!fs.exists(root)) return 0
    val dateDirs = fs.listStatus(root)
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("collect_date="))
      .map(_.getPath).sortBy(_.getName)
    dateDirs.foreach(StateMaintenance.recoverDir(fs, _))
    val dates = dateDirs
      .filter(p => isClosed(p.getName.stripPrefix("collect_date=")))
    dates.foreach { dateRoot =>
      val part = dateRoot.toString
      val rows = spark.read.parquet(part) // batch_id=* dirs under one date
        .drop("batch_id")
        .dropDuplicates() // folds a replayed batch's (bit-identical) rows
      val tmp = new org.apache.hadoop.fs.Path(dateRoot, ".fold_tmp")
      rows.repartition(filesPerDate).write.mode("overwrite")
        .parquet(tmp.toString)
      val staged = fs.listStatus(tmp).map(_.getPath.getName)
        .filter(n => !n.startsWith(".") && !n.startsWith("_")).toSeq
      val drop = fs.listStatus(dateRoot)
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("batch_id=") &&
          st.getPath.getName != "batch_id=-1")
        .map(_.getPath.getName).toSeq
      StateMaintenance.commitManifest(fs, dateRoot, staged, drop)
      StateMaintenance.recoverDir(fs, dateRoot) // rolls the commit forward
    }
    dates.length
  }

  /** Start the pump: source stream -> mid -> dual-sink foreachBatch.
    *
    * @param trigger when null, the reference's time-or-size commit policy
    *   (K3, `data_dbstore.go:18-20,430-452`): Spark's default trigger polls
    *   as soon as the previous batch ends, and the source admits a batch
    *   once `cfg.db.commitItems` messages are pending over all topics or
    *   `cfg.db.commitIntervalSecs` have passed since the last one. Under
    *   load, batches run back to back and grow with the backlog; at a
    *   trickle the pump commits every commit interval. An explicit trigger
    *   replaces the policy: every trigger admits whatever is pending.
    * @param dedupeWindow when set (e.g. "10 minutes"), drops duplicate
    *   payloads arriving within the watermark window via stateful
    *   `dropDuplicatesWithinWatermark` on the payload digest — the X1
    *   exact-dedup operator in streaming form, and an idempotence guard
    *   for at-least-once upstream redelivery (QoS 1 brokers). State is
    *   bounded by the watermark; the digest (16 bytes), not the payload,
    *   is what the dedup state stores and shuffles.
    */
  def start(spark: SparkSession, cfg: PumpConfig, sinks: Sinks,
            brokerName: String = "default",
            trigger: Trigger = null,
            rawOnly: Boolean = false,
            dedupeWindow: Option[String] = None,
            live: Option[(DataFrame, Option[DataFrame]) => Unit] = None): StreamingQuery = {
    val inf = JsonInference.inferFromSample(cfg.jsonSample)
    val reader = spark.readStream
      .format("pump-mqtt")
      .option("broker", brokerName)
      .option("topics", cfg.sourceTopics.mkString(","))
    val raw = (if (trigger != null) reader
               else reader.option("minmsgspertrigger", cfg.db.commitItems.toLong)
                 .option("maxtriggerdelay", s"${cfg.db.commitIntervalSecs}s")).load()
    val source = dedupeWindow match {
      case Some(w) =>
        raw.withColumn("__digest", md5(col("payload")))
          .withWatermark("received_time", w)
          .dropDuplicatesWithinWatermark("__digest")
          .drop("__digest")
      case None => raw
    }
    val writer = source.writeStream.queryName("graft-pump")
    (if (trigger != null) writer.trigger(trigger) else writer)
      .option("checkpointLocation", sinks.checkpoint)
      .foreachBatch(writeBatch(cfg, inf, sinks, rawOnly, live) _)
      .start()
  }
}
