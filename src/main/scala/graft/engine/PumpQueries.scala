package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.RandomId

/** Oracle-checked batch forms of the reference's operator inventory
  * (SURVEY §2). The `events` table stands in for the MQTT stream:
  * `props` is the JSON-payload analog, `ts` the received-time analog
  * (FIXTURES.md §2). Several adapter queries first *construct* the
  * reference's multi-record payload shape from `props` — the same
  * construction appears verbatim in the DuckDB oracle, so the JSON
  * parse/explode/flatten semantics are what's actually being compared.
  *
  * Each entry is (name -> DataFrame builder) plus matching ANSI SQL in
  * [[oracle]]; column names/aliases are kept identical on both sides
  * (the driver sorts columns by name before hashing).
  */
object PumpQueries {

  /** Canonical pipeline-stage order for the lag arithmetic (G4). */
  val Stages: Seq[String] = Seq("view", "click", "signup", "purchase", "error")

  /** The adapter inference used by the payload-construction queries:
    * record r1 carries a scalar leaf `k`, record r2 nests it one level —
    * deliberately heterogeneous records so A8 null-binding is exercised
    * (r1 lacks `nested`, r2 lacks `k`).
    */
  val payloadSample = """{"r1": {"k": 1}, "r2": {"nested": {"k": 2}}}"""
  lazy val payloadInf: JsonInference.Inferred = JsonInference.inferFromSample(payloadSample)

  /** `{"r1": <props>, "r2": {"nested": <props>}}` */
  def goodPayload(props: Column): Column =
    concat(lit("{\"r1\": "), props, lit(", \"r2\": {\"nested\": "), props, lit("}}"))

  private val goodPayloadSql =
    """'{"r1": ' || props || ', "r2": {"nested": ' || props || '}}'"""

  /** DuckDB-side A3 validity: parseable JSON, non-empty, all top-level
    * values are objects (all-or-nothing per message).
    */
  private def validitySql(payloadExpr: String) =
    s"""coalesce(len(json_keys(TRY_CAST($payloadExpr AS JSON))) > 0
       | AND len(list_filter(json_keys(TRY_CAST($payloadExpr AS JSON)),
       |   k -> json_type(TRY_CAST($payloadExpr AS JSON), '$$."' || k || '"') != 'OBJECT')) = 0,
       | false)""".stripMargin.replaceAll("\n", " ")

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A1 — JSON scalar parse with the reference type lattice (numbers ->
    // double). Sort FIRST on the scan column, parse after the exchange:
    // a global sort's range-sampling pass recomputes its child, and
    // sampling a raw scan is cheap while sampling a JSON parse is not.
    // (Projections are not pushed below sorts, so the parse runs once.)
    "a1_json_parse" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"), col("props"))
        .orderBy("event_id")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("double").as("k"))
    }),

    // A2+A4+A5+A8 — map explode, cascading flatten, sorted columns, null binding
    "a2_explode_flatten" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), goodPayload(col("props")).as("payload"))
      Adapter.adapt(ev, "payload", payloadInf, Seq("event_id"))
        .orderBy("event_id", "key_id")
    }),

    // A3 — all-or-nothing protocol assertion (sort-then-parse, see A1)
    "a3_protocol_reject" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("props")).orderBy("event_id")
      val payload = when(col("event_id") % 7 === 0, lit("""{"r1": 42}"""))
        .otherwise(goodPayload(col("props")))
      ev.withColumn("__p",
          graft.functions.Once.once(Adapter.parsePayload(payload, payloadInf)))
        .select(col("event_id"), Adapter.isValidPayload(col("__p")).as("valid"))
    }),

    // A6/A7 — schema inference on the reference's golden sample; output is
    // the inferred ClickHouse DDL fragment (golden transcript
    // /root/reference/release_20120128/readme.txt:40)
    "a6_schema_infer" -> ((s, _) => {
      val inf = JsonInference.inferFromSample(PumpConfig.GoldenSample)
      s.range(1).select(lit(JsonInference.ddlFragment(inf)).as("ddl"))
    }),

    // T5 — raw-table projection with derived collect_date
    "t5_raw_projection" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      Adapter.rawProjection(ev,
          mid = lpad(col("event_id").cast("string"), 12, "0"),
          topic = concat(lit("pump/data/"), (col("user_id") % 5).cast("string")),
          payload = col("props"),
          receivedTime = col("ts"))
        .orderBy("mid")
    }),

    // T6 — error routing: corrupt payloads leave the adapter path
    "t6_error_route" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val good = goodPayload(col("props"))
      val payload = when(col("event_id") % 13 === 0, substring(good, 1, 10)).otherwise(good)
      ev.withColumn("__p",
          graft.functions.Once.once(Adapter.parsePayload(payload, payloadInf)))
        .select(when(Adapter.isValidPayload(col("__p")),
            lit("adapter")).otherwise(lit("error")).as("route"))
        .groupBy("route").agg(count(lit(1)).as("n"))
        .orderBy("route")
    }),

    // T3+K4/K5 — the pump's dual-sink write itself, batch form: construct
    // source-shaped rows, run Pump.writeBatch (mid assignment, raw write,
    // adapter parse/explode/flatten write, date partitioning), read the
    // sinks back and report deterministic totals. This is the reference's
    // steady-state path under the oracle gate, and its timing in Bench IS
    // the pump-throughput measurement.
    "t3_dual_sink" -> ((s, dir) => {
      val good = goodPayload(col("props"))
      val payload = when(col("event_id") % 13 === 0, substring(good, 1, 10)).otherwise(good)
      val source = Tables.events(s, dir).select(
        concat(lit("pump/data/"), (col("user_id") % 5).cast("string")).as("topic"),
        payload.cast("binary").as("payload"),
        col("ts").as("received_time"))
      val out = java.nio.file.Files.createTempDirectory("dual-sink").toString
      try {
        val sinks = graft.streaming.Pump.Sinks(s"$out/raw", s"$out/adapter", s"$out/ckpt")
        graft.streaming.Pump.writeBatch(PumpConfig(jsonSample = payloadSample),
          payloadInf, sinks)(source, 0L)
        val raw = s.read.parquet(sinks.rawPath)
        val adapter = s.read.parquet(sinks.adapterPath)
        val totals = raw.agg(count(lit(1)).as("raw_rows"),
            countDistinct(col("mid")).as("n_mids"))
          .crossJoin(adapter.agg(count(lit(1)).as("adapter_rows")))
          .select(col("raw_rows"), col("n_mids"), col("adapter_rows"))
        // the frame reads the sink files lazily: collect the one row
        // before the directory goes
        s.createDataFrame(java.util.Arrays.asList(totals.collect(): _*), totals.schema)
      } finally org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(out))
    }),

    // K1 — DDL synthesis from the inferred schema (golden CREATE TABLE,
    // release_20120128/readme.txt:57-73)
    "k1_ddl" -> ((s, _) => {
      val inf = JsonInference.inferFromSample(PumpConfig.GoldenSample)
      s.range(1).select(
        lit(graft.sinks.ClickHouseDdl.createRawTableClickHouse("pump", "raw_message"))
          .as("raw_ddl"),
        lit(graft.sinks.ClickHouseDdl.createAdapterTableClickHouse("pump", "json_message", inf))
          .as("adapter_ddl"))
    }),

    // T2 — random message id: property check (count, length, alphabet);
    // values are nondeterministic, the invariants are not
    "t2_random_id" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(RandomId.random_id(8).as("mid"))
        .agg(count(lit(1)).as("n"),
          count_if(col("mid").rlike("^[0-9A-Z]{8}$")).as("n_valid"))
    }),

    // G1 — tumbling 5-minute window count + byte sum per stage
    "g1_window_agg" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      Monitor.windowedStageAgg(ev, col("ts"), col("event_type"),
          length(col("props")) + length(col("event_type")) + lit(4), "5 minutes")
        .orderBy("window_start", "stage")
    }),

    // G1s — SLIDING window variant (10-minute windows every 5): the
    // reference only has tumbling ticks (SURVEY §2.7), but rate dashboards
    // want overlap; Spark's window() emits each event into len/slide
    // windows natively, one shuffle on (window, stage) after partial agg
    "g1s_sliding_window" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.groupBy(
          window(col("ts"), "10 minutes", "5 minutes").as("w"),
          col("event_type").as("stage"))
        .agg(count(lit(1)).as("events"))
        .select(col("w.start").as("window_start"), col("stage"), col("events"))
        .orderBy("window_start", "stage")
    }),

    // G2 — cumulative success/failure totals per stage
    "g2_cumulative" -> ((s, dir) => {
      Monitor.cumulativeTotals(Tables.events(s, dir), col("event_type"), col("value") >= 10)
        .orderBy("stage")
    }),

    // G3 — average rate since start
    "g3_avg_rate" -> ((s, dir) => {
      Monitor.avgRates(Tables.events(s, dir), col("ts"), col("event_type"))
        .orderBy("stage")
    }),

    // G4 — stage-lag derivation via pivot + column arithmetic
    "g4_stage_lags" -> ((s, dir) => {
      val t = Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type").as("stage"))
        .agg(count(lit(1)).as("total"))
      Monitor.stageLags(t, Stages, Seq("user_id")).orderBy("user_id")
    }),

    // G5 — per-interval rate normalization (count / window seconds)
    "g5_rate_norm" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val w = Monitor.windowedStageAgg(ev, col("ts"), col("event_type"),
        length(col("props")) + length(col("event_type")) + lit(4), "5 minutes")
      Monitor.normalizeRates(w, 300).orderBy("window_start", "stage")
    }),

    // G6 — nested metrics JSON document assembly
    "g6_metrics_doc" -> ((s, dir) => {
      val agg = Tables.events(s, dir)
        .groupBy(col("event_type").as("stage"))
        .agg(count(lit(1)).as("total"), sum(length(col("props")) + lit(4)).as("bytes"))
      Monitor.metricsDoc(agg, Seq("stage"), Seq("total", "bytes"))
        .select(col("stage"), col("doc"))
        .orderBy("stage")
    }),

    // G6 FULL — the reference's complete 4-section document over a
    // deterministic 8-stage funnel model of the event stream: an event
    // "reaches" stage s iff it reached s's upstream stage and clears a
    // per-stage modulus gate on event_id (monotone by construction, so
    // every queue lag is nonnegative like the reference's counters).
    // Cumulative succeed/failed per stage, last-5-minute interval
    // counters, byte sizes for the three size-carrying stages, and the
    // Info/gauge scalars all come out of ONE aggregation pass; the
    // document itself is byte-exact fmt.Sprintf layout
    // (Monitor.fullMetricsDoc, monitor.go:130-176).
    "g6_full_doc" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val id = col("event_id")
      val pSub = id % 101 =!= 0
      val pDp = pSub && id % 97 =!= 0
      val pDa = pDp && id % 89 =!= 0
      val pPdo = pDa && id % 83 =!= 0
      val pRdoRev = pDp && id % 79 =!= 0
      val pRdoCom = pRdoRev && id % 73 =!= 0
      val pAdoRev = pPdo && id % 71 =!= 0
      val pAdoCom = pAdoRev && id % 67 =!= 0
      // (arrival predicate, success predicate) per stage: failed = arrived
      // upstream but did not clear this stage's gate
      val preds: Map[String, (Column, Column)] = Map(
        "sub" -> (lit(true), pSub), "dp" -> (pSub, pDp), "da" -> (pDp, pDa),
        "da_pdo" -> (pDa, pPdo), "rdo_rev" -> (pDp, pRdoRev),
        "rdo_com" -> (pRdoRev, pRdoCom), "ado_rev" -> (pPdo, pAdoRev),
        "ado_com" -> (pAdoRev, pAdoCom))
      val span = ev.agg(
        (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
          .as("runtime_secs"),
        max(col("ts")).as("max_ts"))
      // "last tick" = the final 5 minutes of the stream — the publish
      // interval's batch twin (the streaming form resets per trigger)
      val win = col("ts") > col("max_ts") - expr("INTERVAL 5 MINUTES")
      val bytes = length(col("props")) + lit(4)
      val aggCols = Monitor.RefStages.flatMap { st =>
        val (arrived, ok) = preds(st)
        Seq(count_if(ok).as(s"${st}_succeed"),
          count_if(arrived && !ok).as(s"${st}_failed"),
          count_if(ok && win).as(s"${st}_win"))
      } ++ Seq("sub", "dp", "da").map { st =>
        sum(when(preds(st)._2 && win, bytes).otherwise(0)).as(s"${st}_size_win")
      } ++ Seq(
        (count_if(col("event_type") === "signup") -
          count_if(col("event_type") === "error")).as("pipe_num"),
        // one publish per elapsed tick window
        countDistinct(expr("unix_timestamp(ts) div 300")).as("pub_succeed"),
        count_if(col("event_type") === "error").as("check_errors"),
        first(col("runtime_secs")).as("runtime_secs"))
      val counters = ev.crossJoin(broadcast(span))
        .agg(aggCols.head, aggCols.tail: _*)
        .withColumn("pub_failed", lit(0L))
      Monitor.fullMetricsDoc(counters, intervalSecs = 300).select(col("doc"))
    }),

    // G7/G8 — liveness + error gauges (connect/disconnect/error events
    // modeled on the event_type stream)
    "g7_gauges" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      Monitor.gauges(ev,
        isConnect = col("event_type") === "signup",
        isDisconnect = col("event_type") === "error",
        isError = col("event_type") === "error")
    }),

    // Q1 — full scan + projection (check mode)
    "q1_scan" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .orderBy("event_id")
    }),

    // Q2 — count() aggregate (check mode)
    "q2_count" -> ((s, dir) => {
      Tables.events(s, dir).agg(count(lit(1)).as("total"))
    })
  )

  // ----------------------------------------------------------------- oracle

  def oracle: Map[String, String] = Map(
    "a1_json_parse" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS DOUBLE) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "a2_explode_flatten" ->
      s"""WITH p AS (SELECT event_id, $goodPayloadSql AS payload FROM events),
         |e AS (SELECT event_id, payload, unnest(json_keys(payload::JSON)) AS key_id FROM p)
         |SELECT event_id,
         |  CAST(json_extract(payload, '$$."' || key_id || '".k') AS DOUBLE) AS k,
         |  key_id,
         |  CAST(json_extract(payload, '$$."' || key_id || '".nested.k') AS DOUBLE) AS nested_k
         |FROM e ORDER BY event_id, key_id""".stripMargin,

    "a3_protocol_reject" ->
      s"""WITH p AS (SELECT event_id,
         |  CASE WHEN event_id % 7 = 0 THEN '{"r1": 42}' ELSE $goodPayloadSql END AS payload
         |  FROM events)
         |SELECT event_id, ${validitySql("payload")} AS valid
         |FROM p ORDER BY event_id""".stripMargin,

    "a6_schema_infer" ->
      """SELECT ', command String, key_id String, params_key String, params_thingKey String, params_ts String, params_value Float64' AS ddl""",

    "t5_raw_projection" ->
      """SELECT lpad(CAST(event_id AS VARCHAR), 12, '0') AS mid,
        |  'pump/data/' || CAST(user_id % 5 AS VARCHAR) AS topic,
        |  props AS payload,
        |  CAST(ts AS TIMESTAMP) AS collect_datetime,
        |  CAST(ts AS DATE) AS collect_date
        |FROM events ORDER BY mid""".stripMargin,

    "t6_error_route" ->
      s"""WITH p AS (SELECT event_id,
         |  CASE WHEN event_id % 13 = 0 THEN substring($goodPayloadSql, 1, 10)
         |       ELSE $goodPayloadSql END AS payload FROM events),
         |v AS (SELECT event_id, ${validitySql("payload")} AS valid FROM p)
         |SELECT CASE WHEN valid THEN 'adapter' ELSE 'error' END AS route,
         |  count(*) AS n
         |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,

    "t2_random_id" ->
      """SELECT count(*) AS n, count(*) AS n_valid FROM events""",

    "t3_dual_sink" ->
      """SELECT count(*) AS raw_rows, count(*) AS n_mids,
        |  2 * count(*) FILTER (WHERE event_id % 13 != 0) AS adapter_rows
        |FROM events""".stripMargin,

    "k1_ddl" -> {
      val inf = JsonInference.inferFromSample(PumpConfig.GoldenSample)
      def q(s: String) = "'" + s.replace("'", "''") + "'"
      s"""SELECT ${q(graft.sinks.ClickHouseDdl.createRawTableClickHouse("pump", "raw_message"))} AS raw_ddl,
         |${q(graft.sinks.ClickHouseDdl.createAdapterTableClickHouse("pump", "json_message", inf))} AS adapter_ddl""".stripMargin
    },

    "g1_window_agg" ->
      """SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
        |  event_type AS stage, count(*) AS events,
        |  CAST(sum(length(props) + length(event_type) + 4) AS BIGINT) AS bytes
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // a 10-min window sliding by 5 = each event lands in exactly the two
    // 5-min-aligned windows starting at tb and tb - 5min
    "g1s_sliding_window" ->
      """WITH e AS (SELECT event_type,
        |  time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS tb
        |  FROM events),
        |w AS (SELECT event_type,
        |  unnest([tb, tb - INTERVAL '5 minutes']) AS window_start FROM e)
        |SELECT window_start, event_type AS stage, count(*) AS events
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "g2_cumulative" ->
      """SELECT event_type AS stage, count(*) AS total,
        |  CAST(count(*) FILTER (WHERE value >= 10) AS BIGINT) AS succeed,
        |  CAST(count(*) FILTER (WHERE NOT (value >= 10)) AS BIGINT) AS failed
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "g3_avg_rate" ->
      """WITH span AS (SELECT
        |    CAST(floor(date_part('epoch', CAST(max(ts) AS TIMESTAMP))) AS BIGINT)
        |  - CAST(floor(date_part('epoch', CAST(min(ts) AS TIMESTAMP))) AS BIGINT) AS runtime_secs
        |  FROM events)
        |SELECT event_type AS stage, count(*) AS total,
        |  CASE WHEN runtime_secs > 0
        |    THEN round(CAST(count(*) AS DOUBLE) / runtime_secs, 6)
        |  END AS avg_mps
        |FROM events, span GROUP BY 1, runtime_secs ORDER BY 1""".stripMargin,

    "g4_stage_lags" -> {
      val cols = Stages.map(st =>
        s"coalesce(CAST(sum(total) FILTER (WHERE stage = '$st') AS BIGINT), 0) AS \"$st\"")
      val lags = Stages.sliding(2).map { case Seq(a, b) =>
        s"\"$a\" - \"$b\" AS lag_${a}_to_$b"
      }
      s"""WITH t AS (SELECT user_id, event_type AS stage, count(*) AS total
         |  FROM events GROUP BY 1, 2),
         |p AS (SELECT user_id, ${cols.mkString(", ")} FROM t GROUP BY user_id)
         |SELECT user_id, ${Stages.map(s => s"\"$s\"").mkString(", ")}, ${lags.mkString(", ")}
         |FROM p ORDER BY user_id""".stripMargin
    },

    "g5_rate_norm" ->
      """WITH w AS (
        |  SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
        |    event_type AS stage, count(*) AS events,
        |    CAST(sum(length(props) + length(event_type) + 4) AS BIGINT) AS bytes
        |  FROM events GROUP BY 1, 2)
        |SELECT window_start, stage, events, bytes,
        |  round(CAST(events AS DOUBLE) / 300.0, 6) AS events_per_sec,
        |  round(CAST(bytes AS DOUBLE) / 300.0, 6) AS bytes_per_sec
        |FROM w ORDER BY window_start, stage""".stripMargin,

    "g6_metrics_doc" ->
      """SELECT event_type AS stage,
        |  '{"Info":{"stage":"' || event_type || '"},"DataInfo":{"total":'
        |    || CAST(count(*) AS VARCHAR) || ',"bytes":'
        |    || CAST(CAST(sum(length(props) + 4) AS BIGINT) AS VARCHAR) || '}}' AS doc
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "g6_full_doc" -> g6FullOracle,

    "g7_gauges" ->
      """SELECT
        |  CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT)
        |    - CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS pipe_num,
        |  CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS db_store_err_num
        |FROM events""".stripMargin,

    "q1_scan" ->
      """SELECT event_id, user_id, event_type, value FROM events ORDER BY event_id""",

    "q2_count" ->
      """SELECT count(*) AS total FROM events"""
  )

  /** DuckDB twin of `g6_full_doc`: the same funnel predicates, the same
    * one-pass counter aggregation, and the same fmt.Sprintf byte layout
    * (`printf('%.1f', round(x, 1))` mirrors Spark's
    * `format_string("%.1f", round(x, 1))` — the pre-round pins midpoint
    * behavior identically on both engines, see Monitor.fullMetricsDoc).
    */
  private def g6FullOracle: String = {
    val pSub = "(event_id % 101 != 0)"
    val pDp = s"($pSub AND event_id % 97 != 0)"
    val pDa = s"($pDp AND event_id % 89 != 0)"
    val pPdo = s"($pDa AND event_id % 83 != 0)"
    val pRdoRev = s"($pDp AND event_id % 79 != 0)"
    val pRdoCom = s"($pRdoRev AND event_id % 73 != 0)"
    val pAdoRev = s"($pPdo AND event_id % 71 != 0)"
    val pAdoCom = s"($pAdoRev AND event_id % 67 != 0)"
    val preds: Seq[(String, (String, String))] = Seq(
      "sub" -> ("true", pSub), "dp" -> (pSub, pDp), "da" -> (pDp, pDa),
      "da_pdo" -> (pDa, pPdo), "rdo_rev" -> (pDp, pRdoRev),
      "rdo_com" -> (pRdoRev, pRdoCom), "ado_rev" -> (pPdo, pAdoRev),
      "ado_com" -> (pAdoRev, pAdoCom))
    val win = "CAST(ts AS TIMESTAMP) > max_ts - INTERVAL 5 MINUTE"
    val stageItems = preds.flatMap { case (st, (arr, ok)) => Seq(
      s"count(*) FILTER (WHERE $ok) AS ${st}_succeed",
      s"count(*) FILTER (WHERE $arr AND NOT $ok) AS ${st}_failed",
      s"count(*) FILTER (WHERE $ok AND $win) AS ${st}_win")
    }
    val okOf = preds.toMap
    val sizeItems = Seq("sub", "dp", "da").map { st =>
      s"COALESCE(CAST(sum(length(props) + 4) FILTER (WHERE ${okOf(st)._2} AND $win) AS BIGINT), 0) AS ${st}_size_win"
    }
    val scalarItems = Seq(
      "count(*) FILTER (WHERE event_type = 'signup') - count(*) FILTER (WHERE event_type = 'error') AS pipe_num",
      "count(DISTINCT CAST(floor(date_part('epoch', CAST(ts AS TIMESTAMP))) AS BIGINT) // 300) AS pub_succeed",
      "0 AS pub_failed",
      "count(*) FILTER (WHERE event_type = 'error') AS check_errors",
      "runtime_secs")

    def fd(x: String) = s"printf('%.1f', round(CAST($x AS DOUBLE), 1))"
    def rate(c: String) = fd(s"CAST($c AS DOUBLE) / 300.0")
    // greatest-1 clamp mirrors Monitor.fullMetricsDoc's startup-instant
    // divide guard (runtime_secs = 0)
    def avg(st: String) = fd(s"CAST(${st}_succeed + ${st}_failed AS DOUBLE)" +
      " / greatest(runtime_secs, 1)")
    def d(c: String) = s"CAST(CAST($c AS BIGINT) AS VARCHAR)"
    // variadic concat, not || chains: DuckDB binds || left-nested and the
    // full document exceeds its 128-deep expression recursion limit
    def obj(fields: (String, String)*): String = {
      val inner = fields.zipWithIndex.flatMap { case ((k, v), i) =>
        Seq((if (i == 0) "'{\"" else "',\"") + k + "\":'", v)
      } :+ "'}'"
      s"concat(${inner.mkString(", ")})"
    }
    def section(prefix: String, st: String, withSize: Boolean, avgKey: String) =
      obj(Seq(s"${prefix}PerSec" -> rate(s"${st}_win")) ++
        (if (withSize) Seq(s"${prefix}SizePerSec" -> rate(s"${st}_size_win")) else Seq.empty) ++ Seq(
        s"${prefix}Succeed" -> d(s"${st}_succeed"),
        s"${prefix}Failed" -> d(s"${st}_failed"),
        avgKey -> avg(st)): _*)

    val doc = obj(
      "Info" -> obj(
        "RunTime(s)" -> fd("runtime_secs"),
        "PipeNum" -> d("pipe_num"),
        "MonPubSucceed" -> d("pub_succeed"),
        "MonPubFailed" -> d("pub_failed")),
      "PerformanceMetrics" -> obj(
        "QueueWaitInfo" -> obj(
          "WaitForProcess" -> d("sub_succeed - dp_succeed"),
          "WaitForRawDataObjectToDB" -> d("dp_succeed - rdo_rev_succeed"),
          "WaitForRawDataObjectToDBCommit" -> d("rdo_rev_succeed - rdo_com_succeed"),
          "WaitForAdapter" -> d("dp_succeed - da_succeed"),
          "WaitForProcessDataObject" -> d("da_succeed - da_pdo_succeed"),
          "WaitForAdapterDataObjectToDB" -> d("da_pdo_succeed - ado_rev_succeed"),
          "WaitForAdapterDataObjectToDBCommit" -> d("ado_rev_succeed - ado_com_succeed")),
        "GapBetweenRawAndAdapterInfo" -> obj(
          "GapToDB" -> d("rdo_rev_succeed - ado_rev_succeed"),
          "GapToDBCommit" -> d("rdo_com_succeed - ado_com_succeed"))),
      "DataInfo" -> obj(
        "SubscribeMsgInfo" -> section("SubMsg", "sub", withSize = true, "AvgPeriodSubMsgPerSec"),
        "DataProcessMsgInfo" -> section("DpMsg", "dp", withSize = true, "AvgPeriodDpMsgPerSec"),
        "DataAdapterInfo" -> section("DaMsg", "da", withSize = true, "AvgPeriodDaMsgPerSec"),
        "DataProcessDataObjectInfo" -> section("DaPdoMsg", "da_pdo", withSize = false, "AvgPeriodDaPdoMsgPerSec")),
      "DataDBStoreInfo" -> obj(
        "CheckErrors" -> d("check_errors"),
        "RawDataObjectReceiveInfo" -> section("DbsRDOReceive", "rdo_rev", withSize = false, "AvgPeriodDbsRdoRevPerSec"),
        "RawDataObjectCommitInfo" -> section("DbsRDOCommit", "rdo_com", withSize = false, "AvgPeriodDbsRdoComPerSec"),
        "AdapterDataObjectReceiveInfo" -> section("DbsADOReceive", "ado_rev", withSize = false, "AvgPeriodDbsAdoRevPerSec"),
        "AdapterDataObjectCommitInfo" -> section("DbsADOCommit", "ado_com", withSize = false, "AvgPeriodDbsAdoComPerSec")))

    s"""WITH span AS (
       |  SELECT CAST(floor(date_part('epoch', CAST(max(ts) AS TIMESTAMP))) AS BIGINT)
       |       - CAST(floor(date_part('epoch', CAST(min(ts) AS TIMESTAMP))) AS BIGINT) AS runtime_secs,
       |       CAST(max(ts) AS TIMESTAMP) AS max_ts
       |  FROM events),
       |c AS (
       |  SELECT ${(stageItems ++ sizeItems ++ scalarItems).mkString(",\n    ")}
       |  FROM events, span GROUP BY runtime_secs)
       |SELECT $doc AS doc FROM c""".stripMargin
  }
}
