package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.engine.{CheckMode, IniConfig, PumpConfig}
import graft.sources.MqttBridge
import graft.streaming.{MonitorListener, MonitorStream, Pump}

/** The pump CLI — the reference's three commands (`/root/reference/
  * main.go:139-176`): `run`, `show`, `check`, each taking an INI config.
  *
  * {{{
  *   sbt "runMain graft.Main show  <conf.ini>"
  *   sbt "runMain graft.Main check <conf.ini>"
  *   sbt "runMain graft.Main run   <conf.ini> <outDir> [--available-now]"
  * }}}
  *
  * `run` connects the MQTT bridge to the configured broker, starts the
  * dual-sink pump (parquet sinks under `<outDir>`) and the throughput
  * monitor listener, then blocks. `--available-now` drains what's
  * available and exits (used by tests; production runs continuously on
  * the configured commit interval).
  */
object Main {

  def main(args: Array[String]): Unit = args.toList match {
    case "show" :: ini :: Nil =>
      println(CheckMode.show(loadCfg(ini)))

    case "check" :: ini :: Nil =>
      val cfg = loadCfg(ini)
      val spark = session()
      try {
        val r = CheckMode.run(spark, cfg)
        println(s"inferred DDL fragment:${r.ddlFragment}")
        println(s"schema consistent: ${r.schemaConsistent}")
        println(s"raw round-trip rows: ${r.rawCount}; adapter rows: ${r.adapterCount}")
        println(s"adapter columns: ${r.adapterColumns.mkString(", ")}")
        println("check passed")
      } finally spark.stop()

    case "run" :: ini :: outDir :: rest =>
      val cfg = loadCfg(ini)
      val availableNow = rest.contains("--available-now")
      val spark = session()
      val brokerName = "graft-run"
      // the INI's source-mqtt section (conf.go) -> bridge subscription
      // feeding the source, with the reference's client options
      // (mqtt.go:41-52) and auto-reconnect
      val bridge = MqttBridge.start(MqttBridge.options(cfg.source), cfg.sourceTopics, brokerName)
      spark.streams.addListener(new MonitorListener(cfg, brokerName))
      val sinks = Pump.Sinks(s"$outDir/raw", s"$outDir/adapter", s"$outDir/ckpt")
      val trigger = if (availableNow) Trigger.AvailableNow() else null
      val q = Pump.start(spark, cfg, sinks, brokerName, trigger,
        live = liveSink(cfg))
      var mon: org.apache.spark.sql.streaming.StreamingQuery = null
      try {
        // the reference's run also starts its monitor goroutine
        // (main.go:81): publish the full 4-section metrics document
        mon = MonitorStream.start(spark, cfg, brokerName, s"$outDir/mon-ckpt", trigger)
        if (availableNow) { q.awaitTermination(300000); mon.awaitTermination(60000) }
        else spark.streams.awaitAnyTermination() // surfaces monitor death too
      } finally {
        if (mon != null) mon.stop()
        q.stop(); bridge.close(); spark.stop()
      }

    case _ =>
      System.err.println("usage: graft.Main (show|check) <conf.ini> | run <conf.ini> <outDir> [--available-now]")
      sys.exit(2)
  }

  /** A [clickhouse] hostname in the INI engages the LIVE dual sink
    * beside the parquet system of record — the reference's dbstore
    * topology (connect-time DDL bootstrap, then batched inserts,
    * `data_dbstore.go:122-147,336-421`). The scheme picks the protocol:
    * `tcp` is the NATIVE wire protocol on port 9000 — the reference
    * DSN's own scheme (`data_dbstore.go:85`), so the shipped INIs work
    * verbatim — and `http`/`https` is the HTTP interface on 8123.
    *
    * Failure policy is the reference's counted-and-dropped
    * (`data_dbstore.go:150-155` checkError: G8 counter + log, never a
    * crash): a failed live insert increments
    * [[graft.sinks.LiveSinkErrors]] and the batch proceeds — the
    * parquet system of record beside this sink stays exactly-once, and
    * the pump must not stall because the analytics store is down.
    */
  private[graft] def liveSink(cfg: PumpConfig)
      : Option[(org.apache.spark.sql.DataFrame,
          Option[org.apache.spark.sql.DataFrame]) => Unit] =
    Option(cfg.db.hostname).filter(_.nonEmpty).map { host =>
      val inf = graft.engine.JsonInference.inferFromSample(cfg.jsonSample)
      val rawFq = s"${cfg.db.database}.${cfg.db.rawTable}"
      val adapterFq = s"${cfg.db.database}.${cfg.db.adapterTable}"
      val (writeRaw, writeAdapter):
          (org.apache.spark.sql.DataFrame => Unit,
           org.apache.spark.sql.DataFrame => Unit) = cfg.db.scheme match {
        case "http" | "https" =>
          val ep = graft.sinks.ClickHouseHttpSink.Endpoint(
            s"${cfg.db.scheme}://$host:${cfg.db.port}",
            cfg.db.username, cfg.db.password, cfg.db.compress)
          graft.sinks.ClickHouseHttpSink.ensureTables(
            ep, cfg.db.database, cfg.db.rawTable, cfg.db.adapterTable, inf)
          (df => graft.sinks.ClickHouseHttpSink.appendBatch(df, ep, rawFq),
           df => graft.sinks.ClickHouseHttpSink.appendBatch(df, ep, adapterFq))
        case "tcp" =>
          val ep = graft.sinks.ClickHouseNativeSink.Endpoint(
            host, cfg.db.port,
            if (cfg.db.username.nonEmpty) cfg.db.username else "default",
            cfg.db.password)
          graft.sinks.ClickHouseNativeSink.ensureTables(
            ep, cfg.db.database, cfg.db.rawTable, cfg.db.adapterTable, inf)
          (df => graft.sinks.ClickHouseNativeSink.appendBatch(df, ep, rawFq),
           df => graft.sinks.ClickHouseNativeSink.appendBatch(df, ep, adapterFq))
        case other => throw new IllegalArgumentException(
          s"clickhouse scheme '$other' unsupported (tcp = native protocol " +
            "port 9000, http/https = HTTP interface port 8123)")
      }
      (raw: org.apache.spark.sql.DataFrame,
       adapter: Option[org.apache.spark.sql.DataFrame]) =>
        graft.sinks.LiveSinkErrors.countedAndDropped {
          writeRaw(raw.drop("collect_date"))
          adapter.foreach(writeAdapter)
        }
    }

  private def loadCfg(path: String): PumpConfig =
    if (path == "-") PumpConfig() else IniConfig.fromFile(path)

  private def session(): SparkSession = SparkSession.builder()
    .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
    .appName("graft-pump")
    .config("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
