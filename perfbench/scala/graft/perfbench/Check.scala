package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** What the raw sink holds, one entry per raw row. */
final case class RawRows(seq: Array[Long], due: Array[Long], batch: Array[Long],
                         received: Array[Long], mid: Array[String])

/** The correctness gate: read the parquet sinks (and, on live runs, the
  * mini-server's tables) back and compare them with what the generator
  * published. Every message published must appear once in raw; each
  * valid one must have exactly `records` adapter rows under its raw
  * `mid`; each truncated one none; live rows must match parquet.
  */
final case class Check(raw: RawRows, distinctRaw: Long, rejects: Long, liveRows: Long,
                       failures: Stats.Failures)

object Check {
  def apply(spark: SparkSession, st: PumpBench.Stack, w: PumpBench.Workload,
            published: Long): Check = {
    import spark.implicits._
    val rawRows = spark.read.parquet(st.sinks.rawPath)
      .select(
        regexp_extract(col("payload"), "\"seq\": (\\d+)", 1).cast("long"),
        regexp_extract(col("payload"), "\"due\": (\\d+)", 1).cast("long"),
        col("batch_id").cast("long"),
        unix_micros(col("collect_datetime")),
        col("mid"))
      .as[(Long, Long, Long, Long, String)].collect()
    val raw = RawRows(rawRows.map(_._1), rawRows.map(_._2), rawRows.map(_._3),
      rawRows.map(_._4), rawRows.map(_._5))
    val (lost, dup) = Stats.lostAndDuplicated(published, raw.seq)

    val n = published.toInt
    val midOf = new Array[String](n)
    raw.seq.indices.foreach { i =>
      val s = raw.seq(i)
      if (s >= 0 && s < n) midOf(s.toInt) = raw.mid(i)
    }

    // adapter rows per message, keyed by the seq every record carries
    val adapterCount = new Array[Int](n)
    var adapterWrong = 0L
    spark.read.parquet(st.sinks.adapterPath)
      .groupBy(col("seq").cast("long").as("seq"), col("mid")).count()
      .as[(java.lang.Long, String, Long)].collect()
      .foreach { case (s, mid, c) =>
        if (s == null || s < 0 || s >= n || mid != midOf(s.toInt) || adapterCount(s.toInt) != 0)
          adapterWrong += 1
        else adapterCount(s.toInt) = c.toInt
      }
    var rejects = 0L
    (0 until n).foreach { s =>
      val expected = if (st.gen.isTruncated(s)) 0 else w.shape.records
      if (adapterCount(s) == 0) rejects += 1
      if (midOf(s) != null && adapterCount(s) != expected) adapterWrong += 1
    }

    // live rows: each message once in the live raw table under its
    // parquet mid, and as many live adapter rows as parquet has. Rows are
    // matched by the seq their payload carries: mids alone are not unique
    // across batches (the id generator is seeded by batch + partition).
    var liveMissing = 0L
    var liveRows = 0L
    st.ch.foreach { ch =>
      val db = st.cfg.db
      val SeqIn = "\"seq\": (\\d+)".r.unanchored
      val liveRaw = new Array[Int](n)
      ch.tableRows(s"${db.database}.${db.rawTable}").foreach { r =>
        liveRows += 1
        r("payload") match {
          case SeqIn(s) if s.toLong < n && r("mid") == midOf(s.toInt) => liveRaw(s.toInt) += 1
          case _ => liveMissing += 1
        }
      }
      val liveAdapter = new Array[Int](n)
      ch.tableRows(s"${db.database}.${db.adapterTable}").foreach { r =>
        liveRows += 1
        val s = r.get("seq").flatMap(_.toDoubleOption).map(_.toLong).getOrElse(-1L)
        if (s >= 0 && s < n && r("mid") == midOf(s.toInt)) liveAdapter(s.toInt) += 1
        else liveMissing += 1
      }
      (0 until n).foreach { s =>
        if (midOf(s) != null && (liveRaw(s) != 1 || liveAdapter(s) != adapterCount(s)))
          liveMissing += 1
      }
    }
    Check(raw, published - lost, rejects, liveRows,
      Stats.Failures(lost, dup, adapterWrong, liveMissing))
  }
}
