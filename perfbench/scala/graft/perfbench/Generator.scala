package graft.perfbench

import java.nio.charset.StandardCharsets
import java.util.concurrent.locks.LockSupport

import graft.sources.mqtt.MqttClient

/** Payload shapes. Every record carries the message's sequence number
  * and due time (µs since the epoch) first, so both survive a truncated
  * payload in the raw sink and reach the flattened adapter table.
  */
sealed trait Shape {
  def records: Int
  /** one in `truncateEvery` payloads is cut short (0 = none) */
  def truncateEvery: Int
  def payload(seq: Long, dueMicros: Long, rnd: java.util.SplittableRandom): String
}

object Shape {
  private val Hex = "0123456789ABCDEF"
  private def hex(rnd: java.util.SplittableRandom, n: Int): String = {
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(Hex.charAt(rnd.nextInt(16))); i += 1 }
    sb.toString
  }
  private def ts(rnd: java.util.SplittableRandom): String =
    java.time.Instant.ofEpochSecond(1577836800L + rnd.nextInt(31536000)).toString

  /** The shipped golden sample's record: command + params(4 leaves). */
  final case class Golden(records: Int, truncateEvery: Int) extends Shape {
    def payload(seq: Long, due: Long, rnd: java.util.SplittableRandom): String = {
      val sb = new java.lang.StringBuilder(200 * records)
      sb.append('{')
      var r = 1
      while (r <= records) {
        if (r > 1) sb.append(", ")
        sb.append('"').append(r).append("\": {\"seq\": ").append(seq)
          .append(", \"due\": ").append(due)
          .append(", \"command\": \"property.publish\", \"params\": {\"thingKey\": \"")
          .append(hex(rnd, 32)).append("\", \"ts\": \"").append(ts(rnd))
          .append("\", \"key\": \"ut\", \"value\": ").append(rnd.nextInt(1000))
          .append("}}")
        r += 1
      }
      sb.append('}').toString
    }
  }

  /** A wider record: two nested structs, 14 leaves. */
  final case class Wide(records: Int, truncateEvery: Int) extends Shape {
    def payload(seq: Long, due: Long, rnd: java.util.SplittableRandom): String = {
      val sb = new java.lang.StringBuilder(300 * records)
      sb.append('{')
      var r = 1
      while (r <= records) {
        if (r > 1) sb.append(", ")
        sb.append('"').append(r).append("\": {\"seq\": ").append(seq)
          .append(", \"due\": ").append(due)
          .append(", \"command\": \"property.publish\", \"params\": {\"thingKey\": \"")
          .append(hex(rnd, 32)).append("\", \"ts\": \"").append(ts(rnd))
          .append("\", \"key\": \"temp\", \"value\": ").append(rnd.nextInt(100000) / 100.0)
          .append(", \"unit\": \"celsius\"}, \"meta\": {\"device\": \"sensor-")
          .append(hex(rnd, 8)).append("\", \"fw\": \"v").append(rnd.nextInt(10))
          .append('.').append(rnd.nextInt(100)).append("\", \"rssi\": ")
          .append(-rnd.nextInt(120)).append(", \"lat\": ")
          .append(rnd.nextInt(180000000) / 1e6 - 90).append(", \"lon\": ")
          .append(rnd.nextInt(360000000) / 1e6 - 180).append(", \"battery\": ")
          .append(rnd.nextInt(101)).append("}}")
        r += 1
      }
      sb.append('}').toString
    }
  }

  /** A payload of the shape whose content is fixed: the schema sample
    * the pump infers its adapter columns from.
    */
  def sample(s: Shape): String = s.payload(0L, 0L, new java.util.SplittableRandom(0L))
}

/** Open-loop load generator: one thread, one MQTT connection, message
  * `seq` due `seq / rate` seconds after start whatever the pump does.
  * Messages go to `topics` round-robin. Content and truncation follow
  * from `seed` alone.
  */
final class Generator(shape: Shape, rate: Double, seed: Long,
                      host: String, port: Int, topics: IndexedSeq[String]) {
  private val client = new MqttClient(host, port, s"perfbench-gen-${System.nanoTime()}")
  private val truncated = new java.util.BitSet()
  private val lateMicros = new LongBuffer
  @volatile private var until = Long.MaxValue
  @volatile private var published = 0L
  @volatile private var failure: Throwable = null
  @volatile private var bytes = 0L
  private var t0Nanos = 0L
  /** wall-clock µs at which message 0 was due */
  var t0Micros = 0L

  def dueMicros(seq: Long): Long = t0Micros + (seq * 1e6 / rate).toLong

  /** Number of messages due strictly before wall time `wallMs`. */
  def dueBefore(wallMs: Double): Long =
    math.max(0L, math.ceil((wallMs * 1000 - t0Micros) * rate / 1e6).toLong)

  private val thread = new Thread(() => run(), "perfbench-generator")

  def start(): Unit = {
    t0Nanos = System.nanoTime()
    t0Micros = System.currentTimeMillis() * 1000L
    thread.start()
  }

  private def run(): Unit = try {
    val rnd = new java.util.SplittableRandom(seed)
    val trunc = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    var seq = 0L
    while (seq < until) {
      val elapsedNanos = System.nanoTime() - t0Nanos
      val due = math.min(until, (elapsedNanos * rate / 1e9).toLong + 1)
      while (seq < due) {
        var body = shape.payload(seq, dueMicros(seq), rnd)
        if (shape.truncateEvery > 0 && trunc.nextInt(shape.truncateEvery) == 0) {
          body = body.substring(0, body.length * 3 / 5)
          truncated.set(seq.toInt)
        }
        val bs = body.getBytes(StandardCharsets.UTF_8)
        client.publish(topics((seq % topics.length).toInt), bs)
        lateMicros += (System.nanoTime() - t0Nanos) / 1000 - (seq * 1e6 / rate).toLong
        bytes += bs.length
        seq += 1
        published = seq
      }
      LockSupport.parkNanos(200000L)
    }
  } catch { case e: Throwable => failure = e }

  /** Publish every message due before `wallMs`, then stop. */
  def stopAt(wallMs: Double): Unit = {
    until = dueBefore(wallMs)
    thread.join()
    client.close()
    if (failure != null) throw failure
  }

  /** Stop now (set-up restarts). */
  def stopNow(): Unit = { until = 0L; thread.join(); client.close() }

  def count: Long = published
  def bytesPublished: Long = bytes
  def isTruncated(seq: Long): Boolean = truncated.get(seq.toInt)
  def truncatedCount: Long = truncated.cardinality().toLong
  /** publish time minus due time of messages `[from, until)`, in ms */
  def lateMs(from: Long, until: Long): Array[Double] =
    (from until math.min(until, lateMicros.size.toLong)).map(i => lateMicros(i.toInt) / 1000.0).toArray
}

/** Growable primitive long array. */
final class LongBuffer {
  private var a = new Array[Long](1 << 16)
  private var n = 0
  def +=(v: Long): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = v; n += 1
  }
  def apply(i: Int): Long = a(i)
  def size: Int = n
}
