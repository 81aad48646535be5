package graft.perfbench

/** The benchmark's own arithmetic, kept free of Spark so that
  * `StatsCheck` can test it on synthetic inputs.
  */
object Stats {

  /** A percentile with the number of samples it was taken from. */
  final case class Pct(value: Double, n: Int)

  /** Nearest-rank percentile (`q` in (0, 1]) of unsorted samples: the
    * smallest value with at least `q * n` samples at or below it. NaN on
    * an empty sample.
    */
  def percentile(samples: Array[Double], q: Double): Pct = {
    require(q > 0 && q <= 1, s"percentile $q out of (0, 1]")
    if (samples.isEmpty) Pct(Double.NaN, 0)
    else {
      val s = samples.clone()
      java.util.Arrays.sort(s)
      val rank = math.ceil(q * s.length - 1e-9).toInt.max(1)
      Pct(s(rank - 1), s.length)
    }
  }

  def median(samples: Seq[Double]): Double = percentile(samples.toArray, 0.5).value

  /** A closed span `[start, end]` in milliseconds. */
  final case class Interval(start: Double, end: Double) {
    require(end >= start, s"interval ends before it starts: $start > $end")
    def length: Double = end - start
  }

  /** Length of the union of `spans`, each clipped to `within`: the part
    * of `within` that at least one span covers. Overlapping spans (the
    * pump's concurrent raw and adapter writes) count once.
    */
  def covered(within: Interval, spans: Seq[Interval]): Double = {
    val clipped = spans
      .map(s => (math.max(s.start, within.start), math.min(s.end, within.end)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curStart.isNaN) { curStart = a; curEnd = b }
      else if (a <= curEnd) curEnd = math.max(curEnd, b)
      else { total += curEnd - curStart; curStart = a; curEnd = b }
    }
    if (!curStart.isNaN) total += curEnd - curStart
    total
  }

  /** Self time of a span: its length minus the part its children cover. */
  def selfTime(parent: Interval, children: Seq[Interval]): Double =
    parent.length - covered(parent, children)

  /** Due-to-commit latency per message, in milliseconds.
    *
    * @param dueMicros  the generator's due time of each message
    * @param batchOf    the pump batch that committed each message
    * @param commitMs   commit wall time of each batch (progress
    *                   `timestamp` + `batchDuration`)
    * @return one latency per message whose batch has a commit time,
    *         and the number of messages whose batch has none
    */
  def latencies(dueMicros: Array[Long], batchOf: Array[Long],
                commitMs: Map[Long, Double]): (Array[Double], Int) = {
    require(dueMicros.length == batchOf.length, "due and batch arrays differ in length")
    val out = Array.newBuilder[Double]
    var unmatched = 0
    var i = 0
    while (i < dueMicros.length) {
      commitMs.get(batchOf(i)) match {
        case Some(c) => out += c - dueMicros(i) / 1000.0
        case None => unmatched += 1
      }
      i += 1
    }
    (out.result(), unmatched)
  }

  /** Messages the pump got wrong, by kind. */
  final case class Failures(lost: Long, duplicated: Long, adapterWrong: Long,
                            liveMissing: Long) {
    def total: Long = lost + duplicated + adapterWrong + liveMissing
  }

  /** Failed messages as a share of those published. */
  def failedFrac(f: Failures, published: Long): Double = {
    require(published > 0, "nothing published")
    f.total.toDouble / published
  }

  /** Lost and duplicated messages, given the message ids the generator
    * published (`0 until published`) and those found in a sink.
    */
  def lostAndDuplicated(published: Long, found: Array[Long]): (Long, Long) = {
    val seen = new java.util.BitSet()
    var dup = 0L
    var stray = 0L
    found.foreach { s =>
      if (s < 0 || s >= published) stray += 1
      else if (seen.get(s.toInt)) dup += 1
      else seen.set(s.toInt)
    }
    (published - seen.cardinality(), dup + stray)
  }
}
