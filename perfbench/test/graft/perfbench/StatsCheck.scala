package graft.perfbench

/** Tests of the benchmark's own arithmetic on synthetic inputs.
  *
  * {{{
  *   python3 perfbench/run.py --self-test
  * }}}
  */
object StatsCheck {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Throwable => System.err.println(e); false }
    println(s"${if (passed) "ok  " else "FAIL"} $name")
    if (!passed) failures += 1
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    import Stats._

    val hundred = (1 to 100).map(_.toDouble).reverse.toArray
    check("p50 of 1..100 is 50 with n = 100")(percentile(hundred, 0.5) == Pct(50, 100))
    check("p99 of 1..100 is 99")(percentile(hundred, 0.99).value == 99)
    check("p100 is the maximum")(percentile(hundred, 1.0).value == 100)
    check("p99 of 10 samples is the largest")(
      percentile((1 to 10).map(_.toDouble).toArray, 0.99) == Pct(10, 10))
    check("percentile leaves its input unsorted")(hundred.head == 100)
    check("percentile of nothing is NaN with n = 0") {
      val p = percentile(Array.empty, 0.5); p.value.isNaN && p.n == 0
    }
    check("median of an even sample is the lower middle")(median(Seq(4, 1, 3, 2)) == 2)

    val parent = Interval(0, 100)
    check("overlapping children count once") {
      // raw [10, 40] and adapter [30, 60] run concurrently: 50 ms covered
      close(covered(parent, Seq(Interval(10, 40), Interval(30, 60))), 50)
    }
    check("children are clipped to the parent") {
      close(covered(parent, Seq(Interval(-20, 10), Interval(90, 120))), 20)
    }
    check("self time subtracts the union of the children") {
      close(selfTime(parent, Seq(Interval(10, 40), Interval(30, 60), Interval(50, 55),
        Interval(80, 90))), 100 - 50 - 10)
    }
    check("self time without children is the whole span")(close(selfTime(parent, Nil), 100))
    check("a child equal to its parent leaves no self time")(
      close(selfTime(parent, Seq(parent, Interval(20, 30))), 0))

    check("latency is the batch's commit minus the message's due time") {
      val due = Array(1000000L, 1500000L, 2000000L, 9000000L) // µs
      val batch = Array(0L, 0L, 1L, 7L)
      val commit = Map(0L -> 4000.0, 1L -> 6500.0) // ms
      val (lat, unmatched) = latencies(due, batch, commit)
      lat.toSeq == Seq(3000.0, 2500.0, 4500.0) && unmatched == 1
    }

    check("lost, duplicated and stray messages") {
      // published 0..9: 9 is missing, 1 appears twice, 12 was never published
      lostAndDuplicated(10, Array(0L, 1, 1, 2, 3, 4, 5, 6, 7, 8, 12)) == ((1L, 2L))
    }
    check("failed_frac sums every kind over published") {
      close(failedFrac(Failures(lost = 1, duplicated = 2, adapterWrong = 3, liveMissing = 4), 200), 0.05)
    }
    check("failed_frac of a clean run is 0")(failedFrac(Failures(0, 0, 0, 0), 10) == 0.0)

    println(if (failures == 0) "all checks passed" else s"$failures checks FAILED")
    System.exit(if (failures == 0) 0 else 1)
  }
}
