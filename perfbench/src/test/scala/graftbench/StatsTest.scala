package graftbench

/** Tests of the percentile and self-time helpers. Run with
  * `python3 perfbench/run.py --selftest`; exits non-zero on a failure.
  */
object StatsTest {
  private var failures = 0

  private def check(what: String)(cond: => Boolean): Unit =
    if (!cond) { failures += 1; Console.err.println(s"FAIL $what") }
    else println(s"ok   $what")

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    check("percentile interpolates like numpy") {
      close(Stats.percentile(xs, 50), 50.5) && close(Stats.percentile(xs, 90), 90.1) &&
        close(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 25), 1.75)
    }
    check("percentile of one sample is that sample")(Stats.percentile(Seq(7.0), 99) == 7.0)
    check("percentile ignores input order") {
      Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50) == Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 50)
    }
    check("tail: 100 samples give p90 (10 beyond), not p95 (5 beyond)") {
      Stats.tailPercentile(xs).map(_._1).contains(90.0)
    }
    check("tail: 1000 samples give p99") {
      Stats.tailPercentile((1 to 1000).map(_.toDouble)).map(_._1).contains(99.0)
    }
    check("tail: 40 samples give p75") {
      Stats.tailPercentile((1 to 40).map(_.toDouble)).map(_._1).contains(75.0)
    }
    check("tail: under 20 samples have no percentile with 10 beyond") {
      Stats.tailPercentile((1 to 19).map(_.toDouble)).isEmpty && Stats.tailPercentile(Nil).isEmpty
    }
    check("tail: ties at the top are not counted as beyond") {
      // 95 samples at 1.0 and 15 at 2.0: p90 is 2.0 with nothing above it
      Stats.tailPercentile(Seq.fill(95)(1.0) ++ Seq.fill(15)(2.0)).map(_._1).contains(75.0)
    }
    check("self time without children is the duration")(Stats.selfTime(10, 50, Nil) == 40)
    check("self time subtracts disjoint children") {
      Stats.selfTime(0, 100, Seq((10L, 20L), (30L, 50L))) == 70
    }
    check("self time counts overlapping children once") {
      Stats.selfTime(0, 100, Seq((10L, 40L), (30L, 60L), (35L, 45L))) == 50
    }
    check("self time clips children to the span") {
      Stats.selfTime(0, 100, Seq((-20L, 10L), (90L, 130L), (200L, 300L))) == 80
    }
    check("self time is zero when children cover the span") {
      Stats.selfTime(0, 100, Seq((0L, 60L), (50L, 100L))) == 0
    }
    check("covered length merges touching intervals") {
      Stats.coveredLength(0, 100, Seq((0L, 10L), (10L, 20L))) == 20
    }
    check("skew is max over median")(close(Stats.skew(Seq(1.0, 2.0, 6.0)), 3.0))
    if (failures > 0) { Console.err.println(s"$failures failed"); sys.exit(1) }
    println("all passed")
  }
}
