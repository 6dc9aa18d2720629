package graft

import org.apache.spark.sql.DataFrame
import graft.ops.Stats

/** The local replay of the periodogram trig moments must be
  * BIT-IDENTICAL to the distributed Taylor–Horner aggregation — same
  * integer phase, quadrant reduction, polynomial fold and floor-scaled
  * sums. Forced distributed with a driver row limit of 0 vs the default
  * limit. */
class PeriodogramLocalParitySpec extends SparkSuite {
  init()
  import spark.implicits._

  private def series(xs: Seq[java.lang.Double]): DataFrame =
    xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("t", "x")

  test("periodogram parity: smooth + spiky series, several maxK") {
    val xs = Seq[java.lang.Double](3.0, 1.5, -2.25, 7.0, 0.0, 4.5, -1.0,
      2.0, 9.75, -3.5, 0.25, 6.0)
    for (k <- Seq(1, 3, 6)) {
      val (d, l) = bothWays(Stats.periodogram(series(xs), Seq("t"), "x", k))
      assert(d == l, s"maxK=$k dist=$d local=$l")
    }
  }

  test("periodogram parity: null values skipped but counted in n") {
    val xs = Seq[java.lang.Double](1.0, null, 3.0, null, 5.0, 2.0, null)
    val (d, l) = bothWays(Stats.periodogram(series(xs), Seq("t"), "x", 4))
    assert(d == l, s"dist=$d local=$l")
  }

  test("periodogram parity: round n hits exact quadrant boundaries") {
    // n = 8 and 12 put 2πkt/n on exact boundary angles — the portable
    // kernel's whole reason to exist
    for (n <- Seq(8, 12)) {
      val xs = (1 to n).map(i => java.lang.Double.valueOf(i.toDouble * 1.25))
      val (d, l) = bothWays(Stats.periodogram(series(xs), Seq("t"), "x", 5))
      assert(d == l, s"n=$n dist=$d local=$l")
    }
  }

  test("spectralEntropy parity: entropy readout off the power frame") {
    val xs = Seq[java.lang.Double](3.0, 1.5, 2.25, 7.0, 0.5, 4.5, 1.0,
      2.0, 9.75, 3.5)
    for (k <- Seq(2, 8)) {
      val (d, l) = bothWays(
        Stats.spectralEntropy(series(xs), Seq("t"), "x", k))
      assert(d == l, s"maxK=$k dist=$d local=$l")
    }
  }

  test("spectralEntropy parity: all-zero series (total power 0 → nulls)") {
    val xs = Seq[java.lang.Double](0.0, 0.0, 0.0, 0.0)
    val (d, l) = bothWays(
      Stats.spectralEntropy(series(xs), Seq("t"), "x", 4))
    assert(d == l, s"dist=$d local=$l")
  }
}
