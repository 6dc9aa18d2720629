package graft

import graft.ops.Bounded

/** [[Bounded.fitsDriver]] — the engine's one "small enough for the
  * driver?" decision — at its boundary. */
class BoundedSpec extends SparkSuite {
  init()

  test("fitsDriver: rows == limit fits, limit + 1 does not") {
    atDriverRowLimit(10L) {
      assert(Bounded.fitsDriver(spark, 0L))
      assert(Bounded.fitsDriver(spark, 10L))
      assert(!Bounded.fitsDriver(spark, 11L))
    }
  }

  test("fitsDriver: the default limit is 4M rows") {
    assert(Bounded.fitsDriver(spark, 4000000L))
    assert(!Bounded.fitsDriver(spark, 4000001L))
  }

  test("fitsDriver: a limit of 0 means nothing fits") {
    atDriverRowLimit(0L) {
      assert(!Bounded.fitsDriver(spark, 0L))
      assert(!Bounded.fitsDriver(spark, 1L))
    }
  }

  test("driverRowBound: collects are held to the limit, clamped to an Int") {
    atDriverRowLimit(10L) {
      assert(Bounded.driverRowBound(spark) == 10)
      assert(Bounded.driverRowBound(spark, 2) == 20)
    }
    atDriverRowLimit(Long.MaxValue / 4) {
      assert(Bounded.driverRowBound(spark, 2) == Int.MaxValue - 1)
    }
  }
}
