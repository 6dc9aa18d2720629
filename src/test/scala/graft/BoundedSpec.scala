package graft

import graft.ops.{Bounded, Graph, GraphLocal}
import org.apache.spark.sql.functions.col

/** [[Bounded.fitsDriver]] — the engine's one "small enough for the
  * driver?" decision — at its boundary, and the packed LONG collect
  * ([[Bounded.collectLongs]]) the graph replays read their lists with. */
class BoundedSpec extends SparkSuite {
  init()
  import spark.implicits._

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

  test("collectLongs: row order equals collectBounded's on a multi-partition frame") {
    import Bounded._
    val df = spark.range(0, 500, 1, 6)
      .select(((col("id") * 7919L) % 503L).as("a"), (col("id") % 11L - 5L).as("b"))
      .repartition(5)
      .persist()
    try {
      df.count()
      assert(df.rdd.getNumPartitions == 5)
      val rows = df.collectBounded(500, "rows")
      val c = Bounded.collectLongs(df, 500, "packed").get
      assert(c.length == 2)
      assert(c(0).toSeq == rows.map(_.getLong(0)).toSeq)
      assert(c(1).toSeq == rows.map(_.getLong(1)).toSeq)
      assert(c(0).toSeq != c(0).sorted.toSeq, "the frame should not be sorted")
    } finally df.unpersist()
  }

  test("collectLongs: limit + 1 rows throws naming the call site") {
    val df = spark.range(0, 11, 1, 3).toDF("id")
    val e = intercept[IllegalStateException](
      Bounded.collectLongs(df, 10, "the-call-site"))
    assert(e.getMessage.contains("the-call-site"), e.getMessage)
    assert(Bounded.collectLongs(df, 11, "fits").get(0).toSeq == (0L until 11L))
  }

  test("collectLongs: a zero-row frame returns empty arrays") {
    val empty = spark.range(0, 100, 1, 4).filter(col("id") < 0L)
      .select(col("id"), (col("id") + 1L).as("x"))
    val c = Bounded.collectLongs(empty, 10, "empty").get
    assert(c.length == 2 && c.forall(_.isEmpty))
    val none = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Bounded.collectLongs(none, 0, "no rows").get.forall(_.isEmpty))
  }

  // (1, NULL) read as (1, 0) would add node 0, and with label 0 → 10 an
  // intra-community edge
  private val withNull = Seq((1L, Option(2L)), (2L, Option(1L)), (2L, Option(3L)),
    (3L, Option(2L)), (1L, Option.empty[Long])).toDF("s", "d")

  test("collectLongs: a NULL slot is None, never 0") {
    assert(Bounded.collectLongs(withNull, 10, "null").isEmpty)
    val c = Bounded.collectLongs(withNull.filter(col("d").isNotNull), 10,
      "no null").get
    assert(c.map(_.toSeq).toSeq == Seq(Seq(1L, 2L, 2L, 3L), Seq(2L, 1L, 3L, 2L)))
  }

  test("collectLongs: a NULL endpoint fails loudly on the replay path") {
    val e = intercept[IllegalStateException](
      GraphLocal.collectColumns(withNull, "replay-edge-collect"))
    assert(e.getMessage.contains("replay-edge-collect"), e.getMessage)
    // the operators filter NULL endpoints before collecting: no node 0
    val (dl, ll) = bothWays(Graph.labelPropagation(withNull, "s", "d", iters = 2))
    assert(dl == ll && !ll.exists(_.head == 0L), s"dist=$dl local=$ll")
    val (dp, lp) = bothWays(Graph.pageRank(withNull, "s", "d", iters = 3))
    assert(dp == lp && !lp.exists(_.head == 0L), s"dist=$dp local=$lp")
  }

  test("collectLongs: a NULL endpoint makes modularity fall through") {
    val lbl = Seq((0L, 10L), (1L, 10L), (2L, 10L), (3L, 20L)).toDF("id", "c")
    val (d, l) = bothWays(Graph.modularity(withNull, "s", "d", lbl, "id", "c"))
    assert(d == l, s"dist=$d local=$l")
    val zero = withNull.na.fill(0L)
    val asZero = rowSet(Graph.modularity(zero, "s", "d", lbl, "id", "c"))
    assert(l != asZero, s"NULL endpoint read as node 0: $l")
    // a NULL label falls through as well
    val nullLbl = Seq((1L, Option(10L)), (2L, Option(10L)), (3L, Option.empty[Long]))
      .toDF("id", "c")
    val e = withNull.filter(col("d").isNotNull)
    val (dn, ln) = bothWays(Graph.modularity(e, "s", "d", nullLbl, "id", "c"))
    assert(dn == ln, s"dist=$dn local=$ln")
  }
}
