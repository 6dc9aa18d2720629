package graft

import graft.ops.Graph

/** The small-graph pageRank replay must be BIT-IDENTICAL to the
  * distributed loop — same integer floor-div arithmetic in the same order
  * — on every graph shape: dangling nodes (the dmass redistribution
  * term), no dangling, duplicate input edges (dedup path), and across
  * damp/iters settings. */
class PageRankLocalParitySpec extends SparkSuite {
  init()
  import spark.implicits._

  private def both(edges: Seq[(Long, Long)], iters: Int, damp: Int,
                   dedup: Boolean = true) =
    bothWays(Graph.pageRank(edges.toDF("s", "d"), "s", "d", iters = iters,
      damp = damp, dedupEdges = dedup))

  test("parity: dangling graph (sink node) — dmass term replays exactly") {
    // 1→2→3, 3 dangling; 4→3 adds in-degree skew
    val (d, l) = both(Seq((1L, 2L), (2L, 3L), (4L, 3L)), iters = 4, damp = 85)
    assert(d == l, s"dist=$d local=$l")
  }

  test("parity: symmetric graph (no dangling), several damp/iters") {
    val sym = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L), (4L, 3L),
      (1L, 4L), (4L, 1L))
    for (it <- Seq(1, 3, 5); dp <- Seq(50, 85, 100)) {
      val (d, l) = both(sym, iters = it, damp = dp)
      assert(d == l, s"iters=$it damp=$dp dist=$d local=$l")
    }
  }

  test("parity: duplicate edges collapse identically through the dedup path") {
    val dup = Seq((1L, 2L), (1L, 2L), (2L, 3L), (2L, 3L), (3L, 1L))
    val (d, l) = both(dup, iters = 3, damp = 85, dedup = true)
    assert(d == l, s"dist=$d local=$l")
  }

  test("local path: empty edges give an empty (id, r) frame") {
    def pr = Graph.pageRank(Seq.empty[(Long, Long)].toDF("s", "d"), "s", "d")
    val (d, l) = bothWays(pr)
    assert(d.isEmpty && l.isEmpty, s"dist=$d local=$l")
    assert(atDriverRowLimit(0L)(pr.columns.toSeq) == Seq("id", "r"))
    assert(pr.columns.toSeq == Seq("id", "r"))
  }

  test("star graph with hub: hub collects damped mass, spokes equal") {
    // sanity on the local path's VALUES, not just parity: 3 spokes → hub
    val df = Seq((1L, 10L), (2L, 10L), (3L, 10L)).toDF("s", "d")
    val r = Graph.pageRank(df, "s", "d", iters = 2, damp = 85)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(1L) == r(2L) && r(2L) == r(3L))
    assert(r(10L) > r(1L))
  }
}
