package graft

import graft.ops.Graph

/** The small-graph pageRank replay must be BIT-IDENTICAL to the
  * distributed loop — same integer floor-div arithmetic in the same order
  * — on every graph shape: dangling nodes (the dmass redistribution
  * term), no dangling, duplicate input edges (dedup path), and across
  * damp/iters settings; and every leg must equal a reference computed
  * straight off the edge list. */
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

  /** The rounds straight off an edge list, as `Graph.pageRank` and
    * `Graph.personalizedPageRank` state them: a reference that shares no
    * code with any leg (every leg reads the same packed adjacencies). Each
    * edge row counts, so pass distinct rows for dedup; `seeds` None makes
    * every node a seed. Returns the (id, r) rows. */
  private def reference(edges: Seq[(Long, Long)], seeds: Option[Set[Long]],
                        iters: Int, damp: Int): Set[Seq[Any]] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val isSeed = seeds.fold(nodes.toSet)(_.intersect(nodes.toSet))
    val nS = isSeed.size.toLong
    val outdeg = edges.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
    val base = (100 - damp) * (Graph.Scale / nS) / 100
    var r = nodes.map(v => v -> (if (isSeed(v)) Graph.Scale / nS else 0L)).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => r(e._1) / outdeg(e._1)).sum }
      val dm = nodes.filterNot(outdeg.contains).map(r).sum / nS
      r = nodes.map(v => v -> ((if (isSeed(v)) base else 0L) + damp.toLong *
        (in.getOrElse(v, 0L) + (if (isSeed(v)) dm else 0L)) / 100)).toMap
    }
    r.map { case (v, x) => Seq[Any](v, x) }.toSet
  }

  test("every leg equals the reference: repeated rows, dedupEdges, seeds") {
    // 5 nodes (node 5 dangles), 8 rows, 6 distinct: a limit of 5 runs
    // the hybrid leg, 0 the sort-merge leg, the default the driver leg
    val rows = Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L),
      (2L, 5L), (2L, 5L))
    for (dedup <- Seq(true, false); seeds <- Seq(None, Some(Set(1L, 4L, 99L)))) {
      val want = reference(if (dedup) rows.distinct else rows, seeds, 3, 85)
      def run = seeds.fold(Graph.pageRank(rows.toDF("s", "d"), "s", "d",
          iters = 3, dedupEdges = dedup))(s => Graph.personalizedPageRank(
        rows.toDF("s", "d"), "s", "d", s.toSeq.toDF("seed"), "seed",
        iters = 3, dedupEdges = dedup))
      for (limit <- Seq(None, Some(5L), Some(0L))) {
        val got = limit.fold(rowSet(run))(atDriverRowLimit(_)(rowSet(run)))
        assert(got == want, s"dedup=$dedup seeds=$seeds limit=$limit")
      }
    }
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
