package graft

import graft.ops.Graph
import scala.jdk.CollectionConverters._

/** The driver-local replays ([[graft.ops.GraphLocal]]) must be
  * BIT-IDENTICAL to the distributed loops — same integer floor-div /
  * IEEE-double sequences in the same order — on directed, symmetric,
  * dangling and duplicate-edge graph shapes. Each case runs the operator
  * on every leg [[graft.ops.Bounded.fitsDriver]] can select: the local
  * replay (default limit), the distributed sort-merge loop (limit 0) and,
  * for the operators that keep a node-sized frame off the edge side
  * (modularity broadcasts it; labelPropagation, pageRank and
  * personalizedPageRank hold it on the driver and run each round as one
  * map-only job, the hybrid leg), that leg (a limit between the node and
  * the edge count). */
class GraphLocalParitySpec extends SparkSuite {
  init()
  import spark.implicits._

  // a directed graph with a sink (5), a 2-cycle, duplicate-ish structure
  private val directed = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L),
    (4L, 5L), (1L, 3L), (3L, 1L), (4L, 1L))
  // symmetric loop-free graph (both directions present) — the
  // tradingPairsGraph shape
  private val sym = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),
    (3L, 4L), (4L, 3L), (1L, 4L), (4L, 1L), (2L, 5L), (5L, 2L))

  /** The three legs of a vertex loop (labelPropagation, pageRank,
    * personalizedPageRank): the sort-merge loop (limit 0), the hybrid leg
    * (`hybridLimit`, at least the node count and below the edge count:
    * state on the driver, edges on the executors) and the local replay
    * (default limit). Each must give the same rows. */
  private def threeWays(hybridLimit: Long, what: String)
                         (f: => org.apache.spark.sql.DataFrame)
      : Set[Seq[Any]] = {
    val (d, l) = bothWays(f)
    val h = atDriverRowLimit(hybridLimit)(rowSet(f))
    assert(d == l && h == l, s"$what sort-merge=$d hybrid=$h local=$l")
    l
  }

  // `sym` has 10 edge rows over 5 nodes: a limit of 5 keeps the labels
  // on the driver and the edges distributed
  test("labelPropagation parity: symmetric graph, several iters") {
    for (it <- Seq(1, 2, 3, 5))
      threeWays(5L, s"iters=$it")(Graph.labelPropagation(
        sym.toDF("s", "t"), "s", "t", iters = it, assumeSymmetric = true))
  }

  test("labelPropagation parity: ids at the ends of the LONG range") {
    // round 1 hands Long.MinValue to -1 and 0, so later rounds' argmax
    // must order it without negating it (4 nodes, 8 edge rows)
    val lo = Long.MinValue; val hi = Long.MaxValue
    val ends = Seq((lo, -1L), (lo, 0L), (-1L, 0L), (0L, hi)).toDF("s", "t")
    for (it <- 1 to 3) {
      val l = threeWays(4L, s"iters=$it")(Graph.labelPropagation(
        ends, "s", "t", iters = it))
      assert(l.size == 4, s"iters=$it local=$l")
      if (it > 1) assert(l.forall(_(1) == lo), s"iters=$it local=$l")
    }
  }

  test("labelPropagation parity: directed frame passed as symmetric") {
    // a broken assumeSymmetric contract: node 5 never appears as `a`, so
    // the distributed loop leaves it out — the replay must too (no
    // Long.MaxValue label, no NPE on later rounds)
    for (it <- 1 to 3) {
      val l = threeWays(5L, s"iters=$it")(Graph.labelPropagation(
        directed.toDF("s", "t"), "s", "t", iters = it,
        assumeSymmetric = true))
      assert(!l.exists(_.head == 5L), s"iters=$it local=$l")
    }
  }

  test("labelPropagation parity: asymmetric input through symmetrization") {
    threeWays(5L, "iters=3")(Graph.labelPropagation(
      directed.toDF("s", "t"), "s", "t", iters = 3))
  }

  // round 2 turns on edge multiplicity here: node 5 sees labels 5, 5, 3
  // from 1, 2, 6 and node 6 sees 6, 6, 1 from 3, 4, 5, so one more
  // (5, 6) or (6, 5) row would tie them and hand either the smaller label
  private val clean = Seq((1L, 5L), (2L, 5L), (3L, 6L), (4L, 6L), (5L, 6L))
    .flatMap(e => Seq(e, e.swap))

  test("labelPropagation parity: raw rows mirror and fold like the clean " +
    "symmetric frame; repeated symmetric rows fold") {
    val raw = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(5L)), (Some(5L), Some(1L)), // both orientations
      (Some(2L), Some(5L)), (Some(2L), Some(5L)), // a repeated row
      (Some(3L), Some(6L)), (Some(6L), Some(4L)),
      (Some(5L), Some(6L)), (Some(6L), Some(5L)),
      (Some(3L), Some(3L)), // a self-loop
      (Some(4L), None), (None, Some(1L))) // NULL endpoints
      .toDF("s", "t")
    val repeated = (clean ++ Seq((5L, 6L), (6L, 5L), (1L, 5L))).toDF("s", "t")
    // 6 nodes, 10 distinct edge rows: a limit of 6 runs the hybrid leg
    for (it <- 1 to 3) {
      val want = threeWays(6L, s"clean iters=$it")(Graph.labelPropagation(
        clean.toDF("s", "t"), "s", "t", iters = it, assumeSymmetric = true))
      if (it == 2)
        assert(want.contains(Seq(5L, 5L)) && want.contains(Seq(6L, 6L)), want)
      val fromRaw = threeWays(6L, s"raw iters=$it")(Graph.labelPropagation(
        raw, "s", "t", iters = it))
      assert(fromRaw == want, s"iters=$it raw=$fromRaw clean=$want")
      val folded = threeWays(6L, s"repeated iters=$it")(
        Graph.labelPropagation(repeated, "s", "t", iters = it,
          assumeSymmetric = true))
      assert(folded == want, s"iters=$it repeated=$folded clean=$want")
    }
  }

  /** Executed plans of the SQL actions `body` runs, in completion
    * order. A marker action run after `body` is awaited, so every
    * earlier action's callback has been delivered. */
  private def actionPlans(body: => Unit): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      (QueryExecution, String)]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe -> qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      val marker = spark.range(1)
      marker.collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      def arrived = seen.asScala.exists(_._1 eq marker.queryExecution)
      while (!arrived && System.nanoTime() < deadline) Thread.sleep(10)
      assert(arrived, "listener bus did not deliver the marker in 30 s")
    } finally spark.listenerManager.unregister(l)
    seen.asScala.toSeq.map(_._2)
  }

  test("labelPropagation legs: the driver and hybrid legs repartition by a " +
    "once and join or aggregate nothing; the sort-merge leg joins on a " +
    "second cache keyed by b") {
    def lp(in: Seq[(Long, Long)], symmetric: Boolean) = Graph.labelPropagation(
      in.toDF("s", "t"), "s", "t", iters = 3,
      assumeSymmetric = symmetric).collect()
    val rekey = "REPARTITION_BY_COL"
    // both inputs have 5 nodes and at least 10 distinct edge rows: the
    // default limit runs the driver leg, a limit of 5 the hybrid leg
    for ((in, symmetric) <- Seq(sym -> true, directed -> false);
         limit <- Seq(None, Some(5L))) {
      val what = s"symmetric=$symmetric limit=$limit"
      val h = limit.fold(actionPlans(lp(in, symmetric)))(
        atDriverRowLimit(_)(actionPlans(lp(in, symmetric))))
      assert(!h.exists(p => p.contains("Join") || p.contains("HashAggregate")),
        s"$what\n" + h.mkString("\n"))
      val rekeyed = h.filter(_.contains(rekey))
      assert(rekeyed.size == 1, s"$what\n" + h.mkString("\n"))
      val keys = raw"hashpartitioning\((\w+)#\d+L?, \d+\), REPARTITION_BY_COL".r
        .findAllMatchIn(rekeyed.head).map(_.group(1)).toSet
      assert(keys == Set("a"), s"$what\n" + rekeyed.head)
    }
    val s = atDriverRowLimit(0L)(actionPlans(lp(sym, true)))
    assert(s.exists(_.contains("SortMergeJoin")) && s.exists(_.contains(rekey)),
      s.mkString("\n"))
    assert(!s.exists(_.contains("BroadcastHashJoin")), s.mkString("\n"))
  }

  test("hits parity: directed graph with sink, several iters") {
    for (it <- Seq(1, 2, 3)) {
      val (d, l) = bothWays(Graph.hits(directed.toDF("s", "t"), "s", "t",
        iters = it))
      assert(d == l, s"iters=$it dist=$d local=$l")
    }
  }

  test("hits parity: duplicate edges collapse identically") {
    val dup = directed ++ directed.take(4)
    val (d, l) = bothWays(Graph.hits(dup.toDF("s", "t"), "s", "t", iters = 3))
    assert(d == l, s"dist=$d local=$l")
  }

  test("personalizedPageRank parity: dangling + non-graph seed ignored") {
    val seeds = Seq(1L, 3L, 99L).toDF("seed") // 99 not a node
    val (d, l) = bothWays(Graph.personalizedPageRank(
      directed.toDF("s", "t"), "s", "t", seeds, "seed", iters = 4))
    assert(d == l, s"dist=$d local=$l")
  }

  test("personalizedPageRank parity: symmetric graph, no dangling") {
    val seeds = Seq(2L).toDF("seed")
    val (d, l) = bothWays(Graph.personalizedPageRank(
      sym.toDF("s", "t"), "s", "t", seeds, "seed", iters = 3,
      dedupEdges = false))
    assert(d == l, s"dist=$d local=$l")
  }

  test("bfsDistances parity: hop tags, unreached nodes, foreign source") {
    for (hops <- Seq(0, 1, 2, 5)) {
      val (d, l) = bothWays(Graph.bfsDistances(directed.toDF("s", "t"),
        "s", "t", Seq(1L, 77L), maxHops = hops))
      assert(d == l, s"hops=$hops dist=$d local=$l")
    }
  }

  test("ssspWeighted parity: parallel edges min-collapse, bounded rounds") {
    val w = Seq((1L, 2L, 5L), (1L, 2L, 3L), (2L, 3L, 1L), (3L, 4L, 2L),
      (1L, 3L, 10L), (4L, 1L, 1L), (2L, 4L, 7L))
    for (r <- Seq(1, 2, 4)) {
      val (d, l) = bothWays(Graph.ssspWeighted(w.toDF("s", "t", "w"),
        "s", "t", "w", Seq(1L), rounds = r))
      assert(d == l, s"rounds=$r dist=$d local=$l")
    }
  }

  test("harmonicCentralityKmv parity: md5 sketch rounds + estimator") {
    for ((r, k) <- Seq((1, 4), (2, 4), (3, 8))) {
      val (d, l) = bothWays(Graph.harmonicCentralityKmv(
        sym.toDF("s", "t"), "s", "t", radius = r, k = k))
      assert(d == l, s"radius=$r k=$k dist=$d local=$l")
    }
  }

  test("harmonicCentralityKmv parity: k larger than every ball (exact)") {
    val (d, l) = bothWays(Graph.harmonicCentralityKmv(
      directed.toDF("s", "t"), "s", "t", radius = 3, k = 64))
    assert(d == l, s"dist=$d local=$l")
  }

  test("neighborhoodFunction parity: per-radius sums and 90% flag") {
    for ((r, k) <- Seq((1, 4), (2, 8), (3, 64))) {
      val (d, l) = bothWays(Graph.neighborhoodFunction(
        sym.toDF("s", "t"), "s", "t", radius = r, k = k))
      assert(d == l, s"radius=$r k=$k dist=$d local=$l")
    }
  }

  test("pageRank equals personalizedPageRank seeded with every node") {
    // the identity the shared rank loop rests on, on every leg: the
    // sort-merge loop (limit 0), the hybrid leg (limit 5: 5 nodes, at
    // least 8 edges) and the local replay
    for ((name, g) <- Seq("directed" -> directed, "sym" -> sym);
         limit <- Seq(Some(0L), Some(5L), None)) {
      def leg(f: => Set[Seq[Any]]) = limit.fold(f)(atDriverRowLimit(_)(f))
      val all = g.flatMap(e => Seq(e._1, e._2)).distinct.toDF("seed")
      val pr = leg(rowSet(Graph.pageRank(g.toDF("s", "t"), "s", "t",
        iters = 4)))
      val ppr = leg(rowSet(Graph.personalizedPageRank(g.toDF("s", "t"),
        "s", "t", all, "seed", iters = 4)))
      assert(pr.size == 5 && pr == ppr, s"$name limit=$limit pr=$pr ppr=$ppr")
    }
  }

  private val noEdges = Seq.empty[(Long, Long)].toDF("s", "t")

  test("neighborhoodFunction parity: no edge between two distinct nodes") {
    // NaN != NaN, so compare the rows through their strings
    def rows(f: => org.apache.spark.sql.DataFrame) = {
      val (d, l) = bothWays(f)
      (d.map(_.mkString(",")), l.map(_.mkString(",")))
    }
    val loops = Seq((1L, 1L), (2L, 2L)).toDF("s", "t")
    for (in <- Seq(noEdges, loops)) {
      val (d, l) = rows(Graph.neighborhoodFunction(in, "s", "t", radius = 2))
      assert(d == l && l == (0 to 2).map(r => s"$r,0,0.0,NaN,true").toSet,
        s"dist=$d local=$l")
    }
  }

  test("personalizedPageRank: an empty edge list fails alike on both legs") {
    def ppr = Graph.personalizedPageRank(noEdges, "s", "t",
      Seq(1L).toDF("seed"), "seed")
    val legs = Seq[(String, () => Any)](
      "sort-merge" -> (() => atDriverRowLimit(0L)(rowSet(ppr))),
      "local" -> (() => rowSet(ppr)))
    for ((leg, run) <- legs) {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage ==
        "requirement failed: personalizedPageRank: no seed is a graph node",
        s"$leg: ${e.getMessage}")
    }
  }

  test("empty edge list: the other gated operators agree on both legs") {
    val noWeighted = Seq.empty[(Long, Long, Long)].toDF("s", "t", "w")
    val cases = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "harmonicCentralityKmv" -> (() =>
        Graph.harmonicCentralityKmv(noEdges, "s", "t")),
      "hits" -> (() => Graph.hits(noEdges, "s", "t")),
      "bfsDistances" -> (() =>
        Graph.bfsDistances(noEdges, "s", "t", Seq(1L), maxHops = 2)),
      "ssspWeighted" -> (() =>
        Graph.ssspWeighted(noWeighted, "s", "t", "w", Seq(1L), rounds = 2)))
    for ((name, f) <- cases) {
      val (d, l) = bothWays(f())
      assert(d == l, s"$name dist=$d local=$l")
    }
  }

  test("modularity parity: partial labeling, duplicate edges in m2") {
    // duplicate edge rows count in m2 (modularity does NOT dedup);
    // node 5 is unlabeled — excluded from intra and degree mass
    val e = (sym ++ Seq((1L, 2L), (2L, 1L))).toDF("s", "t")
    val lbl = Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L)).toDF("id", "c")
    val (d, l) = bothWays(Graph.modularity(e, "s", "t", lbl, "id", "c"))
    assert(d == l, s"dist=$d local=$l")
  }

  test("modularity: labels disjoint from edges keep distributed NULL semantics") {
    val e = sym.toDF("s", "t")
    val lbl = Seq((100L, 1L)).toDF("id", "c")
    val (d, l) = bothWays(Graph.modularity(e, "s", "t", lbl, "id", "c"))
    assert(d == l, s"dist=$d local=$l")
  }

  test("pageRank parity: conf gate (no caller threshold) matches distributed") {
    val (d, l) = bothWays(Graph.pageRank(directed.toDF("s", "t"), "s", "t",
      iters = 4, damp = 85))
    assert(d == l, s"dist=$d local=$l")
  }

  // `directed` has 8 edges over 5 nodes: a limit of 5 keeps the edges
  // distributed and the ranks on the driver
  test("pageRank parity: hybrid leg") {
    def pr = Graph.pageRank(directed.toDF("s", "t"), "s", "t", iters = 4)
    val h = atDriverRowLimit(5L)(rowSet(pr))
    assert(h == rowSet(pr), s"hybrid=$h")
  }

  test("personalizedPageRank parity: hybrid leg") {
    def ppr = Graph.personalizedPageRank(directed.toDF("s", "t"), "s", "t",
      Seq(1L, 3L).toDF("seed"), "seed", iters = 4)
    val h = atDriverRowLimit(5L)(rowSet(ppr))
    assert(h == rowSet(ppr), s"hybrid=$h")
  }

  /** Jobs that `body` starts. A marker job run after `body` is awaited on
    * the listener bus, so every earlier job's start has been delivered. */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val marker = "GraphLocalParitySpec job-count marker"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        started.add(String.valueOf(j.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(l)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!started.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(started.contains(marker), "listener bus did not deliver the marker in 30 s")
    } finally sc.removeSparkListener(l)
    started.size - 1
  }

  test("hybrid legs: each later round is one job") {
    // 5 nodes and 8 (directed) or 10 (sym) edges: a limit of 5 runs the
    // hybrid leg, where four more rounds must cost four more jobs
    val seeds = Seq(1L, 3L).toDF("seed")
    val ops = Seq[(String, Int => org.apache.spark.sql.DataFrame)](
      "pageRank" -> (it => Graph.pageRank(directed.toDF("s", "t"), "s", "t",
        iters = it)),
      "personalizedPageRank" -> (it => Graph.personalizedPageRank(
        directed.toDF("s", "t"), "s", "t", seeds, "seed", iters = it)),
      "labelPropagation" -> (it => Graph.labelPropagation(sym.toDF("s", "t"),
        "s", "t", iters = it, assumeSymmetric = true)))
    for ((name, op) <- ops) {
      def jobs(it: Int) = atDriverRowLimit(5L)(jobsOf(op(it).collect()))
      val (one, five) = (jobs(1), jobs(5))
      assert(five - one == 4, s"$name: iters=1 took $one jobs, iters=5 $five")
    }
  }

  test("modularity parity: broadcast label frame") {
    // 10 edge rows, 4 labels: a limit of 4 broadcasts the labels only
    def q = Graph.modularity(sym.toDF("s", "t"), "s", "t",
      Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L)).toDF("id", "c"),
      "id", "c")
    val b = atDriverRowLimit(4L)(rowSet(q))
    assert(b == rowSet(q), s"broadcast=$b")
  }

  test("LongIndex: first-seen dense ints, get, growth, extreme ids") {
    val r = new scala.util.Random(7L)
    val ids = (Seq(0L, -1L, Long.MinValue, Long.MaxValue, 1L << 40) ++
      Seq.fill(20000)(r.nextLong() % 5000L) ++ Seq.fill(5000)(r.nextLong()))
    val ix = new graft.ops.GraphLocal.LongIndex
    val dense = ids.map(ix(_))
    val firstSeen = ids.distinct
    assert(ix.size == firstSeen.size)
    assert((0 until ix.size).map(ix.id) == firstSeen)
    val pos = firstSeen.zipWithIndex.toMap
    assert(dense == ids.map(pos))
    assert(firstSeen.forall(v => ix.id(ix.get(v)) == v))
    assert(Seq(5001L, -5001L, 12345678901L).forall(ix.get(_) == -1))
  }

  // A seeded random, tie-heavy graph (≈2k pairs over 400 nodes): every
  // node 8..400 links 1–3 of the six anchors 1..6, so round-1 labels
  // (min neighbor id) come from a small alphabet and later rounds see
  // many count ties; hub 7 links ~300 nodes; random extra pairs add
  // duplicates and self-loops. Directed as generated.
  private val rnd: Seq[(Long, Long)] = {
    val r = new scala.util.Random(20261018L)
    val anchors = (1L to 6L).toList
    val nodes = (8L to 400L).toVector
    val hub = nodes.filter(_ => r.nextDouble() < 0.75).map(v => (7L, v))
    val toAnchors = nodes.flatMap(v =>
      r.shuffle(anchors).take(1 + r.nextInt(3)).map(a => (v, a)))
    val extra = Seq.fill(900)(
      (nodes(r.nextInt(nodes.length)), nodes(r.nextInt(nodes.length))))
    hub ++ toAnchors ++ extra
  }
  private def rndDf = rnd.toDF("s", "t")

  test("random tie-heavy graph: round 2 has many count ties") {
    // the generator's point, checked directly: on the symmetrized
    // loop-free graph, many nodes' most frequent round-1 neighbor label
    // is shared by two or more labels
    val sym = (rnd ++ rnd.map(_.swap)).filter { case (a, b) => a != b }.distinct
    val nb = sym.groupBy(_._1).map { case (a, es) => a -> es.map(_._2) }
    val l1 = nb.map { case (a, bs) => a -> bs.min }
    val ties = nb.count { case (_, bs) =>
      val c = bs.flatMap(l1.get).groupBy(identity).values.map(_.size).toSeq
      c.count(_ == c.max) >= 2
    }
    assert(sym.size > 3000 && nb.values.map(_.size).max >= 200,
      s"edges=${sym.size}")
    assert(ties >= 100, s"only $ties nodes with a count tie")
  }

  /** `f` on the random graph with AQE's partition coalescing on and off:
    * off, the hybrid leg keeps all 4 shuffle partitions, so each round
    * gathers across partitions. */
  private def bothCoalesce(f: String => Unit): Unit = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    for (coalesce <- Seq("true", "false")) {
      spark.conf.set(key, coalesce)
      try f(s"coalesce=$coalesce") finally spark.conf.unset(key)
    }
  }

  // at most 400 nodes and over 3000 symmetric edge rows: a limit of 1000
  // runs the hybrid leg
  test("labelPropagation parity: random tie-heavy graph, iters 1–5") {
    bothCoalesce { what =>
      for (it <- 1 to 5)
        threeWays(1000L, s"$what iters=$it")(
          Graph.labelPropagation(rndDf, "s", "t", iters = it))
    }
  }

  // at most 400 nodes and over 1000 distinct edges: a limit of 1000 runs
  // the hybrid leg; dedupEdges = false keeps the random duplicates as
  // parallel edges on every leg
  test("pageRank parity: random tie-heavy graph") {
    bothCoalesce { what =>
      for (dedup <- Seq(true, false))
        threeWays(1000L, s"$what dedup=$dedup")(Graph.pageRank(rndDf, "s", "t",
          iters = 4, dedupEdges = dedup))
    }
  }

  test("personalizedPageRank parity: random tie-heavy graph") {
    val seeds = Seq(1L, 7L, 50L, 9999L, 7L).toDF("seed")
    bothCoalesce { what =>
      threeWays(1000L, what)(Graph.personalizedPageRank(rndDf, "s", "t",
        seeds, "seed", iters = 4))
    }
  }

  test("hits parity: random tie-heavy graph") {
    val (d, l) = bothWays(Graph.hits(rndDf, "s", "t", iters = 3))
    assert(d == l, s"dist=$d local=$l")
  }

  test("harmonicCentralityKmv parity: random tie-heavy graph") {
    val (d, l) = bothWays(Graph.harmonicCentralityKmv(rndDf, "s", "t",
      radius = 2, k = 8))
    assert(d == l, s"dist=$d local=$l")
  }

  test("neighborhoodFunction parity: random tie-heavy graph") {
    val (d, l) = bothWays(Graph.neighborhoodFunction(rndDf, "s", "t",
      radius = 3, k = 16))
    assert(d == l, s"dist=$d local=$l")
  }

  test("bfsDistances parity: random tie-heavy graph") {
    val (d, l) = bothWays(Graph.bfsDistances(rndDf, "s", "t",
      Seq(9L, 12345L), maxHops = 3))
    assert(d == l, s"dist=$d local=$l")
  }

  test("ssspWeighted parity: random tie-heavy graph") {
    val w = rnd.map { case (s, t) => (s, t, 1L + (s * 31L + t * 17L) % 9L) }
    val (d, l) = bothWays(Graph.ssspWeighted(w.toDF("s", "t", "w"),
      "s", "t", "w", Seq(9L), rounds = 4))
    assert(d == l, s"dist=$d local=$l")
  }

  test("modularity parity: random tie-heavy graph, partial labeling") {
    val lbl = (1L to 400L).filter(_ % 5L != 0L).map(v => (v, v % 4L))
      .toDF("id", "c")
    val (d, l) = bothWays(Graph.modularity(rndDf, "s", "t", lbl, "id", "c"))
    assert(d == l, s"dist=$d local=$l")
  }
}
