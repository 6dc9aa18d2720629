package graft.ops

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Link-graph operators for corpus curation. Web-scale pretraining
  * pipelines score pages by link structure (PageRank/harmonic centrality
  * over the crawl graph) before text filters ever run; this is that
  * operator expressed Spark-first.
  *
  * Determinism design: ranks are FIXED-POINT BIGINTs (scale 10¹²) and every
  * update is integer arithmetic — truncating division for the per-edge
  * share and the damping factor — so the result is a pure function of the
  * edge set: independent of partitioning, merge order, cluster size, and
  * engine (the DuckDB oracle replays all iterations with `//`). Float
  * PageRank drifts with reduce order; integer PageRank does not.
  */
object Graph {

  val Scale = 1000000000000L // 10^12 fixed-point scale

  /** Wedge-bound hub cap shared by [[triangleCount]] / [[jaccardLinks]]:
    * drop every node whose (undirected, deduped) degree exceeds
    * `maxDegree`, and all its edges (both endpoints must survive — two
    * semi-joins on a keyed degree count). The dropped-hub count is an
    * O(1) readout off the degree frame, logged so a cap is never silent.
    * None = no cap (the Σdeg² bound is then the caller's to own). */
  private def capHubs(und: DataFrame, maxDegree: Option[Long],
                      op: String): DataFrame = maxDegree match {
    case None => und
    case Some(cap) =>
      require(cap >= 1, s"$op: maxDegree must be >= 1")
      val deg = und.select(col("a").as("id"))
        .unionByName(und.select(col("b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("__d"))
      val nHubs = deg.filter(col("__d") > cap).count()
      if (nHubs > 0)
        System.err.println(s"[graft] $op: excluded $nHubs hub node(s) with " +
          s"degree > $cap (wedge-bound cap)")
      val keep = deg.filter(col("__d") <= cap).select(col("id"))
      und
        .join(keep.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("id").as("b")), Seq("b"), "left_semi")
  }

  /** PageRank with damping d = damp/100 (integer percent) for `iters`
    * rounds over a directed edge list (srcCol, dstCol) — duplicate edges
    * are collapsed first. Node set = every edge endpoint; an empty edge
    * list gives an empty (id, r) frame.
    *
    * Per iteration: share = r div outdeg per out-edge (truncating), then
    * r' = base + (damp·(Σ_in share + D div N)) div 100 with
    * base = (100−damp)·(Scale div N) div 100 and D = Σ rank over DANGLING
    * nodes (no out-edges) — the standard redistribution term, which keeps
    * rank mass from draining through sinks (both-directions graphs like
    * [[tradingPairsGraph]] have D = 0 identically). All BIGINT; Σ share
    * + D ≤ Scale total so damp·Σ never overflows. Nodes with no in-edges
    * keep contributing (the rank frame is rebuilt over the FULL node
    * universe each round, not just the aggregation's dst keys).
    *
    * This is [[personalizedPageRank]] with every node a seed: with
    * |S| = N its seed-gated terms are the integers above, so both run
    * [[rank]]. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 5, damp: Int = 85,
               dedupEdges: Boolean = true): DataFrame =
    rank(edges, srcCol, dstCol, None, iters, damp, dedupEdges)

  /** The edge intake of the gated graph operators: `e`, the operator's
    * NULL-free all-LONG edge frame, is persisted at `level` and counted.
    * Within [[Bounded.fitsDriver]] its columns are collected, the cache
    * is released and `local` runs the driver replay on those columns.
    * Above the limit it returns None and leaves `e` persisted and counted
    * for the distributed loop, which releases it. */
  private def intake(e: DataFrame, level: StorageLevel, what: String)(
      local: Array[Array[Long]] => DataFrame): Option[DataFrame] = {
    e.persist(level)
    if (!Bounded.fitsDriver(e.sparkSession, e.count())) None
    else {
      val c = GraphLocal.collectColumns(e, what)
      e.unpersist()
      Some(local(c))
    }
  }

  /** The legs of the vertex loops ([[labelPropagation]], [[rank]]).
    * `keyed`'s rows, all LONG and NULL-free with the receiving endpoint
    * first, are repartitioned once by that key, each partition is packed
    * into one adjacency persisted on the executors, and one job sums
    * their [[GraphLocal.Adjacency.counts]] into `total(i)`, which picks
    * the leg:
    *  - the edges total(0) within [[Bounded.fitsDriver]]: the driver leg
    *    collects the adjacencies and `rounds` runs in process;
    *  - the nodes total(1) within it: the hybrid leg, where `rounds`
    *    keeps the state on the driver and runs each round as one map-only
    *    job over the cached adjacencies against broadcast state;
    *  - otherwise `sortMerge` runs its SQL loop off the adjacencies.
    * All of the driver and hybrid legs' jobs run in the one SQL execution
    * of the repartition they read. The adjacencies are released before
    * this returns. */
  private def vertexLoop[A <: GraphLocal.Adjacency : ClassTag](
      keyed: DataFrame, what: String)(pack: Array[Array[Long]] => A)(
      rounds: (Int => Long, GraphLocal.Partitions[A]) => DataFrame,
      sortMerge: (Int => Long, RDD[A]) => DataFrame): DataFrame = {
    val spark = keyed.sparkSession
    val nCols = keyed.columns.length
    val byKey = keyed.repartition(col(keyed.columns.head)).queryExecution
    var adj: RDD[A] = null
    try {
      SQLExecution.withNewExecutionId(byKey, Some(what)) {
        adj = byKey.toRdd.mapPartitions { it =>
          Iterator(pack(Bounded.packLongs(it, nCols, Int.MaxValue).get))
        }.persist(StorageLevel.MEMORY_AND_DISK)
        val cached = new GraphLocal.Partitions(adj, None)
        val per = cached.each(_.counts)
        val total = (i: Int) => per.map(_(i)).sum
        if (Bounded.fitsDriver(spark, total(0))) {
          val gs = cached.each(identity)
          adj.unpersist() // the loop reads only the collected copies
          Right(rounds(total, new GraphLocal.Partitions(adj, Some(gs))))
        } else if (Bounded.fitsDriver(spark, total(1)))
          Right(rounds(total, cached))
        else Left(total)
      }.fold(sortMerge(_, adj), identity)
    } finally if (adj != null) adj.unpersist()
  }

  /** [[pageRank]] and [[personalizedPageRank]] on [[vertexLoop]]: each
    * edge row goes to both endpoints, as an in-edge of its dst and an
    * out-edge of its src, and each seed row (LONG `id`) to its seed, so a
    * node's partition holds its in-neighbors, out-degree and seed flag
    * ([[GraphLocal.RankAdjacency]]; `dedupEdges` = false keeps duplicate
    * edges as parallel edges). `seeds` None makes every node a seed;
    * seeds that are not graph nodes are ignored. */
  private def rank(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: Option[DataFrame], iters: Int, damp: Int,
                   dedupEdges: Boolean): DataFrame = {
    require(iters >= 1 && damp >= 0 && damp <= 100)
    import GraphLocal.RankAdjacency.{InEdge, OutEdge, Seed}
    val spark = edges.sparkSession
    val rows = edges.select(col(srcCol).cast(LongType).as("s"),
        col(dstCol).cast(LongType).as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull)
      .select(explode(array(
        struct(col("d").as("k"), col("s").as("o"), lit(InEdge).as("t")),
        struct(col("s").as("k"), col("d").as("o"), lit(OutEdge).as("t"))))
        .as("r"))
      .select(col("r.k").as("k"), col("r.o").as("o"), col("r.t").as("t"))
    val keyed = seeds.fold(rows)(s => rows.unionByName(s
      .filter(col("id").isNotNull)
      .select(col("id").as("k"), lit(0L).as("o"), lit(Seed).as("t"))))
    val allSeeds = seeds.isEmpty
    def ranked(total: Int => Long)(run: => DataFrame): DataFrame = {
      require(allSeeds || total(2) > 0L,
        "personalizedPageRank: no seed is a graph node")
      if (total(1) > 0L) run
      else { import spark.implicits._; Seq.empty[(Long, Long)].toDF("id", "r") }
    }
    vertexLoop(keyed, if (allSeeds) "pageRank" else "personalizedPageRank")(
        c => GraphLocal.RankAdjacency(c(0), c(1), c(2), allSeeds, dedupEdges))(
      (total, parts) => ranked(total)(GraphLocal.rankRounds(spark, total(2),
          iters, damp, parts.each(_.nodes)) { (all, share) =>
        parts.round((all, share)) { case (g, (a, sh)) => g.inSums(a, sh) }
      }),
      (total, adj) => ranked(total)(
        rankLoop(spark, adj, total(2), total(3) > 0L, iters, damp)))
  }

  /** The sort-merge rounds of [[rank]], for a node count above the
    * driver limit, off the persisted adjacencies `adj`, `nS` of whose
    * nodes are seeds. The in-edges are persisted ONCE as a (src, dst)
    * frame keyed and sorted by src (MEMORY_AND_DISK_SER: compact blocks
    * that evict without re-serialization); each round joins it with the
    * node-sized share frame on src, so the merge re-sorts only the share
    * frame, aggregates on dst, joins back to the rank frame, which
    * carries each node's outdeg and seed flag, and, when some node
    * dangles, crosses a 1-row dangling-mass frame. A round reads `ranks`
    * two or three times, and plan analysis doubles per round once a frame
    * is read twice (the [[kCore]] lesson: 60 s/OOM at 6 rounds on a
    * 5-edge toy), so the rank frame is eagerly localCheckpointed every
    * round (sf0.1 trading graph, min-of-4: every round 5.6 s, every
    * second round 6.1 s, none 8.2 s): the next round is planned on
    * materialized inputs whose sizes AQE knows, and the lineage stays
    * O(1) deep. */
  private def rankLoop(spark: SparkSession,
                       adj: RDD[GraphLocal.RankAdjacency], nS: Long,
                       hasDangling: Boolean, iters: Int, damp: Int)
      : DataFrame = {
    import spark.implicits._
    val edged = adj.flatMap(_.edgeRows).toDF("src", "dst")
      .repartition(col("src")).sortWithinPartitions(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    // r₀, the base term and the dangling share go to the seeds only:
    // every node for pageRank
    def seeded(v: String) = s"(case when __seed then $v else 0L end)"
    val base = seeded(s"${(100 - damp) * (Scale / nS) / 100}L")
    // With no dangling node (e.g. both-directions graphs like
    // tradingPairsGraph) the redistribution term is 0L every round, so
    // the per-round dangling aggregate is skipped outright.
    val dmass = if (hasDangling) " + " + seeded(s"__dmass div ${nS}L") else ""
    var ranks = adj.flatMap { g =>
        val (ids, outdeg, seed) = g.nodes
        ids.indices.map(v => (ids(v), outdeg(v), seed(v)))
      }.toDF("id", "outdeg", "__seed")
      .withColumn("r", expr(seeded(s"${Scale / nS}L")))
    // the most recent round's eager checkpoint: released only once a NEWER
    // checkpoint has materialized from it (never the frame the caller's
    // final action will read — a local checkpoint has no lineage to
    // recompute from, see [[Checkpoints]])
    var lastCk: Option[DataFrame] = None
    for (i <- 1 to iters) {
      val contrib = edged
        .join(ranks.filter(col("outdeg") > 0L)
          .select(col("id").as("src"), expr("r div outdeg").as("share")), "src")
        .groupBy(col("dst"))
        .agg(sum(col("share")).as("s"))
      val joined = ranks.join(contrib, col("id") === col("dst"), "left")
      ranks = (if (!hasDangling) joined
        else joined.crossJoin(ranks.filter(col("outdeg") === 0L)
          .agg(coalesce(sum(col("r")), lit(0L)).as("__dmass"))))
        .select(col("id"), col("outdeg"), col("__seed"),
          expr(s"$base + (${damp}L * (coalesce(s, 0L)$dmass)) div 100").as("r"))
      if (i < iters) {
        ranks = ranks.localCheckpoint(true)
        lastCk.foreach(Checkpoints.releaseLocalCheckpoint)
        lastCk = Some(ranks)
      }
    }
    // Eager-checkpoint the RESULT (node-sized blocks) so the edge cache
    // and the adjacencies can be RELEASED instead of leaking for the
    // session. Downstream consumers read O(N) materialized blocks; no
    // round is ever replayed lazily.
    val out = ranks.select(col("id"), col("r")).localCheckpoint(true)
    lastCk.foreach(Checkpoints.releaseLocalCheckpoint)
    edged.unpersist()
    out
  }

  /** Synchronous LABEL-PROPAGATION community detection (Raghavan et al.
    * 2007, the near-linear-time community baseline): every node starts
    * as its own label; each round, every node adopts the most frequent
    * label among its neighbors, ties broken to the SMALLEST label — the
    * deterministic variant (the original's random tie-break is
    * irreproducible across cluster sizes, so this engine pins min-label,
    * making `iters` rounds a pure function of the edge set that any
    * engine replays). Communities ≈ dense regions; the label propagation
    * frontier is how web-scale corpus curation groups mutually-linked
    * site clusters without an O(n²) similarity pass.
    *
    * The edge list is taken as undirected: rows with a NULL endpoint and
    * self-loops are dropped, each row is mirrored, and duplicate rows
    * fold. `assumeSymmetric` skips only the mirroring, for callers whose
    * frame already holds both directions of every edge (duplicates still
    * fold); a missing direction is then a missing edge.
    *
    * Round 1 is closed form on every leg: every node starts as its own
    * label, so each neighbor counts once and the argmax is the min
    * neighbor id. Later rounds take, per node, the most frequent label
    * among its labeled neighbors, the smallest on a tie. Every leg starts
    * from [[vertexLoop]] over the mirrored rows, keyed by a, with one
    * [[GraphLocal.LpAdjacency]] per partition (a primitive CSR whose
    * neighbor slices are sorted and distinct, so duplicate rows fold
    * without another shuffle). The driver and hybrid legs run
    * [[GraphLocal.lpRounds]] with the labels on the driver, at most about
    * 60 bytes per node, and share one round kernel
    * ([[GraphLocal.LpAdjacency.laterRound]], whose mode is sort, then the
    * first longest run). The sort-merge leg persists the adjacencies'
    * edges once keyed by b, so each round is a co-partitioned join that
    * shuffles only the node-sized label frame, then a keyed count and a
    * struct-max argmax `max(struct(c, ~lbl))`: bitwise NOT reverses the
    * label order without the overflow negation hits at `Long.MinValue`.
    * Single consumption of the label frame per round keeps its lazy plan
    * linear; a checkpoint every second round bounds analysis depth on
    * deep runs (the [[rankLoop]] lineage lesson). All three legs give the
    * same rows. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int = 3, assumeSymmetric: Boolean = false)
      : DataFrame = {
    require(iters >= 1)
    val e0 = edges.select(col(srcCol).cast(LongType).as("a"),
        col(dstCol).cast(LongType).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
    val e1 =
      if (assumeSymmetric) e0
      else e0.select(explode(array(struct(col("a"), col("b")),
          struct(col("b").as("a"), col("a").as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
    vertexLoop(e1, "labelPropagation")(c => GraphLocal.LpAdjacency(c(0), c(1)))(
      (total, parts) => GraphLocal.lpRounds(edges.sparkSession,
          total(1).toInt, iters, parts.each(_.firstRound)) { (ids, lbl, has) =>
        parts.round((ids, lbl, has)) { case (g, (i, l, h)) => g.laterRound(i, l, h) }
      },
      (_, adj) => sortMergeLabelPropagation(edges.sparkSession, adj, iters))
  }

  /** [[labelPropagation]]'s sort-merge leg off the persisted adjacencies
    * `adj`. */
  private def sortMergeLabelPropagation(spark: SparkSession,
      adj: RDD[GraphLocal.LpAdjacency], iters: Int): DataFrame = {
    import spark.implicits._
    var labels = adj.flatMap { g =>
        val (ids, lbl) = g.firstRound
        ids.iterator.zip(lbl.iterator)
      }.toDF("id", "lbl")
      .localCheckpoint(true)
    // superseded-checkpoint tracking, same contract as rankLoop's
    var lastCk: Option[DataFrame] = Some(labels)
    val e = adj.flatMap(_.edgeRows).toDF("a", "b").repartition(col("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    for (i <- 2 to iters) {
      val nb = e.join(labels, e("b") === labels("id"))
        .groupBy(col("a"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      labels = nb.groupBy(col("a"))
        .agg(max(struct(col("c"), bitwise_not(col("lbl")).as("nl"))).as("m"))
        .select(col("a").as("id"), bitwise_not(col("m.nl")).as("lbl"))
      if (i % 2 == 0 && i < iters) {
        labels = labels.localCheckpoint(true)
        lastCk.foreach(Checkpoints.releaseLocalCheckpoint)
        lastCk = Some(labels)
      }
    }
    // eager-checkpoint the RESULT so the edge cache can be RELEASED here
    // instead of leaking for the session; also makes every downstream
    // consumer read node-sized blocks, not replay rounds
    val out = labels.select(col("id"), col("lbl").as("community"))
      .localCheckpoint(true)
    e.unpersist()
    // `out` materialized from the last round's checkpoint — its blocks
    // are dead now too
    lastCk.foreach(Checkpoints.releaseLocalCheckpoint)
    out
  }

  /** Per-node triangle counts over an undirected graph given as a
    * directed edge list (direction and duplicates are collapsed to the
    * canonical a < b form; self-loops dropped). A triangle {x < y < z}
    * needs edges (x,y), (y,z), (x,z); each contributes 1 to all three
    * nodes. Returns (id, triangles) for nodes in ≥ 1 triangle.
    *
    * Plan: two hash-joins over the canonical edge frame — wedges
    * (x,y)⋈(y,z) on the middle node, closed by (x,z) — then one
    * explode + keyed count. Pure integer counting, order-invariant.
    * Scale note: the wedge frame is Σ_v deg(v)²-sized; on power-law
    * graphs pass `maxDegree` to EXCLUDE hub nodes (and their edges) up
    * front — one keyed degree count + two semi-joins, dropped-hub count
    * logged — bounding the wedge frame to |E|·maxDegree. (The standard
    * highest-degree-last orientation halves the constant but the Σdeg²
    * bound is inherent without a cap.) Edges live in ONE persisted frame
    * consumed three times. */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String,
                    maxDegree: Option[Long] = None): DataFrame = {
    val und = capHubs(edges.select(
        least(col(srcCol), col(dstCol)).cast(LongType).as("a"),
        greatest(col(srcCol), col(dstCol)).cast(LongType).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .distinct(), maxDegree, "triangleCount")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    und.count() // materialize before the multi-consumer readout (see adamicAdar)
    val wedges = und.select(col("a").as("x"), col("b").as("y"))
      .join(und.select(col("a").as("y"), col("b").as("z")), "y")
    val tris = wedges.join(
      und.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"))
    val out = tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("triangles"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize before releasing the edge cache
    und.unpersist()
    out
  }

  /** LOCAL CLUSTERING COEFFICIENT per node — "how close is each node's
    * neighborhood to a clique": c(v) = 2·t(v) / (d(v)·(d(v)−1)) with
    * t(v) the node's triangle count and d(v) its undirected degree;
    * d < 2 ⇒ null (undefined, not 0 — a degree-1 node has no possible
    * closure). The per-node refinement of [[triangleCount]]'s readout
    * and the standard "is this link farm or a community" curation
    * signal.
    *
    * Plan: ONE undirected dedup feeds both the degree aggregation and
    * the [[triangleCount]] wedge join (same `maxDegree` hub cap — the
    * Σdeg² wedge bound, applied to BOTH so degree and triangles
    * describe the same capped graph); the division is integer-derived
    * and pinned. Returns (id, degree, triangles, coefficient). */
  def localClustering(edges: DataFrame, srcCol: String, dstCol: String,
                      maxDegree: Option[Long] = None): DataFrame = {
    val und = capHubs(edges.select(
        least(col(srcCol), col(dstCol)).cast(LongType).as("a"),
        greatest(col(srcCol), col(dstCol)).cast(LongType).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .distinct(), maxDegree, "localClustering")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    und.count() // materialize before the multi-consumer readout (see adamicAdar)
    val deg = und.select(col("a").as("id"))
      .unionByName(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    val wedges = und.select(col("a").as("x"), col("b").as("y"))
      .join(und.select(col("a").as("y"), col("b").as("z")), "y")
    val tris = wedges.join(
      und.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"))
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("triangles"))
    val out = deg.join(tris, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2L,
          (lit(2.0) * coalesce(col("triangles"), lit(0L)).cast(DoubleType)) /
            (col("degree") * (col("degree") - 1L)).cast(DoubleType))
          .as("coefficient"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize before releasing the edge cache
    und.unpersist()
    out
  }

  /** HARMONIC CENTRALITY by bounded-radius KMV neighborhood sketches —
    * the HyperBall/HADI family (Boldi & Vigna 2013) with a PORTABLE
    * k-minimum-values sketch instead of HLL: h(v) = Σ_{r=1..R}
    * (|B_r(v)| − |B_{r−1}(v)|) / r, where |B_r| (the ball: nodes
    * reachable in ≤ r hops along OUT-edges) is ESTIMATED from the k
    * smallest 60-bit md5 hashes of the ball's members. All-pairs BFS is
    * O(n·m) and dead at scale; merging min-k sets is associative,
    * deterministic (a pure function of the edge set — no HLL register
    * bias, no RNG), and each round costs one co-partitioned edge join —
    * the DuckDB oracle replays every round, sketch and estimator,
    * bit-for-bit. Exact when a ball has < k members (the estimator
    * falls back to the true size); the (k−1)·2⁶⁰/h_(k) KMV estimate
    * otherwise.
    *
    * The rounds are [[kmvRounds]], shared with [[neighborhoodFunction]];
    * the harmonic sum is carried along each round's frame (ascending-r
    * fold). Below the driver limit they replay in-core off one bounded
    * collect ([[GraphLocal]]), where the distributed form is
    * job-scheduling-bound. Returns (id, ball_size_r<R>, harmonic). */
  def harmonicCentralityKmv(edges: DataFrame, srcCol: String,
                            dstCol: String, radius: Int = 3,
                            k: Int = 16): DataFrame = {
    require(radius >= 1 && radius <= 8, s"radius=$radius")
    require(k >= 4 && k <= 256, s"k=$k")
    val e = kmvEdges(edges, srcCol, dstCol)
    intake(e, StorageLevel.MEMORY_AND_DISK_SER,
        "gated local harmonic-centrality replay") { c =>
      GraphLocal.harmonicCentralityKmv(edges.sparkSession,
        new GraphLocal.Edges(c(0), c(1)), radius, k)
    }.getOrElse {
      val last = kmvRounds(e, radius, k, carry = (r, balls, prev) =>
        if (r == 0) balls.withColumn("harmonic", lit(0.0))
        else balls.join(prev.select(col("id"), col("est").as("__ep"),
            col("harmonic").as("__hp")), Seq("id"))
          .select(col("id"), col("ball"), col("est"), (col("__hp") +
            (col("est") - col("__ep")) / lit(r.toDouble)).as("harmonic")))
      val out = last.select(col("id"), col("est").as("ball_size"),
        col("harmonic")).localCheckpoint(true)
      Checkpoints.releaseLocalCheckpoint(last)
      out
    }
  }

  /** The distinct loop-free (src, dst) edge frame the KMV operators take
    * in. */
  private def kmvEdges(edges: DataFrame, srcCol: String,
                       dstCol: String): DataFrame =
    edges.select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()

  /** The distributed ball rounds of [[harmonicCentralityKmv]] and
    * [[neighborhoodFunction]], the split of [[GraphLocal]]'s replay.
    * `ePre` is the intake's persisted [[kmvEdges]] cache, released here.
    * Round 0 gives every node the ball of its own hash; round r merges,
    * per node, its own ball and those of its out-neighbors into their k
    * smallest distinct hashes. Each round's (id, ball, est) frame goes
    * through `carry(r, balls, prev)` (`prev` is the previous round's
    * checkpoint, `balls` itself at r = 0), is eagerly checkpointed and
    * handed to `visit`; superseded checkpoints are released. Returns the
    * last round's checkpoint, which the caller releases once read.
    *
    * Round shape: SELF-LOOP rows (v,v) are added to the persisted edge
    * frame, so the join itself emits each node's own ball — one join +
    * one aggregation per round, no union branch. The aggregation is
    * [[graft.functions.Kmv.KmvSketchAgg]] (`kmv_sketch_arr`), a
    * TypedImperativeAggregate whose buffer is an O(k) TreeSet, so BOTH
    * the map-side partials and the shuffle rows carry at most k hashes
    * per node; it is set-based (min-k of DISTINCT hashes), so the
    * self-loop rows give the same multiset of (id, hash) rows as a
    * separate own-ball union. (The obvious
    * `slice(sort_array(collect_set(h)), 1, k)` is O(k) only in its final
    * slice: collect_set's buffers grow with the ball's full distinct
    * count — on a hub-heavy graph a radius-3 ball saturates toward n and
    * one node's buffer becomes O(n), an executor-OOM scale-killer. The
    * one-aggregation shape also beat distinct + rank-window 28.6 → 12.4 s
    * at sf1.0.) The edge cache is keyed by dst, the join key, so the
    * balls ⋈ edges join is co-partitioned with it. Each round's frame is
    * consumed by the next join and the caller's carry or readout, hence
    * the eager checkpoints (the [[rankLoop]] doctrine). */
  private def kmvRounds(ePre: DataFrame, radius: Int, k: Int,
                        carry: (Int, DataFrame, DataFrame) => DataFrame =
                          (_, balls, _) => balls,
                        visit: DataFrame => Unit = _ => ()): DataFrame = {
    graft.functions.Kmv.register(ePre.sparkSession)
    val nodes = ePre.select(explode(array(col("src"), col("dst"))).as("id"))
      .distinct()
    val e = ePre
      .unionByName(nodes.select(col("id").as("src"), col("id").as("dst")))
      // explicit width: the per-round kmv fold is CPU-bound, and AQE's
      // byte-based coalescing of an unsized repartition was measured to
      // shrink this cache to ~10 partitions at sf0.1 (15 MB of edges),
      // serializing the sketch work — pin the session's shuffle width
      .repartition(ePre.sparkSession.sessionState.conf.numShufflePartitions,
        col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    e.count() // materialize off the warm ePre cache, then release it
    ePre.unpersist()
    val hOf = (c: Column) =>
      conv(substring(md5(c.cast(StringType)), 1, 15), 16, 10).cast(LongType)
    // KMV size estimate off a SORTED min-k array: exact below k, the
    // (k−1)·2⁶⁰/h_(k) estimator at k (2⁶⁰ is a power of two — its
    // double literal is exact in both engines)
    val estOf = (ball: Column) =>
      when(size(ball) < k, size(ball).cast(DoubleType))
        .otherwise(lit((k - 1).toDouble) * lit(math.pow(2, 60)) /
          element_at(ball, k).cast(DoubleType))
    val zero = nodes.select(col("id"), array(hOf(col("id"))).as("ball"),
      lit(1.0).as("est"))
    var balls = carry(0, zero, zero).localCheckpoint(true)
    visit(balls)
    for (r <- 1 to radius) {
      val merged = e.join(balls, e("dst") === balls("id"))
        .select(e("src").as("id"), col("ball").as("__b"))
        .groupBy(col("id"))
        .agg(expr(s"kmv_sketch_arr(__b, $k)").as("ball"))
        .select(col("id"), col("ball"), estOf(col("ball")).as("est"))
      val next = carry(r, merged, balls).localCheckpoint(true)
      Checkpoints.releaseLocalCheckpoint(balls)
      balls = next
      visit(balls)
    }
    e.unpersist()
    balls
  }

  /** HyperANF-style NEIGHBORHOOD FUNCTION (Boldi/Rosa/Vigna 2011): per
    * radius r, the total KMV-estimated ball mass Σᵥ |B(v, r)| — THE
    * whole-graph connectivity readout at scale ("how much of the graph
    * is within r hops"), plus per-row coverage vs the largest measured
    * radius and the HyperANF effective-diameter flag (the smallest r
    * whose mass reaches 90% of N(R), decided by EXACT scaled-integer
    * compare `10·s_r ≥ 9·s_R` — no FP threshold to drift). Runs
    * [[harmonicCentralityKmv]]'s rounds ([[kmvRounds]]): portable md5
    * min-k sketches, one `kmv_sketch` O(k)-buffer aggregation per round,
    * the (k−1)·2⁶⁰/h_k estimator — every round and every readout replays
    * bit-exactly in SQL. Ball-mass sums fold through floor-scaled
    * exact decimal sums (the isum convention) so the Σ over nodes is
    * reduce-order-independent. An edge list with no edge between two
    * distinct nodes gives rows (r, 0, 0.0, NaN, true). Returns (r,
    * n_nodes, sum_ball, coverage, reaches_90pct) for r = 0..radius. */
  def neighborhoodFunction(edges: DataFrame, srcCol: String,
                           dstCol: String, radius: Int = 2,
                           k: Int = 16): DataFrame = {
    require(radius >= 1 && radius <= 8, s"radius=$radius")
    require(k >= 4 && k <= 256, s"k=$k")
    import graft.ops.Bounded._
    // shared readout tail: coverage + effective-diameter flag off the
    // per-round (n, Σ floor(est·10⁶)) sums — identical for the local and
    // distributed round machinery
    def finish(sums: Seq[(Long, java.math.BigDecimal)]): DataFrame = {
      val sMax = sums.last._2
      val spark = edges.sparkSession
      import spark.implicits._
      sums.zipWithIndex.map { case ((n, s), r) =>
        (r, n, s.doubleValue() / 1e6,
          s.doubleValue() / sMax.doubleValue(),
          s.multiply(java.math.BigDecimal.TEN)
            .compareTo(sMax.multiply(new java.math.BigDecimal(9))) >= 0)
      }.toDF("r", "n_nodes", "sum_ball", "coverage", "reaches_90pct")
    }
    val e = kmvEdges(edges, srcCol, dstCol)
    // below the driver limit: the same sketch rounds and floor-scaled
    // exact-decimal sums in-core ([[GraphLocal]])
    intake(e, StorageLevel.MEMORY_AND_DISK_SER,
        "gated local neighborhood-function replay") { c =>
      finish(GraphLocal.neighborhoodSums(new GraphLocal.Edges(c(0), c(1)),
        radius, k))
    }.getOrElse {
      // O(1) per-round readout: node count + EXACT decimal sum of the
      // floor-scaled ball estimates (native decimal sum — exact integer
      // accumulation, order-independent), 0 over no node
      val sums = scala.collection.mutable.ArrayBuffer[(Long, java.math.BigDecimal)]()
      val last = kmvRounds(e, radius, k, visit = balls => {
        val row = balls.agg(count(lit(1)).as("n"), coalesce(
            sum(floor(col("est") * lit(1e6)).cast(DecimalType(38, 0))),
            lit(0).cast(DecimalType(38, 0))).as("s"))
          .collectBounded(1, "O(1) neighborhood-function round readout").head
        sums += ((row.getLong(0), row.getDecimal(1)))
      })
      Checkpoints.releaseLocalCheckpoint(last)
      finish(sums.toSeq)
    }
  }

  /** k-core decomposition by iterative peeling: repeatedly drop nodes
    * with degree < k (and their edges) for a FIXED number of rounds —
    * deterministic, partition-invariant, and SQL-replayable (the oracle
    * unrolls the rounds; a fixpoint is reached when a round removes
    * nothing, and `rounds` ≥ the peel depth guarantees it — the peel
    * depth is ≤ the node count but in practice a handful). Returns the
    * surviving nodes with their in-core degrees (id, degree).
    *
    * Plan per round: one keyed degree count + two semi-joins (both
    * endpoints must survive). Each round EAGERLY localCheckpoints its
    * edge frame: a plain persist keeps the full nested lineage alive, so
    * Catalyst re-analyzes a plan that doubles every round (the classic
    * iterative-algorithm analysis blowup — measured: a 5-edge toy graph
    * took 60 s / OOM'd at 6 rounds); checkpointing truncates the plan to
    * the materialized partitions, making every round O(current frame).
    * (Executor-local, non-reliable storage — fine for derived state that
    * a retry recomputes from the start.) */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            rounds: Int = 8): DataFrame = {
    require(k >= 1 && rounds >= 1)
    var e = edges.select(
        least(col(srcCol), col(dstCol)).cast(LongType).as("a"),
        greatest(col(srcCol), col(dstCol)).cast(LongType).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true)
    def sym(ed: DataFrame) =
      ed.select(col("a").as("id")).unionByName(ed.select(col("b").as("id")))
    for (_ <- 1 to rounds) {
      val prev = e
      val deg = sym(e).groupBy(col("id")).agg(count(lit(1)).as("__d"))
      val keep = deg.filter(col("__d") >= k).select(col("id"))
      e = e
        .join(keep.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("id").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint(true)
      // the new round's eager checkpoint has materialized from `prev` —
      // its blocks are superseded (the caller only ever reads the final e)
      Checkpoints.releaseLocalCheckpoint(prev)
    }
    sym(e).groupBy(col("id")).agg(count(lit(1)).as("degree"))
  }

  /** Jaccard link prediction over an undirected graph: for every
    * non-adjacent node pair sharing ≥ `minCommon` neighbors, score
    * |N(a)∩N(b)| / |N(a)∪N(b)| = c / (deg(a) + deg(b) − c) — pure
    * integer counts with one final division, the classic
    * common-neighbors recommender ("suppliers you should also trade
    * with"). Returns (a, b, common, deg_a, deg_b, score) with a < b.
    *
    * Plan: symmetric neighbor frame (2|E| rows) self-joined on the
    * shared neighbor → candidate pairs, one keyed count, degree joins,
    * and a left-anti join against the edge set to drop existing links.
    * Same Σdeg² wedge bound as [[triangleCount]] — pass `maxDegree` to
    * exclude hub nodes up front on power-law graphs (dropped-hub count
    * logged); scores are then computed over the capped graph's degrees,
    * consistently. */
  def jaccardLinks(edges: DataFrame, srcCol: String, dstCol: String,
                   minCommon: Long = 1L,
                   maxDegree: Option[Long] = None): DataFrame = {
    val und = capHubs(edges.select(
        least(col(srcCol), col(dstCol)).cast(LongType).as("a"),
        greatest(col(srcCol), col(dstCol)).cast(LongType).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .distinct(), maxDegree, "jaccardLinks")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    und.count() // materialize before the multi-consumer readout (see adamicAdar)
    val nbrs = und.select(col("a").as("id"), col("b").as("nbr"))
      .unionByName(und.select(col("b").as("id"), col("a").as("nbr")))
    val deg = nbrs.groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val cand = nbrs.select(col("nbr").as("via"), col("id").as("a"))
      .join(nbrs.select(col("nbr").as("via"), col("id").as("b")), "via")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
    val nonEdges = cand.join(und, Seq("a", "b"), "left_anti")
    val out = nonEdges
      .join(deg.select(col("id").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("deg_b")), "b")
      .select(col("a"), col("b"), col("common"), col("deg_a"), col("deg_b"),
        (col("common").cast(DoubleType) /
          (col("deg_a") + col("deg_b") - col("common")).cast(DoubleType))
          .as("score"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    und.unpersist()
    out
  }

  /** BIPARTITE PROJECTION — collapse a two-mode (left, right) edge list
    * onto the RIGHT node set: an edge between two right-nodes for every
    * shared left-neighbor, weighted by the exact shared count plus the
    * cosine normalization w/√(d₁·d₂) (hub-degree-corrected association
    * — the network-science co-occurrence projection: suppliers linked
    * by shared customers, domains linked by shared users). The output
    * is a NEW weighted graph, feedable to the pageRank/modularity tier.
    *
    * One distinct pass, one self-join on the left key (the wedge mass
    * Σ deg_left² is the 100 TB lever — `maxLeftDegree` drops
    * promiscuous left-nodes, the standard projection cap, with the
    * excluded count logged), exact BIGINT weights, pinned cosine.
    * Top-k by (weight desc, a, b). Returns (a, b, weight, deg_a,
    * deg_b, cosine). */
  def bipartiteProjection(edges: DataFrame, leftCol: String,
                          rightCol: String, topK: Int = 50,
                          maxLeftDegree: Option[Long] = None): DataFrame = {
    require(topK >= 1, s"topK=$topK")
    // materialize the cache once before the multi-consumer readout
    // (see adamicAdar). A repartition-by-l was A/B'd and reverted: the
    // wedge self-join's two sides share ONE ReusedExchange already, so
    // pre-keying only re-paid that exchange at persist time (q416
    // 2.5→3.2 s).
    val e = edges.select(col(leftCol).cast(LongType).as("l"),
        col(rightCol).cast(LongType).as("r"))
      .filter(col("l").isNotNull && col("r").isNotNull)
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    e.count()
    val capped = maxLeftDegree match {
      case None => e
      case Some(cap) =>
        require(cap >= 1, "bipartiteProjection: maxLeftDegree must be >= 1")
        val ld = e.groupBy(col("l")).agg(count(lit(1)).as("__d"))
        val nHubs = ld.filter(col("__d") > cap).count()
        if (nHubs > 0)
          System.err.println(s"[graft] bipartiteProjection: excluded " +
            s"$nHubs left hub(s) with degree > $cap")
        e.join(ld.filter(col("__d") <= cap).select(col("l")), Seq("l"),
          "left_semi")
    }
    val deg = capped.groupBy(col("r")).agg(count(lit(1)).as("deg"))
    val pairs = capped.select(col("l"), col("r").as("a"))
      .join(capped.select(col("l"), col("r").as("b")), "l")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("weight"))
    val out = pairs
      .join(deg.select(col("r").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("r").as("b"), col("deg").as("deg_b")), "b")
      .select(col("a"), col("b"), col("weight"), col("deg_a"),
        col("deg_b"),
        (col("weight").cast(DoubleType) /
          sqrt(col("deg_a").cast(DoubleType) *
            col("deg_b").cast(DoubleType))).as("cosine"))
      .orderBy(col("weight").desc, col("a"), col("b"))
      .limit(topK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    e.unpersist()
    out
  }

  /** K-TRUSS (fixed-round) — the triangle-dense core of a graph: keep
    * only edges supported by ≥ k−2 triangles, re-count, repeat. The
    * community-core extractor one notch stricter than [[kCore]]
    * (degree can be faked by hubs; triangle support cannot), standard
    * for trust/community curation.
    *
    * Fixed `rounds` iterations (the [[ssspWeighted]] replayable-loop
    * convention: each round is one wedge self-join + one triangle-close
    * join + one per-edge support count — the [[localClustering]] plan —
    * followed by the support filter; per-round eager checkpoint +
    * release so the plan never nests). A converged graph is a fixpoint:
    * extra rounds are no-ops, so fixed-rounds output = true k-truss
    * whenever the peel settles within `rounds` (assert with one more
    * round if it matters). Hub-cappable via `maxDegree` — Σdeg² wedge
    * mass is the 100 TB lever. Returns the surviving edges with the
    * support that kept them in the LAST round's graph:
    * (a, b, support). */
  def kTruss(edges: DataFrame, srcCol: String, dstCol: String,
             k: Int = 4, rounds: Int = 3,
             maxDegree: Option[Long] = None): DataFrame = {
    require(k >= 3 && rounds >= 1 && rounds <= 10, s"k=$k rounds=$rounds")
    val minSup = (k - 2).toLong
    // `ck` is always the round's CHECKPOINTED frame (released once the
    // next round's checkpoint has materialized from it); each round
    // reads only its (a, b) projection
    var ck = capHubs(edges.select(
        least(col(srcCol), col(dstCol)).cast(LongType).as("a"),
        greatest(col(srcCol), col(dstCol)).cast(LongType).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .distinct(), maxDegree, "kTruss")
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val und = ck.select(col("a"), col("b"))
      val wedges = und.select(col("a").as("x"), col("b").as("y"))
        .join(und.select(col("a").as("y"), col("b").as("z")), "y")
      val tris = wedges.join(
        und.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"))
      // a triangle x<y<z supports its three (ordered) edges
      val sup = tris.select(explode(array(
          struct(col("x").as("a"), col("y").as("b")),
          struct(col("y").as("a"), col("z").as("b")),
          struct(col("x").as("a"), col("z").as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
      val kept = und.join(sup, Seq("a", "b"), "left")
        .withColumn("support", coalesce(col("support"), lit(0L)))
        .filter(col("support") >= minSup)
        .localCheckpoint(true)
      Checkpoints.releaseLocalCheckpoint(ck)
      ck = kept
    }
    ck.select(col("a"), col("b"), col("support"))
  }

  /** PERSONALIZED PAGERANK — [[pageRank]] with the teleport
    * distribution restricted to a SEED SET: the random surfer restarts
    * uniformly over the seeds instead of all nodes, so rank becomes
    * "relevance to the seeds" — the standard seed-expansion primitive
    * for graph curation (grow a trusted-domain set, find accounts
    * related to a cohort) and recommendation.
    *
    * Same exact-integer choreography as pageRank (fixed point at
    * Scale = 10¹²): r₀ = Scale div |S| on seeds / 0 elsewhere,
    * base = (100−damp)·(Scale div |S|) div 100 paid ONLY to seeds, and
    * each round r' = seedBase + (damp·(Σ_in share + seedDangling)) div
    * 100 with share = r div outdeg and dangling mass redistributed to
    * the seeds (dmass div |S|, again integer). Every op is a Long
    * floor-div/add — the DuckDB oracle replays rounds bit-for-bit.
    * Seeds not present in the graph are ignored (inner-join semantics);
    * requires ≥ 1 surviving seed, so an empty edge list fails. Runs the
    * same legs as pageRank ([[rank]]), with the seed rows, whose repeats
    * fold. Returns (id, r) over the full node universe. */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
                           dstCol: String, seeds: DataFrame,
                           seedCol: String, iters: Int = 5,
                           damp: Int = 85,
                           dedupEdges: Boolean = true): DataFrame =
    rank(edges, srcCol, dstCol,
      Some(seeds.select(col(seedCol).cast(LongType).as("id"))),
      iters, damp, dedupEdges)

  /** ADAMIC–ADAR LINK PREDICTION — the degree-aware sibling of
    * [[jaccardLinks]]: for every non-adjacent pair with ≥ `minCommon`
    * common neighbors, score = Σ_{w ∈ Γ(a)∩Γ(b)} 1/ln(deg(w)) — rare
    * shared neighbors count more than hubs (Adamic & Adar 2003). The
    * standard "which link forms next" ranking for graph curation.
    *
    * Same scale shape as jaccardLinks: one wedge self-join on the
    * neighbor frame (hub-cappable via `maxDegree` — the wedge count is
    * Σ deg², so capping hubs is the 100 TB lever), the per-via degree
    * attached BEFORE the pair groupBy so the score is one keyed
    * floor-scaled sum (10⁹ — 1/ln(deg) is irrational, and a via node
    * in a wedge always has deg ≥ 2 so ln > 0), existing edges removed
    * by anti-join. Returns the top-k pairs by score (ties by (a, b)):
    * (a, b, common, deg_a, deg_b, aa_score). */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
                 minCommon: Long = 1L, topK: Int = 20,
                 maxDegree: Option[Long] = None): DataFrame = {
    require(topK >= 1, s"topK=$topK")
    val und = capHubs(edges.select(
        least(col(srcCol), col(dstCol)).cast(LongType).as("a"),
        greatest(col(srcCol), col(dstCol)).cast(LongType).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .distinct(), maxDegree, "adamicAdar")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the cache ONCE before the many-consumer readout —
    // un-materialized, every concurrent broadcast subquery of the final
    // count re-derived the caller's upstream (measured q402: nine ~0.5 s
    // jobs re-running the 4-table strong-trade-graph build)
    und.count()
    val nbrs = und.select(col("a").as("id"), col("b").as("nbr"))
      .unionByName(und.select(col("b").as("id"), col("a").as("nbr")))
    val deg = nbrs.groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val cand = nbrs.select(col("nbr").as("via"), col("id").as("a"))
      .join(nbrs.select(col("nbr").as("via"), col("id").as("b")), "via")
      .filter(col("a") < col("b"))
      .join(deg.select(col("id").as("via"), col("deg").as("__dv")), "via")
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"),
        Reductions.isum(lit(1.0) / log(col("__dv").cast(DoubleType)), 9)
          .as("aa_score"))
      .filter(col("common") >= minCommon)
    val nonEdges = cand.join(und, Seq("a", "b"), "left_anti")
    val out = nonEdges
      .join(deg.select(col("id").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("deg_b")), "b")
      .select(col("a"), col("b"), col("common"), col("deg_a"),
        col("deg_b"), col("aa_score"))
      .orderBy(col("aa_score").desc, col("a"), col("b"))
      .limit(topK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    und.unpersist()
    out
  }

  /** The TPC-H trading pairs: one (cnode, snode) row per orders ⋈
    * lineitem match, customer c encoded as node 2c and supplier s as
    * 2s+1, so the two node spaces are disjoint. A pair that traded more
    * than once repeats. */
  def tradingPairs(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders.select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("cnode"),
        (col("l_suppkey") * 2 + 1).as("snode"))

  /** The TPC-H trading graph: an undirected customer↔supplier edge for
    * every distinct [[tradingPairs]] pair, emitted in both directions so
    * every node has out-edges. */
  def tradingPairsGraph(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val pairs = tradingPairs(orders, lineitem).distinct()
    // emit both directions by EXPLODING each distinct pair — a
    // self-union would evaluate the orders⋈lineitem join + distinct once
    // PER BRANCH in every consuming pass (the frame is lazy; most callers
    // don't persist it). Same row set, one derivation.
    pairs.select(explode(array(
        struct(col("cnode").as("src"), col("snode").as("dst")),
        struct(col("snode").as("src"), col("cnode").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  /** BOUNDED-HOP BFS distances from a source set over a directed edge
    * list (pass a symmetric list for undirected semantics): frontier
    * expansion with a fixed hop cap — round h joins the pre-partitioned
    * edge frame with the O(frontier) id set, dedups, anti-joins the
    * visited set, tags dist = h. Every round's frontier/visited is
    * eagerly checkpointed and the superseded blocks released (the
    * pageRank doctrine), so plan depth and storage stay constant; the
    * loop exits early when a frontier empties (a driver count on an
    * already-materialized frame). Returns (id, dist) for every node
    * reached within `maxHops` (sources at dist 0). */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
                   sources: Seq[Long], maxHops: Int): DataFrame = {
    require(sources.nonEmpty && maxHops >= 0, s"maxHops=$maxHops")
    val spark = edges.sparkSession
    import spark.implicits._
    // gate BEFORE the src re-key: the local path reads the frame once —
    // paying the repartition exchange inside its collect lineage would
    // buy nothing
    val eBase = edges.select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    // below the driver limit: plain BFS over the collected edge list —
    // hop tags and early exit replay the distributed loop exactly
    // ([[GraphLocal]])
    val replay = intake(eBase, StorageLevel.MEMORY_AND_DISK,
        "gated local BFS replay") { c =>
      GraphLocal.bfsDistances(spark, new GraphLocal.Edges(c(0), c(1)),
        sources, maxHops)
    }
    if (replay.isDefined) return replay.get
    val e = eBase.repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    e.count() // materialize off the warm eBase cache, then release it
    eBase.unpersist()
    var visited = sources.distinct.toDF("id")
      .select(col("id").cast(LongType).as("id"), lit(0).as("dist"))
      .localCheckpoint(true)
    var frontier = visited
    var hop = 1
    var done = maxHops == 0
    while (!done) {
      val next = e
        .join(frontier.select(col("id").as("__fid")),
          e("src") === col("__fid"))
        .select(col("dst").as("id")).distinct()
        .join(visited, Seq("id"), "left_anti")
        .select(col("id"), lit(hop).as("dist"))
        .localCheckpoint(true)
      if (next.isEmpty) {
        Checkpoints.releaseLocalCheckpoint(next)
        done = true
      } else {
        val grown = visited.unionByName(next).localCheckpoint(true)
        if (frontier ne visited) Checkpoints.releaseLocalCheckpoint(frontier)
        Checkpoints.releaseLocalCheckpoint(visited)
        visited = grown
        frontier = next
        hop += 1
        if (hop > maxHops) done = true
      }
    }
    e.unpersist()
    visited
  }

  /** DEGREE ASSORTATIVITY of a directed edge list — the Pearson
    * correlation of (out-degree of source, in-degree of target) over
    * edges (Newman 2002's out-in flavor): do well-connected senders
    * point at well-connected receivers (r > 0) or at leaves (r < 0)?
    * Degrees are exact BIGINT counts; the five moment sums accumulate
    * in DECIMAL(38,0) (degree products overflow LONG on hub-heavy
    * graphs), and the one closed-form division replays the pinned q150
    * Pearson order. Two keyed degree aggregations + two joins back onto
    * the edge frame — no windows, no driver data. Returns one row
    * (n_edges, r). */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val dout = e.groupBy(col("src")).agg(count(lit(1)).as("__x"))
    val din = e.groupBy(col("dst")).agg(count(lit(1)).as("__y"))
    val j = e.join(dout, "src").join(din, "dst")
    def dsum(c: org.apache.spark.sql.Column) =
      sum(c.cast(DecimalType(38, 0))).cast(DoubleType)
    val agg = j.agg(count(lit(1)).as("n_edges"),
      dsum(col("__x")).as("__sx"), dsum(col("__y")).as("__sy"),
      dsum(col("__x").cast(DecimalType(38, 0)) * col("__x")).as("__sxx"),
      dsum(col("__y").cast(DecimalType(38, 0)) * col("__y")).as("__syy"),
      dsum(col("__x").cast(DecimalType(38, 0)) * col("__y")).as("__sxy"))
    val n = col("n_edges").cast(DoubleType)
    agg.select(col("n_edges"),
      when((n * col("__sxx") - col("__sx") * col("__sx")) > 0 &&
          (n * col("__syy") - col("__sy") * col("__sy")) > 0,
        (n * col("__sxy") - col("__sx") * col("__sy")) /
          (sqrt(n * col("__sxx") - col("__sx") * col("__sx")) *
            sqrt(n * col("__syy") - col("__sy") * col("__sy"))))
        .as("r"))
  }

  /** RECIPROCITY + DENSITY summary of a directed edge list: node/edge
    * counts, the count of edges whose reverse edge also exists, the
    * reciprocity ratio, and the directed density E/(n·(n−1)).
    * Self-loops are excluded (they would inflate both numerators). One
    * distinct + one self-join on the reversed key + two tiny
    * aggregations; the ratio divisions are the only floats. Returns one
    * row (n_nodes, n_edges, n_reciprocal, reciprocity, density). */
  def reciprocity(edges: DataFrame, srcCol: String,
                  dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      import graft.ops.Bounded._
      val nEdges = e.count() // also materializes the cache for the aggs below
      val nNodes = e.select(explode(array(col("src"), col("dst"))).as("id"))
        .distinct().count()
      // no self-join for the reverse-edge check: one shuffles the |E|
      // cache twice (measured 3.4 s at sf0.1). Over a DISTINCT loop-free
      // edge list, an edge (u,v) is
      // reciprocal iff its canonical pair {u,v} occurs twice — one keyed
      // count with map-side partial aggregation, no join, same integer.
      val nRecip = e
        .groupBy(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(when(col("c") === 2L, 2L).otherwise(0L)), lit(0L))
          .as("r"))
        .collectBounded(1, "O(1) reciprocity readout").head.getLong(0)
      val spark = edges.sparkSession
      import spark.implicits._
      Seq((nNodes, nEdges, nRecip)).toDF("n_nodes", "n_edges", "n_reciprocal")
        .select(col("n_nodes"), col("n_edges"), col("n_reciprocal"),
          when(col("n_edges") > 0L, col("n_reciprocal").cast(DoubleType) /
            col("n_edges").cast(DoubleType)).as("reciprocity"),
          when(col("n_nodes") > 1L, col("n_edges").cast(DoubleType) /
            (col("n_nodes").cast(DoubleType) *
              (col("n_nodes").cast(DoubleType) - 1.0))).as("density"))
    } finally { e.unpersist(); () }
  }

  /** NEWMAN MODULARITY of a node partition — the "was this community
    * detection any good" scalar (Q > 0.3 ≈ real structure; Q ≈ 0 ≈ a
    * random split): over a SYMMETRIC directed edge list (both directions
    * present, the [[labelPropagation]]/[[tradingPairsGraph]] convention),
    *   Q = intra/M2 − Σ_c (d_c / M2)²
    * with M2 the directed edge count (= 2m), intra the directed count of
    * within-community edges, d_c the summed out-degrees of community c.
    * Nodes missing from `labels` are excluded from BOTH the intra count
    * and the Σ(d_c/M2)² degree-mass term (the label joins are inner),
    * while M2 still counts every edge — i.e. a partial labeling is
    * scored as if unlabeled nodes formed no community at all. Pass a
    * complete labeling (LP emits one) for textbook Q.
    * Returns one row (k_communities, m_edges, intra_edges, modularity).
    *
    * Plan: two label joins on the edge frame (keyed; the label frame is
    * node-sized), one degree aggregation, one O(communities) term frame
    * with the Σ floor-scaled (10⁹) — no densification, no driver data. */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 labels: DataFrame, idCol: String, labelCol: String)
      : DataFrame = {
    // the edge frame is consumed three times (count, intra join, degree
    // pass) and the label frame twice — persist both so an expensive
    // upstream (a joins-built graph, an iterative LP labeling) computes
    // ONCE; released after the one-row result materializes
    val e = edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lab = labels.select(col(idCol).as("__lid"), col(labelCol).as("__ll"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize BOTH caches before the 1-row readout below — its
    // broadcast subqueries are submitted concurrently, and un-materialized
    // caches made every subquery job recompute the shared upstream (the
    // measured q298 cost was ~1 s per racing subquery); two cheap counts
    // turn those races into warm cache reads. When the label count fits
    // the driver limit the node-sized label sides are broadcast (guide
    // §3.1), so the |E|-row joins run map-side with no sort and no
    // exchange.
    val spark = labels.sparkSession
    val labN = lab.count()
    val eCnt = e.count()
    // Below the driver limit the three aggregation passes over the |E|
    // cache (intra join, degree pass, m2) collapse to one in-core fold —
    // same Long counts, same floor-scaled isum(·,9) double sequence
    // ([[GraphLocal]]). LONG-typed columns only, unique label ids only (a
    // duplicated id multiplies the distributed joins — fall through
    // rather than guess), no NULL id, label or endpoint (engine-specific
    // join/group semantics — keep the distributed plan rather than
    // replicate), nonempty labeled-degree mass (the degenerate empties
    // keep the distributed plan's NULL semantics). The label-side
    // preconditions are checked before the |E| collect, and a NULL stops
    // each collect inside its tasks.
    if (eCnt > 0L && Bounded.fitsDriver(spark, eCnt) &&
        labN <= 2L * Bounded.driverRowLimit(spark) &&
        e.schema.forall(_.dataType == LongType) &&
        lab.schema.forall(_.dataType == LongType)) {
      val out = Bounded.collectLongs(lab, Bounded.driverRowBound(spark, 2),
          "gated local modularity replay (labels ≤ 2 × the limit)")
        .flatMap { l =>
          val lix = new GraphLocal.LongIndex
          l(0).foreach(lix(_))
          if (lix.size != l(0).length) None
          else Bounded.collectLongs(e, Bounded.driverRowBound(spark),
              "gated local modularity replay (edges)")
            .flatMap(c => GraphLocal.modularity(spark,
              new GraphLocal.Edges(c(0), c(1)), lix, l(1)))
        }
      if (out.isDefined) {
        e.unpersist(); lab.unpersist()
        return out.get
      }
    }
    val useBcast = Bounded.fitsDriver(spark, labN)
    def side(f: DataFrame => DataFrame): DataFrame =
      if (useBcast) broadcast(f(lab)) else f(lab)
    val la = side(_.select(col("__lid").as("__sid"), col("__ll").as("__sl")))
    val lb = side(_.select(col("__lid").as("__did"), col("__ll").as("__dl")))
    val m2 = e.agg(count(lit(1)).as("__m2"))
    val intra = e.join(la, col("__s") === col("__sid"))
      .join(lb, col("__d") === col("__did"))
      .agg(sum(when(col("__sl") === col("__dl"), 1L).otherwise(0L))
        .as("__intra"))
    val degByC = e.groupBy(col("__s")).agg(count(lit(1)).as("__deg"))
      .join(la, col("__s") === col("__sid"))
      .groupBy(col("__sl")).agg(sum(col("__deg")).as("__dc"))
    val m2D = col("__m2").cast(DoubleType)
    val r = col("__dc").cast(DoubleType) / m2D
    val sumTerm = degByC.crossJoin(broadcast(m2))
      .agg(count(lit(1)).as("k_communities"),
        Reductions.isum(r * r, 9).as("__expTerm"))
    val out = sumTerm.crossJoin(broadcast(intra)).crossJoin(broadcast(m2))
      .select(col("k_communities"),
        (col("__m2") / 2).cast(LongType).as("m_edges"),
        (col("__intra") / 2).cast(LongType).as("intra_edges"),
        (col("__intra").cast(DoubleType) / col("__m2").cast(DoubleType) -
          col("__expTerm")).as("modularity"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize the one-row result, then release the caches
    e.unpersist(); lab.unpersist()
    out
  }

  /** HITS hubs & authorities (Kleinberg 1999) over a DIRECTED edge list,
    * in the same FIXED-POINT BIGINT regime as [[pageRank]]: each round
    * sums exactly in DECIMAL(38,0), then renormalizes by integer division
    * so the round's maximum score is exactly `Scale` —
    *   a_t(v) = Σ_{u→v} h_{t−1}(u) · Scale div max,
    *   h_t(u) = Σ_{u→v} a_t(v)     · Scale div max
    * — truncating integer ops replay bit-identically in any engine and
    * under any partitioning (the standard L2 normalization would put a
    * float sqrt inside the iteration). Scores stay SPARSE: hubs live on
    * src nodes, authorities on dst nodes; the final frame unions both
    * node sets with 0 for the missing side.
    *
    * RENORMALIZATION SCHEDULE (renormalizing both halves of every round
    * made q332 ~21 scheduled jobs on milliseconds of data): hubs
    * renormalize ONCE PER ROUND, authorities only at output —
    *   a_raw_t(v) = Σ_{u→v} h_{t−1}(u)          (h normalized, ≤ Scale)
    *   h_raw_t(u) = Σ_{u→v} a_raw_t(v)          (UNnormalized a)
    *   h_t = h_raw_t · Scale div max(h_raw_t)
    *   output: hub = h_T;  auth = a_raw_T · Scale div max(a_raw_T)
    * — still textbook HITS (the normalization schedule only rescales;
    * the per-round power iteration is unchanged), still a pure integer
    * function of the edge set, but each round is now ONE eager
    * materialization (the h_raw checkpoint; the a_raw join+aggregate
    * rides inside its lineage as a single-consumer lazy stage) plus one
    * 1-ROW driver readout of the round max (the fit-side pattern),
    * inlined as an exact literal into the next round's plan. A
    * per-half-round renorm needs two checkpoints + a readout per round;
    * A/B alternatives measured at sf0.1: lazy nested-broadcast maxima
    * were SLOWER still (each consumer re-schedules two chained
    * broadcast exchanges); this shape is the fastest and the oracle
    * mirror replays it in lockstep (re-pinned in the same commit).
    *
    * ARITHMETIC WIDTH is chosen by a proven bound, not a guess: h ≤
    * Scale = 10¹² ⇒ a_raw ≤ maxIndeg·10¹² ⇒ h_raw ≤
    * maxOutdeg·maxIndeg·10¹². When maxIndeg·maxOutdeg < 9·10⁶ (one
    * crossed 1-row degree readout at setup) every per-edge sum provably
    * fits a LONG with headroom and the hot aggregates run in
    * codegen-fast LONG arithmetic; otherwise exact DECIMAL(38,0) (which
    * itself holds to |E|·deg² ≈ 10³⁸ — any real graph). Both paths
    * produce the same integers — the normalization multiply is always
    * DECIMAL (node-sized, `s·10¹²` overflows LONG at any scale) — so
    * the switch changes cost, never the result. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters=$iters")
    val e0 = edges.select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    // TWO pre-partitioned edge copies, one per join direction: the rounds
    // alternate joining on src (hub pull) and dst (auth pull), and a
    // single copy would re-shuffle the EDGE frame — the big side — twice
    // per round. With each copy persisted under its join key's hash
    // partitioning, the per-round exchanges carry only the node-sized
    // score frames (the cached side's outputPartitioning already
    // satisfies the join requirement). Costs 2× edge storage; at 100 TB
    // the shuffle saved per round dwarfs it. Build = exactly two edge
    // shuffles: dedup rides the src-hash exchange for free (hash(src)
    // partitioning satisfies the (src,dst) clustering the aggregate
    // needs), and the dst copy re-shuffles the already-deduped frame —
    // a separate distinct + two repartitions off a third persisted
    // frame would pay one more full-|E| shuffle and one more
    // materialized copy for nothing.
    val eSrc = e0.repartition(col("src")).dropDuplicates("src", "dst")
    // Below the driver limit the per-round max readout + checkpoint cycle
    // is job-scheduling-bound: BigInt walks the identical integer
    // sequence of both the LONG and DECIMAL(38,0) widths in-core
    // ([[GraphLocal]]).
    val replay = intake(eSrc, StorageLevel.MEMORY_AND_DISK,
        "gated local HITS replay") { c =>
      GraphLocal.hits(edges.sparkSession, new GraphLocal.Edges(c(0), c(1)),
        iters)
    }
    if (replay.isDefined) return replay.get
    val eDst = eSrc.repartition(col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    eDst.count() // materializes off the warm eSrc cache
    import graft.ops.Bounded._
    // one crossed 1-row job: both degree maxima off the warm caches —
    // the width proof needs maxIndeg·maxOutdeg (see scaladoc)
    val degRow = eDst.groupBy(col("dst")).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("mi"))
      .crossJoin(eSrc.groupBy(col("src")).agg(count(lit(1)).as("c"))
        .agg(max(col("c")).as("mo")))
      .collectBounded(1, "hits: 1-row degree-maxima readout").head
    // degenerate input: zero edges ⇒ the max() readout is a 1-row NULL
    // (max over zero groups) — return the empty (id, hub, auth) frame
    // instead of NPE'ing on getLong
    if (degRow.isNullAt(0) || degRow.isNullAt(1)) {
      eSrc.unpersist(); eDst.unpersist()
      return edges.sparkSession.emptyDataFrame
        .select(lit(0L).as("id"), lit(0L).as("hub"), lit(0L).as("auth"))
        .limit(0)
    }
    val longSafe = degRow.getLong(0) * degRow.getLong(1) < 9000000L
    def normed(raw: DataFrame, idCol: String, out: String): DataFrame = {
      val mxRow = raw.agg(max(col("__s")).as("__mx"))
        .collectBounded(1, "hits: 1-row per-round max").head
      val mxLit =
        if (longSafe) s"CAST(${mxRow.getLong(0)} AS DECIMAL(38,0))"
        else s"CAST('${mxRow.getDecimal(0).toPlainString}' AS DECIMAL(38,0))"
      raw.select(col(idCol).as("id"),
        expr(s"CAST(__s AS DECIMAL(38,0)) * ${Scale}L div $mxLit")
          .cast(LongType).as(out))
    }
    def widened(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (longSafe) c else c.cast(DecimalType(38, 0))
    // raw per-round frames; hubRaw is checkpointed every round (consumed
    // by its max readout + the next round's join), authRaw only on the
    // LAST round (mid-loop it has a single lazy consumer — the h_raw
    // aggregate — and materializing it would just add a job)
    var hubRaw: DataFrame = null
    var authRaw: DataFrame = null
    var lastH: Option[DataFrame] = None
    for (i <- 1 to iters) {
      // round 1 in closed form: every hub seeds at Scale, so
      // a_raw₁(v) = indeg(v)·Scale exactly — one keyed count, no join
      // (indeg·10¹² needs the decimal widening exactly when !longSafe)
      val aRaw =
        (if (i == 1)
          eDst.groupBy(col("dst"))
            .agg((widened(count(lit(1))) * lit(Scale)).as("__s"))
        else {
          val hub = normed(hubRaw, "src", "h")
          eSrc.join(hub, eSrc("src") === hub("id"))
            .groupBy(col("dst"))
            .agg(sum(widened(col("h"))).as("__s"))
        }).select(col("dst").as("__aid"), col("__s"))
      authRaw = if (i == iters) aRaw.localCheckpoint(true) else aRaw
      val hRaw = eDst.join(authRaw, eDst("dst") === authRaw("__aid"))
        .groupBy(col("src"))
        .agg(sum(widened(col("__s"))).as("__s"))
      hubRaw = hRaw.localCheckpoint(true)
      lastH.foreach(Checkpoints.releaseLocalCheckpoint)
      lastH = Some(hubRaw)
    }
    // node universe = hub keys ∪ auth keys: every src node is a hubRaw
    // key (each edge's dst matched a_raw, so each src aggregated) and
    // every dst node an authRaw key (symmetric argument) — a FULL OUTER
    // join of the two node-sized score frames covers every endpoint
    // without re-scanning |E| rows (a 2|E|-row union+distinct)
    val out = normed(hubRaw, "src", "h")
      .join(normed(authRaw, "__aid", "a"), Seq("id"), "full")
      .select(col("id"), coalesce(col("h"), lit(0L)).as("hub"),
        coalesce(col("a"), lit(0L)).as("auth"))
      .localCheckpoint(true)
    lastH.foreach(Checkpoints.releaseLocalCheckpoint)
    Checkpoints.releaseLocalCheckpoint(authRaw)
    eSrc.unpersist(); eDst.unpersist()
    out
  }

  /** WEIGHTED single-source shortest paths by Bellman–Ford relaxation
    * with a FIXED round count: after round r, `dist` holds the cheapest
    * path using ≤ r hops (set `rounds` ≥ the graph's hop diameter for
    * the full SSSP; the fixed cap is what makes the operator replayable
    * in unrolled SQL, the [[bfsDistances]] convention with weights).
    * Weights are LONGS (floor-cast by the caller) so every relaxation is
    * exact integer min/+ — no FP tie hazards on any engine.
    *
    * Plan: parallel edges collapse to their min weight once; each round
    * is one hash join of the pre-partitioned edge frame with the current
    * distance frame + a keyed min — two shuffles per round, the frame is
    * O(reached nodes). Each round's result is eagerly checkpointed and
    * the superseded blocks released (the pageRank doctrine). Returns
    * (id, dist) for nodes reachable within `rounds` hops. */
  def ssspWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                   weightCol: String, sources: Seq[Long],
                   rounds: Int): DataFrame = {
    require(sources.nonEmpty && rounds >= 1, s"rounds=$rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    // gate BEFORE the src re-key: the local path reads the frame once —
    // paying the repartition exchange inside its collect lineage would
    // buy nothing
    val eBase = edges.select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"),
        col(weightCol).cast(LongType).as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("w").isNotNull)
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
    // below the driver limit: exact Long min/+ relaxations over the
    // collected min-collapsed edge list ([[GraphLocal]])
    val replay = intake(eBase, StorageLevel.MEMORY_AND_DISK,
        "gated local SSSP replay") { c =>
      GraphLocal.ssspWeighted(spark, new GraphLocal.Edges(c(0), c(1)), c(2),
        sources, rounds)
    }
    if (replay.isDefined) return replay.get
    val e = eBase.repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    e.count() // materialize off the warm eBase cache, then release it
    eBase.unpersist()
    var dist = sources.distinct.toDF("id")
      .select(col("id").cast(LongType).as("id"), lit(0L).as("dist"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val distJ = dist.select(col("id").as("__u"), col("dist").as("__du"))
      val relaxed = e
        .join(distJ, e("src") === col("__u"))
        .select(col("dst").as("id"), (col("__du") + col("w")).as("dist"))
      val next = dist.unionByName(relaxed)
        .groupBy(col("id")).agg(min(col("dist")).as("dist"))
        .localCheckpoint(true)
      Checkpoints.releaseLocalCheckpoint(dist)
      dist = next
    }
    e.unpersist()
    dist
  }
}
