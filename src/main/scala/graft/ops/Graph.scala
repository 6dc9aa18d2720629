package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
    * are collapsed first. Node set = every edge endpoint.
    *
    * Per iteration: share = r div outdeg per out-edge (truncating), then
    * r' = base + (damp·(Σ_in share + D div N)) div 100 with
    * base = (100−damp)·(Scale div N) div 100 and D = Σ rank over DANGLING
    * nodes (no out-edges) — the standard redistribution term, so rank
    * mass no longer drains on graphs with sinks (both-directions graphs
    * like [[tradingPairsGraph]] have D = 0 identically and are
    * bit-unchanged). All BIGINT; Σ share + D ≤ Scale total so damp·Σ
    * never overflows. Nodes with no in-edges keep contributing (the rank
    * frame is rebuilt over the FULL node universe each round, not just
    * the aggregation's dst keys).
    *
    * Plan at scale: the degree-annotated edge list is hash-partitioned on
    * src and persisted ONCE; each iteration is one shuffle join
    * (ranks ⋈ edges on src — co-partitioned after the first round), one
    * keyed aggregation on dst, one co-partitioned join back to the node
    * universe, and a 1-ROW broadcast dangling-mass frame (never a driver
    * action — the whole run stays lazy between checkpoints). Rank frames
    * are O(N) rows. ITERATIVE-LINEAGE HYGIENE (the lesson [[kCore]]
    * measured: plan analysis doubles per round once a frame is consumed
    * twice — 60 s/OOM at 6 rounds on a 5-edge toy): each round consumes
    * `ranks` twice (contrib + dangling mass) WHEN dangling nodes exist,
    * so the rank frame must be materialized every round. Graphs with NO
    * dangling nodes — an O(1) pre-check — skip the dangling aggregate
    * entirely (the term is 0L identically), leaving the
    * single-consumption linear plan.
    *
    * The rank frame is eagerly localCheckpointed EVERY round, dangling
    * nodes or not (sf0.1 trading graph, min-of-4: every round 5.6 s,
    * every second round 6.1 s, no mid-loop checkpoint 8.2 s). Each
    * checkpoint turns the next round into its own job over materialized
    * inputs whose sizes AQE knows exactly, so the rank ⋈ edges join and
    * the dst aggregation get re-planned with real statistics instead of
    * propagated estimates, and the lineage stays O(1) deep. The
    * persisted edge/node frames use MEMORY_AND_DISK_SER: compact byte
    * buffers per block (equal wall time locally, and serialized blocks
    * evict/spill without re-serialization on a real executor).
    * Heap-insensitivity itself is a HARNESS property, not an operator
    * one — see build.sbt's -Xmn cap and JITTER.md's r18 addendum. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 5, damp: Int = 85,
               dedupEdges: Boolean = true): DataFrame = {
    require(iters >= 1 && damp >= 0 && damp <= 100)
    // dedupEdges=false skips a full edge shuffle when the caller's edge
    // list is already distinct (e.g. tradingPairsGraph); duplicate edges
    // would otherwise act as weighted (parallel) edges.
    val e0 = edges.select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val e = if (dedupEdges) e0.distinct() else e0
    // The edge list feeds FOUR derivations at build time (deg, the two
    // node-universe branches, edged). Un-persisted, each re-derives the
    // caller's upstream plan (for the trading graph: the orders⋈lineitem
    // join + distinct) from parquet — measured ~1–2 s per re-derivation
    // at sf0.1 (guide §5: cache exactly the frame that is re-used).
    // Persisted here, released as soon as `edged` is materialized.
    val ePer = e.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val eCnt = ePer.count()
    // Below the driver limit the distributed rank loop is pure job
    // scheduling — each of its ~3·iters tiny-stage jobs costs more wall
    // than the whole computation — so the collected edge list is folded
    // in-core with the same floor divisions in the same order
    // ([[GraphLocal]]; bit-identical, PageRankLocalParitySpec).
    val spark = edges.sparkSession
    if (Bounded.fitsDriver(spark, eCnt)) {
      val arr = GraphLocal.collectEdges(ePer, "gated local pageRank replay")
      ePer.unpersist()
      return GraphLocal.pageRank(spark, arr, iters, damp)
    }
    val deg = ePer.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // JOIN STRATEGY (guide §3.1): the per-round join carries a
    // NODE-sized rank frame against the persisted EDGE frame. A
    // localCheckpointed rank frame has no size statistics, so unhinted
    // the planner picks a co-partitioned SortMergeJoin that RE-SORTS the
    // whole |E| cache every round (measured sf0.1: 1.7 s per round on
    // 1.17M edges for milliseconds of arithmetic). When the node count
    // fits the driver limit, the rank frame is broadcast instead and the
    // edge cache keyed by DST — the aggregation key — so each round is
    // ONE exchange-free cached map stage. A node frame too big for that
    // keeps the co-partitioned SMJ, with the edge cache sorted by src at
    // build so the per-round merge re-sorts only the node frame, never
    // |E|. Both shapes compute identical integers.
    // node universe: every endpoint, annotated dangling when no out-edge,
    // in ONE exchange: explode each edge into (src,1),(dst,0) endpoint
    // rows, then a single keyed max — dangling ⇔ the node never appears
    // as src. Partial aggregation collapses the exploded rows map-side,
    // and the agg output is already hash(id)-partitioned for the round
    // joins.
    val nodes = ePer.select(explode(array(
        struct(col("src").as("id"), lit(1).as("__o")),
        struct(col("dst").as("id"), lit(0).as("__o")))).as("n"))
      .groupBy(col("n.id").as("id"))
      .agg((max(col("n.__o")) === 0).as("__dang"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // N: one O(1) driver readout (the fit-side pattern) — needed to place
    // the integer literals r0/base into the plan
    val n = nodes.count()
    val useBcast = Bounded.fitsDriver(spark, n)
    val edged = {
      val degJ = if (useBcast) broadcast(deg) else deg
      val j = ePer.join(degJ, "src")
      if (useBcast) j.repartition(col("dst"))
      else j.repartition(col("src")).sortWithinPartitions(col("src"))
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    edged.count() // materialize off the warm ePer cache, then release it
    ePer.unpersist()
    // Dangling-node existence is an O(1) readout off the persisted node
    // frame. When the graph has NO dangling nodes (e.g. both-directions
    // graphs like tradingPairsGraph) the redistribution term is 0L every
    // round identically, so the per-round dangling aggregate + 1-row
    // broadcast — and the double consumption of `ranks` it causes — are
    // skipped outright; the loop is then the single-consumption linear
    // plan. When dangling nodes DO exist, `ranks` is consumed twice per
    // round; the per-round checkpoint below lets both consumers read
    // materialized partitions, so nothing is recomputed inside the
    // broadcast subtree.
    val hasDangling = nodes.filter(col("__dang")).limit(1).count() > 0L
    val r0 = Scale / n
    val base = (100 - damp) * (Scale / n) / 100
    var ranks = nodes.select(col("id"), col("__dang"), lit(r0).as("r"))
    // the most recent round's eager checkpoint: released only once a NEWER
    // checkpoint has materialized from it (never the frame the caller's
    // final action will read — a local checkpoint has no lineage to
    // recompute from, see [[Checkpoints]])
    var lastCk: Option[org.apache.spark.sql.DataFrame] = None
    for (i <- 1 to iters) {
      val ranksJ = if (useBcast) broadcast(ranks) else ranks
      val contrib0 = edged.join(ranksJ, edged("src") === ranksJ("id"))
        .select(col("dst"), expr("r div outdeg").as("share"))
        .groupBy(col("dst"))
        .agg(sum(col("share")).as("s"))
      val contrib = if (useBcast) broadcast(contrib0) else contrib0
      ranks =
        if (!hasDangling)
          nodes.join(contrib, nodes("id") === contrib("dst"), "left")
            .select(nodes("id"), nodes("__dang"),
              (lit(base) +
                expr(s"(${damp}L * coalesce(s, 0L)) div 100")).as("r"))
        else {
          val dang = ranks.filter(col("__dang"))
            .agg(coalesce(sum(col("r")), lit(0L)).as("__dmass"))
          nodes.join(contrib, nodes("id") === contrib("dst"), "left")
            .crossJoin(broadcast(dang))
            .select(nodes("id"), nodes("__dang"),
              (lit(base) + expr(
                s"(${damp}L * (coalesce(s, 0L) + __dmass div ${n}L)) div 100"))
                .as("r"))
        }
      // (skipping mid-loop checkpoints in broadcast mode was measured
      // SLOWER — q149 4.4→5.6 s, q405 5.1→11.3 s — the nested broadcast
      // chain re-runs analysis/codegen over a growing tree each round)
      if (i < iters) {
        ranks = ranks.localCheckpoint(true)
        lastCk.foreach(Checkpoints.releaseLocalCheckpoint)
        lastCk = Some(ranks)
      }
    }
    // Eager-checkpoint the RESULT (node-sized blocks) so the iteration's
    // edge/node caches can be RELEASED here instead of leaking for the
    // session — the labelPropagation pattern. Downstream consumers read
    // O(N) materialized blocks; no round is ever replayed lazily.
    val out = ranks.select(col("id"), col("r")).localCheckpoint(true)
    lastCk.foreach(Checkpoints.releaseLocalCheckpoint)
    edged.unpersist()
    nodes.unpersist()
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
    * Input edge list is symmetrized (both directions), deduped, and
    * self-loops dropped — unless `assumeSymmetric` is set, which skips
    * the union+distinct re-symmetrization (one full-|E| shuffle) for
    * callers whose edge frame ALREADY holds exactly one row per directed
    * edge of a loop-free symmetric graph ([[tradingPairsGraph]] does:
    * distinct pairs emitted in both directions over disjoint even/odd
    * node spaces).
    *
    * Plan at scale: the symmetric edge frame is hash-partitioned on the
    * neighbor key and persisted ONCE. Round 1 is computed in CLOSED FORM:
    * every node starts as its own label, so each neighbor contributes a
    * distinct label with count 1 and the max-count/min-label argmax
    * collapses to min(neighbor id) — one keyed aggregation, no join, and
    * the node-set distinct falls away entirely. Each later round is one
    * co-partitioned join (labels ⋈ edges on b), a keyed count, and a
    * struct-max argmax (max count, min label) — two shuffles per round,
    * O(|E|) rows, no window. Single consumption of the label frame per
    * round keeps the lazy plan linear; a checkpoint every second round
    * bounds analysis depth on deep runs (the [[pageRank]] lineage lesson). */
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
      else e0.unionByName(e0.select(col("b").as("a"), col("a").as("b")))
        .distinct()
    val spark = edges.sparkSession
    val ePre = e1.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val eCnt = ePre.count()
    // Below the driver limit the round loop is job scheduling for
    // milliseconds of arithmetic: it runs in-core off one bounded collect
    // of the warm cache, same min-label/argmax integers ([[GraphLocal]]).
    if (Bounded.fitsDriver(spark, eCnt)) {
      val arr = GraphLocal.collectEdges(ePre,
        "gated local labelPropagation replay")
      ePre.unpersist()
      return GraphLocal.labelPropagation(spark, arr, iters)
    }
    // above it: edges keyed by the join key b, so each round's
    // labels ⋈ edges join is co-partitioned with the cache
    val e = ePre.repartition(col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    e.count() // materialize off the warm ePre cache, then release it
    ePre.unpersist()
    // round 1 in closed form (see scaladoc): min neighbor id
    var labels = e.groupBy(col("a"))
      .agg(min(col("b")).as("lbl"))
      .select(col("a").as("id"), col("lbl"))
    // superseded-checkpoint tracking, same contract as pageRank's
    var lastCk: Option[org.apache.spark.sql.DataFrame] = None
    for (i <- 2 to iters) {
      val nb = e.join(labels, e("b") === labels("id"))
        .groupBy(col("a"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      labels = nb.groupBy(col("a"))
        .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("a").as("id"), (-col("m.nl")).as("lbl"))
      if (i % 2 == 0 && i < iters) {
        labels = labels.localCheckpoint(true)
        lastCk.foreach(Checkpoints.releaseLocalCheckpoint)
        lastCk = Some(labels)
      }
    }
    // eager-checkpoint the RESULT so the iteration's edge cache can be
    // RELEASED here instead of leaking for the session (each LP call used
    // to pin its symmetric edge frame in storage forever); also makes
    // every downstream consumer read node-sized blocks, not replay rounds
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
    und.count() // r19: materialize before the multi-consumer readout (see adamicAdar)
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
    und.count() // r19: materialize before the multi-consumer readout (see adamicAdar)
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
    * Plan per round: balls ⋈ pre-partitioned edges (dst side), explode
    * to (node, hash), then ONE keyed aggregation through
    * [[graft.functions.Kmv.KmvSketchAgg]] (`kmv_sketch(h, k)`) — a
    * TypedImperativeAggregate whose buffer is an O(k) TreeSet, so BOTH
    * the map-side partials and the shuffle rows carry at most k hashes
    * per node. (r18 used `slice(sort_array(collect_set(h)), 1, k)`:
    * the final slice is O(k) but collect_set's partial/final buffers
    * grow with the ball's full distinct count — on a hub-heavy graph a
    * radius-3 ball saturates toward n and one node's buffer becomes
    * O(n), an executor-OOM scale-killer. kmv_sketch computes the same
    * min-k-of-distinct value — the DuckDB oracle replay and all hashes
    * are unchanged — with a hard O(k) bound; an r18 A/B had already
    * shown the one-aggregation shape beats distinct + rank-window
    * 28.6 → 12.4 s at sf1.0.)
    * Each round's frame is eagerly checkpointed (consumed by the union
    * AND the next join, the [[pageRank]] doctrine) with superseded
    * blocks released; the harmonic sum is carried along the frame
    * (ascending-r fold). Returns (id, ball_size_r<R>, harmonic). */
  def harmonicCentralityKmv(edges: DataFrame, srcCol: String,
                            dstCol: String, radius: Int = 3,
                            k: Int = 16): DataFrame = {
    require(radius >= 1 && radius <= 8, s"radius=$radius")
    require(k >= 4 && k <= 256, s"k=$k")
    graft.functions.Kmv.register(edges.sparkSession)
    // Round shape: SELF-LOOP rows (v,v) are added to the persisted edge
    // frame, so the join itself emits each node's own ball — one join +
    // one aggregation per round, no union branch. kmv_sketch is
    // set-based (min-k of DISTINCT hashes), so the same multiset of
    // (id, hash) rows arrives as with a separate own-ball union. The
    // edge cache is keyed by dst, the join key, so the balls ⋈ edges
    // join is co-partitioned with it.
    val ePre = edges.select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val eCnt = ePre.count()
    // Below the driver limit the per-round kmv fold's distributed form is
    // job-scheduling-bound: the same md5 min-k sketch rounds and
    // IEEE-double estimator sequence run in-core off one bounded collect
    // ([[GraphLocal]]).
    if (Bounded.fitsDriver(edges.sparkSession, eCnt)) {
      val arr = GraphLocal.collectEdges(ePre,
        "gated local harmonic-centrality replay")
      ePre.unpersist()
      return GraphLocal.harmonicCentralityKmv(edges.sparkSession, arr,
        radius, k)
    }
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
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
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
    var balls = nodes.select(col("id"), array(hOf(col("id"))).as("ball"),
        lit(1.0).as("est"), lit(0.0).as("harmonic"))
      .localCheckpoint(true)
    var lastCk: Option[DataFrame] = Some(balls)
    for (r <- 1 to radius) {
      val merged = e.join(balls, e("dst") === balls("id"))
        .select(e("src").as("id"), col("ball").as("__b"))
        .groupBy(col("id"))
        .agg(expr(s"kmv_sketch_arr(__b, $k)").as("ball"))
      val carry = balls.select(col("id"), col("est").as("__ep"),
        col("harmonic").as("__hp"))
      val next = merged.join(carry, Seq("id"))
        .select(col("id"), col("ball"), estOf(col("ball")).as("est"),
          (col("__hp") +
            (estOf(col("ball")) - col("__ep")) / lit(r.toDouble))
            .as("harmonic"))
        .localCheckpoint(true)
      lastCk.foreach(Checkpoints.releaseLocalCheckpoint)
      lastCk = Some(next)
      balls = next
    }
    val out = balls.select(col("id"), col("est").as("ball_size"),
      col("harmonic")).localCheckpoint(true)
    lastCk.foreach(Checkpoints.releaseLocalCheckpoint)
    e.unpersist()
    out
  }

  /** HyperANF-style NEIGHBORHOOD FUNCTION (Boldi/Rosa/Vigna 2011): per
    * radius r, the total KMV-estimated ball mass Σᵥ |B(v, r)| — THE
    * whole-graph connectivity readout at scale ("how much of the graph
    * is within r hops"), plus per-row coverage vs the largest measured
    * radius and the HyperANF effective-diameter flag (the smallest r
    * whose mass reaches 90% of N(R), decided by EXACT scaled-integer
    * compare `10·s_r ≥ 9·s_R` — no FP threshold to drift). Reuses
    * [[harmonicCentralityKmv]]'s round machinery: portable md5 min-k
    * sketches, one `kmv_sketch` O(k)-buffer aggregation per round, the
    * (k−1)·2⁶⁰/h_k estimator — every round and every readout replays
    * bit-exactly in SQL. Ball-mass sums fold through floor-scaled
    * exact decimal sums (the isum convention) so the Σ over nodes is
    * reduce-order-independent. Returns (r, n_nodes, sum_ball,
    * coverage, reaches_90pct) for r = 0..radius. */
  def neighborhoodFunction(edges: DataFrame, srcCol: String,
                           dstCol: String, radius: Int = 2,
                           k: Int = 16): DataFrame = {
    require(radius >= 1 && radius <= 8, s"radius=$radius")
    require(k >= 4 && k <= 256, s"k=$k")
    graft.functions.Kmv.register(edges.sparkSession)
    import graft.ops.Bounded._
    // same self-loop round shape as [[harmonicCentralityKmv]] (see the
    // comment there) — one join and one kmv aggregation per round
    val ePre = edges.select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val eCnt = ePre.count()
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
    // below the driver limit: the same sketch rounds and floor-scaled
    // exact-decimal sums in-core ([[GraphLocal]])
    if (Bounded.fitsDriver(edges.sparkSession, eCnt)) {
      val arr = GraphLocal.collectEdges(ePre,
        "gated local neighborhood-function replay")
      ePre.unpersist()
      return finish(GraphLocal.neighborhoodSums(arr, radius, k))
    }
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
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    e.count() // materialize off the warm ePre cache, then release it
    ePre.unpersist()
    val hOf = (c: Column) =>
      conv(substring(md5(c.cast(StringType)), 1, 15), 16, 10).cast(LongType)
    val estOf = (ball: Column) =>
      when(size(ball) < k, size(ball).cast(DoubleType))
        .otherwise(lit((k - 1).toDouble) * lit(math.pow(2, 60)) /
          element_at(ball, k).cast(DoubleType))
    // O(1) per-round readout: node count + EXACT decimal sum of the
    // floor-scaled ball estimates (native decimal sum — exact integer
    // accumulation, order-independent)
    def readout(df: DataFrame): (Long, java.math.BigDecimal) = {
      val row = df.agg(count(lit(1)).as("n"),
          sum(floor(col("est") * lit(1e6)).cast(DecimalType(38, 0)))
            .as("s"))
        .collectBounded(1, "O(1) neighborhood-function round readout").head
      (row.getLong(0), row.getDecimal(1))
    }
    var balls = nodes.select(col("id"), array(hOf(col("id"))).as("ball"),
        lit(1.0).as("est"))
      .localCheckpoint(true)
    var lastCk: Option[DataFrame] = Some(balls)
    val sums = scala.collection.mutable.ArrayBuffer(readout(balls))
    for (r <- 1 to radius) {
      val next = e.join(balls, e("dst") === balls("id"))
        .select(e("src").as("id"), col("ball").as("__b"))
        .groupBy(col("id"))
        .agg(expr(s"kmv_sketch_arr(__b, $k)").as("ball"))
        .select(col("id"), col("ball"), estOf(col("ball")).as("est"))
        .localCheckpoint(true)
      lastCk.foreach(Checkpoints.releaseLocalCheckpoint)
      lastCk = Some(next)
      balls = next
      sums += readout(balls)
    }
    lastCk.foreach(Checkpoints.releaseLocalCheckpoint)
    e.unpersist()
    finish(sums.toSeq)
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
    und.count() // r19: materialize before the multi-consumer readout (see adamicAdar)
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
    // r19: materialize the cache once before the multi-consumer readout
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
    * requires ≥ 1 surviving seed. Per-round eager checkpoint + release,
    * edge/node caches released at exit — the pageRank doctrine.
    * Returns (id, r) over the full node universe. */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
                           dstCol: String, seeds: DataFrame,
                           seedCol: String, iters: Int = 5,
                           damp: Int = 85,
                           dedupEdges: Boolean = true): DataFrame = {
    require(iters >= 1 && damp >= 0 && damp <= 100)
    val e0 = edges.select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val e = if (dedupEdges) e0.distinct() else e0
    // Same build/round shape as [[pageRank]] (see the join-strategy
    // comment there): edge frame persisted once for the four build
    // derivations, node universe + dangling flag in ONE exchange,
    // rank/contrib frames broadcast when the node count fits the driver
    // limit, with the edge cache keyed by the aggregation key (dst) so
    // rounds are exchange-free.
    val ePer = e.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val seedIds = seeds
      .select(col(seedCol).cast(LongType).as("id")).distinct()
    // Below the driver limit the rounds are job scheduling for
    // milliseconds of arithmetic: the same Long floor arithmetic runs
    // in-core ([[GraphLocal]]). Seeds are first intersected with the node
    // universe (the operator ignores non-graph seeds anyway), so the seed
    // collect is bounded by 2·|E| ≤ 2 × the limit.
    val spark = edges.sparkSession
    val eCntPre = ePer.count()
    if (Bounded.fitsDriver(spark, eCntPre)) {
      import graft.ops.Bounded._
      val arr = GraphLocal.collectEdges(ePer,
        "gated local personalized-pageRank replay")
      val seedArr = seedIds
        .join(ePer.select(explode(array(col("src"), col("dst"))).as("id"))
          .distinct(), Seq("id"), "left_semi")
        .collectBounded(driverRowBound(spark, 2),
          "pPR local replay seed set (⊆ node universe ≤ 2·|E|)")
        .map(_.getLong(0)).toSet
      ePer.unpersist()
      return GraphLocal.personalizedPageRank(spark, arr, seedArr, iters,
        damp)
    }
    val deg = ePer.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val nodes = ePer.select(explode(array(
        struct(col("src").as("id"), lit(1).as("__o")),
        struct(col("dst").as("id"), lit(0).as("__o")))).as("n"))
      .groupBy(col("n.id").as("id"))
      .agg((max(col("n.__o")) === 0).as("__dang"))
      .join(seedIds.select(col("id"), lit(true).as("__seed")),
        Seq("id"), "left")
      .select(col("id"), col("__dang"),
        coalesce(col("__seed"), lit(false)).as("__seed"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // one crossed readout: total node count (broadcast gate) and seed
    // count in a single cached-frame job
    val cntRow = {
      import graft.ops.Bounded._
      nodes.agg(count(lit(1)).as("n"),
          sum(when(col("__seed"), 1L).otherwise(0L)).as("ns"))
        .collectBounded(1, "O(1) node/seed count readout").head
    }
    val nS = cntRow.getLong(1)
    require(nS > 0, "personalizedPageRank: no seed is a graph node")
    val useBcast = Bounded.fitsDriver(spark, cntRow.getLong(0))
    val edged = {
      val degJ = if (useBcast) broadcast(deg) else deg
      val j = ePer.join(degJ, "src")
      if (useBcast) j.repartition(col("dst"))
      else j.repartition(col("src")).sortWithinPartitions(col("src"))
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    edged.count() // materialize off the warm ePer cache, then release it
    ePer.unpersist()
    val hasDangling = nodes.filter(col("__dang")).limit(1).count() > 0L
    val r0 = Scale / nS
    val base = (100 - damp) * (Scale / nS) / 100
    var ranks = nodes.select(col("id"), col("__dang"), col("__seed"),
      when(col("__seed"), lit(r0)).otherwise(lit(0L)).as("r"))
    var lastCk: Option[org.apache.spark.sql.DataFrame] = None
    for (i <- 1 to iters) {
      val ranksJ = if (useBcast) broadcast(ranks) else ranks
      val contrib0 = edged.join(ranksJ, edged("src") === ranksJ("id"))
        .select(col("dst"), expr("r div outdeg").as("share"))
        .groupBy(col("dst"))
        .agg(sum(col("share")).as("s"))
      val contrib = if (useBcast) broadcast(contrib0) else contrib0
      ranks =
        if (!hasDangling)
          nodes.join(contrib, nodes("id") === contrib("dst"), "left")
            .select(nodes("id"), nodes("__dang"), nodes("__seed"),
              (when(nodes("__seed"), lit(base)).otherwise(lit(0L)) +
                expr(s"(${damp}L * coalesce(s, 0L)) div 100")).as("r"))
        else {
          val dang = ranks.filter(col("__dang"))
            .agg(coalesce(sum(col("r")), lit(0L)).as("__dmass"))
          nodes.join(contrib, nodes("id") === contrib("dst"), "left")
            .crossJoin(broadcast(dang))
            .select(nodes("id"), nodes("__dang"), nodes("__seed"),
              (when(nodes("__seed"), lit(base)).otherwise(lit(0L)) +
                expr(s"(${damp}L * (coalesce(s, 0L) + (case when __seed " +
                  s"then __dmass div ${nS}L else 0L end))) div 100"))
                .as("r"))
        }
      if (i < iters) {
        ranks = ranks.localCheckpoint(true)
        lastCk.foreach(Checkpoints.releaseLocalCheckpoint)
        lastCk = Some(ranks)
      }
    }
    val out = ranks.select(col("id"), col("r")).localCheckpoint(true)
    lastCk.foreach(Checkpoints.releaseLocalCheckpoint)
    edged.unpersist()
    nodes.unpersist()
    out
  }

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
    // r19: materialize the cache ONCE before the many-consumer readout —
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

  /** The TPC-H trading graph: an undirected customer↔supplier edge for
    * every distinct pair that traded (orders ⋈ lineitem), encoded into one
    * node space (customer c → 2c, supplier s → 2s+1) and emitted in both
    * directions so every node has out-edges. */
  def tradingPairsGraph(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val pairs = orders.select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("cnode"),
        (col("l_suppkey") * 2 + 1).as("snode"))
      .distinct()
    // r20 (guide §2.4): emit both directions by EXPLODING each distinct
    // pair — the former self-union evaluated the orders⋈lineitem join +
    // distinct once PER BRANCH in every consuming pass (the frame is
    // lazy; most callers don't persist it). Same row set, one derivation.
    pairs.select(explode(array(
        struct(col("cnode").as("src"), col("snode").as("dst")),
        struct(col("snode").as("src"), col("cnode").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
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
    // buy nothing (guide §2.4)
    val eBase = edges.select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val eCnt = eBase.count()
    // below the driver limit: plain BFS over the collected edge list —
    // hop tags and early exit replay the distributed loop exactly
    // ([[GraphLocal]])
    if (Bounded.fitsDriver(spark, eCnt)) {
      val arr = GraphLocal.collectEdges(eBase, "gated local BFS replay")
      eBase.unpersist()
      return GraphLocal.bfsDistances(spark, arr, sources, maxHops)
    }
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
      // r19 (guide §2.4 remove shuffles outright): the reverse-edge check
      // was a self-join shuffling the |E| cache twice (measured 3.4 s at
      // sf0.1). Over a DISTINCT loop-free edge list, an edge (u,v) is
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
    // rather than guess), nonempty labeled-degree mass (the degenerate
    // empties keep the distributed plan's NULL semantics).
    if (eCnt > 0L && Bounded.fitsDriver(spark, eCnt) &&
        labN <= 2L * Bounded.driverRowLimit(spark) &&
        e.schema.forall(_.dataType == LongType) &&
        lab.schema.forall(_.dataType == LongType)) {
      import graft.ops.Bounded._
      val eRows = e.collectBounded(driverRowBound(spark),
        "gated local modularity replay (edges)")
      val labRows = lab.collectBounded(driverRowBound(spark, 2),
        "gated local modularity replay (labels ≤ 2 × the limit)")
      // NULL ids/labels have engine-specific join/group semantics — keep
      // the distributed plan for them rather than replicate
      if (eRows.forall(r => !r.isNullAt(0) && !r.isNullAt(1)) &&
          labRows.forall(r => !r.isNullAt(0) && !r.isNullAt(1))) {
        val eArr = eRows.map(r => (r.getLong(0), r.getLong(1)))
        val labMap = new java.util.HashMap[Long, Long]()
        labRows.foreach(r => labMap.put(r.getLong(0), r.getLong(1)))
        if (labMap.size == labRows.length) {
          val out = GraphLocal.modularity(spark, eArr, labMap)
          if (out.isDefined) {
            e.unpersist(); lab.unpersist()
            return out.get
          }
        }
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
    * RENORMALIZATION SCHEDULE (r18 — verdict task: q332's wall was ~21
    * scheduled jobs on milliseconds of data): hubs renormalize ONCE PER
    * ROUND, authorities only at output —
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
    * inlined as an exact literal into the next round's plan. The r17
    * per-half-round renorm needed two checkpoints + a readout per round;
    * A/B alternatives measured at sf0.1: lazy nested-broadcast maxima
    * were SLOWER than r17 (each consumer re-schedules two chained
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
    // the r17 shape (separate distinct + two repartitions off a third
    // persisted frame) paid one more full-|E| shuffle and one more
    // materialized copy for nothing.
    val eSrc = e0.repartition(col("src")).dropDuplicates("src", "dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nEdges = eSrc.count()
    // Below the driver limit the per-round max readout + checkpoint cycle
    // is job-scheduling-bound: BigInt walks the identical integer
    // sequence of both the LONG and DECIMAL(38,0) widths in-core
    // ([[GraphLocal]]).
    if (Bounded.fitsDriver(edges.sparkSession, nEdges)) {
      val arr = GraphLocal.collectEdges(eSrc, "gated local HITS replay")
      eSrc.unpersist()
      return GraphLocal.hits(edges.sparkSession, arr, iters)
    }
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
    // instead of NPE'ing on getLong (r18 regression vs the r17 shape)
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
    // without re-scanning |E| rows (the r17 shape paid a 2|E|-row
    // union+distinct here)
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
    // buy nothing (guide §2.4)
    val eBase = edges.select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"),
        col(weightCol).cast(LongType).as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("w").isNotNull)
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val eCnt = eBase.count()
    // below the driver limit: exact Long min/+ relaxations over the
    // collected min-collapsed edge list ([[GraphLocal]])
    if (Bounded.fitsDriver(spark, eCnt)) {
      import graft.ops.Bounded._
      val arr = eBase
        .collectBounded(driverRowBound(spark), "gated local SSSP replay")
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      eBase.unpersist()
      return GraphLocal.ssspWeighted(spark, arr, sources, rounds)
    }
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
