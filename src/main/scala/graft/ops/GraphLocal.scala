package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-local replays of the iterative graph operators.
  *
  * Each distributed round of these operators is 1–3 scheduled jobs (a
  * join/aggregate stage, an eager checkpoint, a readout) over node-sized
  * frames: milliseconds of arithmetic carried by seconds of scheduling,
  * and the per-round cycles were measured to get slower as cores are
  * added (q149: 10.1 s on 32 cores vs 2.7 s on 8, identical code). When
  * the operator's observed edge count passes [[Bounded.fitsDriver]], the
  * whole loop is one bounded collect plus in-core integer arithmetic;
  * above the limit the operator keeps its distributed loop.
  *
  * Driver memory at the default limit (4M edge rows): the 64 MB of raw
  * (Long, Long) payload is not the footprint. `Dataset.collect` holds
  * every decoded `UnsafeRow` while it builds the `Row` array, and
  * [[collectEdges]] then copies each `Row` into a (Long, Long) tuple.
  * Measured on JDK 17 (compressed oops, two-long rows): ≈ 85 bytes per
  * decoded row, ≈ 100 per `Row`, ≈ 45 per tuple. The transient peak is
  * therefore ≈ 185 bytes per edge, ≈ 0.75 GB for a limit-sized collect.
  * The replay itself adds 8 bytes per edge (two dense int arrays) and, by
  * estimate, ≈ 100 per node (the boxed id index). `collectBounded` holds
  * the collect to the same limit, so an input that outgrows it fails
  * loudly instead of growing the driver.
  *
  * The limit only changes WHERE the arithmetic runs: every replay walks
  * the SAME integer / IEEE-double op sequence as the distributed plan
  * (GraphLocalParitySpec runs every operator on each side of the limit;
  * the DuckDB oracle checks the queries at two scale factors).
  */
private[ops] object GraphLocal {

  import graft.ops.Bounded._

  /** Bounded edge collect off an (ideally already-persisted) canonical
    * edge frame with columns (srcLike, dstLike) castable to long, held to
    * the driver row limit. */
  def collectEdges(e: DataFrame, what: String): Array[(Long, Long)] =
    e.collectBounded(driverRowBound(e.sparkSession), what)
      .map(r => (r.getLong(0), r.getLong(1)))

  /** Compact id index: node ids → dense ints, preserving first-seen order
    * (order never matters — every consumer is keyed by the original id). */
  final class Idx {
    val ids = new scala.collection.mutable.ArrayBuffer[Long]()
    private val m = new java.util.HashMap[Long, Integer]()
    def apply(v: Long): Int = {
      val g = m.get(v)
      if (g != null) g.intValue()
      else { m.put(v, ids.length); ids += v; ids.length - 1 }
    }
    def size: Int = ids.length
  }

  /** Dense-index an edge list: (index, src ints, dst ints). */
  private def indexed(edges: Array[(Long, Long)])
      : (Idx, Array[Int], Array[Int]) = {
    val ix = new Idx
    val es = new Array[Int](edges.length)
    val ed = new Array[Int](edges.length)
    var i = 0
    while (i < edges.length) {
      es(i) = ix(edges(i)._1); ed(i) = ix(edges(i)._2); i += 1
    }
    (ix, es, ed)
  }

  /** [[Graph.labelPropagation]] rounds on the loop-free edge list the
    * distributed loop consumes: round 1 is min neighbor id per `a`; each
    * later round counts the labels of LABELED neighbors and takes (max
    * count, then min label) — the same argmax as `max(struct(c, -lbl))`.
    * A node that never appears as `a`, or whose neighbors all lost their
    * label, gets no label and is left out — exactly what the distributed
    * `groupBy(a)` and inner label join do when a caller's
    * `assumeSymmetric` frame is not symmetric. Returns (id, community). */
  def labelPropagation(spark: SparkSession, edges: Array[(Long, Long)],
                       iters: Int): DataFrame = {
    import spark.implicits._
    if (edges.isEmpty)
      return Seq.empty[(Long, Long)].toDF("id", "community")
    val (ix, ea, eb) = indexed(edges)
    val n = ix.size
    // round 1 closed form: groupBy(a).agg(min(b))
    var has = new Array[Boolean](n)
    var lbl = new Array[Long](n)
    var i = 0
    while (i < edges.length) {
      val a = ea(i); val b = edges(i)._2
      if (!has(a) || b < lbl(a)) { lbl(a) = b; has(a) = true }
      i += 1
    }
    for (_ <- 2 to iters) {
      // per node: count labels of labeled neighbors, argmax (count, -label)
      val cnt = new Array[java.util.HashMap[Long, Long]](n)
      i = 0
      while (i < edges.length) {
        val b = eb(i)
        if (has(b)) {
          val a = ea(i)
          if (cnt(a) == null) cnt(a) = new java.util.HashMap[Long, Long]()
          cnt(a).merge(lbl(b), 1L, (x, y) => x + y)
        }
        i += 1
      }
      val next = new Array[Long](n)
      val nextHas = new Array[Boolean](n)
      var v = 0
      while (v < n) {
        if (cnt(v) != null) {
          var bestC = -1L; var bestL = Long.MaxValue
          val it = cnt(v).entrySet().iterator()
          while (it.hasNext) {
            val en = it.next()
            val c = en.getValue.longValue(); val l = en.getKey.longValue()
            if (c > bestC || (c == bestC && l < bestL)) { bestC = c; bestL = l }
          }
          next(v) = bestL; nextHas(v) = true
        }
        v += 1
      }
      lbl = next; has = nextHas
    }
    spark.createDataset(ix.ids.indices.filter(v => has(v))
        .map(v => (ix.ids(v), lbl(v))))
      .toDF("id", "community")
  }

  /** [[Graph.hits]] rounds on a DEDUPED directed edge list. BigInt replays
    * both the LONG and the DECIMAL(38,0) arithmetic widths exactly (all
    * values non-negative, so truncating div = floor in every engine).
    * Returns (id, hub, auth). */
  def hits(spark: SparkSession, edges: Array[(Long, Long)],
           iters: Int): DataFrame = {
    import spark.implicits._
    if (edges.isEmpty)
      return Seq.empty[(Long, Long, Long)].toDF("id", "hub", "auth")
    val scale = BigInt(Graph.Scale)
    val (ix, es, ed) = indexed(edges)
    val n = ix.size
    def normed(raw: Array[BigInt]): Array[BigInt] = {
      var mx = BigInt(0)
      var v = 0
      while (v < n) { if (raw(v) != null && raw(v) > mx) mx = raw(v); v += 1 }
      raw.map(r => if (r == null) null else r * scale / mx)
    }
    var hubRaw: Array[BigInt] = null
    var authRaw: Array[BigInt] = null
    var i = 0
    for (it <- 1 to iters) {
      val aRaw = new Array[BigInt](n)
      if (it == 1) {
        // round 1 closed form: a_raw(v) = indeg(v) · Scale
        i = 0
        while (i < edges.length) {
          val d = ed(i)
          aRaw(d) = (if (aRaw(d) == null) scale else aRaw(d) + scale)
          i += 1
        }
      } else {
        val h = normed(hubRaw)
        i = 0
        while (i < edges.length) {
          val hv = h(es(i))
          if (hv != null) {
            val d = ed(i)
            aRaw(d) = (if (aRaw(d) == null) hv else aRaw(d) + hv)
          }
          i += 1
        }
      }
      val hRaw = new Array[BigInt](n)
      i = 0
      while (i < edges.length) {
        val av = aRaw(ed(i))
        if (av != null) {
          val s = es(i)
          hRaw(s) = (if (hRaw(s) == null) av else hRaw(s) + av)
        }
        i += 1
      }
      hubRaw = hRaw; authRaw = aRaw
    }
    val hub = normed(hubRaw)
    val auth = normed(authRaw)
    spark.createDataset(ix.ids.indices.map { v =>
      (ix.ids(v),
        if (hub(v) == null) 0L else hub(v).toLong,
        if (auth(v) == null) 0L else auth(v).toLong)
    }).toDF("id", "hub", "auth")
  }

  /** [[Graph.pageRank]] rounds: personalized PageRank with every node a
    * seed. With |S| = n the seed-restricted terms — r₀ = Scale/n,
    * base = (100−damp)·(Scale/n)/100, dangling mass div n — are exactly
    * pageRank's, so one fold serves both operators. Returns (id, r). */
  def pageRank(spark: SparkSession, edges: Array[(Long, Long)], iters: Int,
               damp: Int): DataFrame = {
    import spark.implicits._
    if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("id", "r")
    else personalizedPageRank(spark, edges, _ => true, iters, damp)
  }

  /** [[Graph.personalizedPageRank]] rounds on a DEDUPED directed edge
    * list + seed predicate. Pure Long floor arithmetic (everything
    * non-negative), identical to the distributed plan. Returns (id, r)
    * over the full node universe. */
  def personalizedPageRank(spark: SparkSession, edges: Array[(Long, Long)],
                           isSeedId: Long => Boolean, iters: Int,
                           damp: Int): DataFrame = {
    import spark.implicits._
    val (ix, es, ed) = indexed(edges)
    val n = ix.size
    val outdeg = new Array[Long](n)
    var i = 0
    while (i < es.length) { outdeg(es(i)) += 1L; i += 1 }
    val isSeed = Array.tabulate(n)(v => isSeedId(ix.ids(v)))
    val nS = isSeed.count(identity).toLong
    require(nS > 0, "personalizedPageRank: no seed is a graph node")
    val r0 = Graph.Scale / nS
    val base = (100 - damp) * (Graph.Scale / nS) / 100
    val hasDangling = outdeg.contains(0L)
    var r = Array.tabulate(n)(v => if (isSeed(v)) r0 else 0L)
    for (_ <- 1 to iters) {
      val s = new Array[Long](n)
      var j = 0
      while (j < es.length) { s(ed(j)) += r(es(j)) / outdeg(es(j)); j += 1 }
      val dm =
        if (!hasDangling) 0L
        else {
          var d = 0L; var k = 0
          while (k < n) { if (outdeg(k) == 0L) d += r(k); k += 1 }
          d / nS
        }
      val nr = new Array[Long](n)
      var k = 0
      while (k < n) {
        nr(k) = (if (isSeed(k)) base else 0L) +
          damp.toLong * (s(k) + (if (isSeed(k)) dm else 0L)) / 100
        k += 1
      }
      r = nr
    }
    spark.createDataset(ix.ids.indices.map(k => (ix.ids(k), r(k))))
      .toDF("id", "r")
  }

  /** [[Graph.bfsDistances]] on a DEDUPED directed edge list. Returns
    * (id, dist:int) for every node reached within maxHops (sources at 0,
    * whether or not they appear in the graph — the distributed loop's
    * semantics). */
  def bfsDistances(spark: SparkSession, edges: Array[(Long, Long)],
                   sources: Seq[Long], maxHops: Int): DataFrame = {
    import spark.implicits._
    val adj = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
    edges.foreach { case (s, d) =>
      var l = adj.get(s)
      if (l == null) { l = new scala.collection.mutable.ArrayBuffer[Long](); adj.put(s, l) }
      l += d
    }
    val dist = new java.util.HashMap[Long, Int]()
    var frontier: Seq[Long] = sources.distinct
    frontier.foreach(s => dist.put(s, 0))
    var hop = 1
    while (hop <= maxHops && frontier.nonEmpty) {
      val next = scala.collection.mutable.LinkedHashSet[Long]()
      frontier.foreach { u =>
        val l = adj.get(u)
        if (l != null) l.foreach { d => if (!dist.containsKey(d)) next += d }
      }
      next.foreach(d => dist.put(d, hop))
      frontier = next.toSeq
      hop += 1
    }
    val out = scala.collection.mutable.ArrayBuffer[(Long, Int)]()
    val it = dist.entrySet().iterator()
    while (it.hasNext) {
      val en = it.next(); out += ((en.getKey.longValue(), en.getValue.intValue()))
    }
    spark.createDataset(out.toSeq).toDF("id", "dist")
  }

  /** [[Graph.ssspWeighted]] Bellman–Ford rounds on a min-collapsed
    * (src, dst, w) edge list. Exact Long min/+ — identical to the
    * distributed relaxation. Returns (id, dist). */
  def ssspWeighted(spark: SparkSession, edges: Array[(Long, Long, Long)],
                   sources: Seq[Long], rounds: Int): DataFrame = {
    import spark.implicits._
    val dist = new java.util.HashMap[Long, Long]()
    sources.distinct.foreach(s => dist.put(s, 0L))
    for (_ <- 1 to rounds) {
      val next = new java.util.HashMap[Long, Long](dist)
      edges.foreach { case (s, d, w) =>
        if (dist.containsKey(s)) {
          val cand = dist.get(s) + w
          if (!next.containsKey(d) || cand < next.get(d)) next.put(d, cand)
        }
      }
      dist.clear(); dist.putAll(next)
    }
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val it = dist.entrySet().iterator()
    while (it.hasNext) {
      val en = it.next(); out += ((en.getKey.longValue(), en.getValue.longValue()))
    }
    spark.createDataset(out.toSeq).toDF("id", "dist")
  }

  /** [[Graph.modularity]] fold: m2 = |e| (duplicates counted), intra =
    * directed within-community edge count (both endpoints labeled),
    * d_c = Σ outdeg over labeled srcs per community, expTerm =
    * isum((d_c/m2)², 9) — Σ floor(x·10⁹) as an exact integer, then
    * double-divided, the identical op sequence. Returns None for the
    * degenerate no-labeled-degree-mass case (the distributed plan emits
    * NULL rows there — keep its exact semantics by falling through). */
  def modularity(spark: SparkSession, edges: Array[(Long, Long)],
                 lab: java.util.HashMap[Long, Long]): Option[DataFrame] = {
    import spark.implicits._
    val m2 = edges.length.toLong
    var intra = 0L
    val outdeg = new java.util.HashMap[Long, Long]()
    edges.foreach { case (s, d) =>
      val ls = lab.get(s)
      if (lab.containsKey(s)) {
        if (lab.containsKey(d) && ls == lab.get(d)) intra += 1L
        outdeg.merge(s, 1L, (x, y) => x + y)
      }
    }
    val dc = new java.util.HashMap[Long, Long]()
    val dit = outdeg.entrySet().iterator()
    while (dit.hasNext) {
      val en = dit.next()
      dc.merge(lab.get(en.getKey), en.getValue.longValue(), (x, y) => x + y)
    }
    if (dc.isEmpty) return None
    val m2D = m2.toDouble
    var acc = BigInt(0)
    val cit = dc.values().iterator()
    while (cit.hasNext) {
      val r = cit.next().longValue().toDouble / m2D
      acc += BigInt(math.floor(r * r * 1e9).toLong)
    }
    val expTerm =
      new java.math.BigDecimal(acc.bigInteger).doubleValue() / 1e9
    Some(Seq((dc.size.toLong, (m2.toDouble / 2.0).toLong,
        (intra.toDouble / 2.0).toLong,
        intra.toDouble / m2D - expTerm))
      .toDF("k_communities", "m_edges", "intra_edges", "modularity"))
  }

  // ---------------------------------------------------------------- KMV

  /** 60-bit md5 hash of a node id — the exact Spark expression
    * `conv(substring(md5(cast(id as string)), 1, 15), 16, 10)`. */
  def h60(v: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val dig = md.digest(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // first 15 hex chars = first 7 bytes + high nibble of the 8th
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (dig(i) & 0xffL); i += 1 }
    (h << 4) | ((dig(7) & 0xf0L) >>> 4)
  }

  /** KMV estimate — the exact distributed `estOf` double sequence. */
  private def estOf(ball: Array[Long], k: Int): Double =
    if (ball.length < k) ball.length.toDouble
    else (k - 1).toDouble * math.pow(2, 60) / ball(k - 1).toDouble

  /** Merge a sorted ascending array into a min-k TreeSet (the
    * kmv_sketch_arr fold — set semantics, O(k) buffer). */
  private def addAll(b: java.util.TreeSet[java.lang.Long], arr: Array[Long],
                     k: Int): Unit = {
    var i = 0
    var live = true
    while (i < arr.length && live) {
      val h = arr(i)
      live =
        if (b.size < k) { b.add(h); true }
        else if (h < b.last) { if (b.add(h)) b.pollLast(); true }
        else false
      i += 1
    }
  }

  /** Shared HC/NF ball rounds: per round r, ball(v) = min-k distinct of
    * ∪ balls over v's out-neighbors ∪ {v} (the distributed loops add
    * self-loop edges for the own-ball term). Calls `visit(r, balls, est)`
    * after each round including round 0. Node order inside `balls` is the
    * Idx order; `visit` receives the per-node est array. */
  private def kmvRounds(edges: Array[(Long, Long)], radius: Int, k: Int)(
      visit: (Int, Array[Array[Long]], Array[Double]) => Unit): Idx = {
    val (ix, es, ed) = indexed(edges)
    val n = ix.size
    // adjacency: out-neighbors per node (dense int ids)
    val degOut = new Array[Int](n)
    var i = 0
    while (i < es.length) { degOut(es(i)) += 1; i += 1 }
    val off = new Array[Int](n + 1)
    i = 0; while (i < n) { off(i + 1) = off(i) + degOut(i); i += 1 }
    val nbr = new Array[Int](edges.length)
    val fill = off.clone()
    i = 0
    while (i < es.length) { nbr(fill(es(i))) = ed(i); fill(es(i)) += 1; i += 1 }
    var balls = Array.tabulate(n)(v => Array(h60(ix.ids(v))))
    var est = Array.fill(n)(1.0)
    visit(0, balls, est)
    for (r <- 1 to radius) {
      val nb = new Array[Array[Long]](n)
      val ne = new Array[Double](n)
      var v = 0
      while (v < n) {
        val buf = new java.util.TreeSet[java.lang.Long]()
        addAll(buf, balls(v), k) // self-loop row
        var j = off(v)
        while (j < off(v + 1)) { addAll(buf, balls(nbr(j)), k); j += 1 }
        val out = new Array[Long](buf.size)
        val it = buf.iterator()
        var p = 0
        while (it.hasNext) { out(p) = it.next(); p += 1 }
        nb(v) = out
        ne(v) = estOf(out, k)
        v += 1
      }
      balls = nb; est = ne
      visit(r, balls, est)
    }
    ix
  }

  /** [[Graph.harmonicCentralityKmv]] replay: harmonic(v) accrues
    * (est_r − est_{r−1}) / r each round — the identical IEEE-double op
    * order. Returns (id, ball_size, harmonic). */
  def harmonicCentralityKmv(spark: SparkSession, edges: Array[(Long, Long)],
                            radius: Int, k: Int): DataFrame = {
    import spark.implicits._
    if (edges.isEmpty)
      return Seq.empty[(Long, Double, Double)].toDF("id", "ball_size", "harmonic")
    var prevEst: Array[Double] = null
    var harmonic: Array[Double] = null
    var lastEst: Array[Double] = null
    val ix = kmvRounds(edges, radius, k) { (r, _, est) =>
      if (r == 0) { harmonic = new Array[Double](est.length); prevEst = est }
      else {
        var v = 0
        while (v < est.length) {
          harmonic(v) = harmonic(v) + (est(v) - prevEst(v)) / r.toDouble
          v += 1
        }
        prevEst = est
      }
      lastEst = est
    }
    spark.createDataset(ix.ids.indices.map(v =>
      (ix.ids(v), lastEst(v), harmonic(v))))
      .toDF("id", "ball_size", "harmonic")
  }

  /** [[Graph.neighborhoodFunction]] replay: the per-round readouts
    * (node count, Σ floor(est·10⁶) as exact decimal). The caller owns the
    * shared coverage/90%-flag tail. */
  def neighborhoodSums(edges: Array[(Long, Long)], radius: Int, k: Int)
      : Seq[(Long, java.math.BigDecimal)] = {
    val sums = scala.collection.mutable.ArrayBuffer[(Long, java.math.BigDecimal)]()
    kmvRounds(edges, radius, k) { (_, _, est) =>
      var s = BigInt(0)
      var v = 0
      while (v < est.length) {
        s += BigInt(math.floor(est(v) * 1e6).toLong)
        v += 1
      }
      sums += ((est.length.toLong, new java.math.BigDecimal(s.bigInteger)))
    }
    sums.toSeq
  }
}
