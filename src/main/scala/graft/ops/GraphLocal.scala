package graft.ops

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
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
  * Driver memory at the default limit (4M edge rows): every list is
  * collected by [[Bounded.collectLongs]] as one packed `Array[Long]` per
  * column — 16 bytes of payload per edge, no decoded `Row`, no tuple —
  * and node ids are dense-indexed by a primitive open-addressing
  * [[LongIndex]]. Measured on JDK 17 (local[4], 4M two-long edges over
  * 16k nodes, heap used after full GCs with the structure held): the
  * packed columns retain ≈ 16–20 bytes per edge, the dense int endpoints
  * 8 more, the CSR adjacency 4 more. The collect's transient peak (the
  * tasks' growing buffers, the serialized task results, the driver-side
  * concatenation), taken as the tenured-pool peak under SerialGC with a
  * 64 MB young gen and tenuring threshold 0, is ≈ 80 bytes per edge,
  * ≈ 0.32 GB for a limit-sized collect; the same measurement gives
  * ≈ 175 for a `Row` collect plus a `(Long, Long)` tuple copy. The id
  * index adds 16–24 bytes per node. `collectLongs` holds the collect to
  * the same limit, so an input that outgrows it fails loudly instead of
  * growing the driver.
  *
  * Label propagation, pageRank and personalizedPageRank have three legs,
  * picked in [[Graph.vertexLoop]] from one shuffle keyed by the receiving
  * endpoint, each partition packed into one adjacency ([[LpAdjacency]],
  * [[RankAdjacency]]: a primitive CSR, duplicate edges folded) persisted
  * on the executors: the driver leg collects the adjacencies and runs
  * the round loop ([[lpRounds]], [[rankRounds]]) in process, the hybrid
  * leg runs it with the state on the driver and each round as one
  * map-only job, and a node set above the limit takes the sort-merge
  * loop. By count of its arrays, the driver leg's collect holds 4 bytes
  * per distinct directed edge (the CSR's neighbor ints) plus the 4 of the
  * serialized task result they arrive in, where the packed edge collect
  * held 16 of payload and peaked near 80; per node each adjacency adds
  * its offsets (4) and the ids it has seen (8, at most one per edge),
  * and a rank adjacency its out-degree and seed flag (9). Label
  * propagation's loop holds at most about 60 bytes per node on either
  * leg: the sorted ids and, on the hybrid leg, their broadcast copy (16),
  * two generations of labels and has-label flags (18), the broadcast
  * copy of one generation (9) and one round's returned (id, label)
  * arrays (16); the broadcast copies are compressed, and between rounds
  * the ids and one generation stay, 17 bytes. The rank loop holds at
  * most about 100 bytes per node on the hybrid leg: the id index and its
  * broadcast copy (at most 48), the out-degrees and seed flags (9), two
  * generations of ranks (16), the shares and their broadcast copy (16)
  * and one round's returned sums (8); the collected (id, outdeg, seed)
  * triples add 17 while it sets up. At a |V| of 4M that is under 0.25 GB
  * for label propagation and 0.5 GB for the rank family.
  *
  * The limit only changes WHERE the arithmetic runs: every replay walks
  * the SAME integer / IEEE-double op sequence as the distributed plan
  * (GraphLocalParitySpec runs every operator on each side of the limit;
  * the DuckDB oracle checks the queries at two scale factors).
  */
private[graft] object GraphLocal {

  import graft.ops.Bounded._

  /** A collected edge list as two packed columns: edge i is
    * (src(i), dst(i)). */
  final class Edges(val src: Array[Long], val dst: Array[Long]) {
    def length: Int = src.length
  }

  /** Bounded packed collect ([[Bounded.collectLongs]]) of a NULL-filtered
    * all-LONG frame, held to the driver row limit. A NULL here means the
    * operator's filter was bypassed: fail loudly instead of reading it as
    * node 0. */
  def collectColumns(df: DataFrame, what: String): Array[Array[Long]] =
    collectLongs(df, driverRowBound(df.sparkSession), what)
      .getOrElse(throw new IllegalStateException(
        s"$what: NULL in a NULL-filtered frame"))

  /** Open-addressing `Long → Int` index: ids → dense ints in first-seen
    * order. Linear probing over an int table that holds dense index + 1
    * (0 = empty) at a load factor ≤ 1/2; each id is stored once, in
    * first-seen order, so [[id]] is the dense → id inverse. */
  final class LongIndex extends Serializable {
    private var ids = new Array[Long](16)
    private var slots = new Array[Int](32)
    private var shift = 64 - 5 // log2(slots.length) high hash bits
    private var n = 0

    def size: Int = n
    def id(v: Int): Long = ids(v)

    /** Dense int of `v`, or -1 when absent. */
    def get(v: Long): Int = slots(probe(v)) - 1

    /** Dense int of `v`, appended when new. */
    def apply(v: Long): Int = {
      val s = probe(v)
      if (slots(s) != 0) return slots(s) - 1
      if (n == ids.length) ids = java.util.Arrays.copyOf(ids, 2 * n)
      ids(n) = v
      slots(s) = n + 1
      n += 1
      if (2 * n > slots.length) grow()
      n - 1
    }

    /** The slot holding `v`, or the empty slot where it would go. */
    private def probe(v: Long): Int = {
      var s = slot(v)
      while (slots(s) != 0 && ids(slots(s) - 1) != v)
        s = (s + 1) & (slots.length - 1)
      s
    }

    private def slot(v: Long): Int =
      ((v * 0x9E3779B97F4A7C15L) >>> shift).toInt // Fibonacci hashing

    private def grow(): Unit = {
      slots = new Array[Int](2 * slots.length)
      shift -= 1
      var i = 0
      while (i < n) {
        var s = slot(ids(i))
        while (slots(s) != 0) s = (s + 1) & (slots.length - 1)
        slots(s) = i + 1
        i += 1
      }
    }
  }

  /** An edge list re-keyed to dense node ints: `src(i)`/`dst(i)` index
    * `ix`, filled edge by edge, src before dst. */
  final class Dense(e: Edges) {
    val ix = new LongIndex
    val src = new Array[Int](e.length)
    val dst = new Array[Int](e.length)
    locally {
      var i = 0
      while (i < e.length) { src(i) = ix(e.src(i)); dst(i) = ix(e.dst(i)); i += 1 }
    }
    def length: Int = src.length
    def n: Int = ix.size
  }

  /** CSR adjacency keyed by `from`: node v's neighbors are
    * `nbr(off(v) until off(v + 1))`, in edge order, or sorted with their
    * repeats dropped when `fold`. Returns (off, nbr). */
  private def csr(from: Array[Int], to: Array[Int], n: Int,
                  fold: Boolean = false): (Array[Int], Array[Int]) = {
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < from.length) { off(from(i) + 1) += 1; i += 1 }
    i = 0
    while (i < n) { off(i + 1) += off(i); i += 1 }
    val nbr = new Array[Int](from.length)
    val fill = java.util.Arrays.copyOf(off, n)
    i = 0
    while (i < from.length) {
      nbr(fill(from(i))) = to(i); fill(from(i)) += 1; i += 1
    }
    if (!fold) return (off, nbr)
    // compact in place: slice v moves down to start at off(v) = w
    var w = 0
    var v = 0
    while (v < n) {
      val lo = off(v); val hi = off(v + 1)
      java.util.Arrays.sort(nbr, lo, hi)
      off(v) = w
      var j = lo
      while (j < hi) {
        if (w == off(v) || nbr(j) != nbr(w - 1)) { nbr(w) = nbr(j); w += 1 }
        j += 1
      }
      v += 1
    }
    off(n) = w
    (off, if (w == nbr.length) nbr else java.util.Arrays.copyOf(nbr, w))
  }

  /** The mode kernel of label propagation's later rounds, shared by the
    * driver replay and the hybrid leg's tasks: sorts `buf(0 until k)`
    * (k ≥ 1) and returns the value of its first longest run. In ascending
    * order that run holds the smallest label among the most frequent:
    * the (max count, then min label) argmax of the sort-merge loop. */
  def modeOf(buf: Array[Long], k: Int): Long = {
    java.util.Arrays.sort(buf, 0, k)
    var best = buf(0); var bestC = 0
    var r = 0
    while (r < k) {
      var end = r + 1
      while (end < k && buf(end) == buf(r)) end += 1
      if (end - r > bestC) { bestC = end - r; best = buf(r) }
      r = end
    }
    best
  }

  /** One partition of a vertex loop's edges, packed by [[Graph]]'s leg
    * picker. `counts` are its (|E|, |V|, …): the edges the driver leg
    * would collect, the nodes whose state the hybrid leg keeps on the
    * driver, then the operator's own counts. */
  trait Adjacency extends Serializable {
    def counts: Array[Long]
  }

  /** The adjacencies a vertex loop runs its rounds on: on the driver leg
    * the `collected` copies, on the hybrid leg the executors' cached `adj`. */
  final class Partitions[A](adj: RDD[A], collected: Option[Array[A]]) {
    /** `f` of every adjacency, in partition order. */
    def each[T: ClassTag](f: A => T): Array[T] = collected.fold(
      adj.sparkContext.runJob(adj, (it: Iterator[A]) => f(it.next())))(_.map(f))

    /** `f(adjacency, state)` of every adjacency, in partition order; on
      * the executors one map-only job against broadcast `state`. */
    def round[S: ClassTag, T: ClassTag](state: S)(f: (A, S) => T): Array[T] =
      collected.fold {
        val b = adj.sparkContext.broadcast(state)
        try adj.sparkContext.runJob(adj, (it: Iterator[A]) => f(it.next(), b.value))
        finally b.destroy()
      }(_.map(f(_, state)))
  }

  /** Label propagation's adjacency: a CSR keyed by `a` over local node
    * ints, each node's neighbors sorted and distinct. The first `nOut`
    * ints are the distinct `a` ids, the rows that can take a label;
    * `ids(u)` is the id behind int u. [[Graph.labelPropagation]] packs one
    * per a-partition, so a duplicate edge row folds where it lands. */
  final class LpAdjacency private (val ids: Array[Long], val nOut: Int,
      off: Array[Int], nbr: Array[Int]) extends Adjacency {

    /** The distinct edges and the labeled rows. */
    def counts: Array[Long] = Array(off(nOut).toLong, nOut.toLong)

    /** The distinct edges as (a, b) rows, for the sort-merge loop. */
    def edgeRows: Iterator[(Long, Long)] = Iterator.range(0, nOut).flatMap(v =>
      Iterator.range(off(v), off(v + 1)).map(j => (ids(v), ids(nbr(j)))))

    /** Round 1 in closed form: every node starts as its own label, so
      * each neighbor counts once and the argmax is the min neighbor id.
      * Returns the labeled rows' (id, label). */
    def firstRound: (Array[Long], Array[Long]) =
      (java.util.Arrays.copyOf(ids, nOut), Array.tabulate(nOut) { v =>
        var m = Long.MaxValue
        var j = off(v)
        while (j < off(v + 1)) { m = math.min(m, ids(nbr(j))); j += 1 }
        m
      })

    /** One later round against the labels of the sorted ids `all`:
      * `lbl`/`has` hold id `all(s)`'s label at slot s. Row v takes the
      * [[modeOf]] its LABELED neighbors' labels; a row whose neighbors
      * all lack a label gets none — what the sort-merge loop's inner
      * label join does. Returns the labeled rows' (id, label). */
    def laterRound(all: Array[Long], lbl: Array[Long], has: Array[Boolean])
        : (Array[Long], Array[Long]) = {
      // a neighbor's slot, or −1 for an id that holds no label
      val slot = ids.map(id => math.max(-1, java.util.Arrays.binarySearch(all, id)))
      var maxDeg = 0
      var v = 0
      while (v < nOut) { maxDeg = math.max(maxDeg, off(v + 1) - off(v)); v += 1 }
      val buf = new Array[Long](maxDeg)
      val outIds = new scala.collection.mutable.ArrayBuilder.ofLong
      val outLbl = new scala.collection.mutable.ArrayBuilder.ofLong
      v = 0
      while (v < nOut) {
        var k = 0
        var j = off(v)
        while (j < off(v + 1)) {
          val s = slot(nbr(j))
          if (s >= 0 && has(s)) { buf(k) = lbl(s); k += 1 }
          j += 1
        }
        if (k > 0) { outIds.addOne(ids(v)); outLbl.addOne(modeOf(buf, k)) }
        v += 1
      }
      (outIds.result(), outLbl.result())
    }
  }

  object LpAdjacency {
    /** The adjacency of edges (a(i), b(i)): every `a` id is indexed
      * before any `b` id, so the labeled rows come first; each node's
      * neighbor slice is sorted and its repeats dropped. */
    def apply(a: Array[Long], b: Array[Long]): LpAdjacency = {
      val ix = new LongIndex
      val from = new Array[Int](a.length)
      var i = 0
      while (i < a.length) { from(i) = ix(a(i)); i += 1 }
      val nOut = ix.size
      val to = new Array[Int](b.length)
      i = 0
      while (i < b.length) { to(i) = ix(b(i)); i += 1 }
      val (off, nbr) = csr(from, to, nOut, fold = true)
      new LpAdjacency(Array.tabulate(ix.size)(ix.id), nOut, off, nbr)
    }
  }

  /** [[Graph.labelPropagation]]'s round loop, shared by its driver and
    * hybrid legs. The labels live here, indexed by the rank of their id
    * among the `nV` sorted ids of the adjacencies' labeled rows, which
    * are disjoint. `round1` holds each adjacency's
    * [[LpAdjacency.firstRound]]; `later(ids, lbl, has)` runs
    * [[LpAdjacency.laterRound]] on every adjacency: in process on the
    * driver leg, as one map-only job on the hybrid leg. A node that never
    * appears as `a`, or whose neighbors all lost their label, gets no
    * label and is left out — what the sort-merge loop's `groupBy(a)` and
    * inner label join do. Returns (id, community). */
  def lpRounds(spark: SparkSession, nV: Int, iters: Int,
               round1: Array[(Array[Long], Array[Long])])(
      later: (Array[Long], Array[Long], Array[Boolean]) =>
        Array[(Array[Long], Array[Long])]): DataFrame = {
    val ids = new Array[Long](nV)
    var at = 0
    round1.foreach { case (p, _) =>
      require(at + p.length <= nV, s"labelPropagation: more than $nV rows")
      System.arraycopy(p, 0, ids, at, p.length); at += p.length
    }
    java.util.Arrays.sort(ids)
    require(at == nV && (1 until nV).forall(i => ids(i - 1) != ids(i)),
      s"labelPropagation: the adjacencies' rows are not $nV distinct ids")
    var lbl = new Array[Long](nV)
    var has = new Array[Boolean](nV)
    def fill(parts: Array[(Array[Long], Array[Long])]): Unit =
      parts.foreach { case (p, l) =>
        var j = 0
        while (j < p.length) {
          val s = java.util.Arrays.binarySearch(ids, p(j))
          lbl(s) = l(j); has(s) = true; j += 1
        }
      }
    fill(round1)
    for (_ <- 2 to iters) {
      val parts = later(ids, lbl, has)
      lbl = new Array[Long](nV)
      has = new Array[Boolean](nV)
      fill(parts)
    }
    import spark.implicits._
    spark.createDataset(lbl.indices.filter(has).map(v => (ids(v), lbl(v))))
      .toDF("id", "community")
  }

  /** [[Graph.hits]] rounds on a DEDUPED directed edge list. BigInt replays
    * both the LONG and the DECIMAL(38,0) arithmetic widths exactly (all
    * values non-negative, so truncating div = floor in every engine).
    * Returns (id, hub, auth). */
  def hits(spark: SparkSession, edges: Edges,
           iters: Int): DataFrame = {
    import spark.implicits._
    if (edges.length == 0)
      return Seq.empty[(Long, Long, Long)].toDF("id", "hub", "auth")
    val scale = BigInt(Graph.Scale)
    val g = new Dense(edges)
    val es = g.src; val ed = g.dst
    val n = g.n
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
    spark.createDataset((0 until n).map { v =>
      (g.ix.id(v),
        if (hub(v) == null) 0L else hub(v).toLong,
        if (auth(v) == null) 0L else auth(v).toLong)
    }).toDF("id", "hub", "auth")
  }

  /** The rank family's adjacency: a CSR keyed by the receiving endpoint
    * over local node ints. The first `n` ints are the nodes this
    * partition owns, each with its in-neighbors (sorted and distinct when
    * `fold`, else one per edge row), its out-degree, counted the same
    * way, and its seed flag; `ids(u)` is the id behind int u. */
  final class RankAdjacency private (ids: Array[Long], n: Int,
      outdeg: Array[Long], seed: Array[Boolean], off: Array[Int],
      nbr: Array[Int]) extends Adjacency {

    /** The in-edges, the nodes, the seeds and the dangling nodes. */
    def counts: Array[Long] = Array(off(n).toLong, n.toLong,
      seed.count(identity).toLong, outdeg.count(_ == 0L).toLong)

    /** The owned nodes' (ids, out-degrees, seed flags). */
    def nodes: (Array[Long], Array[Long], Array[Boolean]) =
      (java.util.Arrays.copyOf(ids, n), outdeg, seed)

    /** One round: Σ share over each owned node's in-edges, where
      * `share(ix.get(id))` is the share of node `id`. */
    def inSums(ix: LongIndex, share: Array[Long]): Array[Long] = {
      val slot = ids.map(ix.get)
      Array.tabulate(n) { v =>
        var s = 0L
        var j = off(v)
        while (j < off(v + 1)) { s += share(slot(nbr(j))); j += 1 }
        s
      }
    }

    /** The in-edges as (src, dst) rows, for the sort-merge loop. */
    def edgeRows: Iterator[(Long, Long)] = Iterator.range(0, n).flatMap(v =>
      Iterator.range(off(v), off(v + 1)).map(j => (ids(nbr(j)), ids(v))))
  }

  object RankAdjacency {
    /** The tags of the (key, other, tag) rows: an edge (s, d) is the
      * in-edge row (d, s) and the out-edge row (s, d); a seed s is (s, 0). */
    val InEdge = 0L; val OutEdge = 1L; val Seed = 2L

    /** The adjacency of rows (key(i), other(i), tag(i)). Every key of an
      * edge row is a node; a seed row whose key is none is ignored, and
      * `allSeeds` makes every node a seed. */
    def apply(key: Array[Long], other: Array[Long], tag: Array[Long],
              allSeeds: Boolean, fold: Boolean): RankAdjacency = {
      val ix = new LongIndex
      var i = 0
      while (i < key.length) { if (tag(i) != Seed) ix(key(i)); i += 1 }
      val n = ix.size
      val seed = Array.fill(n)(allSeeds)
      val outIx = new LongIndex // out-neighbors are only counted
      val inF, inT, outF, outT = new scala.collection.mutable.ArrayBuilder.ofInt
      i = 0
      while (i < key.length) {
        val v = ix.get(key(i))
        if (tag(i) == InEdge) { inF.addOne(v); inT.addOne(ix(other(i))) }
        else if (tag(i) == OutEdge) { outF.addOne(v); outT.addOne(outIx(other(i))) }
        else if (v >= 0) seed(v) = true
        i += 1
      }
      val (off, nbr) = csr(inF.result(), inT.result(), n, fold)
      val (outOff, _) = csr(outF.result(), outT.result(), n, fold)
      new RankAdjacency(Array.tabulate(ix.size)(ix.id), n,
        Array.tabulate(n)(v => (outOff(v + 1) - outOff(v)).toLong), seed, off, nbr)
    }
  }

  /** [[Graph.pageRank]]'s and [[Graph.personalizedPageRank]]'s round
    * loop, shared by their driver and hybrid legs: the ranks live here,
    * indexed by an id index over the adjacencies' disjoint
    * [[RankAdjacency.nodes]], and `sums(ix, share)` runs
    * [[RankAdjacency.inSums]] on every adjacency. The Long ops, in order,
    * are the sort-merge loop's ([[Graph.pageRank]] gives them). Returns
    * (id, r). */
  def rankRounds(spark: SparkSession, nS: Long, iters: Int, damp: Int,
                 nodes: Array[(Array[Long], Array[Long], Array[Boolean])])(
      sums: (LongIndex, Array[Long]) => Array[Array[Long]]): DataFrame = {
    val ix = new LongIndex // slot v: the v-th node in partition order
    nodes.foreach(_._1.foreach(ix(_)))
    val outdeg = nodes.flatMap(_._2)
    val seed = nodes.flatMap(_._3)
    val n = outdeg.length
    require(ix.size == n, "pageRank: the adjacencies' nodes are not distinct")
    val r0 = Graph.Scale / nS
    val base = (100 - damp) * (Graph.Scale / nS) / 100
    val hasDangling = outdeg.contains(0L)
    var r = Array.tabulate(n)(v => if (seed(v)) r0 else 0L)
    for (_ <- 1 to iters) {
      val share = Array.tabulate(n)(v => if (outdeg(v) == 0L) 0L else r(v) / outdeg(v))
      val dm = if (!hasDangling) 0L else
        (0 until n).foldLeft(0L)((d, v) => if (outdeg(v) == 0L) d + r(v) else d) / nS
      val s = sums(ix, share).flatten
      r = Array.tabulate(n)(v => (if (seed(v)) base else 0L) +
        damp.toLong * (s(v) + (if (seed(v)) dm else 0L)) / 100)
    }
    import spark.implicits._
    spark.createDataset((0 until n).map(v => (ix.id(v), r(v)))).toDF("id", "r")
  }

  /** [[Graph.bfsDistances]] on a DEDUPED directed edge list (CSR keyed
    * by src). Returns (id, dist:int) for every node reached within
    * maxHops (sources at 0, whether or not they appear in the graph — the
    * distributed loop's semantics). */
  def bfsDistances(spark: SparkSession, edges: Edges,
                   sources: Seq[Long], maxHops: Int): DataFrame = {
    import spark.implicits._
    val g = new Dense(edges)
    val (off, nbr) = csr(g.src, g.dst, g.n)
    val dist = Array.fill(g.n)(-1)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Int)]()
    var frontier = sources.distinct.flatMap { s =>
      out += ((s, 0))
      val v = g.ix.get(s)
      if (v >= 0) { dist(v) = 0; Some(v) } else None
    }.toArray
    var hop = 1
    while (hop <= maxHops && frontier.nonEmpty) {
      val next = new scala.collection.mutable.ArrayBuilder.ofInt
      frontier.foreach { u =>
        var j = off(u)
        while (j < off(u + 1)) {
          val d = nbr(j)
          if (dist(d) < 0) {
            dist(d) = hop; next.addOne(d); out += ((g.ix.id(d), hop))
          }
          j += 1
        }
      }
      frontier = next.result()
      hop += 1
    }
    spark.createDataset(out.toSeq).toDF("id", "dist")
  }

  /** [[Graph.ssspWeighted]] Bellman–Ford rounds on a min-collapsed
    * (src, dst, w) edge list. Exact Long min/+ — identical to the
    * distributed relaxation. Returns (id, dist). */
  def ssspWeighted(spark: SparkSession, edges: Edges, w: Array[Long],
                   sources: Seq[Long], rounds: Int): DataFrame = {
    import spark.implicits._
    val g = new Dense(edges)
    val srcs = sources.distinct.map(g.ix(_)) // sources may be non-nodes
    val n = g.n
    var dist = new Array[Long](n)
    var has = new Array[Boolean](n)
    srcs.foreach(v => has(v) = true)
    for (_ <- 1 to rounds) {
      val nd = dist.clone()
      val nh = has.clone()
      var i = 0
      while (i < g.length) {
        val s = g.src(i)
        if (has(s)) {
          val d = g.dst(i)
          val cand = dist(s) + w(i)
          if (!nh(d) || cand < nd(d)) { nd(d) = cand; nh(d) = true }
        }
        i += 1
      }
      dist = nd; has = nh
    }
    spark.createDataset((0 until n).filter(v => has(v))
        .map(v => (g.ix.id(v), dist(v))))
      .toDF("id", "dist")
  }

  /** [[Graph.modularity]] fold over the edge list and a label table
    * (`lix` indexes the unique labeled ids, `lab(lix.get(id))` is the
    * id's label): m2 = |e| (duplicates counted), intra = directed
    * within-community edge count (both endpoints labeled), d_c = Σ outdeg
    * over labeled srcs per community, expTerm = isum((d_c/m2)², 9) —
    * Σ floor(x·10⁹) as an exact integer, then double-divided, the
    * identical op sequence. Returns None for the degenerate
    * no-labeled-degree-mass case (the distributed plan emits NULL rows
    * there — keep its exact semantics by falling through). */
  def modularity(spark: SparkSession, edges: Edges, lix: LongIndex,
                 lab: Array[Long]): Option[DataFrame] = {
    import spark.implicits._
    val m2 = edges.length.toLong
    val cix = new LongIndex
    val comm = lab.map(cix(_)) // labeled id → dense community
    val dc = new Array[Long](cix.size)
    var intra = 0L
    var i = 0
    while (i < edges.length) {
      val ls = lix.get(edges.src(i))
      if (ls >= 0) {
        val ld = lix.get(edges.dst(i))
        if (ld >= 0 && comm(ld) == comm(ls)) intra += 1L
        dc(comm(ls)) += 1L
      }
      i += 1
    }
    val k = dc.count(_ > 0L)
    if (k == 0) return None
    val m2D = m2.toDouble
    var acc = BigInt(0)
    dc.foreach { c =>
      if (c > 0L) {
        val r = c.toDouble / m2D
        acc += BigInt(math.floor(r * r * 1e9).toLong)
      }
    }
    val expTerm =
      new java.math.BigDecimal(acc.bigInteger).doubleValue() / 1e9
    Some(Seq((k.toLong, (m2.toDouble / 2.0).toLong,
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
    * index order; `visit` receives the per-node est array. */
  private def kmvRounds(edges: Edges, radius: Int, k: Int)(
      visit: (Int, Array[Array[Long]], Array[Double]) => Unit): LongIndex = {
    val g = new Dense(edges)
    val n = g.n
    val (off, nbr) = csr(g.src, g.dst, n) // out-neighbors per node
    var balls = Array.tabulate(n)(v => Array(h60(g.ix.id(v))))
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
    g.ix
  }

  /** [[Graph.harmonicCentralityKmv]] replay: harmonic(v) accrues
    * (est_r − est_{r−1}) / r each round — the identical IEEE-double op
    * order. Returns (id, ball_size, harmonic). */
  def harmonicCentralityKmv(spark: SparkSession, edges: Edges,
                            radius: Int, k: Int): DataFrame = {
    import spark.implicits._
    if (edges.length == 0)
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
    spark.createDataset((0 until ix.size).map(v =>
      (ix.id(v), lastEst(v), harmonic(v))))
      .toDF("id", "ball_size", "harmonic")
  }

  /** [[Graph.neighborhoodFunction]] replay: the per-round readouts
    * (node count, Σ floor(est·10⁶) as exact decimal). The caller owns the
    * shared coverage/90%-flag tail. */
  def neighborhoodSums(edges: Edges, radius: Int, k: Int)
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
