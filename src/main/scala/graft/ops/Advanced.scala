package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Bounded._

/** The reference's genuinely-sequential / numeric-kernel operators:
  * induction, LOESS smoothing, correlation table, crosstab.
  */
object Advanced {

  /** induction (reference dataset_api.clj:1402-1469): row-by-row accumulation
    * where each step sees the running state. Inherently sequential — executed
    * on a SINGLE partition by design (documented scale limit, as in SURVEY
    * §7.4; the reference is single-JVM here too).
    *
    * ESCAPE HATCH for scale: a LINEAR recurrence s_i = a·s_{i-1} + x_i (like
    * q54's decay-accumulate) distributes — use [[linearRecurrenceKeyed]]
    * (per-key streaming fold, bit-exact sequential replay) or the keyless
    * segmented-scan [[linearRecurrence]]. Use induction only when the step
    * function is genuinely non-linear in the state. */
  def induction[T, S](ds: Dataset[T], zero: S)(step: (S, T) => S)
                     (implicit enc: Encoder[S]): Dataset[S] =
    ds.coalesce(1).mapPartitions(it => it.scanLeft(zero)(step).drop(1))

  /** interpolate-loess (reference src/tech/v3/dataset/math.clj:112-146):
    * Cleveland LOWESS re-implemented as a FIXED IEEE op sequence (sliding
    * bandwidth window advancing one step per point, tricube weights against
    * the farther window edge, closed-form pointwise weighted linear fit,
    * optional biweight robustness iterations). Algorithmically identical to
    * commons-math3's LoessInterpolator (which the reference wraps) —
    * AdvancedSpec pins bit-equality for robustnessIters = 0 — but with a
    * deterministic op order an external engine can replay add-for-add,
    * which is what lets q53's DuckDB oracle recompute the smooth exactly
    * via a recursive CTE. Groups are processed independently and in
    * parallel; each GROUP's points must fit in executor memory — identical
    * contract to the reference, which holds the whole dataset in one JVM.
    * Duplicate x values are averaged first (ascending-value sum order, so
    * the mean is partition-invariant). */
  def loessSmooth(df: DataFrame, groupCol: String, xCol: String, yCol: String,
                  bandwidth: Double = 0.3, robustnessIters: Int = 2,
                  maxGroupRows: Int = 2000000): DataFrame = {
    require(bandwidth > 0 && bandwidth <= 1,
      s"bandwidth must be in (0, 1], got $bandwidth")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(groupCol).cast(LongType).as("g"),
      col(xCol).cast(DoubleType).as("x"), col(yCol).cast(DoubleType).as("y"))
      // primitives in the encoder are non-nullable: drop null/uncastable
      // rows up front instead of crashing mid-job
      .filter(col("g").isNotNull && col("x").isNotNull && col("y").isNotNull)
      .as[(Long, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (g, it) =>
        // LOESS inherently materializes the whole series in one executor
        // (the reference holds it in one JVM); refuse LOUDLY past the cap
        // instead of letting a runaway group OOM the task
        val buf = new scala.collection.mutable.ArrayBuffer[(Long, Double, Double)]()
        while (it.hasNext) {
          buf += it.next()
          if (buf.length > maxGroupRows)
            throw new IllegalArgumentException(
              s"loessSmooth: series '$g' exceeds maxGroupRows=$maxGroupRows " +
                "points — LOESS holds each series in one executor; " +
                "downsample/pre-aggregate the series or raise maxGroupRows " +
                "explicitly if the executor heap allows it")
        }
        val pts = buf.toArray.groupBy(_._2).toArray
          .map { case (x, rows) => (x, rows.map(_._3).sorted.sum / rows.length) }
          .sortBy(_._1)
        if (pts.length < 3) pts.iterator.map(p => (g, p._1, p._2, p._2))
        else {
          val xs = pts.map(_._1); val ys = pts.map(_._2)
          val bw = math.max(bandwidth, math.min(1.0, 3.0 / pts.length))
          val sm = loessFit(xs, ys, bw, robustnessIters)
          pts.indices.iterator.map(i => (g, xs(i), ys(i), sm(i)))
        }
      }
      .toDF(groupCol, xCol, yCol, s"${yCol}_smooth")
  }

  /** LOESS over strictly increasing xs: one smoothing pass plus
    * `robustnessIters` biweight reweightings. The op sequence (window
    * slide test, tricube via (1−t³)³, five left-to-right running sums,
    * mean/beta/alpha forms, n/2-index median) mirrors commons-math3's
    * LoessInterpolator.smooth exactly so results are bit-identical where
    * both run — but every op here is explicit, which is the contract the
    * q53 DuckDB oracle replays. */
  private[graft] def loessFit(xs: Array[Double], ys: Array[Double],
                              bandwidth: Double, robustnessIters: Int)
      : Array[Double] = {
    val n = xs.length
    val q = math.min(math.max(2, (bandwidth * n).toInt), n)
    val res = new Array[Double](n)
    val robust = Array.fill(n)(1.0)
    var iter = 0
    var done = false
    while (!done) {
      var l = 0
      var r = q - 1
      var i = 0
      while (i < n) {
        val x = xs(i)
        // slide one step when the next right point is strictly closer than
        // the current left edge (commons-math updateBandwidthInterval with
        // all-ones user weights)
        if (i > 0 && r + 1 < n && xs(r + 1) - x < x - xs(l)) { l += 1; r += 1 }
        val edge = if (x - xs(l) > xs(r) - x) l else r
        val denom = math.abs(1.0 / (xs(edge) - x))
        var sumW = 0.0; var sumX = 0.0; var sumX2 = 0.0
        var sumY = 0.0; var sumXY = 0.0
        var k = l
        while (k <= r) {
          val xk = xs(k); val yk = ys(k)
          val dist = if (k < i) x - xk else xk - x
          val t = dist * denom // in [0, 1] by construction of edge
          val t3 = t * t * t
          val tmp = 1.0 - t3
          val w = tmp * tmp * tmp * robust(k)
          val xkw = xk * w
          sumW += w; sumX += xkw; sumX2 += xk * xkw
          sumY += yk * w; sumXY += yk * xkw
          k += 1
        }
        val mx = sumX / sumW; val my = sumY / sumW
        val mxy = sumXY / sumW; val mx2 = sumX2 / sumW
        val beta =
          if (math.sqrt(math.abs(mx2 - mx * mx)) < 1e-12) 0.0
          else (mxy - mx * my) / (mx2 - mx * mx)
        res(i) = beta * x + (my - beta * mx)
        i += 1
      }
      iter += 1
      if (iter > robustnessIters) done = true
      else {
        val absRes = Array.tabulate(n)(j => math.abs(ys(j) - res(j)))
        val sorted = absRes.sorted
        val med = sorted(n / 2)
        // commons-math stops when the median residual is below `accuracy`
        // (1e-12), not only at exactly 0 — near-interpolating fits (tiny
        // windows) hit this, and dividing by 6·med≈1e-16 would zero most
        // weights instead of stopping
        if (med < 1e-12) done = true
        else {
          var j = 0
          while (j < n) {
            val arg = absRes(j) / (6.0 * med)
            robust(j) =
              if (arg >= 1.0) 0.0 else { val w = 1.0 - arg * arg; w * w }
            j += 1
          }
        }
      }
    }
    res
  }

  /** correlation-table (reference math.clj:37-109): all-pairs Pearson over
    * the numeric columns, computed in ONE aggregation pass (every pair's
    * component sums are expressions in the same agg), then reshaped
    * driver-side into the square table. */
  def correlationTable(df: DataFrame, cols: Seq[String],
                       squareScale: Map[String, Int] = Map.empty): DataFrame = {
    import Reductions.isum
    // per-column square-sum scale, same rationale as descriptiveStats:
    // default 4 keeps small-magnitude data meaningful; large-magnitude
    // columns drop lower so floor(x²·10^s) stays exact in a double
    def sc(c: String): Int = squareScale.getOrElse(c, 4)
    val pairs = for (a <- cols; b <- cols if a < b) yield (a, b)
    // per-pair PAIRWISE-COMPLETE stats: each pair's n and all five sums share
    // one both-non-null predicate (a global count with per-sum null skipping
    // mixes mismatched counts and gives corr outside [-1,1])
    val aggs: Seq[Column] = pairs.flatMap { case (a, b) =>
      val both = col(a).isNotNull && col(b).isNotNull
      def s(c: Column, scale: Int) = isum(when(both, c), scale)
      Seq(
        count(when(both, 1)).cast(DoubleType).as(s"n_${a}__$b"),
        s(col(a), 4).as(s"sx_${a}__$b"), s(col(b), 4).as(s"sy_${a}__$b"),
        s(col(a) * col(a), sc(a)).as(s"sxx_${a}__$b"),
        s(col(b) * col(b), sc(b)).as(s"syy_${a}__$b"),
        s(col(a) * col(b), math.min(sc(a), sc(b))).as(s"sxy_${a}__$b"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collectBounded(1, "one-row moment agg")(0)
    def g(name: String): Double = row.getDouble(row.fieldIndex(name))
    def corr(a: String, b: String): Double =
      if (a == b) 1.0
      else {
        val (x, y) = if (a < b) (a, b) else (b, a)
        val k = s"${x}__$y"
        val n = g(s"n_$k")
        val sx = g(s"sx_$k"); val sy = g(s"sy_$k")
        (n * g(s"sxy_$k") - sx * sy) /
          (math.sqrt(n * g(s"sxx_$k") - sx * sx) * math.sqrt(n * g(s"syy_$k") - sy * sy))
      }
    val spark = df.sparkSession
    // wide scalar matrix (one column per input column): scalar-only output is
    // required by the oracle compare (array cells can't be sorted/hashed) and
    // reads like the reference's correlation table
    val schema = StructType(StructField("column", StringType, nullable = false) +:
      cols.map(c => StructField(c, DoubleType, nullable = false)))
    val rows = cols.map(a =>
      org.apache.spark.sql.Row.fromSeq(a +: cols.map(b => corr(a, b))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** crosstab (reference transpose-by-key usage): counts of a×b value
    * combinations as a wide table — explicit domain, no discovery scan. */
  def crosstab(df: DataFrame, rowCol: String, colCol: String,
               colValues: Seq[String]): DataFrame =
    Reshape.pivot(df, Seq(rowCol), colCol, colValues, count(lit(1)))
      .na.fill(0L, colValues)

  /** Distributed DOUBLED average rank (2·avg-rank — always an integer, so
    * downstream sums stay floor-exact) of column `c`'s values: equals the SQL
    * `2*rank() OVER (ORDER BY c) + count(*) OVER (PARTITION BY c) - 1`, but
    * with NO single-partition window. Plan: per-value counts (one shuffle),
    * range-partitioned sort of the DISTINCT values, per-partition totals →
    * driver prefix offsets (O(partitions) longs — not a data collect), then a
    * streaming per-partition cumulative sum. Returns the (value, rank) lookup
    * table and the persisted intermediate (persisted because the sorted
    * distinct-value table is consumed by TWO jobs: the offsets pass and the
    * rank pass) — the CALLER must unpersist it after its terminal action. */
  private[graft] def profRankTable(df: DataFrame, c: String, out: String) =
    doubledAvgRankTable(df, c, out)

  private[graft] def doubledAvgRankTable(df: DataFrame, c: String, out: String,
      smallMaxEntries: Long = SmallRankTableMaxEntries)
      : (DataFrame, () => Unit) = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // Persist the grouped (value, count) table FIRST: repartitionByRange
    // SAMPLES its child for the range partitioner, so an un-persisted child
    // would run the whole groupBy chain twice (sampling pass + shuffle pass).
    // The count() both materializes the cache and gives the exact distinct
    // cardinality, which picks the plan:
    //  - small (≤ 1M values): single-task cumulate over the tiny cached
    //    table + broadcast — no range machinery, and the rank-attach joins
    //    downstream become shuffle-free broadcast joins;
    //  - large: range-partitioned offsets path (the 100 TB shape), shuffle
    //    join downstream (a broadcast would be O(n) on the driver).
    val grouped = df.select(col(c).cast(DoubleType).as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy(col("__v")).agg(count(lit(1)).as("__n"))
      .as[(Double, Long)]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val distinctVals = grouped.count()
    if (distinctVals <= smallMaxEntries) {
      val ranks = grouped.repartition(1).sortWithinPartitions(col("__v"))
        .mapPartitions { it =>
          var cum = 0L
          it.map { case (v, n) => val dr = 2 * cum + n + 1; cum += n; (v, dr) }
        }.toDF("__v", out)
      (broadcast(ranks), () => { grouped.unpersist(); () })
    } else {
      val sorted = grouped
        .repartitionByRange(parts, col("__v"))
        .sortWithinPartitions(col("__v"))
        .as[(Double, Long)]
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val partTotals = sorted.rdd
        .mapPartitionsWithIndex { (pid, it) =>
          var s = 0L; it.foreach(s += _._2); Iterator((pid, s))
        }.collectBounded(1 << 20, "O(P) partition totals").sortBy(_._1).map(_._2)
      val offsets = partTotals.scanLeft(0L)(_ + _)
      val bc = spark.sparkContext.broadcast(offsets)
      val ranks = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
        var cum = bc.value(pid)
        it.map { case (v, n) => val dr = 2 * cum + n + 1; cum += n; (v, dr) }
      }.toDF("__v", out)
      (ranks, () => { sorted.unpersist(); grouped.unpersist(); () })
    }
  }

  /** ≤ 1M (value, rank) entries ≈ 16 MB — single-task cumulate + broadcast
    * territory (the join side stays shuffle-free, the cumulate is a trivial
    * streaming loop, and a 16 MB broadcast is well inside executor/driver
    * budgets — same order as a raised autoBroadcastJoinThreshold). Beyond
    * this the range-partitioned distributed offsets path runs with a shuffle
    * rank-attach join (a near-unique column over 10^9+ rows must not be
    * broadcast). */
  private val SmallRankTableMaxEntries = 1000000L

  /** correlation-table `:spearman` (reference math.clj:47-48,90-91): Pearson
    * over average ranks. Ranks are computed distributed (see
    * [[doubledAvgRankTable]]) and DOUBLED so every rank is an integer —
    * Pearson is invariant under positive affine maps, so τ_spearman(2r) =
    * τ_spearman(r), and integer ranks keep the floor-scaled component sums
    * bit-exact across engines. Rank-column magnitude bound: sums of r² stay
    * floor-exact while (2n)² < 2^53, i.e. n ≲ 4.7e7 rows per table — beyond
    * that the r² PRODUCT itself rounds in a double (same contract as plain
    * correlationTable on large-magnitude columns). */
  def spearmanCorrelationTable(df: DataFrame, cols: Seq[String]): DataFrame = {
    // Each column's rank table is built from a SINGLE-COLUMN projection of
    // the source (never the join-chained frame — chaining makes rank build
    // k recompute joins 1..k-1, a quadratic lineage) and the k independent
    // builds are submitted concurrently: each needs its own small offsets
    // job, and Spark happily interleaves them.
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(cols.size, 8)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val built =
      try Await.result(Future.sequence(cols.map { c =>
        Future(doubledAvgRankTable(df.select(col(c)), c, s"__r_$c"))
      }), Duration.Inf)
      finally pool.shutdown()
    var ranked = df.select(cols.map(col): _*)
    cols.zip(built).foreach { case (c, (ranks, _)) =>
      ranked = ranked.join(ranks, ranked(c).cast(DoubleType) === ranks("__v"), "left")
        .drop("__v")
    }
    val rdf = ranked.select(cols.map(c => col(s"__r_$c").cast(DoubleType).as(c)): _*)
    // rank sums: sx floor-scale 4 is exact on integers; r² and r·r' at scale 0
    val out = correlationTable(rdf, cols, squareScale = cols.map(_ -> 0).toMap)
    built.foreach(_._2())  // cleanup: correlationTable collect()s — safe now
    out
  }

  /** correlation-table `:kendall` (reference math.clj:47-48,90-91): tau-b.
    * Two physical strategies behind one result contract — every count
    * (concordant / discordant / tie) is an exact integer and the final tau
    * arithmetic is the same fixed IEEE-double op sequence, so both plans
    * produce bit-identical tables:
    *
    *  - n ≤ `maxRows` (default 10k): the reference's shape — an all-pairs
    *    frame with one aggregation. Cheapest for small blocks (one job).
    *  - n > `maxRows`: Knight's O(n log n) formulation, fully distributed
    *    (see [[inversionCount]]): per column pair, the discordant count D is
    *    the strict-inversion count of `b` under the (a, b) sort, and
    *    C = n0 − tA − tB + tAB − D from per-column / per-pair tie-run
    *    aggregations. No pair frame ever materializes — the former 100k-row
    *    refusal is gone; kendall now runs at any n (capacity bound: pair
    *    counts overflow a long at n ≳ 3·10⁹ complete-case rows; above
    *    that a `require` fires).
    *
    * Rows with a null (or NaN) in any of `cols` are dropped first
    * (complete-case, like commons-math); values must be finite (±∞ tie
    * classification differs between the two plans). Pair identity is
    * PHYSICAL rows: a unique row id is generated internally for the
    * pair-frame dedup (a caller-supplied id with duplicates — e.g.
    * lineitem's non-unique (orderkey, linenumber) — would silently drop
    * the pairs between same-id rows; counts are invariant to WHICH unique
    * id is used, so the nondeterministic assignment is safe). */
  def kendallCorrelationTable(df: DataFrame, cols: Seq[String],
                              maxRows: Long = 10000L): DataFrame = {
    // cast FIRST, then complete-case drop: a string/ill-typed column whose
    // cast yields null (and double NaN) must fall out of the pair counts,
    // not slip past a pre-cast na.drop and corrupt tie/inversion totals
    // (na.drop on double columns removes both null and NaN)
    val base = df.select(cols.map(c => col(c).cast(DoubleType).as(c)): _*)
      .na.drop(cols)
      .withColumn("__uid", monotonically_increasing_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = base.count()
      if (n <= maxRows) kendallPairFrame(base, cols, "__uid")
      else kendallDistributed(base.drop("__uid"), cols, n)
    } finally { base.unpersist(); () }
  }

  /** The bounded-block all-pairs plan (one aggregation over the pair frame). */
  private def kendallPairFrame(base: DataFrame, cols: Seq[String],
                               idCol: String): DataFrame = {
    val l = base.select(col(idCol).as("__il") +:
      cols.map(c => col(c).as(s"__l_$c")): _*)
    val r = base.select(col(idCol).as("__ir") +:
      cols.map(c => col(c).as(s"__r_$c")): _*)
    val p = l.crossJoin(r).filter(col("__il") < col("__ir"))
    def d(c: String) = col(s"__l_$c") - col(s"__r_$c")
    val pairs = for (a <- cols; b <- cols if a < b) yield (a, b)
    val aggs: Seq[Column] =
      (count(lit(1)).as("n0") +:
        cols.map(c => count(when(d(c) === 0, 1)).as(s"t_$c"))) ++
        pairs.flatMap { case (a, b) =>
          val s = signum(d(a)) * signum(d(b))
          Seq(count(when(s > 0, 1)).as(s"c_${a}__$b"),
            count(when(s < 0, 1)).as(s"d_${a}__$b"))
        }
    val row = p.agg(aggs.head, aggs.tail: _*).collectBounded(1, "one-row concordance agg")(0)
    def g(name: String): Long = row.getLong(row.fieldIndex(name))
    tauFrame(base.sparkSession, cols, g("n0"), c => g(s"t_$c"),
      { case (x, y) => (g(s"c_${x}__$y"), g(s"d_${x}__$y")) })
  }

  /** Knight's-algorithm plan: D per pair = distributed inversion count;
    * C recovered from exact tie-run aggregations. The per-column, per-pair
    * jobs are submitted concurrently (each is small: one groupBy or two
    * narrow shuffles), same pattern as [[spearmanCorrelationTable]]. */
  private def kendallDistributed(base: DataFrame, cols: Seq[String],
                                 n: Long): DataFrame = {
    // n0 = n(n-1)/2 and every tie/inversion count is < n0; n(n-1) — and
    // g(g-1) for a degenerate single tie-group of size g = n — must fit a
    // signed long, so the bound is sqrt(Long.Max) ≈ 3.03e9
    require(n < 3000000000L,
      s"kendall pair counts overflow 64-bit at n=$n complete-case rows")
    val n0 = n * (n - 1) / 2
    // Σ g·(g−1)/2 over groups of identical values: pairs tied on `gcols`.
    // Σ g·(g−1) is summed as a long (exact) and halved driver-side.
    def tiePairs(gcols: Seq[String]): Long = {
      val r = base.groupBy(gcols.map(col): _*).agg(count(lit(1)).as("__n"))
        .agg(sum(col("__n") * (col("__n") - lit(1L)))).collectBounded(1, "one-row tie agg")(0)
      if (r.isNullAt(0)) 0L else r.getLong(0) / 2
    }
    val pairs = for (a <- cols; b <- cols if a < b) yield (a, b)
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(cols.size + pairs.size, 8)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val (tA, tAB, dAB) =
      try {
        val fT = cols.map(c => Future(c -> tiePairs(Seq(c))))
        val fTab = pairs.map { case (a, b) =>
          Future((a, b) -> tiePairs(Seq(a, b))) }
        val fD = pairs.map { case (a, b) =>
          Future((a, b) -> inversionCount(base, a, b)) }
        (Await.result(Future.sequence(fT), Duration.Inf).toMap,
          Await.result(Future.sequence(fTab), Duration.Inf).toMap,
          Await.result(Future.sequence(fD), Duration.Inf).toMap)
      } catch {
        // a failed sub-job must not leave queued siblings running their
        // Spark jobs (and holding persisted RDDs) after we throw
        case t: Throwable => pool.shutdownNow(); throw t
      } finally pool.shutdown()
    tauFrame(base.sparkSession, cols, n0, tA,
      { case (x, y) =>
        val d = dAB((x, y))
        // pairs strict in BOTH columns split into concordant + discordant
        (n0 - tA(x) - tA(y) + tAB((x, y)) - d, d)
      })
  }

  /** Shared tau-b finisher: identical long→double conversions and IEEE op
    * order for both plans (and for the DuckDB oracle mirror). */
  private def tauFrame(spark: org.apache.spark.sql.SparkSession,
                       cols: Seq[String], n0: Long, t: String => Long,
                       cd: ((String, String)) => (Long, Long)): DataFrame = {
    def tau(a: String, b: String): Double =
      if (a == b) 1.0
      else {
        val (x, y) = if (a < b) (a, b) else (b, a)
        val (c, d) = cd((x, y))
        (c.toDouble - d.toDouble) /
          (math.sqrt(n0.toDouble - t(x).toDouble) *
            math.sqrt(n0.toDouble - t(y).toDouble))
      }
    val schema = StructType(StructField("column", StringType, nullable = false) +:
      cols.map(c => StructField(c, DoubleType, nullable = false)))
    val rows = cols.map(a =>
      org.apache.spark.sql.Row.fromSeq(a +: cols.map(b => tau(a, b))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Count of strictly-inverted pairs of `b` under the global (a, b) sort:
    * #{(i, j) : pos_i < pos_j ∧ b_i > b_j} where positions follow
    * lexicographic (a, b) ascending order. Because equal-a runs are
    * b-sorted, this count is EXACTLY the discordant pair count of (a, b)
    * (Knight 1966) — ties in either column never register.
    *
    * Fully distributed, O(n log n) work, O(n/P) task memory:
    *  1. range-partition + sort by (a, b) — P ordered partitions, equal
    *     keys co-located;
    *  2. within-partition inversions by merge-sort count (one narrow job);
    *  3. cross-partition inversions: re-shuffle (srcPid, b) by b-range into
    *     ordered buckets. Same-bucket pairs: per bucket, walk b ascending
    *     and Fenwick-count earlier-inserted elements with LARGER srcPid
    *     (the larger-b element must sit in a strictly earlier partition).
    *     Cross-bucket pairs need only the per-(bucket, srcPid) count matrix
    *     — O(P²) longs to the driver, combined with prefix/suffix sums.
    *  Each pair is counted in exactly one of the three terms.
    *
    * A near-constant column concentrates its sort range in few partitions
    * (range bounds can't split equal keys); tie pairs never enter the
    * inversion count, so this costs sort time, not pair time. */
  private[graft] def inversionCount(df: DataFrame, a: String, b: String): Long = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val tagged = df
      .select(col(a).cast(DoubleType).as("__a"), col(b).cast(DoubleType).as("__b"))
      .repartitionByRange(parts, col("__a"), col("__b"))
      .sortWithinPartitions(col("__a"), col("__b"))
      .select(col("__b")).as[Double]
      .rdd.mapPartitionsWithIndex { (pid, it) => it.map(v => (pid, v)) }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val within = tagged.mapPartitions { it =>
        Iterator.single(mergeCountInversions(it.map(_._2).toArray))
      }.fold(0L)(_ + _)
      val nSrc = tagged.getNumPartitions
      // (bucket, fenwickInversions, perSrcPidCounts) per b-range bucket.
      // The driver combines a B×P count matrix — cap B so that stays
      // linear in the cluster's partition count (B·P ≤ 1024·P longs)
      val bParts = math.min(parts, 1024)
      val buckets = tagged.toDF("pid", "b")
        .repartitionByRange(bParts, col("b"))
        .rdd.mapPartitionsWithIndex { (bucket, it) =>
          val elems = it.map(r => (r.getInt(0), r.getDouble(1))).toArray
          java.util.Arrays.sort(elems, Ordering.by[(Int, Double), Double](_._2))
          val counts = new Array[Long](nSrc)
          val fen = new Array[Long](nSrc + 1) // Fenwick tree over srcPid
          def add(p: Int): Unit = {
            var x = p + 1; while (x <= nSrc) { fen(x) += 1; x += x & -x } }
          def atMost(p: Int): Long = {
            var x = p + 1; var s = 0L
            while (x > 0) { s += fen(x); x -= x & -x }; s }
          var inserted = 0L; var inv = 0L; var i = 0
          while (i < elems.length) {
            var j = i // equal-b group: query all, then insert all (b ties
            while (j < elems.length && elems(j)._2 == elems(i)._2) j += 1
            var k = i
            while (k < j) { inv += inserted - atMost(elems(k)._1); k += 1 }
            k = i
            while (k < j) {
              val p = elems(k)._1; counts(p) += 1; add(p); k += 1; inserted += 1 }
            i = j
          }
          Iterator.single((bucket, inv, counts))
        }.collectBounded(1 << 20, "O(P) bucket summaries").sortBy(_._1)
      val sameBucket = buckets.map(_._2).sum
      // cross-bucket: element in a HIGHER-b bucket pairs inverted with every
      // lower-bucket element of a strictly larger srcPid
      var cross = 0L
      val cumLo = new Array[Long](nSrc)
      buckets.foreach { case (_, _, cnts) =>
        val suffix = new Array[Long](nSrc + 1)
        var p = nSrc - 1
        while (p >= 0) { suffix(p) = suffix(p + 1) + cumLo(p); p -= 1 }
        p = 0
        while (p < nSrc) {
          if (cnts(p) != 0) cross += cnts(p) * suffix(p + 1)
          cumLo(p) += cnts(p); p += 1
        }
      }
      within + sameBucket + cross
    } finally { tagged.unpersist(); () }
  }

  /** The LINEAR-recurrence escape hatch for [[induction]], keyed form:
    * s_i = a·s_{i−1} + b·x_i per key, rows ordered by `orderCols` within
    * the key (zero initial state; `seedFirst` starts each key at s_1 = x_1).
    * Runs on the [[Folds.keyed]] kernel (scale and key contract there);
    * the per-key fold is the IDENTICAL IEEE op sequence (s = a·s + b·x) a
    * sequential engine — or a per-key recursive CTE — executes, so results
    * are bit-exact replayable (oracle q99). */
  def linearRecurrenceKeyed(df: DataFrame, keyCols: Seq[String],
                            orderCols: Seq[String], xCol: String,
                            a: Double, out: String,
                            b: Double = 1.0,
                            seedFirst: Boolean = false): DataFrame =
    Folds.keyed(df, keyCols, orderCols, xCol, "linearRecurrenceKeyed",
      Seq(out -> DoubleType)) { () =>
      var s = 0.0; var first = true
      x => {
        s = if (first && seedFirst) x else a * s + b * x
        first = false
        Seq(s)
      }
    }

  /** HOLT LINEAR (double exponential / level+trend) smoothing per key —
    * the next step up from [[ewmaKeyed]] when series have drift:
    *   l_1 = x_1, b_1 = 0;
    *   l_t = alpha*x_t + (1-alpha)*(l_{t-1} + b_{t-1})
    *   b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}
    * Emits the smoothed level, trend, and the one-step-ahead forecast
    * (l + b). Runs on the [[Folds.keyed]] kernel; the fixed IEEE op
    * sequence replays per key in SQL (oracle q146). */
  def holtKeyed(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
                xCol: String, alpha: Double, beta: Double,
                levelOut: String = "level", trendOut: String = "trend",
                forecastOut: String = "forecast"): DataFrame = {
    require(alpha > 0 && alpha <= 1 && beta >= 0 && beta <= 1,
      s"alpha in (0,1], beta in [0,1], got ($alpha, $beta)")
    Folds.keyed(df, keyCols, orderCols, xCol, "holtKeyed",
      Seq(levelOut, trendOut, forecastOut).map(_ -> DoubleType)) { () =>
      var l = 0.0; var b = 0.0; var first = true
      x => {
        if (first) { l = x; b = 0.0; first = false }
        else {
          val lPrev = l
          l = alpha * x + (1.0 - alpha) * (lPrev + b)
          b = beta * (l - lPrev) + (1.0 - beta) * b
        }
        Seq(l, b, l + b)
      }
    }
  }

  /** Exponentially weighted moving average per key (pandas
    * `ewm(alpha, adjust=False).mean()` semantics: s_1 = x_1, then
    * s_t = (1-alpha)*s_{t-1} + alpha*x_t) — the standard smoothing /
    * anomaly-baseline op, expressed through [[linearRecurrenceKeyed]]
    * (bit-exact sequential replay per key — oracle q144 replays it with a
    * per-key recursive CTE). */
  def ewmaKeyed(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
                xCol: String, alpha: Double, out: String): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha in (0,1], got $alpha")
    linearRecurrenceKeyed(df, keyCols, orderCols, xCol, 1.0 - alpha, out,
      b = alpha, seedFirst = true)
  }

  /** CLAMPED running sum per key (inventory/stock semantics): the
    * balance accumulates deltas but can never drop below `floor` —
    * s_t = max(floor, s_{t−1} + x_t), with s_0 = floor. Non-linear
    * (the clamp), so it can't ride [[linearRecurrenceKeyed]]; runs on the
    * [[Folds.keyed]] kernel, replayed by a per-key recursive CTE (oracle
    * q224). Emits `<out>` plus `<out>_lost` — how much of this delta the
    * clamp swallowed (the unmet-demand signal). */
  def clampedRunningSumKeyed(df: DataFrame, keyCols: Seq[String],
                             orderCols: Seq[String], xCol: String,
                             floor: Double, out: String = "balance")
      : DataFrame =
    Folds.keyed(df, keyCols, orderCols, xCol, "clampedRunningSumKeyed",
      Seq(out -> DoubleType, s"${out}_lost" -> DoubleType)) { () =>
      var s = floor
      x => {
        val raw = s + x
        val clamped = math.max(floor, raw)
        val lost = clamped - raw
        s = clamped
        Seq(s, lost)
      }
    }

  /** Exponentially weighted mean AND variance per key (the volatility /
    * adaptive-anomaly-band primitive): the exact coupled recursion
    *   m_1 = x_1, v_1 = 0;
    *   d_t = x_t − m_{t−1}
    *   m_t = (1−α)·m_{t−1} + α·x_t
    *   v_t = (1−α)·(v_{t−1} + α·d_t²)
    * (West's recursive form — pandas `ewm(adjust=False).var(bias=True)`
    * family). Runs on the [[Folds.keyed]] kernel; every value is a pure
    * function of its series — the q210 oracle replays the recursion per
    * key. Emits `<out>_mean`, `<out>_var`, `<out>_std`. */
  def ewmVarKeyed(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
                  xCol: String, alpha: Double, out: String = "ewm")
      : DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1), got $alpha")
    Folds.keyed(df, keyCols, orderCols, xCol, "ewmVarKeyed",
      Seq("mean", "var", "std").map(n => s"${out}_$n" -> DoubleType)) { () =>
      var m = 0.0; var v = 0.0; var first = true
      x => {
        if (first) { m = x; v = 0.0; first = false }
        else {
          val d = x - m
          m = (1.0 - alpha) * m + alpha * x
          v = (1.0 - alpha) * (v + alpha * d * d)
        }
        Seq(m, v, math.sqrt(v))
      }
    }
  }

  /** HOLT-WINTERS additive seasonal smoothing per key (triple
    * exponential) — level + trend + period-m seasonal state:
    *   l_t = α(x_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}
    *   s_t = γ(x_t − l_t) + (1−γ)s_{t−m}
    * with the fully-specified cold start l_1 = x_1, b_1 = 0, s_j = 0 for
    * j ≤ 0 (no warmup block — the seasonal estimate converges after a few
    * periods, and the closed init makes every value a pure function of
    * the series, replayable by an engine carrying the last m seasonals as
    * a list in a recursive CTE — oracle q167). Emits level, trend,
    * seasonal, and the one-step forecast l + b + s_{t+1−m}. Runs on the
    * [[Folds.keyed]] kernel with O(period) state per key run. */
  def holtWintersKeyed(df: DataFrame, keyCols: Seq[String],
                       orderCols: Seq[String], xCol: String,
                       alpha: Double, beta: Double, gamma: Double,
                       period: Int): DataFrame = {
    require(alpha > 0 && alpha <= 1 && beta >= 0 && beta <= 1 &&
      gamma >= 0 && gamma <= 1 && period >= 2,
      s"alpha in (0,1], beta/gamma in [0,1], period ≥ 2")
    Folds.keyed(df, keyCols, orderCols, xCol, "holtWintersKeyed",
      Seq("level", "trend", "seasonal", "forecast").map(_ -> DoubleType)) { () =>
      var l = 0.0; var b = 0.0; var first = true
      val ring = new Array[Double](period); var pos = 0
      x => {
        val sOld = ring(pos) // s_{t−m} (0.0 during the first period)
        if (first) { l = x; b = 0.0; first = false }
        else {
          val lPrev = l
          l = alpha * (x - sOld) + (1.0 - alpha) * (lPrev + b)
          b = beta * (l - lPrev) + (1.0 - beta) * b
        }
        val sNew = gamma * (x - l) + (1.0 - gamma) * sOld
        ring(pos) = sNew
        pos = (pos + 1) % period
        Seq(l, b, sNew, l + b + ring(pos)) // the forecast reads s_{t+1−m}
      }
    }
  }

  /** Two-sided CUSUM changepoint detector per key (Page 1954):
    *   S⁺_t = max(0, S⁺_{t-1} + ((x_t − target) − slack))
    *   S⁻_t = max(0, S⁻_{t-1} + ((target − x_t) − slack))
    * with alarm when either side exceeds `threshold` — the standard
    * drift/shift monitor for metric series (and for data-quality streams:
    * "did the mean doc quality shift after this crawl snapshot?").
    * Genuinely non-linear state (the max clamp), so it runs on the
    * [[Folds.keyed]] kernel, NOT a window function; the fixed IEEE op
    * sequence replays per key in a recursive CTE (oracle q160). NaN inputs
    * propagate NaN from that point on (both engines agree); nulls throw —
    * filter or impute first. */
  def cusumKeyed(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
                 xCol: String, target: Double, slack: Double,
                 threshold: Double, posOut: String = "cusum_pos",
                 negOut: String = "cusum_neg", alarmOut: String = "alarm")
      : DataFrame = {
    require(slack >= 0 && threshold > 0,
      s"slack ≥ 0, threshold > 0, got ($slack, $threshold)")
    Folds.keyed(df, keyCols, orderCols, xCol, "cusumKeyed",
      Seq(posOut -> DoubleType, negOut -> DoubleType,
        alarmOut -> BooleanType)) { () =>
      var sp = 0.0; var sn = 0.0
      x => {
        sp = math.max(0.0, sp + ((x - target) - slack))
        sn = math.max(0.0, sn + ((target - x) - slack))
        Seq(sp, sn, sp > threshold || sn > threshold)
      }
    }
  }

  /** Keyless (whole-table) linear recurrence via a SEGMENTED scan: range
    * partition on `orderCols`, fold each partition from zero, carry the
    * boundary states across partitions (s_i = s_local_i + a^(i_local+1)·c_p,
    * where c_p is the true state entering partition p — O(P) scalars to the
    * driver, same two-pass shape as the distributed row index). The result
    * equals the sequential fold EXACTLY on integer-representable data and
    * to normal floating-point reassociation tolerance otherwise (the carry
    * multiplication reassociates the fold; range-partition boundaries come
    * from sampling, so non-integer results may also move at last-ulp scale
    * BETWEEN runs — use [[linearRecurrenceKeyed]] or [[induction]] when
    * bitwise sequential replay matters more than distribution). Returns the frame and a cleanup thunk (the sorted input
    * is persisted so both passes see one partitioning — call the thunk
    * after the terminal action, same contract as doubledAvgRankTable). */
  def linearRecurrence(df: DataFrame, orderCols: Seq[String], xCol: String,
                       a: Double, out: String): (DataFrame, () => Unit) = {
    // divergent-recurrence limit: the carry algebra accumulates
    // powA = a^rowsInPartition, which for |a| > 1 overflows to Inf within
    // ~1000 rows per partition and would poison every downstream partition
    // — a hard-wrong result, not reassociation tolerance (|a| ≤ 1's
    // underflow to 0 is benign). Short divergent series are legitimate
    // (integer carries stay exact up to 2^53), so instead of banning
    // |a| > 1 outright the carry loop below REFUSES loudly the moment an
    // overflowed factor would actually meet a non-zero carry.
    val spark = df.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = df.withColumn(xCol, col(xCol).cast(DoubleType))
      .repartitionByRange(parts, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
    val schema = sorted.schema.add(out, DoubleType, nullable = false)
    val xIdx = sorted.schema.fieldIndex(xCol)
    val rdd = sorted.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = rdd.mapPartitionsWithIndex { (pid, it) =>
      var s = 0.0; var powA = 1.0
      it.foreach { r =>
        if (r.isNullAt(xIdx))
          throw new IllegalArgumentException(
            s"linearRecurrence: null $xCol — filter or impute first")
        s = a * s + r.getDouble(xIdx); powA *= a
      }
      Iterator.single((pid, s, powA))
    }.collectBounded(1 << 20, "O(P) recurrence carries").sortBy(_._1)
    val carries = new Array[Double](rdd.getNumPartitions)
    var c = 0.0
    stats.foreach { case (pid, sLast, powA) =>
      carries(pid) = c
      // zero carry needs no factor (and Inf·0 would be NaN, not 0); a
      // non-zero carry meeting an overflowed a^n is the poisoned regime —
      // refuse rather than emit Inf/NaN for every downstream row
      if (c == 0.0) c = sLast
      else {
        if (!java.lang.Double.isFinite(powA))
          throw new IllegalArgumentException(
            s"linearRecurrence: carry factor a^n overflowed in partition " +
              s"$pid (a=$a) — the segmented scan supports decaying " +
              "recurrences (|a| ≤ 1) at any size, divergent ones only on " +
              "short series; use linearRecurrenceKeyed or induction")
        c = sLast + powA * c
      }
    }
    val bc = spark.sparkContext.broadcast(carries)
    val rows = rdd.mapPartitionsWithIndex { (pid, it) =>
      var s = 0.0; var pow = a; val c0 = bc.value(pid)
      it.map { r =>
        if (r.isNullAt(xIdx))
          throw new IllegalArgumentException(
            s"linearRecurrence: null $xCol — filter or impute first")
        s = a * s + r.getDouble(xIdx)
        // c0 == 0 ⇒ v = s exactly (skips the pow product, whose overflow
        // for |a| > 1 would otherwise turn 0-carry partitions into NaN)
        val v = if (c0 == 0.0) s else s + pow * c0
        pow *= a
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ v)
      }
    }
    (spark.createDataFrame(rows, schema), () => { rdd.unpersist(); () })
  }

  /** Strict inversion count of a sequence (pairs i<j with v_i > v_j) by
    * bottom-up merge sort — O(m log m), two flat double arrays. */
  private[graft] def mergeCountInversions(arr: Array[Double]): Long = {
    val m = arr.length
    if (m < 2) return 0L
    var src = arr; var dst = new Array[Double](m)
    var inv = 0L; var width = 1
    while (width < m) {
      var lo = 0
      while (lo < m) {
        val mid = math.min(lo + width, m); val hi = math.min(lo + 2 * width, m)
        var l = lo; var r = mid; var o = lo
        while (l < mid && r < hi) {
          if (src(r) < src(l)) { inv += mid - l; dst(o) = src(r); r += 1 }
          else { dst(o) = src(l); l += 1 }
          o += 1
        }
        while (l < mid) { dst(o) = src(l); l += 1; o += 1 }
        while (r < hi) { dst(o) = src(r); r += 1; o += 1 }
        lo += 2 * width
      }
      val t = src; src = dst; dst = t
      width *= 2
    }
    inv
  }

  /** Additive seasonal decomposition per key (the STL-lite a metrics
    * pipeline runs before anomaly rules): trend = centered `period`-row
    * moving mean (exact floor-scaled window sums; null until the window
    * is full so edges never fake a trend), seasonal = per-phase mean of
    * the detrended series re-centered to sum ≈ 0 across phases, resid =
    * x − trend − seasonal. Requires ODD period (symmetric window).
    * Returns the input + (phase, trend, seasonal, resid).
    *
    * Plan: one keyed window pass for the trend, one (key, phase)
    * aggregation + one key aggregation (both tiny) broadcast back —
    * no data-sized collect, no global window. Exactness: every mean is
    * a floor-scaled exact sum over counts, so the decomposition replays
    * bit-for-bit in SQL. */
  def seasonalDecompose(df: org.apache.spark.sql.DataFrame,
                        keyCols: Seq[String], orderCols: Seq[String],
                        valueCol: String, period: Int)
      : org.apache.spark.sql.DataFrame = {
    require(period >= 3 && period % 2 == 1,
      "period must be odd and >= 3 (symmetric centered window)")
    import org.apache.spark.sql.expressions.Window
    val half = period / 2
    val base = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val w = base.rowsBetween(-half, half)
    val x = col(valueCol).cast("double")
    def wsum(c: org.apache.spark.sql.Column) =
      sum(floor(c * lit(1e6)).cast("long")).over(w).cast("double") / lit(1e6)
    val withTrend = df
      .withColumn("__x", x)
      .withColumn("__phase",
        ((row_number().over(base) - 1) % period).cast("int"))
      .withColumn("trend",
        when(count(col("__x")).over(w) === period, wsum(col("__x")) / period))
    val det = withTrend.withColumn("__d", col("__x") - col("trend"))
    val phaseMeans = det
      .filter(col("__d").isNotNull && !isnan(col("__d")))
      .groupBy((keyCols.map(col) :+ col("__phase")): _*)
      .agg((graft.ops.Reductions.isum(col("__d"), 6) / count(lit(1)))
        .as("__pm"))
    // re-center: subtract the mean of the phase means so Σ seasonal ≈ 0
    val center = phaseMeans.groupBy(keyCols.map(col): _*)
      .agg((graft.ops.Reductions.isum(col("__pm"), 9) / count(lit(1)))
        .as("__pc"))
    // keys×period / keys-sized frames: let AQE pick broadcast vs shuffle
    // (a million-key series set must NOT be forced through the driver)
    val out = det
      .join(phaseMeans, keyCols :+ "__phase", "left")
      .join(center, keyCols, "left")
      .withColumn("seasonal", col("__pm") - col("__pc"))
      .withColumn("resid",
        when(col("trend").isNotNull, col("__x") - col("trend") - col("seasonal")))
      .drop("__x", "__d", "__pm", "__pc")
      .withColumnRenamed("__phase", "phase")
    out
  }

  /** SEASONAL + TREND STRENGTH (Wang–Hyndman–Smith) per key on top of
    * [[seasonalDecompose]] — the single-number "is this series actually
    * seasonal / trending" readouts that make decomposition actionable:
    * F_s = max(0, 1 − Var(R)/Var(S+R)) and
    * F_t = max(0, 1 − Var(R)/Var(T+R)) over the rows where the
    * decomposition is defined (trend needs the full centered window).
    *
    * TWO keyed passes over the decompose output: exact floor-scaled
    * means first, then floor-scaled (10⁶) sums of SQUARED DEVIATIONS
    * around them (the mean frame is a broadcast-sized join-back). The
    * centered form matters: population variance from raw Σx²/n −
    * (Σx/n)² floored moments carries ~10⁻⁶·|x| grid dust, which on a
    * constant-plus-ulp component reads as "variance" and flips the
    * strength to a confident 1.0; centered first, the deviations of a
    * constant column floor to EXACTLY 0 and the degenerate side gates
    * null. Each strength is one pinned IEEE expression. Returns one
    * row per key (keys…, n_est, seasonal_strength, trend_strength). */
  def seasonalStrength(df: org.apache.spark.sql.DataFrame,
                       keyCols: Seq[String], orderCols: Seq[String],
                       valueCol: String, period: Int)
      : org.apache.spark.sql.DataFrame = {
    // persist the decompose output: the mean pass and the deviation
    // pass both consume it, and the decomposition's window stack is the
    // expensive part (released once the O(keys) result materializes)
    val dec = seasonalDecompose(df, keyCols, orderCols, valueCol, period)
      .filter(col("resid").isNotNull && !isnan(col("resid")))
      .withColumn("__sr", col("seasonal") + col("resid"))
      .withColumn("__tr", col("trend") + col("resid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def fsum(c: org.apache.spark.sql.Column) =
      graft.ops.Reductions.isum(c, 6)
    val means = dec.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_est"),
        (fsum(col("resid")) / count(lit(1))).as("__mr"),
        (fsum(col("__sr")) / count(lit(1))).as("__ms"),
        (fsum(col("__tr")) / count(lit(1))).as("__mt"))
    val joined = dec.join(broadcast(means), keyCols)
    def dev2(c: org.apache.spark.sql.Column,
             m: String): org.apache.spark.sql.Column =
      (c - col(m)) * (c - col(m))
    val agg = joined.groupBy(keyCols.map(col): _*)
      .agg(max(col("n_est")).as("n_est"),
        fsum(dev2(col("resid"), "__mr")).as("__vr"),
        fsum(dev2(col("__sr"), "__ms")).as("__vs"),
        fsum(dev2(col("__tr"), "__mt")).as("__vt"))
    val (vR, vS, vT) = (col("__vr"), col("__vs"), col("__vt"))
    val out = agg.select(keyCols.map(col) ++ Seq(col("n_est"),
      when(vS > 0.0, greatest(lit(0.0), lit(1.0) - vR / vS))
        .as("seasonal_strength"),
      when(vT > 0.0, greatest(lit(0.0), lit(1.0) - vR / vT))
        .as("trend_strength")): _*)
      .localCheckpoint(true) // O(keys) result; frees the dec cache
    dec.unpersist()
    out
  }

  /** Market-basket association rules over (basket, item) pairs: for every
    * co-occurring item pair with support ≥ minSupportPct% of baskets
    * (integer cross-multiplied — no float threshold), emit the pair's
    * basket counts and both directed confidences plus lift, all from
    * exact integer counts with divisions only in the final projection.
    * Returns (item_a, item_b, n_pairs, n_a, n_b, conf_ab, conf_ba, lift)
    * with item_a < item_b.
    *
    * Plan: ONE keyed aggregation builds each basket's SORTED distinct
    * item array (collect_set dedups duplicate lines; sort_array pins the
    * binary string order that decides `item_a < item_b`), and pairs are
    * generated in place by a position explode against the array's
    * tail — no basket-keyed self-join, no separate per-basket distinct,
    * no basket-keyed cache (a re-keyed basket cache's inflated size
    * statistics flipped downstream joins to SortMergeJoin and got slower
    * as cores were added: 19.1 s on 32 cores vs 1.4 s on 8). The pair
    * frame is bounded by Σ_b k_b² over per-basket item counts — baskets
    * are small by nature (an order has a handful of brands), but a
    * degenerate giant basket (a reseller account, a crawler cart) makes
    * one basket contribute k² pairs on its own: pass `maxBasketSize` to
    * EXCLUDE such baskets (a plain size(items) filter; the dropped-basket
    * count is logged). Capped baskets leave the support denominator too,
    * keeping confidences consistent. The cap bounds the pair blow-up
    * only: it filters on the finished array, so a giant basket's
    * `collect_set` array, O(k_b) in one aggregation buffer, is still
    * built once before it is dropped. */
  def assocRules(df: org.apache.spark.sql.DataFrame, basketCol: String,
                 itemCol: String, minSupportPct: Int,
                 maxBasketSize: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    require(minSupportPct >= 1 && minSupportPct <= 100)
    require(maxBasketSize.forall(_ >= 2), "maxBasketSize must be >= 2")
    val baskets0 = df
      .filter(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("__b"), col(itemCol).cast("string").as("__i"))
      .groupBy(col("__b"))
      .agg(sort_array(collect_set(col("__i"))).as("__items"))
    val bk = (maxBasketSize match {
      case None => baskets0
      case Some(cap) =>
        val nDropped = baskets0.filter(size(col("__items")) > cap).count()
        if (nDropped > 0)
          System.err.println(
            s"[graft] assocRules: excluded $nDropped basket(s) larger than " +
              s"$cap items (wedge-bound cap)")
        baskets0.filter(size(col("__items")) <= cap)
    })
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // three consumers off one materialized basket cache: the O(1)
    // denominator count, the per-item basket counts, the pair counts
    val nBaskets = bk.count()
    val itemCnt = bk.select(explode(col("__items")).as("__i"))
      .groupBy(col("__i")).agg(count(lit(1)).as("__ni"))
    // all within-basket pairs (i < j) straight off the sorted array:
    // item_a at 0-based position p pairs with the slice starting at
    // 1-based position p+2 — ascending order ⇒ item_a < item_b exactly
    // as the old join filter decided it (binary string comparison)
    val pairs = bk
      .select(col("__items"),
        posexplode(col("__items")).as(Seq("__p", "item_a")))
      .select(col("item_a"),
        explode(slice(col("__items"), col("__p") + lit(2),
          size(col("__items")) - col("__p") - lit(1))).as("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .filter(col("n_pairs") * 100L >= lit(minSupportPct.toLong) * nBaskets)
    val out = pairs
      .join(itemCnt.select(col("__i").as("item_a"), col("__ni").as("n_a")),
        "item_a")
      .join(itemCnt.select(col("__i").as("item_b"), col("__ni").as("n_b")),
        "item_b")
      .select(col("item_a"), col("item_b"), col("n_pairs"), col("n_a"),
        col("n_b"),
        (col("n_pairs").cast("double") / col("n_a").cast("double"))
          .as("conf_ab"),
        (col("n_pairs").cast("double") / col("n_b").cast("double"))
          .as("conf_ba"),
        (col("n_pairs").cast("double") * lit(nBaskets.toDouble) /
          (col("n_a").cast("double") * col("n_b").cast("double"))).as("lift"))
      // eager-materialize the O(rules) result so the basket cache can be
      // RELEASED here (no session-lifetime persist leak — the ADVICE r19
      // crossValidate pattern); callers read node-sized blocks
      .localCheckpoint(true)
    bk.unpersist()
    out
  }

  /** BUSINESS DAYS between two dates — the count of Mon–Fri days in
    * (start, end], in CLOSED FORM (no calendar table, no per-day
    * explode): full weeks contribute 5 each; the remainder's weekend
    * hits are counted by interval overlap against the Sat/Sun positions
    * (weekday indices 5, 6 and their 12 wrap — the remainder scan never
    * reaches 13). Pure integer arithmetic on (datediff, weekday), so the
    * SQL replay is literal. Negative when end < start (antisymmetric).
    * Weekday convention: Monday = 0 (Spark `weekday`, DuckDB
    * `isodow − 1`). */
  def businessDaysBetween(start: Column, end: Column): Column = {
    def fwd(d1: Column, d2: Column): Column = {
      val a = datediff(d2, d1).cast(LongType)
      val w1 = weekday(d1).cast(LongType)
      val rem = a % 7
      val hit1 = greatest(lit(0L),
        least(w1 + rem, lit(6L)) - greatest(w1 + 1L, lit(5L)) + 1L)
      val hit2 = greatest(lit(0L),
        least(w1 + rem, lit(13L)) - greatest(w1 + 1L, lit(12L)) + 1L)
      ((a - rem) / lit(7L)).cast(LongType) * 5L + rem - hit1 - hit2
    }
    when(end < start, -fwd(end, start)).otherwise(fwd(start, end))
  }
}
