package graft.ops

import scala.reflect.ClassTag
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Bounded._

/** Hypothesis tests and series diagnostics over distributed frames — the
  * data-QA layer a curation pipeline runs before/after every transform
  * (did the dedup shift the length distribution? is quality independent of
  * source? is the metric series autocorrelated?).
  *
  * Every statistic here is an EXACT integer/fixed-point reduction followed
  * by one fixed IEEE-double op sequence, so results are bit-identical on
  * any cluster size and replayable by an external engine (the DuckDB
  * oracles recompute them add-for-add). Nothing holds O(n) state in an
  * aggregation buffer and nothing data-sized reaches the driver:
  *  - ranks come from [[Advanced.doubledAvgRankTable]] (range-partitioned
  *    distinct values + O(partitions) offsets);
  *  - cumulative counts use the same per-partition-totals shape;
  *  - cell/contingency work is plain keyed aggregation.
  */
object Stats {

  /** Mann-Whitney U (Wilcoxon rank-sum) two-sample test: are `valueCol`'s
    * distributions under `groupCol == a` vs `== b` stochastically equal?
    * Complete-case (null/NaN rows dropped). Returns one row:
    * (n1, n2, r1_doubled, u1, z) where r1_doubled = Σ 2·avgrank over group
    * a (an exact integer — average ranks are half-integers), u1 the U
    * statistic for group a, z the tie-corrected normal approximation.
    *
    * Plan: one distributed rank build over the pooled values + two keyed
    * aggregations; the per-(group, value) count frame — not the data —
    * carries the rank join. Driver sees O(1) scalars. */
  def mannWhitneyU(df: DataFrame, valueCol: String, groupCol: String,
                   a: String, b: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pooled = df
      .filter(col(groupCol).isin(a, b) && col(valueCol).isNotNull &&
        !isnan(col(valueCol).cast(DoubleType)))
      .select(col(groupCol).as("__g"),
        col(valueCol).cast(DoubleType).as("__x"))
      // consumed by the rank build AND the per-group count frame
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (ranks, cleanup) =
      Advanced.doubledAvgRankTable(pooled.select(col("__x")), "__x", "__dr")
    // per-(group, value) counts — the only frame that joins the rank table
    val perVal = pooled.groupBy(col("__g"), col("__x"))
      .agg(count(lit(1)).as("__n"))
    val agg = perVal.join(ranks, perVal("__x") === ranks("__v"))
      .agg(
        sum(when(col("__g") === a, col("__n")).otherwise(0L)).as("n1"),
        sum(when(col("__g") === b, col("__n")).otherwise(0L)).as("n2"),
        sum(when(col("__g") === a, col("__dr") * col("__n")).otherwise(0L))
          .as("r1d"))
      .collectBounded(1, "one-row rank agg")(0)
    // tie term Σ t³−t over POOLED per-value counts (t = Σ_g n): a second
    // value-keyed aggregation over the same cached frame
    val tieTerm = pooled.groupBy(col("__x")).agg(count(lit(1)).as("t"))
      .agg(sum(col("t") * col("t") * col("t") - col("t")).as("tt"))
      .collectBounded(1, "one-row tie-term agg")(0).getLong(0)
    pooled.unpersist(); cleanup()
    val n1 = agg.getLong(0); val n2 = agg.getLong(1); val r1d = agg.getLong(2)
    // U1 from the doubled rank sum: 2·U1 = 2·R1 − n1(n1+1)
    val u1 = (r1d - n1 * (n1 + 1)).toDouble / 2.0
    val nn = (n1 + n2).toDouble
    val mu = n1.toDouble * n2.toDouble / 2.0
    val sig2 = n1.toDouble * n2.toDouble / 12.0 *
      ((nn + 1.0) - tieTerm.toDouble / (nn * (nn - 1.0)))
    val z = if (sig2 > 0) (u1 - mu) / math.sqrt(sig2) else Double.NaN
    Seq((n1, n2, r1d, u1, z)).toDF("n1", "n2", "r1_doubled", "u1", "z")
  }

  /** Two-sample Kolmogorov-Smirnov statistic D = max_v |F_a(v) − F_b(v)|,
    * computed EXACTLY as a max over integers: d_num = max |c1·n2 − c2·n1|
    * where c1/c2 are cumulative counts at each distinct pooled value —
    * D = d_num / (n1·n2) with one final division. Returns one row
    * (n1, n2, d_num, d, ks_stat) with ks_stat = D·√(n1·n2/(n1+n2)).
    * Runs on the [[Folds.twoClass]] cumulate (scale argument there). */
  def ksTest(df: DataFrame, valueCol: String, groupCol: String,
             a: String, b: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (n1, n2, bests) =
      twoGroups(df, valueCol, groupCol, a, b) { (p, it) =>
        var c1 = p.c1; var c2 = p.c2
        var best = 0L
        it.foreach { case (_, d1, d2) =>
          c1 += d1; c2 += d2
          val diff = math.abs(c1 * p.n2 - c2 * p.n1)
          if (diff > best) best = diff
        }
        best
      }
    val dNum = bests.foldLeft(0L)(math.max)
    val d =
      if (n1 == 0 || n2 == 0) Double.NaN
      else dNum.toDouble / (n1.toDouble * n2.toDouble)
    val ks = if (n1 == 0 || n2 == 0) Double.NaN
      else d * math.sqrt(n1.toDouble * n2.toDouble / (n1.toDouble + n2.toDouble))
    Seq((n1, n2, dNum, d, ks)).toDF("n1", "n2", "d_num", "d", "ks_stat")
  }

  /** [[Folds.twoClass]] over the rows of `groupCol` equal to `a` (class 1)
    * or `b` (class 2); scans only when both groups are non-empty. Each
    * class predicate is the row filter's own `isin` on one label, so a
    * row the filter admits lands in its class under the same coercion
    * (a numeric group matches "1" as 1.0). */
  private def twoGroups[R: ClassTag](df: DataFrame, valueCol: String,
                                     groupCol: String, a: String, b: String)
                                    (scan: (Folds.PartStart,
                                      Iterator[(Double, Long, Long)]) => R)
      : (Long, Long, Array[R]) =
    Folds.twoClass(df, col(valueCol), col(groupCol).isin(a, b),
      col(groupCol), _.isin(a), _.isin(b))((n1, n2) => n1 > 0 && n2 > 0)(scan)

  /** Pearson chi-square test of independence between two categorical
    * columns. Returns one row (n_cells, dof, chi2) where chi2 is the
    * floor-scaled exact sum of per-cell (o−e)²/e terms (scale 10⁹ —
    * order-independent across engines; each TERM is the same fixed double
    * op sequence from integer counts). Declarative plan: cell counts →
    * broadcast-joined row/column totals → one exact-sum aggregate; no
    * collect. Double-exactness bound: rowTotal·colTotal must stay < 2^53
    * (10⁸ × 10⁸-row margins — beyond any contingency table). */
  def chiSquareIndependence(df: DataFrame, colA: String, colB: String)
      : DataFrame = {
    val cells = df
      .filter(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).as("__a"), col(colB).as("__b"))
      .agg(count(lit(1)).as("__o"))
    val rowTot = cells.groupBy(col("__a")).agg(sum(col("__o")).as("__rt"))
    val colTot = cells.groupBy(col("__b")).agg(sum(col("__o")).as("__ct"))
    val nTot = cells.agg(sum(col("__o")).as("__n"),
      countDistinct(col("__a")).as("__ra"),
      countDistinct(col("__b")).as("__rb"))
    val term = cells
      .join(broadcast(rowTot), "__a")
      .join(broadcast(colTot), "__b")
      .crossJoin(broadcast(nTot))
      .withColumn("__e",
        col("__rt").cast(DoubleType) * col("__ct").cast(DoubleType) /
          col("__n").cast(DoubleType))
      .withColumn("__term",
        (col("__o").cast(DoubleType) - col("__e")) *
          (col("__o").cast(DoubleType) - col("__e")) / col("__e"))
    term.agg(
      count(lit(1)).as("n_cells"),
      ((first(col("__ra")) - 1L) * (first(col("__rb")) - 1L)).as("dof"),
      Reductions.isum(col("__term"), 9).as("chi2"))
  }

  /** Per-cell chi-square diagnostics — WHICH cells drive the q153
    * statistic: observed, expected, the cell's chi² contribution, and
    * the adjusted standardized residual
    * (o−e)/√(e·(1−rt/n)·(1−ct/n)) (|stdres| ≳ 2 flags the cell). Same
    * declarative shape as [[chiSquareIndependence]]: cell counts +
    * broadcast margins, one pass, no collect; every per-cell value is a
    * fixed double sequence from integer counts. */
  def chiSquareCells(df: DataFrame, colA: String, colB: String): DataFrame = {
    val cells = df
      .filter(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).as("a"), col(colB).as("b"))
      .agg(count(lit(1)).as("observed"))
    val rowTot = cells.groupBy(col("a")).agg(sum(col("observed")).as("__rt"))
    val colTot = cells.groupBy(col("b")).agg(sum(col("observed")).as("__ct"))
    val nTot = cells.agg(sum(col("observed")).as("__n"))
    val nD = col("__n").cast(DoubleType)
    val e = col("__rt").cast(DoubleType) * col("__ct").cast(DoubleType) / nD
    val o = col("observed").cast(DoubleType)
    cells
      .join(broadcast(rowTot), "a")
      .join(broadcast(colTot), "b")
      .crossJoin(broadcast(nTot))
      .select(col("a"), col("b"), col("observed"),
        e.as("expected"),
        ((o - e) * (o - e) / e).as("contribution"),
        ((o - e) / sqrt(e *
          (lit(1.0) - col("__rt").cast(DoubleType) / nD) *
          (lit(1.0) - col("__ct").cast(DoubleType) / nD))).as("std_residual"))
  }

  /** Gini impurity of a label distribution per group:
    * 1 − Σ_l (c_l/n)² — the log-free diversity/imbalance metric (what a
    * corpus card reports as "language concentration per source"; entropy
    * needs ln, whose last-ulp varies by libm — Gini is exact rational
    * arithmetic from integer counts). Two keyed aggregations; the final
    * double op sequence 1.0 − Σc²/n² is fixed. Exactness bound: Σc² and
    * n·n must stay < 2^53 (n ≲ 9·10⁷ rows per group — per-GROUP, not
    * corpus). */
  def giniImpurity(df: DataFrame, groupCols: Seq[String], labelCol: String)
      : DataFrame = {
    val cells = df
      .filter(col(labelCol).isNotNull &&
        groupCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy((groupCols :+ labelCol).map(col): _*)
      .agg(count(lit(1)).as("__c"))
    cells.groupBy(groupCols.map(col): _*)
      .agg(sum(col("__c")).as("n"),
        count(lit(1)).as("n_labels"),
        (lit(1.0) - sum(col("__c") * col("__c")).cast(DoubleType) /
          (sum(col("__c")) * sum(col("__c"))).cast(DoubleType)).as("gini"))
  }

  /** Two-proportion z-test: does the success rate differ between groups
    * `a` and `b`? `successCol` must be 0/1. Declarative: one conditional
    * aggregation (no collect), then the pooled-variance z in a fixed
    * scalar op sequence from the four integer counts. Returns one row
    * (n1, x1, n2, x2, p1, p2, z). The A/B-test primitive (and the
    * filter-drift check: "did source X's keep-rate change?"). */
  def proportionZTest(df: DataFrame, groupCol: String, a: String, b: String,
                      successCol: String): DataFrame = {
    val agg = df.filter(col(groupCol).isin(a, b))
      .agg(
        sum(when(col(groupCol) === a, 1L).otherwise(0L)).as("n1"),
        sum(when(col(groupCol) === a, col(successCol).cast(LongType))
          .otherwise(0L)).as("x1"),
        sum(when(col(groupCol) === b, 1L).otherwise(0L)).as("n2"),
        sum(when(col(groupCol) === b, col(successCol).cast(LongType))
          .otherwise(0L)).as("x2"))
    val n1 = col("n1").cast(DoubleType); val x1 = col("x1").cast(DoubleType)
    val n2 = col("n2").cast(DoubleType); val x2 = col("x2").cast(DoubleType)
    val p1 = x1 / n1; val p2 = x2 / n2
    val pp = (col("x1") + col("x2")).cast(DoubleType) /
      (col("n1") + col("n2")).cast(DoubleType)
    agg.select(col("n1"), col("x1"), col("n2"), col("x2"),
      p1.as("p1"), p2.as("p2"),
      ((p1 - p2) / sqrt(pp * (lit(1.0) - pp) *
        (lit(1.0) / n1 + lit(1.0) / n2))).as("z"))
  }

  /** Two-sample Poisson RATE test: do cohorts a and b generate events at
    * the same per-exposure rate? Exposure = distinct exposure units per
    * cohort (e.g. users), events = rows. z = (r₁−r₂)/√(x₁/t₁² + x₂/t₂²)
    * with rᵢ = xᵢ/tᵢ — one conditional aggregation, four integers, fixed
    * scalar sequence. Returns one row
    * (x1, t1, x2, t2, rate1, rate2, z). */
  def poissonRateTest(df: DataFrame, cohortCol: String, a: String, b: String,
                      exposureCol: String): DataFrame = {
    val agg = df.filter(col(cohortCol).isin(a, b))
      .agg(
        sum(when(col(cohortCol) === a, 1L).otherwise(0L)).as("x1"),
        countDistinct(when(col(cohortCol) === a, col(exposureCol))).as("t1"),
        sum(when(col(cohortCol) === b, 1L).otherwise(0L)).as("x2"),
        countDistinct(when(col(cohortCol) === b, col(exposureCol))).as("t2"))
    val x1 = col("x1").cast(DoubleType); val t1 = col("t1").cast(DoubleType)
    val x2 = col("x2").cast(DoubleType); val t2 = col("t2").cast(DoubleType)
    val r1 = x1 / t1; val r2 = x2 / t2
    agg.select(col("x1"), col("t1"), col("x2"), col("t2"),
      r1.as("rate1"), r2.as("rate2"),
      when(col("t1") > 0 && col("t2") > 0 && (col("x1") + col("x2")) > 0,
        (r1 - r2) / sqrt(x1 / (t1 * t1) + x2 / (t2 * t2))).as("z"))
  }

  /** Spearman rank correlation between two columns PER GROUP (the
    * whole-table matrix form is q67; this is the grouped pairwise form):
    * doubled average ranks come from keyed windows
    * (2·rank + ties − 1 — always an integer), then Pearson on the rank
    * pairs via exact decimal sums (products of doubled ranks stay
    * integers; decimal accumulation is order-exact). One shuffle on the
    * group key; rank windows are group-partitioned — no global funnel.
    * Returns (group, n, rho). */
  def spearmanByGroup(df: DataFrame, groupCol: String, xCol: String,
                      yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x = col(xCol).cast(DoubleType); val y = col(yCol).cast(DoubleType)
    val base = df
      .filter(col(groupCol).isNotNull && x.isNotNull && y.isNotNull &&
        !isnan(x) && !isnan(y))
      .select(col(groupCol).as("__g"), x.as("__x"), y.as("__y"))
    def dr(c: Column, part: Column*) = {
      val wRank = Window.partitionBy(col("__g")).orderBy(c)
      val wTies = Window.partitionBy((col("__g") +: part): _*)
      lit(2) * rank().over(wRank) + count(lit(1)).over(wTies) - lit(1)
    }
    val ranked = base
      .withColumn("__dx", dr(col("__x"), col("__x")).cast(LongType))
      .withColumn("__dy", dr(col("__y"), col("__y")).cast(LongType))
    def dsumL(c: Column) = sum(c.cast(DecimalType(38, 0))).cast(DoubleType)
    val n = count(lit(1)).cast(DoubleType)
    val agg = ranked.groupBy(col("__g").as(groupCol))
      .agg(count(lit(1)).as("n"),
        dsumL(col("__dx")).as("sx"), dsumL(col("__dy")).as("sy"),
        dsumL(col("__dx") * col("__dx")).as("sxx"),
        dsumL(col("__dy") * col("__dy")).as("syy"),
        dsumL(col("__dx") * col("__dy")).as("sxy"))
    val nD = col("n").cast(DoubleType)
    val vx = nD * col("sxx") - col("sx") * col("sx")
    val vy = nD * col("syy") - col("sy") * col("sy")
    agg.select(col(groupCol), col("n"),
      when(vx > 0 && vy > 0,
        (nD * col("sxy") - col("sx") * col("sy")) / (sqrt(vx) * sqrt(vy)))
        .as("rho"))
  }

  /** Median absolute deviation per group — the robust spread statistic
    * (mad = median(|x − median(x)|)), composed from two
    * [[Reductions.groupQuantiles]] passes with the O(groups) median frame
    * broadcast back between them. Returns (group, n, median, mad).
    * Complete-case (null/NaN dropped); no percentile buffer, no per-group
    * window — scales like two range sorts. */
  def madByGroup(df: DataFrame, groupCol: String, valueCol: String)
      : DataFrame = {
    import graft.ops.Bounded._
    // Pass 1's O(groups) result is materialized ONCE (bounded collect —
    // no new constraint: the frame is broadcast downstream anyway, which
    // already requires it to fit in memory) and re-planted as a local
    // relation. Without this, every broadcast consumer of the median
    // frame (the deviation join, the precount offsets, the final join)
    // re-executes pass 1's full range sort inside one action — measured
    // ~2× the whole operator's cost at sf0.1.
    val medN = Reductions.groupQuantiles(df, groupCol, valueCol,
        Seq("median" -> 0.5))
      .select(col(groupCol), col("n"), col("median"))
    val medRows = medN.collectBounded(1 << 20,
      "O(groups) median frame (broadcast-bound anyway)")
    val medLocal = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(medRows: _*), medN.schema)
    val med = medLocal.select(col(groupCol), col("median"))
    val dev = df
      .select(col(groupCol), col(valueCol).cast(DoubleType).as("__v"))
      .join(broadcast(med), groupCol)
      .withColumn("__ad", abs(col("__v") - col("median")))
    // |x−median| is null exactly when x is null, so pass 1's complete-case
    // counts ARE pass 2's: feeding them in drops the second counts scan —
    // the second range sort is then dev's only consumer. (The second sort
    // itself is irreducible: the |x−m| order folds the value order around
    // a group-dependent pivot, so pass 1's range layout can't serve it.)
    Reductions.groupQuantiles(dev, groupCol, "__ad", Seq("mad" -> 0.5),
        precounts = Some(medLocal.select(col(groupCol), col("n"))))
      .join(broadcast(med), groupCol)
      .select(col(groupCol), col("n"), col("median"), col("mad"))
  }

  /** Robust per-group outlier flags: rows where
    * |x − median_g| > k·MAD_g (the median/MAD rule — immune to the
    * outliers it hunts, unlike mean/stddev z-scores). Composition of
    * [[madByGroup]]'s two rank-selection passes with the O(groups) stats
    * broadcast back; returns the flagged rows plus
    * (median, mad, robust_z) with robust_z = (x − median)/mad.
    * Zero-MAD groups (≥ half the group identical) flag nothing. */
  def robustOutliers(df: DataFrame, groupCol: String, valueCol: String,
                     k: Double): DataFrame = {
    require(k > 0)
    val stats = madByGroup(df, groupCol, valueCol)
      .select(col(groupCol), col("median"), col("mad"))
    val x = col(valueCol).cast(DoubleType)
    df.join(broadcast(stats), groupCol)
      .filter(x.isNotNull && !isnan(x) &&
        col("mad") > 0.0 && abs(x - col("median")) > lit(k) * col("mad"))
      .withColumn("robust_z", (x - col("median")) / col("mad"))
  }

  /** Autocorrelation function: Pearson correlation between the series and
    * its lag-L shift, per lag, pooled across keys (each key is an
    * independent series; pairs never cross keys). One keyed window pass
    * computes every lag column, one explode + tiny aggregation finishes —
    * a single data shuffle regardless of |lags|. Exact scaled co-moment
    * sums (q145's closed form); |x| must stay ≲ 3·10⁶ for the scale-6
    * floor products to fit a long per row (Int128 accumulates them
    * exactly). Returns (lag, n, acf) per lag. */
  def acf(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
          valueCol: String, lags: Seq[Int]): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1), "lags must be ≥ 1")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols.map(col): _*)
    val x = col(valueCol).cast(DoubleType)
    val withLags = lags.foldLeft(
      df.select((keyCols ++ orderCols).map(col) :+ x.as("__x"): _*)) {
      (d, l) => d.withColumn(s"__lag_$l", lag(col("__x"), l).over(w))
    }
    val pairs = withLags.select(explode(array(lags.map(l =>
      struct(lit(l).as("lag"), col("__x").as("x"),
        col(s"__lag_$l").as("y"))): _*)).as("p"))
      .select(col("p.lag").as("lag"), col("p.x").as("x"), col("p.y").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull &&
        !isnan(col("x")) && !isnan(col("y")))
    val n = count(lit(1)).cast(DoubleType)
    val sx = Reductions.isum(col("x"), 6); val sy = Reductions.isum(col("y"), 6)
    val sxx = Reductions.isum(col("x") * col("x"), 6)
    val syy = Reductions.isum(col("y") * col("y"), 6)
    val sxy = Reductions.isum(col("x") * col("y"), 6)
    pairs.groupBy(col("lag"))
      .agg(count(lit(1)).as("n"),
        when((n * sxx - sx * sx) > 0 && (n * syy - sy * sy) > 0,
          (n * sxy - sx * sy) /
            (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)))
          .as("acf"))
      .orderBy(col("lag"))
  }

  /** ROC-AUC of a score against a binary label, computed EXACTLY via the
    * rank-sum identity AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻) with average
    * ranks (ties contribute 1/2 — the standard trapezoidal ROC area).
    * All quantities stay integers until one final division: the doubled
    * average-rank sum over positives is integer-exact, so
    * auc = (r1d − n⁺(n⁺+1)) / (2·n⁺·n⁻). Returns one row
    * (n_pos, n_neg, r_pos_doubled, auc).
    *
    * Plan: the [[Advanced.doubledAvgRankTable]] distributed rank build
    * over the pooled scores (range-partitioned distinct values,
    * O(partitions) offsets) + one keyed count frame join + one scalar
    * aggregation — the classifier-evaluation primitive (quality-filter
    * thresholds, dedup-verifier scores) at one shuffle of the
    * per-value count frame, never the data. */
  def rocAuc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pooled = df
      .filter(col(labelCol).isNotNull && col(scoreCol).isNotNull &&
        !isnan(col(scoreCol).cast(DoubleType)))
      .select(col(labelCol).cast(LongType).as("__y"),
        col(scoreCol).cast(DoubleType).as("__x"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (ranks, cleanup) =
      Advanced.doubledAvgRankTable(pooled.select(col("__x")), "__x", "__dr")
    val perVal = pooled.groupBy(col("__y"), col("__x"))
      .agg(count(lit(1)).as("__n"))
    val agg = perVal.join(ranks, perVal("__x") === ranks("__v"))
      .agg(
        sum(when(col("__y") === 1L, col("__n")).otherwise(0L)).as("np"),
        sum(when(col("__y") === 0L, col("__n")).otherwise(0L)).as("nn"),
        sum(when(col("__y") === 1L, col("__dr") * col("__n")).otherwise(0L))
          .as("r1d"))
      .collectBounded(1, "one-row rank agg")(0)
    pooled.unpersist(); cleanup()
    val np = agg.getLong(0); val nn = agg.getLong(1); val r1d = agg.getLong(2)
    val auc =
      if (np == 0L || nn == 0L) Double.NaN
      else (r1d - np * (np + 1)).toDouble / (2.0 * np.toDouble * nn.toDouble)
    Seq((np, nn, r1d, auc)).toDF("n_pos", "n_neg", "r_pos_doubled", "auc")
  }

  /** Welch's unequal-variance two-sample t-test. Per-group moments come
    * from floor-scaled EXACT sums (Σ⌊x·10⁶⌋, Σ⌊x²·10⁶⌋ through the
    * Int128 accumulator — identical integers on any engine/cluster
    * size), then one fixed IEEE op sequence: sample variance
    * s² = (sxx − sx²/n)/(n−1), t = (m₁−m₂)/√(s₁²/n₁ + s₂²/n₂), and the
    * Welch–Satterthwaite df. Returns one row
    * (n1, n2, mean1, mean2, t, df). Complete-case. One conditional
    * aggregation — no rank build, no collect beyond the scalar row.
    * |x| ≲ 3·10⁶ for the scale-6 squared-term floors to fit a long. */
  def welchTTest(df: DataFrame, valueCol: String, groupCol: String,
                 a: String, b: String): DataFrame = {
    val x = col(valueCol).cast(DoubleType)
    val agg = df
      .filter(col(groupCol).isin(a, b) && x.isNotNull && !isnan(x))
      .select(col(groupCol).as("__g"), x.as("__x"))
      .agg(
        sum(when(col("__g") === a, 1L).otherwise(0L)).as("n1"),
        sum(when(col("__g") === b, 1L).otherwise(0L)).as("n2"),
        Reductions.isum(when(col("__g") === a, col("__x")), 6).as("sx1"),
        Reductions.isum(when(col("__g") === b, col("__x")), 6).as("sx2"),
        Reductions.isum(when(col("__g") === a, col("__x") * col("__x")), 6)
          .as("sxx1"),
        Reductions.isum(when(col("__g") === b, col("__x") * col("__x")), 6)
          .as("sxx2"))
    val n1 = col("n1").cast(DoubleType); val n2 = col("n2").cast(DoubleType)
    val m1 = col("sx1") / n1; val m2 = col("sx2") / n2
    val v1 = (col("sxx1") - col("sx1") * col("sx1") / n1) / (n1 - 1.0)
    val v2 = (col("sxx2") - col("sx2") * col("sx2") / n2) / (n2 - 1.0)
    val se2 = v1 / n1 + v2 / n2
    val dfW = se2 * se2 /
      (v1 * v1 / (n1 * n1 * (n1 - 1.0)) + v2 * v2 / (n2 * n2 * (n2 - 1.0)))
    agg.select(col("n1"), col("n2"), m1.as("mean1"), m2.as("mean2"),
      when(col("n1") > 1 && col("n2") > 1 && se2 > 0,
        (m1 - m2) / sqrt(se2)).as("t"),
      when(col("n1") > 1 && col("n2") > 1 && se2 > 0, dfW).as("df"))
  }

  /** mSPRT — the mixture sequential probability ratio test (Johari et
    * al. 2017, "Peeking at A/B tests"), the always-valid sequential
    * monitor: unlike a fixed-horizon t-test, its e-value Λ may be
    * checked after EVERY new batch of events without inflating the
    * false-positive rate, so a dashboard can stop an experiment the
    * moment Λ crosses 1/α. Two-sample normal form with the N(0, τ²)
    * mixture prior over the true lift:
    *   ρ  = s²_pooled · (1/n₁ + 1/n₂)        (variance of Δ = m̄₁ − m̄₂)
    *   ln Λ = ½·ln(ρ/(ρ+τ²)) + τ²·Δ² / (2ρ(ρ+τ²))
    * Reject when ln Λ > ln(1/α) — monotone in Λ, so the log form loses
    * nothing and avoids exp() entirely.
    *
    * Determinism: one conditional aggregation of exact floor-scaled
    * moments (the welchTTest pattern); the single ln() lands only in
    * the DISPLAYED statistic, floor-scaled at 10⁹ (the q261 WoE libm
    * guard). Returns one row (n1, n2, mean1, mean2, delta, rho,
    * log_lambda); log_lambda null when a cohort has < 2 rows or ρ ≤ 0.
    * One scan, nothing data-sized leaves the executors — at 100 TB the
    * cost is the scan, and incremental re-checks compose with the
    * aggPartials pattern (q203). */
  def msprt(df: DataFrame, valueCol: String, groupCol: String,
            a: String, b: String, tau2: Double = 0.01): DataFrame = {
    require(tau2 > 0, "mixture variance tau2 must be > 0")
    val x = col(valueCol).cast(DoubleType)
    val agg = df
      .filter(col(groupCol).isin(a, b) && x.isNotNull && !isnan(x))
      .select(col(groupCol).as("__g"), x.as("__x"))
      .agg(
        sum(when(col("__g") === a, 1L).otherwise(0L)).as("n1"),
        sum(when(col("__g") === b, 1L).otherwise(0L)).as("n2"),
        Reductions.isum(when(col("__g") === a, col("__x")), 6).as("sx1"),
        Reductions.isum(when(col("__g") === b, col("__x")), 6).as("sx2"),
        Reductions.isum(when(col("__g") === a, col("__x") * col("__x")), 6)
          .as("sxx1"),
        Reductions.isum(when(col("__g") === b, col("__x") * col("__x")), 6)
          .as("sxx2"))
    val n1 = col("n1").cast(DoubleType); val n2 = col("n2").cast(DoubleType)
    val m1 = col("sx1") / n1; val m2 = col("sx2") / n2
    val delta = m1 - m2
    // pooled variance: ((Σx² − (Σx)²/n)_1 + (Σx² − (Σx)²/n)_2) / (n−2)
    val vp = ((col("sxx1") - col("sx1") * col("sx1") / n1) +
      (col("sxx2") - col("sx2") * col("sx2") / n2)) / (n1 + n2 - 2.0)
    val rho = vp * (lit(1.0) / n1 + lit(1.0) / n2)
    val t2 = lit(tau2)
    val logLambda = lit(0.5) * log(rho / (rho + t2)) +
      t2 * delta * delta / (lit(2.0) * rho * (rho + t2))
    agg.select(col("n1"), col("n2"), m1.as("mean1"), m2.as("mean2"),
      delta.as("delta"),
      when(col("n1") > 1 && col("n2") > 1, rho).as("rho"),
      when(col("n1") > 1 && col("n2") > 1 && rho > 0,
        // ln() differs in last ulp between libms — floor-scale at 10⁹
        floor(logLambda * lit(1e9)).cast(LongType).cast(DoubleType) /
          lit(1e9)).as("log_lambda"))
  }

  /** Poisson-bootstrap confidence interval for the mean — the resampling
    * scheme that actually scales (Chamandy et al. 2012, "Estimating
    * uncertainty for massive data streams"): instead of drawing B
    * size-n resamples (impossible distributed — a resample is a global
    * shuffle of the whole table), each row independently contributes a
    * Poisson(1) weight to every replicate, so the entire bootstrap is
    * ONE map-side pass + a B-row shuffle. Weights are DETERMINISTIC:
    * one md5 SEED per unit, a minhash-coefficient universal hash per
    * replicate (u = (a_b·h + c_b) mod P mod 10⁶ — one md5 per ROW
    * instead of per row×replicate), inverted through the
    * integer-quantized Poisson(1) CDF (thresholds ⌊CDF·10⁶⌋ as
    * literals — both engines compare integers; the tail is capped at 8,
    * P(>8) at this quantization = 11/10⁶, absorbed into w=8).
    *
    * Replicate means are floor-scaled exact weighted sums; the CI is
    * distribution-free order statistics over the O(reps) replicate
    * frame (rank window on B rows — the q197 K-row precedent; ties
    * broken by replicate id). Returns one row
    * (n, reps, point_mean, ci_lo, ci_hi). */
  def poissonBootstrapCI(df: DataFrame, valueCol: String,
                         unitCols: Seq[String], reps: Int = 200,
                         alpha: Double = 0.05): DataFrame = {
    require(reps >= 40 && reps <= 10000, s"reps=$reps out of [40, 10000]")
    require(alpha > 0 && alpha < 1, s"alpha=$alpha out of (0, 1)")
    val x = col(valueCol).cast(DoubleType)
    val clean = df.filter(x.isNotNull && !isnan(x))
    // One md5 per unit, then a minhash-style universal hash per
    // replicate: the former md5-per-(unit, rep) construction paid
    // units×reps md5+base-conversions — the md5 mass, not the shuffle,
    // dominated the wall at B=200. SEED WIDTH (r18): the unit seed is
    // TWO independent 28-bit md5 substrings combined through two
    // affine streams, u = ((a_b·h1 + c_b) + (a2_b·h2 + c2_b)) mod P —
    // a 56-BIT effective seed (identical weight vectors need BOTH
    // halves to collide: ~n²/2^57 pairs vs ~n²/2^29 for the single
    // 28-bit stream), while every product a·h stays < 2^60 inside the
    // 2^63 overflow budget on engines that RAISE rather than wrap (a
    // single wide seed cannot: a < P ≈ 2^32 forces h < 2^31).
    // Residual (documented) tradeoff: for a FIXED unit the B draws are
    // affine in the seed pair, i.e. pairwise dependent across
    // replicates — the standard universal-hash bootstrap compromise;
    // regenerating independence costs the md5-per-(unit, rep) mass
    // this construction exists to avoid.
    val P = 4294967311L
    val seed = conv(substring(md5(concat_ws("#", unitCols.map(col): _*)),
      1, 7), 16, 10).cast(LongType)
    val seed2 = conv(substring(md5(concat_ws("#", unitCols.map(col): _*)),
      8, 7), 16, 10).cast(LongType)
    val aC = ((col("__b") * 2 + 1) * lit(2654435761L)) % lit(P)
    val cC = (col("__b") * lit(40503L) + lit(7L)) % lit(P)
    val aC2 = ((col("__b") * 2 + 1) * lit(2246822519L)) % lit(P)
    val cC2 = (col("__b") * lit(104729L) + lit(13L)) % lit(P)
    val u = (((aC * col("__h") + cC) % lit(P) +
      (aC2 * col("__h2") + cC2) % lit(P)) % lit(P)) % lit(1000000L)
    // integer-quantized Poisson(1) inverse CDF: ⌊cumP·10⁶⌋ literals
    val w = when(u < 367879L, 0L).when(u < 735758L, 1L)
      .when(u < 919698L, 2L).when(u < 981011L, 3L)
      .when(u < 996340L, 4L).when(u < 999405L, 5L)
      .when(u < 999916L, 6L).when(u < 999989L, 7L).otherwise(8L)
    val repMeans = clean
      .select(unitCols.map(col) :+ x.as("__x"): _*)
      .withColumn("__h", seed)
      .withColumn("__h2", seed2)
      .withColumn("__b", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("__w", w)
      .groupBy(col("__b"))
      .agg(
        Reductions.isum(col("__w").cast(DoubleType) * col("__x"), 6)
          .as("__swx"),
        sum(col("__w")).as("__sw"))
      .select(col("__b"),
        when(col("__sw") > 0, col("__swx") / col("__sw").cast(DoubleType))
          .as("__m"))
      .filter(col("__m").isNotNull)
    val loRank = math.max(1, math.ceil(alpha / 2 * reps).toInt)
    val hiRank = math.min(reps, math.ceil((1 - alpha / 2) * reps).toInt)
    // O(reps) frame: the partition-less rank window sees ≤ B rows
    val wB = org.apache.spark.sql.expressions.Window
      .orderBy(col("__m"), col("__b"))
    val ci = repMeans.withColumn("__r", row_number().over(wB))
      .agg(
        max(when(col("__r") === loRank, col("__m"))).as("ci_lo"),
        max(when(col("__r") === hiRank, col("__m"))).as("ci_hi"))
    val point = clean.agg(count(lit(1)).as("n"),
      Reductions.isum(x, 6).as("__sx"))
      .select(col("n"), lit(reps).as("reps"),
        when(col("n") > 0, col("__sx") / col("n").cast(DoubleType))
          .as("point_mean"))
    point.crossJoin(broadcast(ci))
  }

  /** One-way ANOVA F-statistic across the groups of `groupCol`. Group
    * moments are floor-scaled exact sums; the k per-group between-terms
    * s_g²/n_g (doubles) are re-floor-scaled at 10⁹ and exact-summed so
    * the cross-group reduction order can't perturb the result (the
    * chi-square per-cell-term pattern). SSB = Σ_g s_g²/n_g − S²/N,
    * SSW = Σ⌊x²⌋ − Σ_g s_g²/n_g, F = (SSB/(k−1))/(SSW/(N−k)).
    * Returns one row (k, n, ssb, ssw, f). Two keyed aggregations;
    * nothing data-sized leaves the executors. */
  def anovaOneWay(df: DataFrame, valueCol: String, groupCol: String)
      : DataFrame = {
    val x = col(valueCol).cast(DoubleType)
    val perGroup = df
      .filter(col(groupCol).isNotNull && x.isNotNull && !isnan(x))
      .select(col(groupCol).as("__g"), x.as("__x"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"),
        Reductions.isum(col("__x"), 6).as("__sx"),
        Reductions.isum(col("__x") * col("__x"), 6).as("__sxx"))
      .withColumn("__bt", col("__sx") * col("__sx") / col("__n").cast(DoubleType))
    val agg = perGroup.agg(
      count(lit(1)).as("k"),
      sum(col("__n")).as("n"),
      Reductions.isum(col("__sx"), 6).as("s"),
      Reductions.isum(col("__sxx"), 6).as("sxx"),
      Reductions.isum(col("__bt"), 9).as("bt"))
    val nD = col("n").cast(DoubleType); val kD = col("k").cast(DoubleType)
    val ssb = col("bt") - col("s") * col("s") / nD
    val ssw = col("sxx") - col("bt")
    agg.select(col("k"), col("n"), ssb.as("ssb"), ssw.as("ssw"),
      when(col("k") > 1 && col("n") > col("k") && ssw > 0,
        (ssb / (kD - 1.0)) / (ssw / (nD - kD))).as("f"))
  }

  /** Benjamini–Hochberg FDR adjustment over a table of per-test p-values:
    * adj_p_i = min(1, min_{j ≥ i} p_(j)·m/j) over the ascending-p order
    * (ties broken by `idCol` so the order — and therefore the result —
    * is total and engine-replayable). Returns (id, p, bh_rank, p_adj).
    *
    * Plan: the hypothesis table is range-partitioned and sorted by
    * (p, id); per-partition counts give rank offsets and per-partition
    * minima of the q = p·m/rank candidates give suffix-min offsets —
    * both O(partitions) on the driver, the ksTest/rank-table shape. The
    * suffix cumulative min then runs within partitions (each scanned
    * backwards once). No global window, no O(n) driver state — BH over
    * 10⁹ hypotheses costs one range shuffle. */
  def bhAdjust(df: DataFrame, idCol: String, pCol: String): DataFrame = {
    val spark = df.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val p = col(pCol).cast(DoubleType)
    val base = df
      .filter(col(idCol).isNotNull && p.isNotNull && !isnan(p))
      .select(col(idCol).cast(LongType).as("__id"), p.as("__p"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = base.count()
    val sorted = base
      .repartitionByRange(parts, col("__p"), col("__id"))
      .sortWithinPartitions(col("__p"), col("__id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sorted.count()
    import spark.implicits._
    val typed = sorted.as[(Long, Double)]
    // pass 1: per-partition (count, min q) given the rank offset — but q
    // needs the global rank, so partials carry counts first …
    val counts = typed.rdd.mapPartitionsWithIndex { (pid, it) =>
      Iterator((pid, it.size.toLong))
    }.collectBounded(1 << 20, "O(P) partition counts").sortBy(_._1).map(_._2)
    val rankOff = counts.scanLeft(0L)(_ + _)
    // … then per-partition min of q over now-known global ranks
    val bcOff = spark.sparkContext.broadcast(rankOff)
    val mD = m.toDouble
    val partMins = typed.rdd.mapPartitionsWithIndex { (pid, it) =>
      var r = bcOff.value(pid); var best = Double.PositiveInfinity
      it.foreach { case (_, pv) =>
        r += 1
        val q = pv * mD / r.toDouble
        if (q < best) best = q
      }
      Iterator((pid, best))
    }.collectBounded(1 << 20, "O(P) partition minima").sortBy(_._1).map(_._2)
    // suffix-min across partitions: the min over every LATER partition
    val sufMin = partMins.scanRight(Double.PositiveInfinity)(math.min).tail
    val bcSuf = spark.sparkContext.broadcast(sufMin)
    val out = typed.rdd.mapPartitionsWithIndex { (pid, it) =>
      val rows = it.toArray
      val ranks = new Array[Long](rows.length)
      val qs = new Array[Double](rows.length)
      var r = bcOff.value(pid)
      var i = 0
      while (i < rows.length) {
        r += 1; ranks(i) = r; qs(i) = rows(i)._2 * mD / r.toDouble; i += 1
      }
      // backwards within-partition suffix min, seeded by later partitions
      var run = bcSuf.value(pid)
      val adj = new Array[Double](rows.length)
      i = rows.length - 1
      while (i >= 0) {
        if (qs(i) < run) run = qs(i)
        adj(i) = math.min(1.0, run)
        i -= 1
      }
      rows.iterator.zipWithIndex.map { case ((id, pv), j) =>
        (id, pv, ranks(j), adj(j))
      }
    }.toDF("__id", "__p", "bh_rank", "p_adj")
      .withColumnRenamed("__id", idCol).withColumnRenamed("__p", pCol)
    val ret = out.cache()
    ret.count()
    sorted.unpersist(); base.unpersist()
    ret
  }

  /** HOLM STEP-DOWN multiple-testing correction — the FWER companion to
    * [[bhAdjust]] (BH controls the false-discovery RATE; Holm controls
    * the probability of ANY false positive, uniformly more powerful than
    * plain Bonferroni): over p-values ranked ascending,
    *   p_holm(i) = max_{j ≤ i} min((m − j + 1)·p_j, 1)
    * — a prefix-MAX where BH is a suffix-min. Same distributed shape as
    * bhAdjust: one range sort, O(P) partition offsets + per-partition
    * prefix carries to the driver; never a single-task sort. Returns
    * (idCol, pCol, holm_rank, p_adj). */
  def holmAdjust(df: DataFrame, idCol: String, pCol: String): DataFrame = {
    val spark = df.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val p = col(pCol).cast(DoubleType)
    val base = df
      .filter(col(idCol).isNotNull && p.isNotNull && !isnan(p))
      .select(col(idCol).cast(LongType).as("__id"), p.as("__p"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = base.count()
    val sorted = base
      .repartitionByRange(parts, col("__p"), col("__id"))
      .sortWithinPartitions(col("__p"), col("__id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sorted.count()
    import spark.implicits._
    val typed = sorted.as[(Long, Double)]
    val counts = typed.rdd.mapPartitionsWithIndex { (pid, it) =>
      Iterator((pid, it.size.toLong))
    }.collectBounded(1 << 20, "O(P) partition counts").sortBy(_._1).map(_._2)
    val rankOff = counts.scanLeft(0L)(_ + _)
    val bcOff = spark.sparkContext.broadcast(rankOff)
    val mD = m.toDouble
    // per-partition max of the raw Holm terms under known global ranks
    val partMaxs = typed.rdd.mapPartitionsWithIndex { (pid, it) =>
      var r = bcOff.value(pid); var best = Double.NegativeInfinity
      it.foreach { case (_, pv) =>
        r += 1
        val q = math.min((mD - r.toDouble + 1.0) * pv, 1.0)
        if (q > best) best = q
      }
      Iterator((pid, best))
    }.collectBounded(1 << 20, "O(P) partition maxima").sortBy(_._1).map(_._2)
    // prefix-max across partitions: the max over every EARLIER partition
    val preMax = partMaxs.scanLeft(Double.NegativeInfinity)(math.max).init
    val bcPre = spark.sparkContext.broadcast(preMax)
    val out = typed.rdd.mapPartitionsWithIndex { (pid, it) =>
      var r = bcOff.value(pid)
      var run = bcPre.value(pid)
      it.map { case (id, pv) =>
        r += 1
        val q = math.min((mD - r.toDouble + 1.0) * pv, 1.0)
        if (q > run) run = q
        (id, pv, r, run)
      }
    }.toDF("__id", "__p", "holm_rank", "p_adj")
      .withColumnRenamed("__id", idCol).withColumnRenamed("__p", pCol)
    val ret = out.cache()
    ret.count()
    sorted.unpersist(); base.unpersist()
    ret
  }

  /** Kaplan-Meier survival estimator over (duration, event) pairs —
    * event = 1 observed, 0 right-censored. Returns one row per EVENT
    * time: (t, n_risk, d_events, survival) with
    * S(t) = Π_{t_i ≤ t} (1 − d_i/n_i), the left-to-right fold over
    * ascending event times (deterministic IEEE — the oracle replays it
    * as a recursive CTE).
    *
    * Plan: the data-sized pass is ONE groupBy on the duration (d/c
    * counts per distinct time); the risk table (O(distinct durations)
    * rows — durations should be bucketed units like days, so this is
    * small by construction) is collected for the sequential product and
    * parallelized back — the sketch/fit-side readout pattern. Suffix
    * risk counts come from total − prefix on the sorted tiny table. */
  def kaplanMeier(df: DataFrame, durationCol: String, eventCol: String)
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val per = df
      .filter(col(durationCol).isNotNull &&
        col(eventCol).isNotNull)
      .groupBy(col(durationCol).cast(LongType).as("__t"))
      .agg(sum(col(eventCol).cast(LongType)).as("__d"),
        sum(lit(1L) - col(eventCol).cast(LongType)).as("__c"))
      .orderBy(col("__t"))
      .as[(Long, Long, Long)]
      .collectBounded(1 << 20, "O(distinct event times) survival readout")
    var atRisk = per.map(r => r._2 + r._3).sum
    var s = 1.0
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    per.foreach { case (t, d, c) =>
      if (d > 0) {
        s = s * (1.0 - d.toDouble / atRisk.toDouble)
        out += ((t, atRisk, d, s))
      }
      atRisk -= (d + c)
    }
    out.toSeq.toDF("t", "n_risk", "d_events", "survival")
  }

  /** RESTRICTED MEAN SURVIVAL TIME — the area under the [[kaplanMeier]]
    * step curve up to horizon τ: the model-free "average survival time
    * within the first τ units" effect measure (the standard KM summary
    * when median survival is never reached). Same O(distinct times)
    * bounded readout as the KM fold; each interval's area term is
    * floor-scaled (10⁹) BEFORE summation so the accumulation order is
    * irrelevant and the DuckDB replay (recursive-CTE survival + window
    * intervals) lands bit-exactly. Returns one row (tau, rmst). */
  def rmst(df: DataFrame, durationCol: String, eventCol: String,
           tau: Long): DataFrame = {
    require(tau > 0, s"tau=$tau")
    val spark = df.sparkSession
    import spark.implicits._
    val per = df
      .filter(col(durationCol).isNotNull && col(eventCol).isNotNull)
      .groupBy(col(durationCol).cast(LongType).as("__t"))
      .agg(sum(col(eventCol).cast(LongType)).as("__d"),
        sum(lit(1L) - col(eventCol).cast(LongType)).as("__c"))
      .orderBy(col("__t"))
      .as[(Long, Long, Long)]
      .collectBounded(1 << 20, "O(distinct event times) RMST readout")
    var atRisk = per.map(r => r._2 + r._3).sum
    var s = 1.0
    var prev = 0L
    var acc = 0L
    per.foreach { case (t, d, c) =>
      if (prev < tau) {
        val upto = math.min(t, tau)
        if (upto > prev)
          acc += math.floor(s * (upto - prev).toDouble * 1e9).toLong
      }
      if (d > 0) s = s * (1.0 - d.toDouble / atRisk.toDouble)
      atRisk -= (d + c)
      prev = t
    }
    if (prev < tau)
      acc += math.floor(s * (tau - prev).toDouble * 1e9).toLong
    Seq((tau, acc.toDouble / 1e9)).toDF("tau", "rmst")
  }

  /** HUBER ROBUST MEAN per group via IRLS with a FIXED iteration count:
    * location M-estimation that keeps full efficiency on the clean bulk
    * while bounding any single outlier's pull (the estimator between the
    * mean and the median; completes the robust family next to
    * [[madByGroup]]/trimmed/winsorized). Seed μ₀ = exact group median,
    * scale s = 1.4826·MAD (both from the [[madByGroup]] machinery);
    * each of the `iters` rounds reweights w = min(1, k·s/|x−μ|) and
    * updates μ = Σwx/Σw with floor-scaled exact sums — one broadcast
    * join + one keyed aggregation per round over an O(groups) μ-frame
    * (collected bounded, the madByGroup idiom), no data-sized state.
    * Degenerate groups (Σw = 0, possible only when s = 0 and no value
    * equals the median) keep their previous μ. Returns
    * (group, n, scale, huber_mean). */
  def huberMean(df: DataFrame, valueCol: String, groupCol: String,
                k: Double = 1.345, iters: Int = 3): DataFrame = {
    require(iters >= 1 && k > 0, s"k=$k iters=$iters")
    import graft.ops.Bounded._
    val spark = df.sparkSession
    val base = madByGroup(df, groupCol, valueCol)
      .select(col(groupCol), col("n"), col("median"),
        (lit(1.4826) * col("mad")).as("__s"))
    val baseRows = base.collectBounded(1 << 20, "O(groups) Huber seed frame")
    val seed = spark.createDataFrame(
      java.util.Arrays.asList(baseRows: _*), base.schema)
    val f = df
      .select(col(groupCol), col(valueCol).cast(DoubleType).as("__x"))
      .filter(col(groupCol).isNotNull && col("__x").isNotNull &&
        !isnan(col("__x")))
    var mu = seed.select(col(groupCol), col("median").as("__mu"), col("__s"))
    for (_ <- 1 to iters) {
      val r = abs(col("__x") - col("__mu"))
      val w = when(r <= lit(k) * col("__s"), lit(1.0))
        .otherwise(lit(k) * col("__s") / r)
      val agg = f.join(broadcast(mu), Seq(groupCol))
        .groupBy(col(groupCol))
        .agg(fs(w, 6).as("__sw"), fs(w * col("__x"), 6).as("__swx"))
      val next = mu.join(agg, Seq(groupCol), "left")
        .select(col(groupCol),
          when(col("__sw") > 0.0, col("__swx") / col("__sw"))
            .otherwise(col("__mu")).as("__mu"),
          col("__s"))
      val nextRows = next.collectBounded(1 << 20, "O(groups) Huber μ frame")
      mu = spark.createDataFrame(
        java.util.Arrays.asList(nextRows: _*), next.schema)
    }
    seed.select(col(groupCol), col("n"))
      .join(mu, Seq(groupCol))
      .select(col(groupCol), col("n"), col("__s").as("scale"),
        col("__mu").as("huber_mean"))
  }

  /** WEIBULL FIT of the survival curve via the linearized CDF (median-
    * rank / Weibull-plot regression): over the [[kaplanMeier]] event
    * points with 0 < S < 1, regress y = ln(−ln S(t)) on x = ln t —
    * the slope is the shape k̂ (k < 1 infant-mortality, k ≈ 1
    * memoryless, k > 1 wear-out), the scale is λ̂ = exp(−intercept/k̂).
    * The KM fold is the bounded O(times) readout; the OLS runs on that
    * tiny frame with the zipf floor-sum convention. Returns one row
    * (n_points, shape, scale). */
  def weibullFit(df: DataFrame, durationCol: String, eventCol: String)
      : DataFrame = {
    val km = kaplanMeier(df, durationCol, eventCol)
    val pts = km
      .filter(col("t") > 0L && col("survival") > 0.0 &&
        col("survival") < 1.0)
      .select(log(col("t").cast(DoubleType)).as("__x"),
        log(-log(col("survival"))).as("__y"))
    val n = count(lit(1)).cast(DoubleType)
    val sx = fs(col("__x"), 6); val sy = fs(col("__y"), 6)
    val sxx = fs(col("__x") * col("__x"), 6)
    val sxy = fs(col("__x") * col("__y"), 6)
    val agg = pts.agg(count(lit(1)).as("n_points"),
      when(n * sxx - sx * sx > 0.0,
        (n * sxy - sx * sy) / (n * sxx - sx * sx)).as("shape"),
      sy.as("__sy"), sx.as("__sx"), n.as("__n"))
    val out = agg.select(col("n_points"), col("shape"),
      when(col("shape").isNotNull && col("shape") =!= 0.0,
        exp(-(((col("__sy") - col("shape") * col("__sx")) / col("__n"))
          / col("shape")))).as("scale"))
    materializeSmall(out, 1, "one-row Weibull fit")
  }

  /** Cross-correlation function: Pearson correlation between x_t and
    * y_{t−lag} per lag (lag 0 = contemporaneous), pooled across keys —
    * [[acf]] generalized to two columns (does the click series LEAD the
    * value series?). Same single-window-pass plan and exact scaled
    * co-moment sums; returns (lag, n, ccf) per lag. */
  def ccf(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
          xCol: String, yCol: String, lags: Seq[Int]): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 0), "lags must be ≥ 0")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val x = col(xCol).cast(DoubleType)
    val yv = col(yCol).cast(DoubleType)
    val withLags = lags.foldLeft(
      df.select((keyCols ++ orderCols).map(col) ++
        Seq(x.as("__x"), yv.as("__yv")): _*)) {
      (d, l) => d.withColumn(s"__lag_$l", lag(col("__yv"), l).over(w))
    }
    val pairs = withLags.select(explode(array(lags.map(l =>
      struct(lit(l).as("lag"), col("__x").as("x"),
        col(s"__lag_$l").as("y"))): _*)).as("p"))
      .select(col("p.lag").as("lag"), col("p.x").as("x"), col("p.y").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull &&
        !isnan(col("x")) && !isnan(col("y")))
    val n = count(lit(1)).cast(DoubleType)
    val sx = Reductions.isum(col("x"), 6); val sy = Reductions.isum(col("y"), 6)
    val sxx = Reductions.isum(col("x") * col("x"), 6)
    val syy = Reductions.isum(col("y") * col("y"), 6)
    val sxy = Reductions.isum(col("x") * col("y"), 6)
    pairs.groupBy(col("lag"))
      .agg(count(lit(1)).as("n"),
        when((n * sxx - sx * sx) > 0 && (n * syy - sy * sy) > 0,
          (n * sxy - sx * sy) /
            (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)))
          .as("ccf"))
      .orderBy(col("lag"))
  }

  /** Theil–Sen robust regression per group: slope = median of all
    * pairwise slopes (y_j−y_i)/(x_j−x_i) over pairs with x_i < x_j,
    * intercept = median of (y − slope·x) — the outlier-resistant trend
    * estimator (metric drift over time per source/user). Returns
    * (group, n, n_pairs, slope, intercept).
    *
    * Plan: a group-keyed self-join builds the O(n²)-per-group pair frame
    * (one shuffle each side, pairs never cross groups), then two
    * [[Reductions.groupQuantiles]] rank-selection passes (no percentile
    * buffer). The quadratic blowup is guarded LOUDLY: any group above
    * `maxGroupRows` raises instead of silently running an n² join — at
    * scale, subsample per group first (hashSampleRows) or bound the
    * window. Equal-x pairs are skipped (slope undefined); complete-case.
    */
  def theilSen(df: DataFrame, groupCol: String, xCol: String, yCol: String,
               maxGroupRows: Long = 100000L): DataFrame = {
    val base = df.select(col(groupCol).as("__g"),
        col(xCol).cast(DoubleType).as("__x"),
        col(yCol).cast(DoubleType).as("__y"))
      .filter(col("__g").isNotNull && col("__x").isNotNull &&
        col("__y").isNotNull && !isnan(col("__x")) && !isnan(col("__y")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = base.groupBy(col("__g")).agg(count(lit(1)).as("__n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tooBig = counts.filter(col("__n") > maxGroupRows).limit(1).collectBounded(1, "limit(1) guard probe")
    if (tooBig.nonEmpty)
      throw new IllegalArgumentException(
        s"theilSen: group '${tooBig(0).get(0)}' has ${tooBig(0).getLong(1)} " +
          s"rows > maxGroupRows=$maxGroupRows — the pairwise frame would be " +
          "quadratic; subsample per group (hashSampleRows) or raise the " +
          "bound explicitly")
    val a = base.select(col("__g"), col("__x").as("__xa"), col("__y").as("__ya"))
    val b = base.select(col("__g"), col("__x").as("__xb"), col("__y").as("__yb"))
    val slopes = a.join(b, Seq("__g"))
      .filter(col("__xa") < col("__xb"))
      .select(col("__g"),
        ((col("__yb") - col("__ya")) / (col("__xb") - col("__xa")))
          .as("__slope"))
    val med = Reductions.groupQuantiles(slopes, "__g", "__slope",
        Seq("slope" -> 0.5))
      .select(col("__g"), col("n").as("n_pairs"), col("slope"))
    val resid = base.join(broadcast(med), "__g")
      .select(col("__g"), (col("__y") - col("slope") * col("__x")).as("__r"))
    val icept = Reductions.groupQuantiles(resid, "__g", "__r",
        Seq("intercept" -> 0.5))
      .select(col("__g"), col("n"), col("intercept"))
    val out = icept.join(broadcast(med), "__g")
      .select(col("__g").as(groupCol), col("n"), col("n_pairs"),
        col("slope"), col("intercept"))
    base.unpersist(); counts.unpersist()
    out
  }

  /** Forecast-accuracy metrics per key for an (actual, forecast) column
    * pair: MAE, RMSE, sMAPE (0..2 convention), and MASE with the
    * one-step-naive denominator mean |y_t − y_{t−1}| over the key's
    * order. All error sums are floor-scaled exact (scale 6) so the
    * metrics are engine/partition-order exact; the only windows are
    * keyed lags. Returns (key…, n, mae, rmse, smape, mase). Rows where
    * either side is null/NaN are dropped from the error sums; the naive
    * denominator uses the actual series' own complete-case lag. */
  def forecastAccuracy(df: DataFrame, keyCols: Seq[String],
                       orderCols: Seq[String], actualCol: String,
                       forecastCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val y = col(actualCol).cast(DoubleType)
    val f = col(forecastCol).cast(DoubleType)
    val ok = y.isNotNull && !isnan(y) && f.isNotNull && !isnan(f)
    val base = df
      .select((keyCols ++ orderCols).map(col) ++
        Seq(y.as("__y"), when(ok, f).as("__f")): _*)
      .filter(col("__y").isNotNull && !isnan(col("__y")))
      .withColumn("__ylag", lag(col("__y"), 1).over(w))
    val e = col("__f") - col("__y")
    val absDenom = abs(col("__f")) + abs(col("__y"))
    val n = sum(when(col("__f").isNotNull, 1L).otherwise(0L))
    val sae = Reductions.isum(abs(e), 6)
    val sse = Reductions.isum(e * e, 6)
    val ssm = Reductions.isum(
      when(absDenom > 0.0, abs(e) * lit(2.0) / absDenom).otherwise(lit(0.0)), 9)
    val nNaive = sum(when(col("__ylag").isNotNull, 1L).otherwise(0L))
    val sNaive = Reductions.isum(abs(col("__y") - col("__ylag")), 6)
    base.groupBy(keyCols.map(col): _*)
      .agg(n.as("n"), sae.as("__sae"), sse.as("__sse"), ssm.as("__ssm"),
        nNaive.as("__nn"), sNaive.as("__sn"))
      .select(keyCols.map(col) ++ Seq(
        col("n"),
        (col("__sae") / col("n").cast(DoubleType)).as("mae"),
        sqrt(col("__sse") / col("n").cast(DoubleType)).as("rmse"),
        (col("__ssm") / col("n").cast(DoubleType)).as("smape"),
        when(col("__nn") > 0 && col("__sn") > 0.0,
          (col("__sae") / col("n").cast(DoubleType)) /
            (col("__sn") / col("__nn").cast(DoubleType))).as("mase")): _*)
  }

  /** Kruskal-Wallis H (k-sample rank ANOVA — the ≥3-group sibling of
    * [[mannWhitneyU]]): are `valueCol`'s distributions equal across ALL
    * levels of `groupCol`? Complete-case. Returns one row
    * (k, n, tie_tt, s, h): `s` = 12/(N(N+1))·Σ_g R_g²/n_g built from the
    * exact doubled rank sums — each group's term is pre-divided by
    * N(N+1) so its magnitude stays O(N) at any scale (the raw R_g² would
    * overflow the 10⁶ fixed-point long at ~10⁶ rows), computed as one
    * fixed IEEE op sequence, floor-scaled at 10⁶ and summed exactly so
    * cross-group reduce order cannot move it; `h` the tie-corrected
    * statistic H = [s − 3(N+1)] / (1 − Σ(t³−t)/(N³−N)).
    *
    * Plan: the [[Advanced.doubledAvgRankTable]] distributed rank build over
    * pooled values, then two keyed aggregations (per-(group,value) counts →
    * per-group exact rank sums; pooled per-value counts → tie term). No
    * data-sized window; the driver sees only the final one-row aggregate. */
  def kruskalWallis(df: DataFrame, valueCol: String, groupCol: String)
      : DataFrame = {
    val pooled = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull &&
        !isnan(col(valueCol).cast(DoubleType)))
      .select(col(groupCol).as("__g"),
        col(valueCol).cast(DoubleType).as("__x"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (ranks, cleanup) =
      Advanced.doubledAvgRankTable(pooled.select(col("__x")), "__x", "__dr")
    val perVal = pooled.groupBy(col("__g"), col("__x"))
      .agg(count(lit(1)).as("__n"))
    // per-group exact integers: n_g and the doubled rank sum Σ dr·n
    val perGroup = perVal.join(ranks, perVal("__x") === ranks("__v"))
      .groupBy(col("__g"))
      .agg(sum(col("__n")).as("__ng"),
        sum(col("__dr") * col("__n")).as("__r2d"))
    val tots = perGroup.agg(count(lit(1)).as("k"), sum(col("__ng")).as("n"))
    val nD = col("n").cast(DoubleType)
    // 12/(N(N+1))·R_g²/n_g with R_g = r2d/2 — one fixed double op
    // sequence per group, floor-scaled at 10⁶ and summed exactly
    val term = lit(3.0) * col("__r2d").cast(DoubleType) *
      col("__r2d").cast(DoubleType) /
      (col("__ng").cast(DoubleType) * nD * (nD + 1.0))
    val agg = perGroup.crossJoin(tots).groupBy(col("k"), col("n"))
      .agg(Reductions.isum(term, 6).as("s"))
    val tie = pooled.groupBy(col("__x")).agg(count(lit(1)).as("__t"))
      .agg(sum(col("__t") * col("__t") * col("__t") - col("__t"))
        .as("tie_tt"))
    val hRaw = col("s") - lit(3.0) * (nD + 1.0)
    val corr = lit(1.0) - col("tie_tt").cast(DoubleType) / (nD * nD * nD - nD)
    val out = agg.crossJoin(tie)
      .select(col("k"), col("n"), col("tie_tt"), col("s"),
        when(col("n") > 1 && corr > 0.0, hRaw / corr).as("h"))
    val ret = out.cache(); ret.count()
    pooled.unpersist(); cleanup()
    ret
  }

  /** Brown-Forsythe test (Levene's test with medians): homogeneity of
    * variance across the levels of `groupCol`, robust to non-normality —
    * the one-way ANOVA F applied to z = |x − median(group)|. Returns the
    * [[anovaOneWay]] row (k, n, ssb, ssw, f) computed over z.
    *
    * Plan: one distributed per-group median (the [[Reductions.groupQuantiles]]
    * stratified rank-pick — no percentile buffer), broadcast-joined back
    * (O(groups) rows), then the exact-sum ANOVA aggregation. */
  def brownForsythe(df: DataFrame, valueCol: String, groupCol: String)
      : DataFrame = {
    val x = col(valueCol).cast(DoubleType)
    val clean = df
      .filter(col(groupCol).isNotNull && x.isNotNull && !isnan(x))
      .select(col(groupCol).as("__g"), x.as("__x"))
    val med = Reductions.groupQuantiles(clean, "__g", "__x",
      Seq("__med" -> 0.5)).select(col("__g"), col("__med"))
    val z = clean.join(broadcast(med), "__g")
      .select(col("__g"), abs(col("__x") - col("__med")).as("__z"))
    anovaOneWay(z, "__z", "__g")
  }

  /** Floor-scaled exact sum over an aggregation (shared with the DuckDB
    * mirrors: SUM(CAST(FLOOR(x·10^d) AS DECIMAL)) / 10^d). */
  private def fs(c: Column, digits: Int): Column =
    Reductions.isum(c, digits)

  /** Collect a statistic frame (≤ `max` rows by contract) and rebuild it
    * as a literal — the tauFrame idiom: the caller's action then never
    * re-executes the (already unpersisted) input lineage. */
  private def materializeSmall(df: DataFrame, max: Int,
                               what: String): DataFrame = {
    val rows = df.collectBounded(max, what)
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(rows.toSeq, 1), df.schema)
  }

  /** Re-aggregate already-floor-scaled (10⁶) partial sums: the same
    * floor(·10⁶) pass — not "exact" in the mathematical sense (the
    * scaled-back double may sit an ulp under the integer), but BOTH
    * engines floor the same doubles, which is the property the oracle
    * needs (the q228 margin-resum pattern). */
  private def fs2(c: Column): Column = fs(c, 6)

  /** Two-group LOG-RANK test (Mantel-Cox): do the survival curves of
    * `groupCol == a` vs `== b` differ? Input rows are (duration, event,
    * group) with event = 1 observed / 0 right-censored (the
    * [[kaplanMeier]] contract plus a group). Returns one row
    * (o1, e1, v, chi2): observed events in group a, their expectation and
    * hypergeometric variance under H₀ accumulated over pooled event
    * times, and the χ²₁ statistic (o1−e1)²/v.
    *
    * The at-risk counts n_g(t) = total_g − Σ_{t'<t}(d_g+c_g) come from a
    * keyed cumulative window over the per-(time, group) COUNT frame —
    * O(distinct durations) rows (durations are bucketed units like days,
    * so the frame is small by construction; the data-sized pass is the
    * one groupBy). Per-time E/V terms are one fixed IEEE op sequence,
    * floor-scaled and summed exactly so reduce order cannot move them. */
  def logRank(df: DataFrame, durationCol: String, eventCol: String,
              groupCol: String, a: String, b: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = df
      .filter(col(durationCol).isNotNull && col(eventCol).isNotNull &&
        col(groupCol).isin(a, b))
      .groupBy(col(durationCol).cast(LongType).as("__t"),
        col(groupCol).as("__g"))
      .agg(sum(col(eventCol).cast(LongType)).as("__d"),
        sum(lit(1L) - col(eventCol).cast(LongType)).as("__c"))
    // complete (time × group) grid so cumulative at-risk counts see every
    // decrement, then keyed prefix sums over the O(times) frame
    val times = per.select(col("__t")).distinct()
    val groups = per.groupBy(col("__g"))
      .agg(sum(col("__d") + col("__c")).as("__tot"))
    val grid = times.crossJoin(broadcast(groups))
      .join(per, Seq("__t", "__g"), "left")
      .na.fill(0L, Seq("__d", "__c"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val risk = grid.withColumn("__n",
      col("__tot") - coalesce(sum(col("__d") + col("__c")).over(w), lit(0L)))
    val byT = risk.groupBy(col("__t"))
      .agg(sum(when(col("__g") === a, col("__n"))).as("__n1"),
        sum(when(col("__g") === a, col("__d"))).as("__d1"),
        sum(when(col("__g") === b, col("__n"))).as("__n2"),
        sum(when(col("__g") === b, col("__d"))).as("__d2"))
      .withColumn("__nt", col("__n1") + col("__n2"))
      .withColumn("__dt", col("__d1") + col("__d2"))
      .filter(col("__dt") > 0 && col("__nt") > 1)
    val ntD = col("__nt").cast(DoubleType)
    val dtD = col("__dt").cast(DoubleType)
    val eTerm = dtD * col("__n1").cast(DoubleType) / ntD
    val vTerm = dtD * (col("__n1").cast(DoubleType) / ntD) *
      (col("__n2").cast(DoubleType) / ntD) *
      (ntD - dtD) / (ntD - 1.0)
    byT.agg(sum(col("__d1")).as("o1"),
        fs(eTerm, 6).as("e1"), fs(vTerm, 9).as("v"))
      .select(col("o1"), col("e1"), col("v"),
        when(col("v") > 0.0,
          (col("o1").cast(DoubleType) - col("e1")) *
            (col("o1").cast(DoubleType) - col("e1")) / col("v"))
          .as("chi2"))
  }

  /** NELSON-AALEN cumulative hazard estimator — the additive sibling of
    * [[kaplanMeier]]: H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ over event times. Returns one
    * row per event time: (t, n_risk, d_events, h).
    *
    * Plan: ONE data-sized groupBy on the duration; at-risk counts are
    * total − prefix over the O(distinct durations) count frame; the
    * cumulative hazard is a window sum of exact integer (d·10⁹ div n)
    * per-time increments over the same bounded frame, so the fold replays
    * bit-exactly in SQL regardless of engine or partitioning (unlike a
    * raw double running sum, or a floored IEEE quotient, which can land
    * on either side of an exact boundary). The unpartitioned windows run on the
    * O(times) frame, never the data. */
  def nelsonAalen(df: DataFrame, durationCol: String, eventCol: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = df
      .filter(col(durationCol).isNotNull && col(eventCol).isNotNull)
      .groupBy(col(durationCol).cast(LongType).as("__t"))
      .agg(sum(col(eventCol).cast(LongType)).as("__d"),
        sum(lit(1L) - col(eventCol).cast(LongType)).as("__c"))
    val wPrior = Window.orderBy(col("__t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("__t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = per.agg(sum(col("__d") + col("__c")).as("__all"))
    val risk = per.crossJoin(broadcast(total))
      .withColumn("__n",
        col("__all") - coalesce(sum(col("__d") + col("__c")).over(wPrior),
          lit(0L)))
      // exact integer arithmetic: (d·10⁹) div n — flooring the IEEE
      // quotient d/n instead can land on either side of an exact-boundary
      // result depending on the engine's rounding of the division
      .withColumn("__inc", expr("(__d * CAST(1000000000 AS BIGINT)) div __n"))
    risk.withColumn("__hs", sum(col("__inc")).over(wCum))
      .filter(col("__d") > 0)
      .select(col("__t").as("t"), col("__n").as("n_risk"),
        col("__d").as("d_events"),
        (col("__hs").cast(DoubleType) / lit(1e9)).as("h"))
      .orderBy(col("t"))
  }

  /** Shannon entropies and MUTUAL INFORMATION between two categorical
    * columns (natural log): the dependence audit a curation pipeline runs
    * on (source × language), (shard × label), … — NMI near 1 means one
    * column is a relabeling of the other. Complete-case. Returns one row
    * (n, k_a, k_b, h_a, h_b, mi, nmi) with
    * MI = Σ_cells (n_ij/N)·ln(n_ij·N/(n_i·n_j)) and
    * NMI = MI/√(H_a·H_b) (null when either marginal entropy is 0).
    *
    * Plan: one keyed count per frame (joint + two marginals — the
    * marginals broadcast back onto the O(cells) joint frame), per-cell
    * terms in one fixed IEEE op sequence, floor-scaled (10⁹) exact sums
    * so cross-cell reduce order cannot move the result. */
  def entropyMi(df: DataFrame, colA: String, colB: String): DataFrame = {
    val clean = df.filter(col(colA).isNotNull && col(colB).isNotNull)
      .select(col(colA).as("__a"), col(colB).as("__b"))
    val joint = clean.groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__nij"))
    val ma = clean.groupBy(col("__a")).agg(count(lit(1)).as("__ni"))
    val mb = clean.groupBy(col("__b")).agg(count(lit(1)).as("__nj"))
    val tot = clean.agg(count(lit(1)).as("__n"))
    val nD = col("__n").cast(DoubleType)
    val miTerm = (col("__nij").cast(DoubleType) / nD) *
      log(col("__nij").cast(DoubleType) * nD /
        (col("__ni").cast(DoubleType) * col("__nj").cast(DoubleType)))
    val miAgg = joint.join(broadcast(ma), "__a").join(broadcast(mb), "__b")
      .crossJoin(broadcast(tot))
      .groupBy(col("__n"))
      .agg(fs(miTerm, 9).as("mi"))
    def entropy(cnt: String): Column = {
      val p = col(cnt).cast(DoubleType) / col("__n").cast(DoubleType)
      fs(-p * log(p), 9)
    }
    val ha = ma.crossJoin(broadcast(tot)).groupBy(col("__n"))
      .agg(count(lit(1)).as("k_a"), entropy("__ni").as("h_a"))
    val hb = mb.crossJoin(broadcast(tot)).groupBy(col("__n"))
      .agg(count(lit(1)).as("k_b"), entropy("__nj").as("h_b"))
    miAgg.join(ha, "__n").join(hb, "__n")
      .select(col("__n").as("n"), col("k_a"), col("k_b"),
        col("h_a"), col("h_b"), col("mi"),
        when(col("h_a") > 0.0 && col("h_b") > 0.0,
          col("mi") / sqrt(col("h_a") * col("h_b"))).as("nmi"))
  }

  /** LJUNG-BOX portmanteau statistic over the panel [[acf]]: is the
    * series white noise through `lags`? Q = Σ_k n_k(n_k+2)·r_k²/(n_k−k)
    * with n_k the pair count actually observed at lag k (the panel
    * variant — each key contributes its own lagged pairs, exactly the
    * [[acf]] estimator the statistic is built from). Returns one row
    * (h_lags, q_stat); the per-lag terms are one fixed IEEE op sequence
    * floor-scaled (10⁶) and summed exactly over the O(lags) frame.
    *
    * Plan: the [[acf]] single-window pass + one O(lags) aggregation. */
  def ljungBox(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
               valueCol: String, lags: Seq[Int]): DataFrame = {
    val r = acf(df, keyCols, orderCols, valueCol, lags)
    val nD = col("n").cast(DoubleType)
    val term = nD * (nD + 2.0) * col("acf") * col("acf") /
      (nD - col("lag").cast(DoubleType))
    r.filter(col("acf").isNotNull && nD > col("lag"))
      .agg(count(lit(1)).as("h_lags"), fs(term, 6).as("q_stat"))
  }

  /** MANN-KENDALL trend test over an AGGREGATED series frame (monthly /
    * daily rollups — the caller reduces the data first; this runs on the
    * O(m) result, m bounded by the calendar, so the O(m²) pair frame is
    * bounded by construction). `valueCol` must be an exact integer metric
    * (cents, counts) so sign comparisons are tie-exact. Returns one row
    * (n, s, var_s, z): S = Σ_{j<k} sign(v_k − v_j), the tie-corrected
    * variance, and the continuity-corrected normal score. Everything is
    * integer until the final two-op division. */
  def mannKendall(df: DataFrame, orderCol: String, valueCol: String)
      : DataFrame = {
    val a = df.select(col(orderCol).as("__t1"),
      col(valueCol).cast(LongType).as("__v1"))
    val b = df.select(col(orderCol).as("__t2"),
      col(valueCol).cast(LongType).as("__v2"))
    val sAgg = a.join(b, col("__t1") < col("__t2"))
      .agg(sum(signum(col("__v2") - col("__v1")).cast(LongType)).as("s"))
    val nAgg = a.agg(count(lit(1)).as("n"))
    val tieAgg = a.groupBy(col("__v1")).agg(count(lit(1)).as("__t"))
      .agg(coalesce(sum(col("__t") * (col("__t") - 1) *
        (lit(2) * col("__t") + 5)), lit(0L)).as("__tt"))
    val nD = col("n").cast(DoubleType)
    val varS = (nD * (nD - 1.0) * (lit(2.0) * nD + 5.0) -
      col("__tt").cast(DoubleType)) / lit(18.0)
    nAgg.crossJoin(sAgg).crossJoin(tieAgg)
      .select(col("n"), col("s"), varS.as("var_s"),
        when(varS > 0.0,
          when(col("s") > 0, (col("s").cast(DoubleType) - 1.0) / sqrt(varS))
            .when(col("s") < 0,
              (col("s").cast(DoubleType) + 1.0) / sqrt(varS))
            .otherwise(lit(0.0))).as("z"))
  }

  /** TWO-FACTOR cell-means DECOMPOSITION (two-way ANOVA, Type-I-style):
    * SS_A, SS_B, SS_cells (⇒ interaction = cells − A − B as the
    * remainder — exact algebra for balanced designs, the standard
    * descriptive decomposition otherwise, which is what a data audit
    * wants), SS_within = total − cells, and the two main-effect F's.
    * Returns one row (n, ka, kb, ss_a, ss_b, ss_int, ss_within, f_a,
    * f_b).
    *
    * Everything reduces to per-group exact moment sums (one pass builds
    * cell/margin/global sums); the between-terms are floor-scaled at
    * 10⁹ per the ANOVA house pattern so reduce order cannot move F. */
  def twoWayAnova(df: DataFrame, aCol: String, bCol: String,
                  valueCol: String): DataFrame = {
    val x = col(valueCol).cast(DoubleType)
    val clean = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull &&
        x.isNotNull && !isnan(x))
      .select(col(aCol).as("__a"), col(bCol).as("__b"), x.as("__x"))
    val cells = clean.groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__n"), fs(col("__x"), 6).as("__s"),
        fs(col("__x") * col("__x"), 6).as("__ss"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cells.count()
    val tot = cells.agg(sum(col("__n")).as("n"),
      fs2(col("__s")).as("s"), fs2(col("__ss")).as("ss"))
    val nD = col("n").cast(DoubleType)
    // between-term for a margin frame: Σ s_g²/n_g, floor-scaled at 10⁹
    def between(margin: DataFrame, k: String): DataFrame =
      margin.agg(count(lit(1)).as(k),
        fs(col("__s") * col("__s") / col("__n").cast(DoubleType), 9)
          .as(s"__bt_$k"))
    val byA = between(cells.groupBy(col("__a"))
      .agg(sum(col("__n")).as("__n"), fs2(col("__s")).as("__s")), "ka")
    val byB = between(cells.groupBy(col("__b"))
      .agg(sum(col("__n")).as("__n"), fs2(col("__s")).as("__s")), "kb")
    val byC = cells.agg(count(lit(1)).as("kc"),
      fs(col("__s") * col("__s") / col("__n").cast(DoubleType), 9)
        .as("__bt_kc"))
    val cm = col("s") * col("s") / nD // correction term
    val out = tot.crossJoin(broadcast(byA)).crossJoin(broadcast(byB))
      .crossJoin(broadcast(byC))
      .select(col("n"), col("ka"), col("kb"),
        (col("__bt_ka") - cm).as("ss_a"), (col("__bt_kb") - cm).as("ss_b"),
        (col("__bt_kc") - (col("__bt_ka") - cm) - (col("__bt_kb") - cm) -
          cm).as("ss_int"),
        (col("ss") - col("__bt_kc")).as("ss_within"),
        col("kc"), col("__bt_kc").as("__btc"))
    val dfw = col("n").cast(DoubleType) - col("kc").cast(DoubleType)
    val msw = col("ss_within") / dfw
    val res = out.select(col("n"), col("ka"), col("kb"), col("ss_a"),
      col("ss_b"),
      col("ss_int"), col("ss_within"),
      when(dfw > 0.0 && msw > 0.0 && col("ka") > 1,
        (col("ss_a") / (col("ka").cast(DoubleType) - 1.0)) / msw)
        .as("f_a"),
      when(dfw > 0.0 && msw > 0.0 && col("kb") > 1,
        (col("ss_b") / (col("kb").cast(DoubleType) - 1.0)) / msw)
        .as("f_b"))
    // materialize the one-row result so the cells cache can be released
    // before returning (otherwise each call leaks a session-lifetime
    // MEMORY_AND_DISK frame)
    val ret = res.cache(); ret.count()
    cells.unpersist()
    ret
  }

  /** FRIEDMAN test over complete blocks: do the k treatments rank the
    * same within every block (user)? Input is the long
    * (block, treatment, score) frame; blocks missing any treatment are
    * dropped (complete-case, the standard requirement). Doubled average
    * ranks keep everything integer until one fixed scalar sequence:
    * χ²_F = 3·Σ_j R2_j²/(b·k·(k+1)) − 3·b·(k+1) with R2_j the doubled
    * rank sum of treatment j. Returns one row (b, k, chi2_f).
    *
    * Plan: ranks come from per-block keyed windows over k rows each
    * (bounded by the treatment count); one keyed aggregation per side. */
  def friedman(df: DataFrame, blockCol: String, treatCol: String,
               scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.filter(col(blockCol).isNotNull &&
        col(treatCol).isNotNull && col(scoreCol).isNotNull)
      .select(col(blockCol).as("__blk"), col(treatCol).as("__t"),
        col(scoreCol).cast(DoubleType).as("__x"))
    val k = base.select(col("__t")).distinct().count()
    val complete = base.groupBy(col("__blk"))
      .agg(countDistinct(col("__t")).as("__kt"))
      .filter(col("__kt") === k).select(col("__blk"))
    val kept = base.join(complete, "__blk")
    val wR = Window.partitionBy(col("__blk")).orderBy(col("__x"))
    val wT = Window.partitionBy(col("__blk"), col("__x"))
    // doubled average rank: 2·rank + ties − 1 (always integer)
    val ranked = kept.withColumn("__dr",
      lit(2) * rank().over(wR) + count(lit(1)).over(wT) - 1)
    val perT = ranked.groupBy(col("__t"))
      .agg(sum(col("__dr")).as("__r2"))
    val b = complete.count()
    val kD = k.toDouble; val bD = b.toDouble
    // 12/(bk(k+1))·Σ(R2/2)² = 3·ΣR2²/(bk(k+1)) — the /4 folds into 12
    val term = lit(3.0) * col("__r2").cast(DoubleType) *
      col("__r2").cast(DoubleType) /
      (lit(bD) * lit(kD) * lit(kD + 1.0))
    perT.agg(fs(term, 6).as("__s"))
      .select(lit(b).as("b"), lit(k).as("k"),
        (col("__s") - lit(3.0) * lit(bD) * lit(kD + 1.0)).as("chi2_f"))
  }

  /** WALD-WOLFOWITZ RUNS TEST for randomness of a median-split series:
    * too few runs = trending, too many = oscillating. Input is an
    * AGGREGATED ordered series frame (the Mann-Kendall contract);
    * values equal to the split point drop (standard). Returns one row
    * (n1, n2, runs, z) — integers until the fixed z sequence. The
    * lag/run count rides the O(m) bounded frame. */
  def runsTest(df: DataFrame, orderCol: String, valueCol: String,
               split: Column, maxSeriesRows: Long = 1L << 22): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col(orderCol))
    val signed = df
      .select(col(orderCol), col(valueCol).cast(DoubleType).as("__x"))
      .crossJoin(broadcast(df.agg(split.as("__m"))))
      .filter(col("__x") =!= col("__m"))
      // in-plan series-bound guard — see [[seriesBound]]
      .withColumn("__x", seriesBound(col("__x"),
        count(lit(1)).over(Window.partitionBy()), maxSeriesRows,
        "runsTest"))
      .withColumn("__up", (col("__x") > col("__m")).cast("int"))
    val runs = signed
      .withColumn("__prev", lag(col("__up"), 1).over(w))
      .agg(sum(col("__up")).cast(LongType).as("n1"),
        sum(lit(1) - col("__up")).cast(LongType).as("n2"),
        (sum(when(col("__prev").isNull ||
          col("__prev") =!= col("__up"), 1L).otherwise(0L)))
          .as("runs"))
    val n1 = col("n1").cast(DoubleType); val n2 = col("n2").cast(DoubleType)
    val nT = n1 + n2
    val e = lit(1.0) + lit(2.0) * n1 * n2 / nT
    val v = lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - n1 - n2) /
      (nT * nT * (nT - 1.0))
    runs.select(col("n1"), col("n2"), col("runs"),
      when(v > 0.0, (col("runs").cast(DoubleType) - e) / sqrt(v)).as("z"))
  }

  /** PARTIAL CORRELATION r_xy·z — the x↔y association with the
    * confounder z regressed out: (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)).
    * All three Pearsons come from ONE aggregation of floor-scaled exact
    * co-moments (9 sums + count), then a fixed IEEE sequence — the
    * "does quality still predict engagement after controlling for
    * length" audit. Returns one row (n, r_xy, r_xz, r_yz, r_xy_z). */
  def partialCorr(df: DataFrame, xCol: String, yCol: String, zCol: String)
      : DataFrame = {
    val x = col(xCol).cast(DoubleType); val y = col(yCol).cast(DoubleType)
    val z = col(zCol).cast(DoubleType)
    val clean = df.filter(x.isNotNull && y.isNotNull && z.isNotNull &&
        !isnan(x) && !isnan(y) && !isnan(z))
      .select(x.as("__x"), y.as("__y"), z.as("__z"))
    val agg = clean.agg(count(lit(1)).as("n"),
      fs(col("__x"), 6).as("sx"), fs(col("__y"), 6).as("sy"),
      fs(col("__z"), 6).as("sz"),
      fs(col("__x") * col("__x"), 6).as("sxx"),
      fs(col("__y") * col("__y"), 6).as("syy"),
      fs(col("__z") * col("__z"), 6).as("szz"),
      fs(col("__x") * col("__y"), 6).as("sxy"),
      fs(col("__x") * col("__z"), 6).as("sxz"),
      fs(col("__y") * col("__z"), 6).as("syz"))
    val nD = col("n").cast(DoubleType)
    def r(sab: Column, sa: Column, sb: Column, saa: Column, sbb: Column) = {
      val va = nD * saa - sa * sa; val vb = nD * sbb - sb * sb
      when(va > 0.0 && vb > 0.0,
        (nD * sab - sa * sb) / (sqrt(va) * sqrt(vb)))
    }
    val rxy = r(col("sxy"), col("sx"), col("sy"), col("sxx"), col("syy"))
    val rxz = r(col("sxz"), col("sx"), col("sz"), col("sxx"), col("szz"))
    val ryz = r(col("syz"), col("sy"), col("sz"), col("syy"), col("szz"))
    agg.select(col("n"), rxy.as("r_xy"), rxz.as("r_xz"), ryz.as("r_yz"),
      when(rxy.isNotNull && rxz.isNotNull && ryz.isNotNull &&
        (lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz) > 0.0,
        (rxy - rxz * ryz) /
          sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)))
        .as("r_xy_z"))
  }

  /** CRONBACH'S ALPHA internal-consistency reliability over k item
    * columns: α = k/(k−1)·(1 − Σ varᵢ / var(total)). Population
    * variances from floor-scaled exact sums in ONE aggregation (each
    * item's moments plus the row-total's). Returns one row
    * (n, k, sum_item_var, total_var, alpha). */
  def cronbachAlpha(df: DataFrame, itemCols: Seq[String]): DataFrame = {
    require(itemCols.size >= 2, "alpha needs ≥ 2 items")
    val items = itemCols.map(c => col(c).cast(DoubleType))
    val clean = df.filter(items.map(c => c.isNotNull && !isnan(c))
        .reduce(_ && _))
      .select(items.zipWithIndex.map { case (c, i) => c.as(s"__i$i") }: _*)
      .withColumn("__tot",
        itemCols.indices.map(i => col(s"__i$i")).reduce(_ + _))
    val aggs = itemCols.indices.flatMap { i =>
      Seq(fs(col(s"__i$i"), 6).as(s"s$i"),
        fs(col(s"__i$i") * col(s"__i$i"), 6).as(s"ss$i"))
    } ++ Seq(fs(col("__tot"), 6).as("st"),
      fs(col("__tot") * col("__tot"), 6).as("sst"))
    val agg = clean.agg(count(lit(1)).as("n"), aggs: _*)
    val nD = col("n").cast(DoubleType)
    def varPop(s: Column, ss: Column) = (ss - s * s / nD) / nD
    val sumVars = itemCols.indices
      .map(i => varPop(col(s"s$i"), col(s"ss$i")))
      .reduce(_ + _)
    val totVar = varPop(col("st"), col("sst"))
    val k = itemCols.size.toDouble
    agg.select(col("n"), lit(itemCols.size).as("k"),
      sumVars.as("sum_item_var"), totVar.as("total_var"),
      when(totVar > 0.0,
        lit(k / (k - 1.0)) * (lit(1.0) - sumVars / totVar)).as("alpha"))
  }

  /** BOX-COX LADDER fit: profile log-likelihood of the classic
    * ladder-of-powers transforms λ ∈ {−1, 0, ½, 1, 2} for a POSITIVE
    * metric — which variance-stabilizing transform should the pipeline
    * apply before z-scoring? LL(λ) = −n/2·ln(var_pop z_λ) + (λ−1)·Σln x.
    * Returns one row per λ: (lambda, n, var_z, loglik, is_best)
    * (best = max LL, ties to the smaller λ).
    *
    * The grid is DELIBERATELY libm-pow-free: 1/x, ln x, √x, x, x² are
    * exact or correctly-rounded IEEE ops on every engine, so the
    * floor-scaled moment sums replay bit-exactly — a pow(x, 0.3)-style
    * grid would differ in last-ulp between libms and poison the floors.
    * One pass: the 5 transforms ride a single aggregation. */
  def boxCoxLadder(df: DataFrame, valueCol: String): DataFrame = {
    val x = col(valueCol).cast(DoubleType)
    val clean = df.filter(x.isNotNull && !isnan(x) && x > 0.0)
      .select(x.as("__x"))
    val lambdas: Seq[(Double, Column => Column)] = Seq(
      (-1.0, c => (lit(1.0) / c - 1.0) / lit(-1.0)),
      (0.0, c => log(c)),
      (0.5, c => (sqrt(c) - 1.0) / lit(0.5)),
      (1.0, c => c - 1.0),
      (2.0, c => (c * c - 1.0) / lit(2.0)))
    val zCols = lambdas.zipWithIndex.flatMap { case ((_, f), i) =>
      val z = f(col("__x"))
      Seq(fs(z, 6).as(s"__s_$i"), fs(z * z, 2).as(s"__ss_$i"))
    }
    val agg = clean.agg(count(lit(1)).as("n"),
      (fs(log(col("__x")), 6).as("__slnx") +: zCols): _*)
    val nD = col("n").cast(DoubleType)
    val rows = lambdas.zipWithIndex.map { case ((l, _), i) =>
      val s = col(s"__s_$i"); val ss = col(s"__ss_$i")
      val varZ = (ss - s * s / nD) / nD
      struct(lit(l).as("lambda"), col("n").as("n"), varZ.as("var_z"),
        when(varZ > 0.0,
          lit(-0.5) * nD * log(varZ) + (lit(l) - 1.0) * col("__slnx"))
          .as("loglik"))
    }
    val exploded = agg.select(explode(array(rows: _*)).as("r"))
      .select(col("r.lambda").as("lambda"), col("r.n").as("n"),
        col("r.var_z").as("var_z"), col("r.loglik").as("loglik"))
    import org.apache.spark.sql.expressions.Window
    val wBest = Window.orderBy(col("loglik").desc_nulls_last,
      col("lambda").asc)
    exploded
      .withColumn("is_best", row_number().over(wBest) === 1)
      .orderBy(col("lambda"))
  }

  /** WEIGHT-OF-EVIDENCE table + INFORMATION VALUE for a categorical
    * feature against a binary label (the credit-scoring encoder; also
    * the "which source predicts quality" curation audit):
    * WoE_i = ln((g_i/G)/(b_i/B)), IV = Σ (g_i/G − b_i/B)·WoE_i over
    * categories with both counts positive. Returns one row per category
    * (category, n, goods, bads, woe, iv) — iv is the total, repeated
    * (broadcast) for table-shaped output.
    *
    * Integer counts until the fixed ln sequence; the IV sum is
    * floor-scaled (10⁹) over the O(categories) frame. */
  def woeTable(df: DataFrame, catCol: String, label: Column): DataFrame = {
    val l = label.cast(BooleanType)
    val per = df.filter(col(catCol).isNotNull && l.isNotNull)
      .groupBy(col(catCol).as("category"))
      .agg(count(lit(1)).as("n"),
        sum(when(l, 1L).otherwise(0L)).as("goods"),
        sum(when(!l, 1L).otherwise(0L)).as("bads"))
    val tot = per.agg(sum(col("goods")).as("__g"), sum(col("bads")).as("__b"))
    val gD = col("goods").cast(DoubleType) / col("__g").cast(DoubleType)
    val bD = col("bads").cast(DoubleType) / col("__b").cast(DoubleType)
    val woe = when(col("goods") > 0 && col("bads") > 0, log(gD / bD))
    val base = per.crossJoin(broadcast(tot))
      .withColumn("woe", woe)
      .withColumn("__term",
        when(col("woe").isNotNull, (gD - bD) * col("woe")).otherwise(0.0))
    val iv = base.agg(fs(col("__term"), 9).as("iv"))
    base.crossJoin(broadcast(iv))
      .select(col("category"), col("n"), col("goods"), col("bads"),
        // ln() differs in last ulp between libms: floor-scale the
        // DISPLAYED woe at 10⁹ (the IV term is floor-summed already)
        (floor(col("woe") * lit(1e9)).cast(LongType).cast(DoubleType) /
          lit(1e9)).as("woe"),
        col("iv"))
      .orderBy(col("category"))
  }

  /** HILL TAIL-INDEX estimator for a power-law-ish positive metric
    * (degree distributions, document lengths, purchase sizes):
    * α̂ = 1 + n / Σ_{x ≥ xmin} ln(x/xmin) — the discrete MLE form
    * (Clauset et al. 2009). Heavy-tailed web/social degree data sits
    * near α ∈ [2, 3]; a far-off α̂ flags truncation or spam. Returns one
    * row (n_tail, x_min, alpha); null α when the tail is empty or all
    * at xmin. One filter + one aggregation; the log terms are
    * floor-scaled (10⁹) exact sums. */
  def hillTailIndex(df: DataFrame, valueCol: String, xmin: Long)
      : DataFrame = {
    require(xmin >= 1, "xmin must be ≥ 1")
    val x = col(valueCol).cast(DoubleType)
    // NaN sorts greatest in Spark (NaN >= xmin is TRUE) — guard it out
    // explicitly, matching the NOT isnan predicate in the SQL mirror
    val tail = df.filter(x.isNotNull && !isnan(x) && x >= lit(xmin.toDouble))
    val lnTerm = log(x / lit(xmin.toDouble))
    tail.agg(count(lit(1)).as("n_tail"),
        fs(lnTerm, 9).as("__s"))
      .select(col("n_tail"), lit(xmin).as("x_min"),
        when(col("__s") > 0.0,
          lit(1.0) + col("n_tail").cast(DoubleType) / col("__s"))
          .as("alpha"))
  }

  /** COCHRAN-MANTEL-HAENSZEL test for a 2×2 association ACROSS strata
    * (the Simpson's-paradox-proof A/B readout: does exposure associate
    * with outcome after stratifying?). Returns one row
    * (k_strata, o_minus_e, v, chi2) with
    * χ² = (Σ(aᵢ − E aᵢ))² / Σ Vᵢ (continuity-uncorrected).
    *
    * Plan: ONE keyed aggregation builds each stratum's four integer
    * margins; per-stratum E/V terms are a fixed IEEE sequence
    * floor-scaled (10⁶/10⁹) and summed exactly over the O(strata)
    * frame. Strata with a single subject (n ≤ 1) drop out, as in the
    * standard definition. */
  def cmh(df: DataFrame, stratumCol: String, exposure: Column,
          outcome: Column): DataFrame = {
    val e = exposure.cast(BooleanType)
    val o = outcome.cast(BooleanType)
    val per = df
      .filter(col(stratumCol).isNotNull && e.isNotNull && o.isNotNull)
      .groupBy(col(stratumCol).as("__s"))
      .agg(sum(when(e && o, 1L).otherwise(0L)).as("__a"),
        sum(when(e, 1L).otherwise(0L)).as("__r1"),
        sum(when(o, 1L).otherwise(0L)).as("__c1"),
        count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
    val nt = col("__n").cast(DoubleType)
    val r1 = col("__r1").cast(DoubleType)
    val c1 = col("__c1").cast(DoubleType)
    val eTerm = col("__a").cast(DoubleType) - r1 * c1 / nt
    val vTerm = r1 * (nt - r1) * c1 * (nt - c1) /
      (nt * nt * (nt - 1.0))
    per.agg(count(lit(1)).as("k_strata"),
        fs(eTerm, 6).as("o_minus_e"), fs(vTerm, 9).as("v"))
      .select(col("k_strata"), col("o_minus_e"), col("v"),
        when(col("v") > 0.0,
          col("o_minus_e") * col("o_minus_e") / col("v")).as("chi2"))
  }

  /** McNEMAR's test on paired classifier correctness: given per-row
    * booleans "was A right" / "was B right", do A and B disagree
    * symmetrically? Returns one row (n00, n01, n10, n11, chi2) where
    * n01 = A wrong ∧ B right, n10 = A right ∧ B wrong, and
    * chi2 = (n01−n10)²/(n01+n10) (continuity-uncorrected; null when the
    * discordant count is 0). One keyed-free aggregation — all counts stay
    * integers until the single final division. */
  def mcnemar(df: DataFrame, aCorrect: Column, bCorrect: Column)
      : DataFrame = {
    val a = aCorrect.cast(BooleanType)
    val b = bCorrect.cast(BooleanType)
    val cnt = (pa: Boolean, pb: Boolean) =>
      sum(when(a === lit(pa) && b === lit(pb), 1L).otherwise(0L))
    df.filter(a.isNotNull && b.isNotNull)
      .agg(cnt(false, false).as("n00"), cnt(false, true).as("n01"),
        cnt(true, false).as("n10"), cnt(true, true).as("n11"))
      .select(col("n00"), col("n01"), col("n10"), col("n11"),
        when(col("n01") + col("n10") > 0,
          (col("n01") - col("n10")).cast(DoubleType) *
            (col("n01") - col("n10")).cast(DoubleType) /
            (col("n01") + col("n10")).cast(DoubleType)).as("chi2"))
  }

  /** AR(2) fit per series via YULE-WALKER (Levinson–Durbin order 2
    * closed form): the next-step structure of a metric series — is today
    * predictable from yesterday and the day before, and with what signs?
    * Per key: lag-1/lag-2 sample autocorrelations r₁, r₂ (the [[acf]]
    * Pearson-over-lag-pairs estimator, per key instead of pooled), then
    *   φ₂ = (r₂ − r₁²)/(1 − r₁²),  φ₁ = r₁(1 − r₂)/(1 − r₁²).
    * A pure AR(1) series has r₂ = r₁² exactly → φ₂ = 0, so the fit
    * doubles as a "is one lag enough" diagnostic. COMPLETE-CASE SERIES:
    * null/NaN rows are removed BEFORE lagging (unlike [[acf]], which lags
    * the raw series and drops incomplete pairs — here the fitted model
    * needs one coherent series). Returns per key
    * (key…, n, n1, n2, r1, r2, phi1, phi2); r/φ null when a lag has < 2
    * pairs, a variance side is 0, or 1 − r₁² = 0.
    *
    * Plan: ONE keyed window pass (both lag columns share the exchange) +
    * one keyed aggregation with conditional floor-scaled exact sums — a
    * single data shuffle; every key computes independently (10⁹ series
    * scale out, no pooled state). */
  def arFit2(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
             valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x0 = col(valueCol).cast(DoubleType)
    val clean = df.filter(x0.isNotNull && !isnan(x0))
      .select((keyCols ++ orderCols).map(col) :+ x0.as("__x"): _*)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val lagged = clean
      .withColumn("__y1", lag(col("__x"), 1).over(w))
      .withColumn("__y2", lag(col("__x"), 2).over(w))
    def pairSums(yc: String, k: Int): Seq[Column] = {
      val y = col(yc); val x = col("__x")
      val on = y.isNotNull
      Seq(sum(when(on, 1L).otherwise(0L)).as(s"__n$k"),
        Reductions.isum(when(on, x), 6).as(s"__sx$k"),
        Reductions.isum(y, 6).as(s"__sy$k"),
        Reductions.isum(when(on, x * x), 6).as(s"__sxx$k"),
        Reductions.isum(y * y, 6).as(s"__syy$k"),
        Reductions.isum(x * y, 6).as(s"__sxy$k"))
    }
    val aggd = lagged.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        pairSums("__y1", 1) ++ pairSums("__y2", 2): _*)
    def r(k: Int): Column = {
      val n = col(s"__n$k").cast(DoubleType)
      val sx = col(s"__sx$k"); val sy = col(s"__sy$k")
      val sxx = col(s"__sxx$k"); val syy = col(s"__syy$k")
      val sxy = col(s"__sxy$k")
      when(col(s"__n$k") >= 2 &&
        (n * sxx - sx * sx) > 0 && (n * syy - sy * sy) > 0,
        (n * sxy - sx * sy) /
          (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)))
    }
    val r1 = r(1); val r2 = r(2)
    val den = lit(1.0) - r1 * r1
    val phi2 = when(r1.isNotNull && r2.isNotNull && den =!= 0.0,
      (r2 - r1 * r1) / den)
    val phi1 = when(r1.isNotNull && r2.isNotNull && den =!= 0.0,
      r1 * (lit(1.0) - r2) / den)
    aggd.select(keyCols.map(col) ++ Seq(col("n"),
      col("__n1").as("n1"), col("__n2").as("n2"),
      r1.as("r1"), r2.as("r2"),
      phi1.as("phi1"), phi2.as("phi2")): _*)
  }

  /** SINGLE CHANGEPOINT per series (binary-segmentation step 1 / CUSUM
    * argmax): the split index that maximizes the between-segment
    * sum-of-squares reduction
    *   gain(t) = t(n−t)/n · (mean_left − mean_right)²,  1 ≤ t < n —
    * "where did this metric's level shift?". Complete-case series (the
    * index is over observed values). Returns per key
    * (key…, n, cp_index, gain, mean_left, mean_right) with cp_index the
    * 1-based length of the left segment; keys with n < 2 are absent.
    *
    * Determinism: prefix sums are EXACT integers (Σ⌊x·10⁶⌋ longs in a
    * keyed running window), gain is one fixed IEEE sequence floor-scaled
    * at 10⁶ before the argmax, so the winning split — including ties,
    * broken toward the SMALLEST index — is engine-invariant.
    *
    * Plan: one keyed window pass (running sum + row number + per-key
    * totals share the exchange) + one keyed max-of-struct aggregation;
    * no per-key buffers, no driver data. */
  def changepoint(df: DataFrame, keyCols: Seq[String],
                  orderCols: Seq[String], valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x0 = col(valueCol).cast(DoubleType)
    val clean = df.filter(x0.isNotNull && !isnan(x0))
      .select((keyCols ++ orderCols).map(col) :+
        floor(x0 * lit(1e6)).cast(LongType).as("__xi"): _*)
    val wOrd = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val wAll = Window.partitionBy(keyCols.map(col): _*)
    val pre = clean
      .withColumn("__t", row_number().over(wOrd))
      .withColumn("__s", sum(col("__xi")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__sn", sum(col("__xi")).over(wAll))
      .filter(col("__t") < col("__n"))
    val tD = col("__t").cast(DoubleType)
    val nD = col("__n").cast(DoubleType)
    val sL = col("__s").cast(DoubleType) / lit(1e6)
    val sR = (col("__sn") - col("__s")).cast(DoubleType) / lit(1e6)
    val mL = sL / tD
    val mR = sR / (nD - tD)
    val d = mL - mR
    val gainS = floor(tD * (nD - tD) / nD * d * d * lit(1e6))
      .cast(LongType)
    pre.select(keyCols.map(col) :+ struct(
        gainS.as("g"), (-col("__t")).as("nt"), col("__n").as("n"),
        mL.as("ml"), mR.as("mr")).as("__c"): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(max(col("__c")).as("__w"))
      .select(keyCols.map(col) ++ Seq(
        col("__w.n").as("n"),
        (-col("__w.nt")).cast(LongType).as("cp_index"),
        (col("__w.g").cast(DoubleType) / lit(1e6)).as("gain"),
        col("__w.ml").as("mean_left"), col("__w.mr").as("mean_right")): _*)
  }

  /** SEGMENTED TREND — the [[changepoint]] made actionable: split each
    * series at its detected changepoint and fit an OLS slope (vs the
    * 1-based observation index) on each side, so "the level shifted at
    * t=47" becomes "…and the trend went from +0.2/step to −1.4/step".
    * Same detection as [[changepoint]] (exact integer prefix sums,
    * floor-scaled gain, smallest-index ties); slopes come from exact
    * moment sums over integer positions (Σt, Σt² are exact longs; Σx,
    * Σtx floor-scaled). Returns per key
    * (key…, n, cp_index, slope_left, slope_right, slope_change); a
    * segment with < 2 points or zero index variance yields a null slope.
    * Keys with n < 2 are absent.
    *
    * Plan: the changepoint window pass + one broadcast of the O(keys)
    * winner frame back onto the indexed rows + one keyed segment
    * aggregation — two shuffles total. */
  def segmentedTrend(df: DataFrame, keyCols: Seq[String],
                     orderCols: Seq[String], valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x0 = col(valueCol).cast(DoubleType)
    val clean = df.filter(x0.isNotNull && !isnan(x0))
      .select((keyCols ++ orderCols).map(col) :+ x0.as("__x"): _*)
    val wOrd = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val wAll = Window.partitionBy(keyCols.map(col): _*)
    val idx = clean
      .withColumn("__xi", floor(col("__x") * lit(1e6)).cast(LongType))
      .withColumn("__t", row_number().over(wOrd))
      .withColumn("__s", sum(col("__xi")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__sn", sum(col("__xi")).over(wAll))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tD = col("__t").cast(DoubleType)
    val nD = col("__n").cast(DoubleType)
    val sL = col("__s").cast(DoubleType) / lit(1e6)
    val sR = (col("__sn") - col("__s")).cast(DoubleType) / lit(1e6)
    val d = sL / tD - sR / (nD - tD)
    val gainS = floor(tD * (nD - tD) / nD * d * d * lit(1e6)).cast(LongType)
    val win = idx.filter(col("__t") < col("__n"))
      .select(keyCols.map(col) :+
        struct(gainS.as("g"), (-col("__t")).as("nt")).as("__c"): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(max(col("__c")).as("__w"))
      .select(keyCols.map(col) :+ (-col("__w.nt")).as("__cp"): _*)
    def slope(pfx: String): Column = {
      val n = col(s"${pfx}n").cast(DoubleType)
      val den = n * col(s"${pfx}stt").cast(DoubleType) -
        col(s"${pfx}st").cast(DoubleType) * col(s"${pfx}st").cast(DoubleType)
      when(col(s"${pfx}n") >= 2 && den > 0.0,
        (n * col(s"${pfx}stx") -
          col(s"${pfx}st").cast(DoubleType) * col(s"${pfx}sx")) / den)
    }
    val seg = idx.join(win, keyCols)
      .withColumn("__left", col("__t") <= col("__cp"))
    def side(isLeft: Boolean, pfx: String): Seq[Column] = {
      val on = if (isLeft) col("__left") else !col("__left")
      Seq(sum(when(on, 1L).otherwise(0L)).as(s"${pfx}n"),
        sum(when(on, col("__t").cast(LongType))).as(s"${pfx}st"),
        sum(when(on, col("__t").cast(LongType) * col("__t").cast(LongType)))
          .as(s"${pfx}stt"),
        Reductions.isum(when(on, col("__x")), 6).as(s"${pfx}sx"),
        Reductions.isum(when(on, tD * col("__x")), 6).as(s"${pfx}stx"))
    }
    val aggs = side(true, "__l") ++ side(false, "__r")
    val out = seg.groupBy((keyCols.map(col) :+ col("__n") :+ col("__cp")): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(keyCols.map(col) ++ Seq(
        col("__n").as("n"), col("__cp").cast(LongType).as("cp_index"),
        slope("__l").as("slope_left"), slope("__r").as("slope_right"),
        (slope("__r") - slope("__l")).as("slope_change")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    idx.unpersist()
    out
  }

  /** POPULATION STABILITY INDEX between a reference and a current slice
    * of one numeric column — the model-monitoring drift scalar
    * (PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted):
    *   PSI = Σ_bins (p_cur − p_ref) · ln(p_cur/p_ref)
    * over `bins` equal-frequency bins cut from the REFERENCE slice's
    * exact quantiles (ties → lower bin, the q154 binning convention).
    * Proportions are Haldane-smoothed — p = (c + ½)/(C + b/2) — so an
    * empty current bin contributes a finite (and loud) term instead of ∞.
    * Returns one row (n_ref, n_cur, k_bins, psi). Rows matching neither
    * condition are ignored; null/NaN values are complete-cased.
    *
    * Plan: one rank-selection quantile fit on the reference (O(bins)
    * scalars to the driver), bin edges compiled as literals into ONE
    * codegen pass over the data, then an O(2·bins) frame carries the
    * per-bin ln terms (floor-scaled 10⁹, the q231 ln convention). */
  def psi(df: DataFrame, valueCol: String, refCond: Column,
          curCond: Column, bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bins=$bins out of [2, 1000]")
    val x = col(valueCol).cast(DoubleType)
    val clean = df.filter(x.isNotNull && !isnan(x) &&
        (refCond || curCond))
      .select(when(refCond, lit("ref")).otherwise(lit("cur")).as("__side"),
        x.as("__x"))
    val edges = Ml.exactQuantilesRankPick(
      clean.filter(col("__side") === "ref"), "__x",
      (1 until bins).map(_.toDouble / bins))
    // an empty reference yields NaN edges — every comparison false, all
    // rows silently landing in bin 1; fail loudly instead
    require(!edges.exists(_.isNaN),
      "psi: the reference slice is empty — no bin edges can be fit")
    val bin = edges.foldLeft(lit(1)) { (acc, e) =>
      acc + when(col("__x") > lit(e), 1).otherwise(0) }
    val counts = clean
      .select(col("__side"), bin.as("__bin"))
      .groupBy(col("__side"), col("__bin"))
      .agg(count(lit(1)).as("__c"))
    psiFromCounts(counts, bins)
  }

  /** The PSI finishing arithmetic over a sparse (side, bin, count) frame
    * — `__side ∈ {ref, cur}`, `__bin ∈ 1..bins`, `__c` — shared by the
    * batch [[psi]] and the streaming drift monitor (which accumulates the
    * same count frame through a streaming aggregation and finishes on the
    * O(bins) sink table). Missing (side, bin) cells count 0. */
  private[graft] def psiFromCounts(counts: DataFrame, bins: Int)
      : DataFrame = {
    // dense (side × bin) grid so empty bins still contribute their
    // smoothed term — O(2·bins) rows, broadcast-joined
    val spark = counts.sparkSession
    import spark.implicits._
    val grid = spark.range(1, bins + 1).toDF("__bin")
      .crossJoin(Seq("ref", "cur").toDF("__side"))
    val dense = grid.join(counts, Seq("__side", "__bin"), "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
    val tot = dense.groupBy(col("__side"))
      .agg(sum(col("__c")).as("__tot"))
    val withTot = dense.join(broadcast(tot), "__side")
    val p = (col("__c").cast(DoubleType) + lit(0.5)) /
      (col("__tot").cast(DoubleType) + lit(bins.toDouble) / 2.0)
    val perBin = withTot.groupBy(col("__bin"))
      .agg(
        sum(when(col("__side") === "ref", col("__c")).otherwise(0L))
          .as("__cr"),
        max(when(col("__side") === "ref", p)).as("__pr"),
        sum(when(col("__side") === "cur", col("__c")).otherwise(0L))
          .as("__cc"),
        max(when(col("__side") === "cur", p)).as("__pc"))
    val term = (col("__pc") - col("__pr")) * log(col("__pc") / col("__pr"))
    perBin.agg(sum(col("__cr")).as("n_ref"), sum(col("__cc")).as("n_cur"),
      count(lit(1)).as("k_bins"), fs(term, 9).as("psi"))
  }

  /** The q154-convention bin expression for PSI-style edge lists: 1 +
    * (count of edges strictly below x), ties → lower bin. */
  private[graft] def psiBin(x: Column, edges: Seq[Double]): Column =
    edges.foldLeft(lit(1)) { (acc, e) => acc + when(x > lit(e), 1).otherwise(0) }

  /** BINNED MUTUAL INFORMATION between two NUMERIC columns — the
    * nonlinear-dependence audit Pearson misses (a U-shaped relation
    * correlates ~0 but carries high MI): both columns are cut into
    * `bins` equal-frequency bins (exact rank-selection quantile edges,
    * ties → lower bin, the q154 convention), then [[entropyMi]] runs on
    * the bin ids. Complete-case on the PAIR. Returns one row
    * (n, k_a, k_b, h_a, h_b, mi, nmi) — k can be < bins when edge values
    * tie. Plan: two O(bins)-scalar quantile fits + the entropyMi keyed
    * count frames; the bin edges are codegen literals. */
  def binnedMi(df: DataFrame, colA: String, colB: String, bins: Int = 10)
      : DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bins=$bins out of [2, 1000]")
    val xa = col(colA).cast(DoubleType); val xb = col(colB).cast(DoubleType)
    val clean = df
      .filter(xa.isNotNull && !isnan(xa) && xb.isNotNull && !isnan(xb))
      .select(xa.as("__xa"), xb.as("__xb"))
    val qs = (1 until bins).map(_.toDouble / bins)
    val ea = Ml.exactQuantilesRankPick(clean, "__xa", qs)
    val eb = Ml.exactQuantilesRankPick(clean, "__xb", qs)
    def binOf(c: Column, edges: Seq[Double]): Column =
      edges.foldLeft(lit(1)) { (acc, e) =>
        acc + when(c > lit(e), 1).otherwise(0) }
    entropyMi(clean.select(binOf(col("__xa"), ea).as("__ba"),
      binOf(col("__xb"), eb).as("__bb")), "__ba", "__bb")
  }

  /** JENSEN-SHANNON DIVERGENCE between a reference and a current
    * CATEGORICAL composition (source mix, language mix, event mix) —
    * the symmetric, always-finite drift scalar (∈ [0, ln 2]; no
    * smoothing needed: the mixture m = (p+q)/2 is positive wherever
    * either side is):
    *   JSD = ½ Σ p·ln(p/m) + ½ Σ q·ln(q/m),  0·ln(0/m) ≡ 0.
    * Rows matching neither condition are ignored. Returns one row
    * (n_ref, n_cur, k_categories, jsd); null when a side is empty.
    *
    * Plan: ONE keyed aggregation builds both sides' category counts,
    * per-category terms are a fixed IEEE sequence floor-scaled (10⁹,
    * the q231 ln convention) over the O(categories) frame. */
  def jsDivergence(df: DataFrame, catCol: String, refCond: Column,
                   curCond: Column): DataFrame = {
    val clean = df.filter(col(catCol).isNotNull && (refCond || curCond))
      .select(col(catCol).as("__cat"),
        when(refCond, lit(1)).otherwise(lit(0)).as("__isr"))
    val per = clean.groupBy(col("__cat"))
      .agg(sum(when(col("__isr") === 1, 1L).otherwise(0L)).as("__nr"),
        sum(when(col("__isr") === 0, 1L).otherwise(0L)).as("__nc"))
    val tot = per.agg(sum(col("__nr")).as("__tr"), sum(col("__nc")).as("__tc"))
    val p = col("__nr").cast(DoubleType) / col("__tr").cast(DoubleType)
    val q = col("__nc").cast(DoubleType) / col("__tc").cast(DoubleType)
    val m = (p + q) / 2.0
    val termP = when(col("__nr") > 0, p * log(p / m)).otherwise(lit(0.0))
    val termQ = when(col("__nc") > 0, q * log(q / m)).otherwise(lit(0.0))
    per.crossJoin(broadcast(tot))
      .groupBy(col("__tr"), col("__tc"))
      .agg(count(lit(1)).as("k_categories"),
        fs(termP, 9).as("__sp"), fs(termQ, 9).as("__sq"))
      .select(col("__tr").as("n_ref"), col("__tc").as("n_cur"),
        col("k_categories"),
        when(col("__tr") > 0 && col("__tc") > 0,
          lit(0.5) * col("__sp") + lit(0.5) * col("__sq")).as("jsd"))
  }

  /** FLEISS' KAPPA multi-rater agreement from a (item, category) rating
    * log — one row per individual rating, any number of raters per item
    * (the generalized per-item-nᵢ form; items with < 2 ratings drop, as
    * agreement is undefined on them):
    *   P̄ = meanᵢ (Σⱼ n²ᵢⱼ − nᵢ)/(nᵢ(nᵢ−1)),  P̄ₑ = Σⱼ p²ⱼ,
    *   κ = (P̄ − P̄ₑ)/(1 − P̄ₑ).
    * Returns one row (n_items, n_ratings, p_bar, p_e, kappa); kappa null
    * when P̄ₑ = 1 (a single category — agreement is vacuous).
    *
    * Plan: one (item, category) count aggregation → one O(items) per-item
    * term frame + one O(categories) marginal frame, both floor-scaled
    * (10⁹) exact sums. Nothing data-sized past the first groupBy. */
  def fleissKappa(df: DataFrame, itemCol: String, catCol: String)
      : DataFrame = {
    val cell = df.filter(col(itemCol).isNotNull && col(catCol).isNotNull)
      .groupBy(col(itemCol).as("__it"), col(catCol).as("__ct"))
      .agg(count(lit(1)).as("__nij"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perItem = cell.groupBy(col("__it"))
      .agg(sum(col("__nij")).as("__ni"),
        sum(col("__nij") * col("__nij")).as("__s2"))
      .filter(col("__ni") >= 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val niD = col("__ni").cast(DoubleType)
    val pi = (col("__s2") - col("__ni")).cast(DoubleType) /
      (niD * (niD - 1.0))
    val pbarAgg = perItem.agg(count(lit(1)).as("n_items"),
      sum(col("__ni")).as("n_ratings"), fs(pi, 9).as("__spi"))
    val catTot = cell.join(perItem.select(col("__it")), "__it")
      .groupBy(col("__ct")).agg(sum(col("__nij")).as("__cj"))
    val tAgg = catTot.agg(sum(col("__cj")).as("__t"))
    val pj = col("__cj").cast(DoubleType) / col("__t").cast(DoubleType)
    val peAgg = catTot.crossJoin(broadcast(tAgg))
      .agg(fs(pj * pj, 9).as("p_e"))
    val out = pbarAgg.crossJoin(broadcast(peAgg))
      .select(col("n_items"), col("n_ratings"),
        (col("__spi") / col("n_items").cast(DoubleType)).as("p_bar"),
        col("p_e"),
        when(col("p_e") =!= 1.0,
          (col("__spi") / col("n_items").cast(DoubleType) - col("p_e")) /
            (lit(1.0) - col("p_e"))).as("kappa"))
    val res = out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    res.count()
    cell.unpersist(); perItem.unpersist()
    res
  }

  /** MAHALANOBIS OUTLIERS over a numeric PAIR — the multivariate anomaly
    * gate a per-column z-score misses (a point can be ordinary in x and
    * ordinary in y yet wildly off the joint ellipse): population moments
    * from floor-scaled exact sums, the 2×2 covariance inverted in closed
    * form, d² computed per row in one codegen expression. Returns the
    * rows with d² > `threshold` (χ²₂: 9.21 = 99 %, 13.82 = 99.9 %) with a
    * `d2` column appended; complete-case; empty when the covariance is
    * singular (a constant or perfectly collinear pair).
    *
    * Plan: ONE aggregation → a one-row broadcast of 6 scalars → one
    * map-side filter pass. Nothing else shuffles. */
  def mahalanobisOutliers(df: DataFrame, colX: String, colY: String,
                          threshold: Double): DataFrame = {
    require(threshold > 0.0, s"threshold=$threshold")
    val x = col(colX).cast(DoubleType); val y = col(colY).cast(DoubleType)
    val clean = df.filter(x.isNotNull && !isnan(x) && y.isNotNull && !isnan(y))
    val m = clean.agg(count(lit(1)).as("__n"),
      fs(x, 6).as("__sx"), fs(y, 6).as("__sy"),
      fs(x * x, 6).as("__sxx"), fs(y * y, 6).as("__syy"),
      fs(x * y, 6).as("__sxy"))
    val nD = col("__n").cast(DoubleType)
    val mx = col("__sx") / nD; val my = col("__sy") / nD
    val cxx = col("__sxx") / nD - mx * mx
    val cyy = col("__syy") / nD - my * my
    val cxy = col("__sxy") / nD - mx * my
    val det = cxx * cyy - cxy * cxy
    val dx = x - mx; val dy = y - my
    val d2 = (cyy * dx * dx - lit(2.0) * cxy * dx * dy + cxx * dy * dy) / det
    clean.crossJoin(broadcast(m))
      .filter(col("__n") >= 2 && det =!= 0.0 && d2 > threshold)
      .withColumn("d2", d2)
      .drop("__n", "__sx", "__sy", "__sxx", "__syy", "__sxy")
  }

  /** CRAMÉR'S V association table over every pair of categorical columns
    * — the categorical analog of the reference's correlation-table
    * (stats.clj correlation-table): V = √(χ²/(n·(min(kₓ,k_y)−1))) ∈ [0,1],
    * with χ² the Pearson contingency statistic. The curation use: which
    * metadata columns are (near-)determined by which others — V ≈ 1 on
    * (shard, source) means sharding leaked the source. Complete-case per
    * pair. Returns one row per unordered pair
    * (col_x, col_y, n, k_x, k_y, chi2, v); v null when a side is
    * constant (min k = 1) or n = 0.
    *
    * Plan: per pair, one keyed joint-count aggregation (O(observed
    * cells) frame) + two broadcast marginal joins. Zero cells are never
    * materialized — a (k_x × k_y) densification explodes on two
    * high-cardinality columns — their contribution Σ_zero E folds in
    * algebraically: since Σ_all E = n,
    *   χ² = n + Σ_observed ((O−E)²/E − E).
    * Cell terms are a fixed IEEE sequence floor-scaled (10⁶) and summed
    * exactly. Pairs are independent single-shuffle jobs unioned into one
    * result frame. */
  def associationTable(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    require(cols.distinct.size == cols.size, "duplicate column names")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    pairs.map { case (ca, cb) =>
      val clean = df.filter(col(ca).isNotNull && col(cb).isNotNull)
        .select(col(ca).cast(StringType).as("__a"),
          col(cb).cast(StringType).as("__b"))
      val joint = clean.groupBy(col("__a"), col("__b"))
        .agg(count(lit(1)).as("__nij"))
      val ma = clean.groupBy(col("__a")).agg(count(lit(1)).as("__ni"))
      val mb = clean.groupBy(col("__b")).agg(count(lit(1)).as("__nj"))
      val tot = clean.agg(count(lit(1)).as("__n"))
      val ka = ma.agg(count(lit(1)).as("__ka"))
      val kb = mb.agg(count(lit(1)).as("__kb"))
      val nD = col("__n").cast(DoubleType)
      val e = col("__ni").cast(DoubleType) * col("__nj").cast(DoubleType) / nD
      val o = col("__nij").cast(DoubleType)
      val chi2 = joint.join(broadcast(ma), "__a").join(broadcast(mb), "__b")
        .crossJoin(broadcast(tot))
        .groupBy(col("__n"))
        .agg(fs((o - e) * (o - e) / e - e, 6).as("__obs"))
        .select(col("__n"),
          (col("__n").cast(DoubleType) + col("__obs")).as("chi2"))
      val minK = least(col("__ka"), col("__kb")).cast(DoubleType)
      chi2.crossJoin(broadcast(ka)).crossJoin(broadcast(kb))
        .select(lit(ca).as("col_x"), lit(cb).as("col_y"),
          col("__n").as("n"), col("__ka").as("k_x"), col("__kb").as("k_y"),
          col("chi2"),
          when(col("__n") > 0 && minK > 1.0,
            sqrt(col("chi2") / (col("__n").cast(DoubleType) * (minK - 1.0))))
            .as("v"))
    }.reduce(_.unionByName(_))
  }

  /** THEIL'S U (uncertainty coefficient) between two categoricals: how
    * much knowing one reduces the entropy of the other — the ASYMMETRIC
    * dependence measure Cramér's V can't give ("segment predicts nation,
    * nation doesn't predict segment"). U(A|B) = MI/H(A), U(B|A) = MI/H(B),
    * plus the symmetric 2·MI/(H(A)+H(B)). A pure finisher over
    * [[entropyMi]]'s floor-scaled exact terms — same two keyed
    * aggregations, O(categories) frames, one-row output. */
  def theilU(df: DataFrame, colA: String, colB: String): DataFrame =
    entropyMi(df, colA, colB).select(
      col("n"), col("k_a"), col("k_b"), col("h_a"), col("h_b"), col("mi"),
      when(col("h_a") > 0.0, col("mi") / col("h_a")).as("u_a_given_b"),
      when(col("h_b") > 0.0, col("mi") / col("h_b")).as("u_b_given_a"),
      when(col("h_a") + col("h_b") > 0.0,
        lit(2.0) * col("mi") / (col("h_a") + col("h_b"))).as("u_symmetric"))

  /** G-TEST of independence (likelihood-ratio chi-square): G = 2n·MI
    * (MI in nats) — the log-likelihood sibling of [[chiSquareIndependence]],
    * preferred when expected cell counts are small. Rides [[entropyMi]]'s
    * exact floor-scaled MI; dof = (k_a−1)(k_b−1) stays integer. */
  def gTest(df: DataFrame, colA: String, colB: String): DataFrame =
    entropyMi(df, colA, colB).select(
      col("n"), col("k_a"), col("k_b"),
      ((col("k_a") - 1) * (col("k_b") - 1)).as("dof"),
      (lit(2.0) * col("n").cast(DoubleType) * col("mi")).as("g_stat"))

  /** POINT-BISERIAL correlation between a binary flag and a continuous
    * metric ("do purchases carry larger values?"): the Pearson r of the
    * 0/1 indicator against the metric, computed closed-form from group
    * means — r = (m₁ − m₀)/σ_n · √(n₁n₀/n²). ONE exact aggregation:
    * integer class counts, floor-scaled Σv per class and Σv² overall,
    * then a pinned final op sequence. Null when either class is empty or
    * the metric is constant. */
  def pointBiserial(df: DataFrame, valueCol: String, flag: Column)
      : DataFrame = {
    val v = col(valueCol).cast(DoubleType)
    val b = flag.cast(BooleanType)
    val agg = df.filter(v.isNotNull && !isnan(v) && b.isNotNull)
      .agg(
        count(lit(1)).as("n"),
        count(when(b, 1)).as("n1"),
        fs(when(b, v), 6).as("__s1"),
        fs(when(!b, v), 6).as("__s0"),
        fs(v, 6).as("__s"),
        fs(v * v, 6).as("__sxx"))
      .withColumn("n0", col("n") - col("n1"))
    val nD = col("n").cast(DoubleType)
    agg
      .withColumn("mean_1",
        when(col("n1") > 0, col("__s1") / col("n1").cast(DoubleType)))
      .withColumn("mean_0",
        when(col("n0") > 0, col("__s0") / col("n0").cast(DoubleType)))
      .withColumn("__mean", col("__s") / nD)
      .withColumn("std_n", sqrt(greatest(
        col("__sxx") / nD - col("__mean") * col("__mean"), lit(0.0))))
      .withColumn("r_pb",
        when(col("n1") > 0 && col("n0") > 0 && col("std_n") > 0,
          (col("mean_1") - col("mean_0")) / col("std_n") *
            sqrt(col("n1").cast(DoubleType) * col("n0").cast(DoubleType) /
              (nD * nD))))
      .select(col("n"), col("n1"), col("n0"), col("mean_1"), col("mean_0"),
        col("std_n"), col("r_pb"))
  }

  /** DURBIN-WATSON statistic per key: DW = Σ(e_t − e_{t−1})² / Σe_t² over
    * the mean-centered series — the standard "are residuals serially
    * correlated" diagnostic (≈2 no autocorrelation, →0 positive, →4
    * negative). The per-key mean comes from an exact floor-scaled
    * whole-partition window sum, centering and squared terms are pinned
    * per-row doubles, and both quadratic sums are exact floor-scaled
    * aggregations. One shuffle on the key. Returns (keys..., n, dw). */
  def durbinWatson(df: DataFrame, keyCols: Seq[String],
                   orderCols: Seq[String], valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val part = Window.partitionBy(keyCols.map(col): _*)
    val ord = part.orderBy(orderCols.map(col): _*)
    val v = col(valueCol).cast(DoubleType)
    val meanW = sum(floor(v * lit(1e6)).cast(DecimalType(38, 0)))
      .over(part).cast(DoubleType) / lit(1e6) / count(v).over(part)
    val base = df.filter(v.isNotNull && !isnan(v))
      .withColumn("__e", v - meanW)
      .withColumn("__d", col("__e") - lag(col("__e"), 1).over(ord))
    base.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        fs(col("__d") * col("__d"), 6).as("__num"),
        fs(col("__e") * col("__e"), 6).as("__den"))
      .withColumn("dw",
        when(col("__den") > 0, col("__num") / col("__den")))
      .select((keyCols.map(col) ++ Seq(col("n"), col("dw"))): _*)
  }

  /** ORDINAL ASSOCIATION between two low-cardinality ordered columns:
    * Goodman–Kruskal gamma, Somers' D (both directions) and Kendall
    * tau-a/tau-b from ONE pass over the CONTINGENCY CELLS. The pair
    * counts that every one of these statistics shares —
    *   C  (concordant), D (discordant),
    *   Tx (tied on x), Ty (tied on y), Txy (tied on both) —
    * reduce exactly over cell pairs: C = Σ n₁n₂ over strictly-agreeing
    * cell pairs, etc. With k distinct cells that is a k×k join — k is
    * bounded by the value domains, NOT the row count, so the plan is the
    * same at 100 TB (the cells frame is an aggregate; the quadratic term
    * never touches rows). `maxCells` fails loudly when a caller points it
    * at a continuous column (bin first — the row-pair formulation lives
    * in [[Advanced.kendallCorrelationTable]]).
    *
    * All counts are exact BIGINT; each statistic is one pinned division.
    *   gamma        = (C−D)/(C+D)
    *   somers_d_yx  = (C−D)/(n0−Tx)   (y predicted from x)
    *   somers_d_xy  = (C−D)/(n0−Ty)
    *   tau_a        = (C−D)/n0
    *   tau_b        = (C−D)/√((n0−Tx)(n0−Ty))  */
  def ordinalAssociation(df: DataFrame, xCol: String, yCol: String,
                         maxCells: Long = 100000L): DataFrame = {
    val clean = df
      .select(col(xCol).cast(DoubleType).as("__x"),
        col(yCol).cast(DoubleType).as("__y"))
      .filter(col("__x").isNotNull && !isnan(col("__x")) &&
        col("__y").isNotNull && !isnan(col("__y")))
    val cells = clean.groupBy(col("__x"), col("__y"))
      .agg(count(lit(1)).as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val k = cells.count()
      require(k <= maxCells,
        s"ordinalAssociation: $k distinct (x, y) cells exceeds " +
          s"maxCells=$maxCells — bin the inputs first (this operator is " +
          "for ordinal/low-cardinality data; the k×k cell join would " +
          "not be bounded)")
      val l = cells.select(col("__x").as("__x1"), col("__y").as("__y1"),
        col("__c").as("__c1"))
      val r = cells.select(col("__x").as("__x2"), col("__y").as("__y2"),
        col("__c").as("__c2"))
      // every UNORDERED cell pair once: (x1,y1) < (x2,y2) lexicographically
      val pairKey1 = struct(col("__x1"), col("__y1"))
      val pairKey2 = struct(col("__x2"), col("__y2"))
      val prod = col("__c1") * col("__c2")
      val cross = l.join(r, pairKey1 < pairKey2)
      // `div`, not `/`: Spark's / on BIGINT returns DOUBLE — the pair
      // counts must stay exact integers (both factors make the product
      // even, so the halving is lossless)
      val within = cells.select(
        expr("__c * (__c - 1) div 2").as("__p"),
        col("__x"), col("__y"))
      val agg1 = cross.agg(
        coalesce(sum(when((col("__x1") < col("__x2") &&
            col("__y1") < col("__y2")) ||
          (col("__x1") > col("__x2") && col("__y1") > col("__y2")),
          prod)), lit(0L)).as("conc"),
        coalesce(sum(when((col("__x1") < col("__x2") &&
            col("__y1") > col("__y2")) ||
          (col("__x1") > col("__x2") && col("__y1") < col("__y2")),
          prod)), lit(0L)).as("disc"),
        coalesce(sum(when(col("__x1") === col("__x2"), prod)), lit(0L))
          .as("__txCross"),
        coalesce(sum(when(col("__y1") === col("__y2"), prod)), lit(0L))
          .as("__tyCross"))
      val agg2 = within.agg(coalesce(sum(col("__p")), lit(0L)).as("__txy"))
      val nRow = clean.agg(count(lit(1)).as("n"))
      val out = agg1.crossJoin(agg2).crossJoin(nRow)
        .withColumn("n0", expr("n * (n - 1) div 2"))
        // ties: same-x cross-cell pairs have different y (tied on x only);
        // within-cell pairs are tied on both
        .withColumn("tie_x", col("__txCross") + col("__txy"))
        .withColumn("tie_y", col("__tyCross") + col("__txy"))
        .withColumn("tie_xy", col("__txy"))
      val cd = (col("conc") - col("disc")).cast(DoubleType)
      materializeSmall(out.select(
        col("n"), col("n0"), col("conc"), col("disc"),
        col("tie_x"), col("tie_y"), col("tie_xy"),
        when(col("conc") + col("disc") > 0,
          cd / (col("conc") + col("disc")).cast(DoubleType)).as("gamma"),
        when(col("n0") > col("tie_x"),
          cd / (col("n0") - col("tie_x")).cast(DoubleType))
          .as("somers_d_yx"),
        when(col("n0") > col("tie_y"),
          cd / (col("n0") - col("tie_y")).cast(DoubleType))
          .as("somers_d_xy"),
        when(col("n0") > 0, cd / col("n0").cast(DoubleType)).as("tau_a"),
        when(col("n0") > col("tie_x") && col("n0") > col("tie_y"),
          cd / sqrt((col("n0") - col("tie_x")).cast(DoubleType) *
            (col("n0") - col("tie_y")).cast(DoubleType))).as("tau_b")),
        1, "one-row ordinal association")
    } finally { cells.unpersist(); () }
  }

  /** COCHRAN'S Q — k related binary outcomes over the same items ("did
    * the user convert in EACH of the k channels?"), the k-treatment
    * generalization of McNemar (q236). Input rows are (item, treatment,
    * success-ish); the operator reduces to one 0/1 cell per
    * (item, treatment) via max, keeps only items observed under ALL k
    * treatments (Cochran requires a complete block design — incomplete
    * items are dropped, and reported), and computes
    *   Q = k(k−1)·[k·ΣCⱼ² − N²] / (k·N − ΣRᵢ²)
    * with Cⱼ the treatment totals, Rᵢ the item totals, N = ΣRᵢ. Every
    * term is an exact BIGINT reduction over O(items + k) frames; Q is
    * one final division. Returns one row
    * (k, n_items, n_dropped, n_success, q_stat). */
  def cochranQ(df: DataFrame, itemCol: String, treatCol: String,
               success: Column): DataFrame = {
    val cellsAll = df
      .filter(col(itemCol).isNotNull && col(treatCol).isNotNull)
      .groupBy(col(itemCol).as("__i"), col(treatCol).as("__t"))
      .agg(max(when(success, 1L).otherwise(0L)).as("__x"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val k = cellsAll.select(col("__t")).distinct().count()
      val byItem = cellsAll.groupBy(col("__i"))
        .agg(count(lit(1)).as("__kt"), sum(col("__x")).as("__ri"))
      val complete = byItem.filter(col("__kt") === k)
        .select(col("__i"), col("__ri"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nItems = complete.count()
      val nDropped = byItem.count() - nItems
      val rAgg = complete.agg(
        coalesce(sum(col("__ri")), lit(0L)).as("__nS"),
        coalesce(sum(col("__ri") * col("__ri")), lit(0L)).as("__sr2"))
      val cAgg = cellsAll
        .join(complete.select(col("__i")), Seq("__i"), "left_semi")
        .groupBy(col("__t")).agg(sum(col("__x")).as("__cj"))
        .agg(coalesce(sum(col("__cj") * col("__cj")), lit(0L)).as("__sc2"))
      val out = rAgg.crossJoin(cAgg)
        .withColumn("__num",
          lit(k) * lit(k - 1) * (lit(k) * col("__sc2") -
            col("__nS") * col("__nS")))
        .withColumn("__den", lit(k) * col("__nS") - col("__sr2"))
        .select(lit(k).as("k"), lit(nItems).as("n_items"),
          lit(nDropped).as("n_dropped"), col("__nS").as("n_success"),
          when(col("__den") > 0,
            col("__num").cast(DoubleType) / col("__den").cast(DoubleType))
            .as("q_stat"))
      materializeSmall(out, 1, "one-row Cochran Q")
    } finally { cellsAll.unpersist(); () }
  }

  /** KENDALL'S W (coefficient of concordance) — do m raters rank the same
    * n items consistently? Raters' per-item scores reduce to EXACT
    * floor-scaled sums, ranks are per-rater windows with a DETERMINISTIC
    * (score, item) tiebreak (unique ranks by construction, so no tie
    * correction is needed and both engines rank identically — callers
    * with meaningful ties should pre-round scores), and
    *   W = 3·Σ(2Rᵢ − m(n+1))² / (m²·(n³ − n))
    * (the Σ(Rᵢ − R̄)² form scaled by 4 so every term stays integer).
    * Only items scored by ALL m raters participate (complete design).
    * Returns one row (m, n_items, s4, w). */
  def kendallW(df: DataFrame, itemCol: String, raterCol: String,
               valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = col(valueCol).cast(DoubleType)
    val scores = df
      .filter(col(itemCol).isNotNull && col(raterCol).isNotNull &&
        v.isNotNull && !isnan(v))
      .groupBy(col(raterCol).as("__r"), col(itemCol).as("__i"))
      .agg(fs(v, 6).as("__s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val m = scores.select(col("__r")).distinct().count()
      val complete = scores.groupBy(col("__i"))
        .agg(count(lit(1)).as("__cnt"))
        .filter(col("__cnt") === m).select(col("__i"))
      val ranked = scores
        .join(complete, Seq("__i"), "left_semi")
        .withColumn("__rank", row_number().over(
          Window.partitionBy(col("__r")).orderBy(col("__s"), col("__i"))))
      val byItem = ranked.groupBy(col("__i"))
        .agg(sum(col("__rank").cast(LongType)).as("__ri"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = byItem.count()
      val dev = col("__ri") * 2L - lit(m) * lit(n + 1)
      val out = byItem
        .agg(coalesce(sum(dev * dev), lit(0L)).as("s4"))
        .select(lit(m).as("m"), lit(n).as("n_items"), col("s4"),
          when(lit(n) > 1,
            lit(3.0) * col("s4").cast(DoubleType) /
              (lit(m) * lit(m) * (lit(n) * lit(n) * lit(n) - lit(n)))
                .cast(DoubleType)).as("w"))
      val res = materializeSmall(out, 1, "one-row Kendall W")
      byItem.unpersist()
      res
    } finally { scores.unpersist(); () }
  }

  /** KRIPPENDORFF'S ALPHA (nominal data) — inter-rater reliability that,
    * unlike Cohen's (q267) and Fleiss' (q304) kappa, tolerates MISSING
    * ratings: every item with ≥2 ratings contributes. One rating per
    * (item, rater) (max-reduced), then
    *   D_o = Σ_u Σ_c o_uc·(m_u − o_uc)/(m_u − 1)  / n
    *   D_e = Σ_c n_c·(n − n_c) / (n·(n−1))
    *   α   = 1 − D_o/D_e
    * with o_uc the per-item category counts, m_u the item's rating count,
    * n = Σm_u. The observed-disagreement terms are per-cell doubles
    * floor-scaled (1e9) into an exact sum; D_e's numerator stays BIGINT.
    * Plan: two keyed aggregations over O(items·categories) cells.
    * Returns one row (n_items, n_ratings, n_categories, d_o, d_e, alpha). */
  def krippendorffAlpha(df: DataFrame, itemCol: String, raterCol: String,
                        categoryCol: String): DataFrame = {
    val ratings = df
      .filter(col(itemCol).isNotNull && col(raterCol).isNotNull &&
        col(categoryCol).isNotNull)
      .groupBy(col(itemCol).as("__i"), col(raterCol).as("__r"))
      .agg(max(col(categoryCol).cast(StringType)).as("__c"))
    val byItem = ratings.groupBy(col("__i"))
      .agg(count(lit(1)).as("__mu"))
      .filter(col("__mu") >= 2)
    val kept = ratings.join(byItem, "__i")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cells = kept.groupBy(col("__i"), col("__c"), col("__mu"))
        .agg(count(lit(1)).as("__ouc"))
      val doTerm = col("__ouc").cast(DoubleType) *
        (col("__mu") - col("__ouc")).cast(DoubleType) /
        (col("__mu") - 1).cast(DoubleType)
      val doAgg = cells.agg(
        countDistinct(col("__i")).as("n_items"),
        coalesce(sum(col("__ouc")), lit(0L)).as("n_ratings"),
        fs(doTerm, 9).as("__doSum"))
      val catAgg = kept.groupBy(col("__c"))
        .agg(count(lit(1)).as("__nc"))
      val tot = catAgg.agg(coalesce(sum(col("__nc")), lit(0L)).as("__n"))
      val nCats = catAgg.crossJoin(broadcast(tot))
        .agg(
          count(lit(1)).as("n_categories"),
          max(col("__n")).as("__n"),
          coalesce(sum(col("__nc") * (col("__n") - col("__nc"))), lit(0L))
            .as("__deNum"))
      val out = doAgg.crossJoin(nCats)
        .withColumn("d_o", col("__doSum") / col("__n").cast(DoubleType))
        .withColumn("d_e", col("__deNum").cast(DoubleType) /
          (col("__n") * (col("__n") - 1)).cast(DoubleType))
        .select(col("n_items"), col("n_ratings"), col("n_categories"),
          col("d_o"), col("d_e"),
          when(col("d_e") > 0, lit(1.0) - col("d_o") / col("d_e"))
            .as("alpha"))
      materializeSmall(out, 1, "one-row Krippendorff alpha")
    } finally { kept.unpersist(); () }
  }

  /** PACF at lags 1–3 via DURBIN-LEVINSON on the panel [[acf]] — the
    * AR-order diagnostic that separates direct lag effects from
    * pass-through (the q293 AR-fit's model-selection companion):
    *   φ₁₁ = r₁,
    *   φ₂₂ = (r₂ − r₁²)/(1 − r₁²),      φ₂₁ = r₁ − φ₂₂·r₁,
    *   φ₃₃ = (r₃ − φ₂₁r₂ − φ₂₂r₁)/(1 − φ₂₁r₁ − φ₂₂r₂).
    * One window pass (the acf build) + one O(lags) pivot; the recursion is
    * a fixed scalar IEEE op sequence over the three correlations, replayed
    * verbatim by the oracle. Returns one row (r1, r2, r3, pacf1, pacf2,
    * pacf3); null where a denominator degenerates. */
  def pacf(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
           valueCol: String): DataFrame = {
    val a = acf(df, keyCols, orderCols, valueCol, Seq(1, 2, 3))
    val wide = a.agg(
      max(when(col("lag") === 1, col("acf"))).as("r1"),
      max(when(col("lag") === 2, col("acf"))).as("r2"),
      max(when(col("lag") === 3, col("acf"))).as("r3"))
    val out = wide
      .withColumn("pacf1", col("r1"))
      .withColumn("__d2", lit(1.0) - col("r1") * col("r1"))
      .withColumn("pacf2", when(col("__d2") =!= 0.0,
        (col("r2") - col("r1") * col("r1")) / col("__d2")))
      .withColumn("__p21", col("r1") - col("pacf2") * col("r1"))
      .withColumn("__d3", lit(1.0) - col("__p21") * col("r1") -
        col("pacf2") * col("r2"))
      .withColumn("pacf3", when(col("__d3") =!= 0.0,
        (col("r3") - col("__p21") * col("r2") -
          col("pacf2") * col("r1")) / col("__d3")))
      .select(col("r1"), col("r2"), col("r3"),
        col("pacf1"), col("pacf2"), col("pacf3"))
    materializeSmall(out, 1, "one-row PACF")
  }

  /** FUNCTIONAL-DEPENDENCY AUDIT — for each (determinant → dependent)
    * pair: does every determinant value map to exactly one dependent
    * value? The schema-profiling primitive behind "is this column derived
    * from that one" and denormalization checks. One keyed aggregation per
    * pair over (det, dep) cells (O(distinct det) frames); all counts
    * exact BIGINT. Returns one row per pair
    * (determinant, dependent, n_rows, n_det_values, n_violating,
    * max_dep_per_det, holds). */
  def fdAudit(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "fdAudit needs at least one (det, dep) pair")
    pairs.map { case (det, dep) =>
      val clean = df.filter(col(det).isNotNull && col(dep).isNotNull)
        .select(col(det).cast(StringType).as("__det"),
          col(dep).cast(StringType).as("__dep"))
      val perDet = clean.groupBy(col("__det"))
        .agg(count(lit(1)).as("__n"), countDistinct(col("__dep")).as("__k"))
      perDet.agg(
        coalesce(sum(col("__n")), lit(0L)).as("n_rows"),
        count(lit(1)).as("n_det_values"),
        count(when(col("__k") > 1, 1)).as("n_violating"),
        coalesce(max(col("__k")), lit(0L)).as("max_dep_per_det"))
        .withColumn("determinant", lit(det))
        .withColumn("dependent", lit(dep))
        .withColumn("holds", col("n_violating") === 0L)
    }.reduce(_.unionByName(_))
  }

  /** CANDIDATE-KEY AUDIT — for each candidate column list: row count,
    * exact distinct count over the tuple, duplicate-row count, and
    * whether the candidate is a key. Null-bearing tuples are excluded
    * from the distinct count (SQL COUNT(DISTINCT a, b) semantics) and
    * reported separately so "is_key" means what a constraint would mean.
    * Returns one row per candidate
    * (candidate, n_rows, n_null_rows, n_distinct, n_dup_rows, is_key). */
  def keyAudit(df: DataFrame, candidates: Seq[Seq[String]]): DataFrame = {
    require(candidates.nonEmpty && candidates.forall(_.nonEmpty))
    candidates.map { cols0 =>
      val anyNull = cols0.map(c => col(c).isNull).reduce(_ || _)
      df.agg(
        count(lit(1)).as("n_rows"),
        count(when(anyNull, 1)).as("n_null_rows"),
        countDistinct(col(cols0.head), cols0.tail.map(col): _*)
          .as("n_distinct"))
        .withColumn("candidate", lit(cols0.mkString(",")))
        .withColumn("n_dup_rows",
          col("n_rows") - col("n_null_rows") - col("n_distinct"))
        .withColumn("is_key",
          col("n_null_rows") === 0L && col("n_dup_rows") === 0L)
    }.reduce(_.unionByName(_))
  }

  /** ENGLE'S ARCH LM TEST per key — is the series' VOLATILITY
    * autocorrelated (calm/turbulent regimes) even when the level is not?
    * Mean-center (exact whole-partition mean, the [[durbinWatson]]
    * build), square, regress z_t = e_t² on z_{t−1} per key, and
    * LM = n·R². Exact floor-scaled Σz/Σz²/Σz·z_lag (10⁴ — z is already a
    * square, so products reach e⁴ and a finer scale would overflow the
    * LONG floor at plausible magnitudes); R² from the pinned Pearson
    * closed form. Returns (keys..., n_pairs, r2, lm). */
  def archLm(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
             valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val part = Window.partitionBy(keyCols.map(col): _*)
    val ord = part.orderBy(orderCols.map(col): _*)
    val v = col(valueCol).cast(DoubleType)
    val meanW = sum(floor(v * lit(1e6)).cast(DecimalType(38, 0)))
      .over(part).cast(DoubleType) / lit(1e6) / count(v).over(part)
    val base = df.filter(v.isNotNull && !isnan(v))
      .withColumn("__e", v - meanW)
      .withColumn("__z", col("__e") * col("__e"))
      .withColumn("__zl", lag(col("__z"), 1).over(ord))
      .filter(col("__zl").isNotNull)
    val n = count(lit(1)).cast(DoubleType)
    val sx = fs(col("__zl"), 4); val sy = fs(col("__z"), 4)
    val sxx = fs(col("__zl") * col("__zl"), 4)
    val syy = fs(col("__z") * col("__z"), 4)
    val sxy = fs(col("__zl") * col("__z"), 4)
    base.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_pairs"),
        when((n * sxx - sx * sx) > 0 && (n * syy - sy * sy) > 0,
          (n * sxy - sx * sy) /
            (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)))
          .as("__r"))
      .withColumn("r2", col("__r") * col("__r"))
      .withColumn("lm",
        col("n_pairs").cast(DoubleType) * col("r2"))
      .select((keyCols.map(col) ++
        Seq(col("n_pairs"), col("r2"), col("lm"))): _*)
  }

  /** FISHER'S EXACT TEST on a 2×2 of two boolean conditions — the
    * small-expected-count companion to [[chiSquareIndependence]]/[[gTest]]
    * (and the exact form of q236's McNemar setting). Two-sided: the sum
    * of hypergeometric P(k) over every table at least as extreme
    * (P(k) ≤ P(observed)).
    *
    * The engine-portable trick is the LOG-FACTORIAL TABLE AS AN EXACT
    * INTEGER SUM: lf(x) = Σ_{i=2..x} ⌊ln(i)·10⁶⌋ summed in BIGINT — ln is
    * the only transcendental, evaluated at INTEGER arguments, and the 10⁶
    * quantum absorbs the ≤1-ulp spread between libms (measured: zero
    * floor disagreements JVM vs DuckDB over i ∈ [2, 2·10⁶]; at 10⁹ scale
    * there were two). Each table's log-probability is then a pure BIGINT
    * combination lf(r₁)+lf(r₂)+lf(c₁)+lf(c₂)−lf(n)−lf(k)−lf(r₁−k)
    * −lf(c₁−k)−lf(n−r₁−c₁+k), so the tail-membership comparison is
    * integer-exact. Only the final Σexp(logp) runs in doubles (per-term
    * floor at 10⁹ — exp also differs across libms by an ulp, and the
    * quantization error Σ⌊⌋ cancels across the +/− lf masses, which sum
    * to zero). The quantization costs ~10⁻⁹ per table in p — noise for
    * any p a test consumer acts on.
    *
    * Plan: one exact counting aggregation (O(1) driver readout of the
    * four cells — the fit-side pattern), a k-range frame of
    * min(r₁,c₁)−max(0,r₁+c₁−n)+1 tables, and the lf lookup as a
    * broadcast-args × range join (O(n·|args|) comparisons, fully
    * distributed — no global window, no driver loop). Choose conditions
    * with one SMALL margin: the table count is min(r₁,c₁)-bounded.
    * Returns one row (a, b, c, d, n, k_min, k_max, log_p_obs, n_tables,
    * p_two). */
  def fisherExact(df: DataFrame, condA: Column, condB: Column): DataFrame = {
    val spark = df.sparkSession
    val flags = df.select(condA.cast(BooleanType).as("__a"),
        condB.cast(BooleanType).as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
    val row = flags.agg(
      count(when(col("__a") && col("__b"), 1)).as("a"),
      count(when(col("__a") && !col("__b"), 1)).as("b"),
      count(when(!col("__a") && col("__b"), 1)).as("c"),
      count(when(!col("__a") && !col("__b"), 1)).as("d"))
      .collectBounded(1, "2x2 cell counts")(0)
    val (a, b, c, d) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    val n = a + b + c + d
    val (r1, c1) = (a + b, a + c)
    val kmin = math.max(0L, r1 + c1 - n)
    val kmax = math.min(r1, c1)
    val ks = spark.range(kmin, kmax + 1).select(col("id").as("k"))
    // the 9 lf arguments per table, with their sign position (0-3 add,
    // 4-8 subtract)
    val argsArr = array(lit(r1), lit(n - r1), lit(c1), lit(n - c1), lit(n),
      col("k"), lit(r1) - col("k"), lit(c1) - col("k"),
      lit(n - r1 - c1) + col("k"))
    val ex = ks.select(col("k"), posexplode(argsArr).as(Seq("pos", "x")))
    val needed = ex.select(col("x")).distinct()
    // ln-factorial prefix sums by RANGE-PARTITIONED CUMULATE (the ksTest
    // shape): O(n) terms summed once, then an equality join on the needed
    // arguments — the former `i <= x` theta join recomputed each prefix
    // from scratch (O(needed·n): 0.9 → 18 s from sf0.1 to sf1.0)
    import spark.implicits._
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val idx = spark.range(2L, n + 1).select(col("id").as("i"),
        floor(log(col("id").cast(DoubleType)) * lit(1e6))
          .cast(LongType).as("__li"))
      .repartitionByRange(parts, col("i"))
      .sortWithinPartitions(col("i"))
      .as[(Long, Long)]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val offs = idx.rdd.mapPartitionsWithIndex { (pid, it) =>
        var s = 0L; it.foreach { case (_, li) => s += li }
        Iterator((pid, s))
      }.collectBounded(1 << 20, "O(P) ln-factorial partition totals")
      .sortBy(_._1).map(_._2).scanLeft(0L)(_ + _)
    val bcOffs = spark.sparkContext.broadcast(offs)
    val cum = idx.rdd.mapPartitionsWithIndex { (pid, it) =>
      var s = bcOffs.value(pid)
      it.map { case (i, li) => s += li; (i, s) }
    }.toDF("i", "__cl")
    val lf = needed.join(cum, col("x") === col("i"), "left")
      .select(col("x"), coalesce(col("__cl"), lit(0L)).as("lf"))
    val logp = ex.join(lf, "x").groupBy(col("k"))
      .agg(sum(when(col("pos") <= 3, col("lf")).otherwise(-col("lf")))
        .as("logp"))
    val po = logp.filter(col("k") === lit(a))
      .select(col("logp").as("__pobs"))
    val tl = logp.crossJoin(broadcast(po))
      .filter(col("logp") <= col("__pobs"))
    val out = tl
      .agg(count(lit(1)).as("n_tables"),
        fs(exp(col("logp").cast(DoubleType) / lit(1e6)), 9).as("p_two"))
      .crossJoin(broadcast(po))
      .select(lit(a).as("a"), lit(b).as("b"), lit(c).as("c"),
        lit(d).as("d"), lit(n).as("n"), lit(kmin).as("k_min"),
        lit(kmax).as("k_max"),
        (col("__pobs").cast(DoubleType) / lit(1e6)).as("log_p_obs"),
        col("n_tables"), col("p_two"))
    // idx must stay cached until the final collect: the range partitioner
    // SAMPLES, so a recompute could re-draw boundaries and desync the
    // broadcast offsets
    val res = materializeSmall(out, 1, "one-row Fisher exact")
    idx.unpersist()
    res
  }

  /** EMPIRICAL MARKOV-CHAIN STATIONARY DISTRIBUTION: build the
    * transition-count matrix from per-key ordered state sequences
    * (lead(state) within each key), then power-iterate π·P with the
    * board's fixed-point BIGINT convention (the [[graft.ops.Graph.hits]]
    * arithmetic): π is a scaled LONG vector (Σπ = 10¹²), each step
    * accumulates per-edge floor(π_i·n_ij / n_i) in exact DECIMAL(38,0),
    * drops mass flowing into states with no outgoing transitions
    * (dangling states cannot carry stationary mass), and renormalizes by
    * integral division — every round is a pure integer function of the
    * counts, replayed verbatim by the oracle's HUGEINT `//`.
    *
    * Scale shape: the transition matrix is O(|states|²) rows — for a
    * categorical state column that is tiny regardless of input size, so
    * the per-round join/aggregate is a broadcast-class plan; the ONE
    * data-sized pass is the lead() window building transitions. The
    * matrix is persisted across rounds; rounds are driver-unrolled
    * (fixed count, no convergence action). Returns (state, pi) with pi
    * on the 10¹² scale. */
  def markovStationary(df: DataFrame, keyCols: Seq[String],
                       orderCols: Seq[String], stateCol: String,
                       rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"rounds=$rounds")
    import org.apache.spark.sql.expressions.Window
    val scale = 1000000000000L
    val ord = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val trans0 = df.filter(col(stateCol).isNotNull)
      .withColumn("__nxt", lead(col(stateCol), 1).over(ord))
      .filter(col("__nxt").isNotNull)
      .groupBy(col(stateCol).cast(StringType).as("src"),
        col("__nxt").cast(StringType).as("dst"))
      .agg(count(lit(1)).as("n"))
    val srcTot = trans0.groupBy(col("src"))
      .agg(sum(col("n")).as("tot"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val trans = trans0.join(srcTot, "src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val k = srcTot.count()
    require(k >= 1, "markovStationary: no transitions")
    // Gated local fast path: the state space of a Markov chain over a
    // categorical column is tiny (k = 4 event types at every SF here), yet the
    // distributed power iteration scheduled ~40 sub-second jobs per call
    // — pure driver/job overhead. For k ≤ 256 the O(k²) transition matrix
    // is collected (bounded) and the SAME integer arithmetic replayed
    // in-core with BigInt floor division — (π·n) div tot, then
    // (Σ)·scale div total — bit-identical to the DECIMAL(38,0) plan,
    // including the domain-shrink semantics (states with zero inflow drop
    // out of π exactly as the inner joins drop them). k > 256 keeps the
    // distributed loop untouched.
    if (k <= 256) {
      import graft.ops.Bounded._
      val tRows = trans.select(col("src"), col("dst"), col("n"), col("tot"))
        .collectBounded(256 * 256, "O(states²) transition matrix (k ≤ 256)")
      val states = srcTot.select(col("src"))
        .collectBounded(256, "O(states) source states").map(_.getString(0))
      trans.unpersist(); srcTot.unpersist()
      val sset = states.toSet
      var pi: Map[String, BigInt] =
        states.map(_ -> BigInt(scale / k)).toMap
      for (_ <- 1 to rounds) {
        val flowed = scala.collection.mutable.LinkedHashMap[String, BigInt]()
        tRows.foreach { r =>
          val src = r.getString(0); val dst = r.getString(1)
          pi.get(src) match {
            case Some(p) if sset.contains(dst) =>
              val t = p * r.getLong(2) / r.getLong(3)
              flowed(dst) = flowed.getOrElse(dst, BigInt(0)) + t
            case _ => ()
          }
        }
        val total = flowed.values.foldLeft(BigInt(0))(_ + _)
        pi = flowed.iterator
          .map { case (s, v) => s -> v * scale / total }.toMap
      }
      val spark = df.sparkSession
      import spark.implicits._
      return pi.toSeq.map { case (s, v) => (s, v.toLong) }
        .sortBy(_._1).toDF("state", "pi")
    }
    var pi = srcTot.select(col("src").as("state"),
      lit(scale / k).as("pi")).localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val flowed = trans
        .join(pi, trans("src") === pi("state"))
        .select(col("dst"),
          expr("CAST(pi AS DECIMAL(38,0)) * n div tot").as("__t"))
        .groupBy(col("dst")).agg(sum(col("__t")).as("__s"))
        // dangling mass out; only source states carry π
        .join(srcTot.select(col("src").as("dst")), Seq("dst"), "inner")
      val total = flowed.agg(sum(col("__s")).as("__tot"))
      val next = flowed.crossJoin(broadcast(total))
        .select(col("dst").as("state"),
          // cast BEFORE the multiply: Σs·10¹² overflows LONG
          expr(s"CAST(__s AS DECIMAL(38,0)) * ${scale}L div __tot")
            .cast(LongType).as("pi"))
        .localCheckpoint(true)
      Checkpoints.releaseLocalCheckpoint(pi)
      pi = next
    }
    val out = pi.orderBy(col("state"))
    trans.unpersist(); srcTot.unpersist()
    out
  }

  /** LEVENE'S TEST, Brown-Forsythe variant — are the group VARIANCES
    * equal? (the assumption [[anovaOneWay]] itself rests on): one-way
    * ANOVA F computed on z = |x − median_group| (the median centering is
    * what makes it robust to non-normality; Levene's original mean
    * centering is strictly dominated). Group medians come from the
    * [[graft.ops.Reductions.groupQuantiles]] exact interpolated machinery
    * (no per-group value buffering), the rest IS [[anovaOneWay]] on the
    * derived column — same exact-sum discipline, same output shape
    * (k, n, ssb, ssw, f). */
  def leveneTest(df: DataFrame, valueCol: String, groupCol: String)
      : DataFrame = {
    val x = col(valueCol).cast(DoubleType)
    val f = df
      .filter(col(groupCol).isNotNull && x.isNotNull && !isnan(x))
      .select(col(groupCol).as("__g"), x.as("__x"))
    val med = Reductions.groupQuantiles(f, "__g", "__x", Seq("med" -> 0.5))
      .select(col("__g"), col("med"))
    val z = f.join(med, "__g")
      .select(col("__g").as("grp"), abs(col("__x") - col("med")).as("__z"))
    anovaOneWay(z, "__z", "grp")
  }

  /** BARTLETT'S TEST for equal variances — the parametric (normality-
    * assuming) sharper sibling of [[leveneTest]]:
    *   χ² = [(N−k)·ln Sp² − Σ(nᵢ−1)·ln Sᵢ²] / C,
    *   C = 1 + (Σ1/(nᵢ−1) − 1/(N−k)) / (3(k−1)),
    * with Sᵢ² the unbiased group variances and Sp² their pooled value.
    * Groups with fewer than 2 observations are excluded (their variance
    * is undefined); χ² is null unless k ≥ 2, N > k and every group
    * variance is positive. All moment sums exact (floor-scaled); the
    * ln terms fold through floor-scaled sums over the O(k) group frame
    * (the zipf convention). Returns one row
    * (k, n, pooled_var, chi2). */
  def bartlettTest(df: DataFrame, valueCol: String, groupCol: String)
      : DataFrame = {
    val x = col(valueCol).cast(DoubleType)
    val pg = df
      .filter(col(groupCol).isNotNull && x.isNotNull && !isnan(x))
      .select(col(groupCol).as("__g"), x.as("__x"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"),
        fs(col("__x"), 6).as("__sx"),
        fs(col("__x") * col("__x"), 6).as("__sxx"))
      .filter(col("__n") >= 2L)
    val nD = col("__n").cast(DoubleType)
    val withV = pg.withColumn("__v",
      (col("__sxx") - col("__sx") * col("__sx") / nD) / (nD - 1.0))
    val agg = withV.agg(count(lit(1)).as("k"), sum(col("__n")).as("n"),
      fs(col("__sxx") - col("__sx") * col("__sx") / nD, 9).as("__ssw"),
      fs(when(col("__v") > 0.0, (nD - 1.0) * log(col("__v")))
        .otherwise(lit(0.0)), 9).as("__lnterm"),
      fs(lit(1.0) / (nD - 1.0), 9).as("__inv"),
      min(col("__v")).as("__minv"))
    val kD = col("k").cast(DoubleType)
    val nT = col("n").cast(DoubleType)
    val sp2 = col("__ssw") / (nT - kD)
    val c = lit(1.0) + (col("__inv") - lit(1.0) / (nT - kD)) /
      (lit(3.0) * (kD - 1.0))
    val out = agg.select(col("k"), col("n"),
      when(col("n") > col("k"), sp2).as("pooled_var"),
      when(col("k") > 1L && col("n") > col("k") && col("__minv") > 0.0,
        ((nT - kD) * log(sp2) - col("__lnterm")) / c).as("chi2"))
    materializeSmall(out, 1, "one-row Bartlett")
  }

  /** TWO-SAMPLE CRAMÉR-VON MISES statistic — the whole-distribution
    * companion to [[ksTest]] (which sees only the single largest ECDF
    * gap) and Mann-Whitney (location only):
    *   T = Σ_z mult(z)·(n·m·(F(z)−G(z)))² / (N²·n·m),
    * summed over the pooled observations. Everything inside the sum is
    * EXACT integer arithmetic: per-distinct-value group counts, running
    * cumulative counts c1/c2, diff = c1·m − c2·n (the scaled ECDF gap),
    * and mult·diff² accumulated in BigInt (diff² alone overflows LONG
    * past ~2M pooled rows) — the float appears only in the one final
    * division, with the denominator's IEEE product order pinned. Runs on
    * the [[Folds.twoClass]] cumulate. Returns (n1, n2, t_stat). */
  def cramerVonMises(df: DataFrame, valueCol: String, groupCol: String,
                     a: String, b: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (n1, n2, sums) = twoGroups(df, valueCol, groupCol, a, b) { (p, it) =>
      var c1 = p.c1; var c2 = p.c2
      var acc = BigInt(0)
      it.foreach { case (_, d1, d2) =>
        c1 += d1; c2 += d2
        val diff = BigInt(c1) * p.n2 - BigInt(c2) * p.n1
        acc += diff * diff * (d1 + d2)
      }
      acc
    }
    val t =
      if (n1 == 0 || n2 == 0) null
      else {
        val s = (n1 + n2).toDouble
        // the pinned denominator order the SQL replays: ((N·N)·n)·m
        java.lang.Double.valueOf(
          sums.sum.toDouble / (s * s * n1.toDouble * n2.toDouble))
      }
    Seq((n1, n2)).toDF("n1", "n2")
      .withColumn("t_stat", lit(t).cast(DoubleType))
  }

  /** MARKOV-CHAIN ENTROPY RATE in nats — how predictable is the next
    * state given the current one, weighted by where the chain actually
    * lives: H = −Σ_i (π_i/10¹²)·Σ_j p_ij·ln p_ij with π from
    * [[markovStationary]] (same keyed sequences, same rounds) and
    * p_ij = n_ij/n_i from the exact transition counts. The per-edge
    * doubles are fixed functions of exact integers; their sum is
    * floor-scaled (1e9). One extra O(|states|²) join over the
    * stationary run — the data-sized work is [[markovStationary]]'s one
    * lead() pass (paid twice here; both passes are one shuffle each).
    * Returns one row (n_states, entropy_rate). */
  def markovEntropyRate(df: DataFrame, keyCols: Seq[String],
                        orderCols: Seq[String], stateCol: String,
                        rounds: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pi = markovStationary(df, keyCols, orderCols, stateCol, rounds)
    val ord = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val trans0 = df.filter(col(stateCol).isNotNull)
      .withColumn("__nxt", lead(col(stateCol), 1).over(ord))
      .filter(col("__nxt").isNotNull)
      .groupBy(col(stateCol).cast(StringType).as("src"),
        col("__nxt").cast(StringType).as("dst"))
      .agg(count(lit(1)).as("n"))
    val trans = trans0.join(
      trans0.groupBy(col("src")).agg(sum(col("n")).as("tot")), "src")
    val p = col("n").cast(DoubleType) / col("tot").cast(DoubleType)
    val term = col("pi").cast(DoubleType) / lit(1e12) * p * log(p)
    val out = trans.join(pi, trans("src") === pi("state"))
      .agg(countDistinct(col("state")).as("n_states"),
        (-fs(term, 9)).as("entropy_rate"))
    materializeSmall(out, 1, "one-row entropy rate")
  }

  /** MARKOV NEXT-STATE PREDICTION TABLE — the maximum-likelihood
    * next-state per current state from the empirical transition counts
    * (ties → lexicographically smallest next state, so the table is
    * total and replayable), plus each prediction's conditional
    * probability and the state's share of all transitions. The sum of
    * n_top over the sum of n_total is the chain's top-1 next-event
    * predictability — the practical readout of [[markovEntropyRate]].
    * One lead() pass + O(|states|²) argmax. Returns one row per state:
    * (state, predicted_next, n_top, n_total, p_top). */
  def markovPredictNext(df: DataFrame, keyCols: Seq[String],
                        orderCols: Seq[String], stateCol: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val trans = df.filter(col(stateCol).isNotNull)
      .withColumn("__nxt", lead(col(stateCol), 1).over(ord))
      .filter(col("__nxt").isNotNull)
      .groupBy(col(stateCol).cast(StringType).as("state"),
        col("__nxt").cast(StringType).as("nxt"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("state"))
      .orderBy(col("n").desc, col("nxt").asc)
    trans.withColumn("__rn", row_number().over(w))
      .withColumn("__tot", sum(col("n")).over(Window.partitionBy(col("state"))))
      .filter(col("__rn") === 1)
      .select(col("state"), col("nxt").as("predicted_next"),
        col("n").as("n_top"), col("__tot").as("n_total"),
        (col("n").cast(DoubleType) / col("__tot").cast(DoubleType))
          .as("p_top"))
  }

  /** PERIODOGRAM at the first `maxK` Fourier frequencies of a SINGLE
    * (pre-aggregated, bounded) series — the classical
    * periodicity-detection readout: P_k = C_k² + S_k² with
    * C_k = Σ_t x_t·cos(2πkt/n), S_k the sine analog, t = 0..n−1 in the
    * given order. The diurnal/weekly cycle of an event stream shows up
    * as a spike at its frequency. Intended for SERIES frames (hourly
    * counts, daily totals — O(time range), not O(data)); the global
    * row_number window is on that bounded frame.
    *
    * Trig is the board's one PORTABLE-KERNEL site: JVM Math.cos and
    * DuckDB's vectorized trig disagree by a ulp on ~8% of arguments
    * (measured), and Fourier angles 2πkt/n hit exact boundary values
    * (sin π/6 = 0.5) whenever n is round — so no floor grid can pin
    * library trig across engines. Instead both engines evaluate the
    * SAME function: exact integer phase m = (k·t) mod n, quadrant
    * reduction to z ∈ [0, π/2), and a Taylor–Horner polynomial
    * ([[Stats.CosCoef]]/[[Stats.SinCoef]], |err| < 6e-12 on the reduced
    * range) in plain double ops — bit-identical by construction. The
    * x·trig products then fold through floor-scaled exact sums; C/S are
    * squared in pinned order. Returns one row per k: (k, n, power). */
  def periodogram(df: DataFrame, orderCols: Seq[String], valueCol: String,
                  maxK: Int = 6, maxSeriesRows: Long = 1L << 22): DataFrame = {
    require(maxK >= 1, s"maxK=$maxK")
    // This operator's input is BY CONTRACT a bounded O(time-range)
    // series, yet the distributed form pays driver-side analysis +
    // whole-stage codegen of 2·maxK Taylor–Horner aggregate trees on
    // every run (profiled: q357 8.3 s cold / ~2 s warm, of which jobs
    // are <1 s). So the ordered series is probed with a collect one row
    // past the driver limit: when it fits, the IDENTICAL double sequence
    // — integer phase, quadrant reduction, Taylor–Horner, floor-scaled
    // 10⁶ sums — runs in-core (PeriodogramLocalParitySpec asserts bit
    // parity). A longer series falls through to the distributed plan,
    // whose in-plan seriesBound guard enforces the contract loudly.
    val spark = df.sparkSession
    val cap = math.min(math.min(driverRowLimit(spark), maxSeriesRows),
      Int.MaxValue - 2L).toInt
    if (cap > 0) {
      val taken = df.orderBy(orderCols.map(col): _*)
        .select(col(valueCol).cast(DoubleType))
        .limit(cap + 1)
        .collectBounded(cap + 1,
          "gated local periodogram series (≤ limit+1 by the plan limit; " +
            "limit+1 rows ⇒ fall through to the distributed plan)")
      if (taken.length <= cap)
        return periodogramLocal(spark,
          taken.map(r => if (r.isNullAt(0)) null
            else java.lang.Double.valueOf(r.getDouble(0))), maxK)
    }
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(orderCols.map(col): _*)
    val base = df
      .withColumn("__t", (row_number().over(w) - 1).cast(LongType))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy()))
      // the stated O(time-range) series contract, ENFORCED in-plan (the
      // Bounded doctrine for global-window inputs): the count rides the
      // window pass the operator already pays, so an unbounded series
      // fails loudly here instead of silently single-tasking the engine
      .withColumn("__x", seriesBound(col(valueCol).cast(DoubleType),
        col("__n"), maxSeriesRows, "periodogram"))
    val ks = (1 to maxK)
    val aggs = ks.flatMap { k =>
      val p = pmod(lit(k.toLong) * col("__t"), col("__n"))
        .cast(DoubleType) / col("__n").cast(DoubleType)
      val q = floor(p * lit(4.0)).cast(LongType)
      val z = lit(2.0 * math.Pi) * (p - q.cast(DoubleType) / lit(4.0))
      val w2 = z * z
      val cp = lit(1.0) + w2 * horner(w2, CosCoef)
      val sp = z * (lit(1.0) + w2 * horner(w2, SinCoef))
      val cv = when(q === 0L, cp).when(q === 1L, -sp)
        .when(q === 2L, -cp).otherwise(sp)
      val sv = when(q === 0L, sp).when(q === 1L, cp)
        .when(q === 2L, -sp).otherwise(-cp)
      Seq(fs(col("__x") * cv, 6).as(s"__c_$k"),
        fs(col("__x") * sv, 6).as(s"__s_$k"))
    }
    // materialize the single moment row BEFORE the per-k fan-out: the
    // output union has one branch per frequency, and without this each
    // branch re-executes the full series aggregation (K scans of the
    // input lineage for K one-row selects — measured 2× wall on q401's
    // double consumption). Same values, so every oracle is unchanged.
    val agg = materializeSmall(
      base.agg(count(lit(1)).as("n"), aggs: _*), 1, "periodogram moments")
    ks.map { k =>
      agg.select(lit(k).as("k"), col("n"),
        (col(s"__c_$k") * col(s"__c_$k") +
          col(s"__s_$k") * col(s"__s_$k")).as("power"))
    }.reduce(_.unionByName(_))
  }

  /** In-plan bound enforcement for BOUNDED-SERIES operators (r18 —
    * the [[graft.ops.Bounded]] doctrine applied to global-window
    * inputs): these operators put `row_number`/`lag` over a
    * partition-less Window, which is safe ONLY under their documented
    * O(time-range) aggregated-series contract. Wrapping the series
    * value makes the contract self-enforcing: when the row count
    * exceeds `maxRows` the plan raises a loud error naming the
    * operator — no extra job, the count rides a window pass the
    * operator already pays — instead of silently funneling a data-sized
    * frame through one task at 100 TB. Within the bound the guard is
    * the identity. */
  private def seriesBound(x: Column, n: Column, maxRows: Long,
                          op: String): Column =
    when(n <= lit(maxRows), x).otherwise(raise_error(concat(
      lit(s"$op: series has "), n.cast(StringType),
      lit(s" rows > the documented bound of $maxRows — this operator " +
        "requires an aggregated O(time-range) series; fix the plan " +
        "(aggregate first), don't widen the bound"))))

  /** Taylor coefficients for the portable trig kernel: cos(z) = 1 +
    * w·H(w, CosCoef), sin(z) = z·(1 + w·H(w, SinCoef)) with w = z², H
    * the Horner fold. Public so the SQL oracle interpolates the SAME
    * shortest-roundtrip literals. */
  val CosCoef: Seq[Double] = Seq(-1.0 / 2, 1.0 / 24, -1.0 / 720,
    1.0 / 40320, -1.0 / 3628800, 1.0 / 479001600,
    -1.0 / 87178291200.0, 1.0 / 20922789888000.0)
  val SinCoef: Seq[Double] = Seq(-1.0 / 6, 1.0 / 120, -1.0 / 5040,
    1.0 / 362880, -1.0 / 39916800, 1.0 / 6227020800.0,
    -1.0 / 1307674368000.0)

  private def horner(w: Column, coeffs: Seq[Double]): Column =
    coeffs.reverse.tail.foldLeft(lit(coeffs.last): Column)(
      (acc, a) => lit(a) + w * acc)

  private def hornerD(w: Double, coeffs: Seq[Double]): Double =
    coeffs.reverse.tail.foldLeft(coeffs.last)((acc, a) => a + w * acc)

  /** In-core replay of [[periodogram]]'s exact arithmetic over the
    * collected series (t order = the window's total order): per (k, t)
    * the same integer phase / quadrant / Taylor–Horner doubles, per k
    * the same floor-scaled 10⁶ sums (nulls skipped, rows still counted),
    * powers squared in the same order. Null power when a sum had no
    * terms — the distributed aggregate's null semantics. */
  private def periodogramLocal(spark: org.apache.spark.sql.SparkSession,
                               xs: Array[java.lang.Double],
                               maxK: Int): DataFrame = {
    val n = xs.length.toLong
    val rows = (1 to maxK).map { k =>
      var accC = BigInt(0); var accS = BigInt(0); var any = false
      var t = 0L
      while (t < n) {
        val xv = xs(t.toInt)
        if (xv != null) {
          any = true
          val x = xv.doubleValue()
          val m = ((k.toLong * t) % n + n) % n // pmod, non-negative here
          val p = m.toDouble / n.toDouble
          val q = math.floor(p * 4.0).toLong
          val z = (2.0 * math.Pi) * (p - q.toDouble / 4.0)
          val w2 = z * z
          val cp = 1.0 + w2 * hornerD(w2, CosCoef)
          val sp = z * (1.0 + w2 * hornerD(w2, SinCoef))
          val cv = if (q == 0L) cp else if (q == 1L) -sp
            else if (q == 2L) -cp else sp
          val sv = if (q == 0L) sp else if (q == 1L) cp
            else if (q == 2L) -sp else -cp
          accC += BigInt(math.floor((x * cv) * 1e6).toLong)
          accS += BigInt(math.floor((x * sv) * 1e6).toLong)
        }
        t += 1L
      }
      val power: java.lang.Double =
        if (!any) null
        else {
          val c = new java.math.BigDecimal(accC.bigInteger).doubleValue() / 1e6
          val s = new java.math.BigDecimal(accS.bigInteger).doubleValue() / 1e6
          java.lang.Double.valueOf(c * c + s * s)
        }
      org.apache.spark.sql.Row(k, n, power)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("k", IntegerType, nullable = false),
        StructField("n", LongType, nullable = false),
        StructField("power", DoubleType, nullable = true))))
  }

  /** FANO FACTOR (burstiness index) per category over fixed time
    * buckets: F = Var(count)/Mean(count) across buckets — 1 for a
    * Poisson arrival process, ≫1 for bursty traffic, <1 for regular.
    * The bucket grid is the set of buckets where ANY event occurred
    * (empty-in-between buckets count as zero for every category via a
    * grid cross-join — O(buckets·categories), both bounded), so a
    * category silent during another's burst is correctly penalized.
    * All sums exact (counts BIGINT, squares via DECIMAL); the two
    * divisions replay in pinned order. Returns
    * (category, n_buckets, mean_per_bucket, fano). */
  def fanoFactor(df: DataFrame, tsCol: String, catCol: String,
                 bucket: String = "hour"): DataFrame = {
    val b = df.filter(col(catCol).isNotNull && col(tsCol).isNotNull)
      .select(col(catCol).cast(StringType).as("__cat"),
        date_trunc(bucket, col(tsCol)).as("__b"))
    val grid = b.select(col("__b")).distinct()
      .crossJoin(b.select(col("__cat")).distinct())
    val counts = b.groupBy(col("__cat"), col("__b"))
      .agg(count(lit(1)).as("__c"))
    val nD = count(lit(1)).cast(DoubleType)
    grid.join(counts, Seq("__cat", "__b"), "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
      .groupBy(col("__cat"))
      .agg(count(lit(1)).as("n_buckets"),
        (sum(col("__c")).cast(DoubleType) / nD).as("__mean"),
        (sum((col("__c").cast(DecimalType(38, 0)) * col("__c")))
          .cast(DoubleType) / nD).as("__m2"))
      .select(col("__cat").as("category"), col("n_buckets"),
        col("__mean").as("mean_per_bucket"),
        when(col("__mean") > 0.0,
          (col("__m2") - col("__mean") * col("__mean")) / col("__mean"))
          .as("fano"))
  }

  /** HURST EXPONENT via R/S ANALYSIS per key (Hurst 1951; the
    * long-range-dependence diagnostic — H > 0.5 trending, < 0.5 mean-
    * reverting): for each chunk size m, split the ordered series into
    * full m-length chunks, compute each chunk's rescaled range
    * R/S = (max−min of cumulative mean-deviations) / population σ,
    * average R/S per size, then fit log(R/S) on log(m) — the slope is H.
    *
    * Determinism: chunk sums are exact (values floored to 1e-6 LONGs,
    * cumulated by window), means/deviations replay a fixed IEEE op
    * order, σ² from floor-scaled exact Σx² (the [[archLm]] convention),
    * per-size means and the final log-log OLS from floor-scaled sums
    * (the zipf-slope convention). Scale shape: one explode(×|sizes|) +
    * two window passes + two keyed aggregations — all shuffles on the
    * key columns; no driver iteration. Returns (keys..., n_points,
    * hurst). */
  def hurstRs(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
              valueCol: String,
              sizes: Seq[Int] = Seq(8, 16, 32)): DataFrame = {
    require(sizes.size >= 2 && sizes.forall(_ >= 2), s"sizes=$sizes")
    import org.apache.spark.sql.expressions.Window
    val v = col(valueCol).cast(DoubleType)
    val part = Window.partitionBy(keyCols.map(col): _*)
    val ord = part.orderBy(orderCols.map(col): _*)
    val b = df.filter(v.isNotNull && !isnan(v))
      .withColumn("__xi", floor(v * lit(1e6)).cast(LongType))
      .withColumn("__rn", row_number().over(ord).cast(LongType))
      .withColumn("__n", count(lit(1)).over(part))
      .withColumn("__m", explode(lit(sizes.map(_.toLong).toArray)))
      .filter(col("__rn") <= expr("__n div __m") * col("__m"))
      .withColumn("__chunk", expr("(__rn - 1) div __m"))
    val chunkKeys = keyCols.map(col) ++ Seq(col("__m"), col("__chunk"))
    val cPart = Window.partitionBy(chunkKeys: _*)
    val cOrd = cPart.orderBy(col("__rn"))
    val withDev = b
      .withColumn("__cs", sum(col("__xi")).over(cOrd))
      .withColumn("__s6", sum(col("__xi")).over(cPart))
      .withColumn("__mu", col("__s6").cast(DoubleType) / lit(1e6) /
        col("__m").cast(DoubleType))
      .withColumn("__t", col("__rn") - col("__chunk") * col("__m"))
      .withColumn("__dev", col("__cs").cast(DoubleType) / lit(1e6) -
        col("__t").cast(DoubleType) * col("__mu"))
    val md = col("__m").cast(DoubleType)
    val perChunk = withDev.groupBy(chunkKeys: _*)
      .agg(max(col("__dev")).as("__dmax"), min(col("__dev")).as("__dmin"),
        max(col("__mu")).as("__mean"),
        fs(col(valueCol).cast(DoubleType) *
          col(valueCol).cast(DoubleType), 6).as("__sxx"))
      .withColumn("__var",
        col("__sxx") / md - col("__mean") * col("__mean"))
      .filter(col("__var") > 0.0)
      .withColumn("__rs", (col("__dmax") - col("__dmin")) /
        sqrt(col("__var")))
    val perSize = perChunk
      .groupBy((keyCols.map(col) :+ col("__m")): _*)
      .agg(count(lit(1)).as("__nc"), fs(col("__rs"), 6).as("__rssum"))
      .withColumn("__rsm", col("__rssum") / col("__nc").cast(DoubleType))
      .filter(col("__rsm") > 0.0)
      .withColumn("__x", log(col("__m").cast(DoubleType)))
      .withColumn("__y", log(col("__rsm")))
    val n = count(lit(1)).cast(DoubleType)
    val sx = fs(col("__x"), 6); val sy = fs(col("__y"), 6)
    val sxx = fs(col("__x") * col("__x"), 6)
    val sxy = fs(col("__x") * col("__y"), 6)
    perSize.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_points"),
        when(n * sxx - sx * sx > 0.0,
          (n * sxy - sx * sy) / (n * sxx - sx * sx)).as("hurst"))
      .select((keyCols.map(col) ++
        Seq(col("n_points"), col("hurst"))): _*)
  }

  /** JARQUE–BERA normality test per group: JB = n/6·(S² + (K−3)²/4) from
    * population skewness S = m₃/m₂^{3/2} and kurtosis K = m₄/m₂², with the
    * central moments assembled from RAW floor-scaled exact power sums
    * (Σx…Σx⁴) — one keyed aggregation, nothing data-sized leaves the
    * executors, and every post-aggregation step is a pinned ±/×// sequence
    * any engine replays bit-for-bit (the anova/chi-square convention).
    * Quartic digits default to 2: addends floor(x⁴·10²) stay under 2^63
    * for |x| up to ~10⁴. Degenerate groups (m₂ ≤ 0) report null S/K/JB.
    * Returns (group, n, skewness, kurtosis, jb). */
  def jarqueBera(df: DataFrame, valueCol: String, groupCol: String,
                 quarticDigits: Int = 2): DataFrame = {
    val x = col(valueCol).cast(DoubleType)
    val agg = df
      .filter(col(groupCol).isNotNull && x.isNotNull && !isnan(x))
      .select(col(groupCol), x.as("__x"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        fs(col("__x"), 6).as("__s1"),
        fs(col("__x") * col("__x"), 6).as("__s2"),
        fs(col("__x") * col("__x") * col("__x"), 4).as("__s3"),
        fs(col("__x") * col("__x") * col("__x") * col("__x"), quarticDigits)
          .as("__s4"))
    val nD = col("n").cast(DoubleType)
    val mu = col("__s1") / nD
    val m2 = col("__s2") / nD - mu * mu
    val m3 = col("__s3") / nD - lit(3.0) * mu * (col("__s2") / nD) +
      lit(2.0) * mu * mu * mu
    val m4 = col("__s4") / nD - lit(4.0) * mu * (col("__s3") / nD) +
      lit(6.0) * mu * mu * (col("__s2") / nD) - lit(3.0) * mu * mu * mu * mu
    val skew = m3 / (m2 * sqrt(m2))
    val kurt = m4 / (m2 * m2)
    agg.select(col(groupCol), col("n"),
      when(m2 > 0.0, skew).as("skewness"),
      when(m2 > 0.0, kurt).as("kurtosis"),
      when(m2 > 0.0,
        (nD / lit(6.0)) * (skew * skew +
          (kurt - lit(3.0)) * (kurt - lit(3.0)) / lit(4.0))).as("jb"))
  }

  /** TUKEY HSD post-hoc pairwise comparison after a one-way ANOVA: for
    * every group pair the studentized-range statistic
    * q = |x̄_a − x̄_b| / √(MSW/2 · (1/n_a + 1/n_b)) (the unequal-n
    * Tukey–Kramer form), with MSW from the SAME per-group exact moment
    * pass [[anovaOneWay]] runs. The cross-group SSW reduction re-floor-
    * scales the per-group doubles at 10⁹ (the anova between-term
    * convention) so reduce order can't perturb it; the pair frame is
    * O(k²) on k groups — trivially bounded. Returns
    * (group_a, group_b, n_a, n_b, mean_a, mean_b, q_stat), a < b. */
  def tukeyHsd(df: DataFrame, valueCol: String, groupCol: String)
      : DataFrame = {
    val x = col(valueCol).cast(DoubleType)
    val perGroup = df
      .filter(col(groupCol).isNotNull && x.isNotNull && !isnan(x))
      .select(col(groupCol).cast(StringType).as("__g"), x.as("__x"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"),
        Reductions.isum(col("__x"), 6).as("__sx"),
        Reductions.isum(col("__x") * col("__x"), 6).as("__sxx"))
      // ADDEND BUDGET (r18, the jarqueBera quarticDigits convention made
      // loud): __bt is floor-scaled at 10⁹ below, so Spark's
      // double→long cast clamps silently at |bt| ≳ 9.2e9 while the
      // DuckDB mirror's DECIMAL(38,0) does not — the engines would then
      // diverge without an error. Refuse the out-of-budget input
      // instead (in-plan, no extra job): rescale the value column if a
      // legitimate corpus trips this.
      .withColumn("__bt", {
        val bt = col("__sx") * col("__sx") / col("__n").cast(DoubleType)
        when(abs(bt) < lit(9.0e9), bt).otherwise(raise_error(concat(
          lit("tukeyHsd: per-group between-term "), bt.cast(StringType),
          lit(" exceeds the 10^9 floor-scale addend budget (~9.2e9) — " +
            "the long cast would clamp silently; rescale the value " +
            "column"))))
      })
    val tot = perGroup.agg(
      count(lit(1)).as("__k"), sum(col("__n")).as("__nn"),
      Reductions.isum(col("__sxx"), 6).as("__sxxall"),
      Reductions.isum(col("__bt"), 9).as("__btall"))
      .select(col("__k"), col("__nn"),
        when(col("__nn") > col("__k"),
          (col("__sxxall") - col("__btall")) /
            (col("__nn") - col("__k")).cast(DoubleType)).as("__msw"))
    val a = perGroup.select(col("__g").as("group_a"), col("__n").as("n_a"),
      (col("__sx") / col("__n").cast(DoubleType)).as("mean_a"))
    val b = perGroup.select(col("__g").as("group_b"), col("__n").as("n_b"),
      (col("__sx") / col("__n").cast(DoubleType)).as("mean_b"))
    a.join(b, col("group_a") < col("group_b"))
      .crossJoin(broadcast(tot))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        col("mean_a"), col("mean_b"),
        when(col("__msw") > 0.0,
          abs(col("mean_a") - col("mean_b")) /
            sqrt((col("__msw") / lit(2.0)) *
              (lit(1.0) / col("n_a").cast(DoubleType) +
                lit(1.0) / col("n_b").cast(DoubleType)))).as("q_stat"))
  }

  /** PAGE–HINKLEY upward-drift detector over the hourly mean series of a
    * value column: cumulative deviations from the RUNNING mean,
    * m_t = Σ_{i≤t} (x_i − x̄_{1..i} − δ), alarm when
    * PH_t = m_t − min_{s≤t} m_s exceeds λ. The classic streaming
    * changepoint monitor next to [[graft.ops.Indicators]]' CUSUM (which
    * tracks a FIXED reference mean; PH tracks the evolving one).
    *
    * Scale shape: the detector runs on the hourly AGGREGATE series —
    * O(time range) rows, not O(data) (the periodogram argument) — built by
    * one keyed exact aggregation; the sequential fold is a bounded driver
    * readout with every accumulator a floor-scaled LONG (terms at 10⁶), so
    * the fold replays exactly in SQL window cumulates. Returns one row
    * (n_points, ph_max, alarm, alarm_ts). */
  def pageHinkley(df: DataFrame, tsCol: String, valueCol: String,
                  delta: Double, lambda: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val x = col(valueCol).cast(DoubleType)
    val hourly = df
      .filter(col(tsCol).isNotNull && x.isNotNull && !isnan(x))
      .groupBy(date_trunc("hour", col(tsCol)).as("__h"))
      .agg((Reductions.isum(x, 6) / count(lit(1))).as("__m"))
      .orderBy(col("__h"))
    // 1<<20 hours ≈ 120 years — generous for any hourly series, and a
    // bound the driver pays comfortably (the r19 footprint review)
    val rows = hourly.collectBounded(1 << 20, "O(hours) PH series")
    var cumX = 0L          // Σ floor(x·10⁶)
    var cumT = 0L          // Σ floor((x − runmean − δ)·10⁶)
    var minM = 0L
    var phMax = 0L
    var t = 0L
    var alarmTs: java.sql.Timestamp = null
    rows.foreach { r =>
      val xv = r.getDouble(1)
      t += 1
      cumX += math.floor(xv * 1e6).toLong
      val runMean = (cumX.toDouble / 1e6) / t.toDouble
      cumT += math.floor((xv - runMean - delta) * 1e6).toLong
      if (cumT < minM) minM = cumT
      val ph = cumT - minM
      if (ph > phMax) phMax = ph
      if (alarmTs == null && ph.toDouble / 1e6 > lambda)
        alarmTs = r.getTimestamp(0)
    }
    Seq((rows.length.toLong, phMax.toDouble / 1e6, alarmTs != null))
      .toDF("n_points", "ph_max", "alarm")
      .withColumn("alarm_ts", lit(alarmTs).cast(TimestampType))
  }

  /** GRANGER CAUSALITY (lag-1) between two hourly count series: does
    * series x help predict series y beyond y's own past? F-test of the
    * restricted model y_t ~ y_{t−1} against the full y_t ~ y_{t−1} + x_{t−1},
    * F = (RSS_r − RSS_f) / (RSS_f / (n − 3)).
    *
    * The series are EVENT COUNTS per hour, so every moment (Σy, Σy·y₁,
    * Σy₁x₁, …) is an exact BIGINT — no floor scaling needed anywhere; the
    * OLS closed forms (2-var slope, 3×3 Cramer — the q112 mirror pattern)
    * run on one O(1) aggregate row. The lag window is partition-less but
    * runs over the O(time range) hourly frame (bounded by construction).
    * Returns one row (n, rss_r, rss_f, f_stat). */
  def grangerLag1(df: DataFrame, tsCol: String, typeCol: String,
                  yType: String, xType: String,
                  maxSeriesRows: Long = 1L << 22): DataFrame = {
    val hourly = df
      .filter(col(tsCol).isNotNull)
      .groupBy(date_trunc("hour", col(tsCol)).as("__h"))
      .agg(sum(when(col(typeCol) === yType, 1L).otherwise(0L)).as("__y"),
        sum(when(col(typeCol) === xType, 1L).otherwise(0L)).as("__x"))
      // in-plan series-bound guard — see [[seriesBound]]
      .withColumn("__y", seriesBound(col("__y").cast(DoubleType),
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy()),
        maxSeriesRows, "grangerLag1").cast(LongType))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("__h"))
    val lagged = hourly
      .withColumn("__y1", lag(col("__y"), 1).over(w))
      .withColumn("__x1", lag(col("__x"), 1).over(w))
      .filter(col("__y1").isNotNull && col("__x1").isNotNull)
    val agg = lagged.agg(
      count(lit(1)).as("n"),
      sum(col("__y")).as("sy"), sum(col("__y") * col("__y")).as("syy"),
      sum(col("__y1")).as("s1"), sum(col("__y1") * col("__y1")).as("p11"),
      sum(col("__x1")).as("s2"), sum(col("__x1") * col("__x1")).as("p22"),
      sum(col("__y1") * col("__x1")).as("p12"),
      sum(col("__y") * col("__y1")).as("q1"),
      sum(col("__y") * col("__x1")).as("q2"))
    val nD = col("n").cast(DoubleType)
    def d(c: Column): Column = c.cast(DoubleType)
    // restricted: y ~ 1 + y1 (simple OLS); RSS_r = Syy_c − b·S_{y1,y}_c
    val s1c = nD * d(col("p11")) - d(col("s1")) * d(col("s1"))
    val sxyC = nD * d(col("q1")) - d(col("s1")) * d(col("sy"))
    val syyC = nD * d(col("syy")) - d(col("sy")) * d(col("sy"))
    val rssR = (syyC - sxyC * sxyC / s1c) / nD
    // full: y ~ 1 + y1 + x1 via the 3×3 Cramer mirror (q112 pattern)
    val det = nD * (d(col("p11")) * d(col("p22")) - d(col("p12")) * d(col("p12"))) -
      d(col("s1")) * (d(col("s1")) * d(col("p22")) - d(col("p12")) * d(col("s2"))) +
      d(col("s2")) * (d(col("s1")) * d(col("p12")) - d(col("p11")) * d(col("s2")))
    val det0 = d(col("sy")) * (d(col("p11")) * d(col("p22")) - d(col("p12")) * d(col("p12"))) -
      d(col("s1")) * (d(col("q1")) * d(col("p22")) - d(col("p12")) * d(col("q2"))) +
      d(col("s2")) * (d(col("q1")) * d(col("p12")) - d(col("p11")) * d(col("q2")))
    val det1 = nD * (d(col("q1")) * d(col("p22")) - d(col("p12")) * d(col("q2"))) -
      d(col("sy")) * (d(col("s1")) * d(col("p22")) - d(col("p12")) * d(col("s2"))) +
      d(col("s2")) * (d(col("s1")) * d(col("q2")) - d(col("q1")) * d(col("s2")))
    val det2 = nD * (d(col("p11")) * d(col("q2")) - d(col("q1")) * d(col("p12"))) -
      d(col("s1")) * (d(col("s1")) * d(col("q2")) - d(col("q1")) * d(col("s2"))) +
      d(col("sy")) * (d(col("s1")) * d(col("p12")) - d(col("p11")) * d(col("s2")))
    val b0 = det0 / det; val b1 = det1 / det; val b2 = det2 / det
    val rssF = (d(col("syy")) - b0 * d(col("sy")) - b1 * d(col("q1")) -
      b2 * d(col("q2")))
    // degenerate-input gates (r18): a CONSTANT lagged series (s1c = 0)
    // or a collinear design (det = 0) makes the closed forms 0/0 —
    // IEEE gives NaN/Inf and DuckDB's float-division behavior there is
    // version/setting-dependent, so both columns gate to NULL in BOTH
    // engines instead of trusting two engines' 0/0 to agree. f_stat
    // nulls through automatically (its operands are null).
    val rssRG = when(s1c > 0.0, rssR)
    val rssFG = when(det =!= 0.0, rssF)
    agg.select(col("n"), rssRG.as("rss_r"), rssFG.as("rss_f"),
      when(col("n") > 3 && rssFG > 0.0,
        (rssRG - rssFG) / (rssFG / (nD - lit(3.0)))).as("f_stat"))
  }

  /** BRADLEY–TERRY preference-strength fit over pairwise comparison
    * outcomes (winner, loser) — the batch model behind preference-data
    * curation and pairwise eval (RLHF reward sanity checks, arena-style
    * rankings). Minorize–maximize updates with a FIXED iteration count:
    *   π_i ← W_i / Σ_j n_ij / (π_i + π_j),   then normalize Σπ = 1.
    *
    * Scale shape: the comparison stream reduces in ONE pass to per-item
    * win counts and the symmetric pair-total matrix — O(items²) rows,
    * the bounded readout every fit-side operator uses — and the MM
    * rounds run on the driver with both cross-item reductions (the
    * per-item denominator and the normalizer) accumulated as
    * floor-scaled LONGS at 10⁹, so summation order cannot move them and
    * unrolled SQL replays each round bit-for-bit. Items that never win
    * converge to strength 0 (standard BT); items with no comparisons
    * keep their previous value through a round. Returns
    * (item, n_wins, n_comparisons, strength), Σ strength = 1. */
  def bradleyTerry(comparisons: DataFrame, winnerCol: String,
                   loserCol: String, iters: Int = 5): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters=$iters")
    val spark = comparisons.sparkSession
    import spark.implicits._
    val c = comparisons.select(col(winnerCol).cast(StringType).as("__w"),
        col(loserCol).cast(StringType).as("__l"))
      .filter(col("__w").isNotNull && col("__l").isNotNull &&
        col("__w") =!= col("__l"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val winRows = c.groupBy(col("__w")).agg(count(lit(1)).as("n"))
      .collectBounded(1 << 20, "O(items) BT win counts")
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val pairRows = c
      .select(least(col("__w"), col("__l")).as("__i"),
        greatest(col("__w"), col("__l")).as("__j"))
      .groupBy(col("__i"), col("__j")).agg(count(lit(1)).as("n"))
      .collectBounded(1 << 22, "O(items²) BT pair matrix")
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
    c.unpersist()
    val items = (winRows.keySet ++
      pairRows.flatMap(p => Seq(p._1._1, p._1._2))).toSeq.sorted
    val k = items.length
    // symmetric adjacency for the per-item denominator
    val sym: Map[String, Seq[(String, Long)]] = pairRows
      .flatMap { case ((i, j), n) => Seq(i -> (j, n), j -> (i, n)) }
      .groupBy(_._1).map { case (i, xs) => i -> xs.map(_._2).toSeq }
    var pi: Map[String, Double] = items.map(_ -> 1.0 / k).toMap
    for (_ <- 1 to iters) {
      val raw = items.map { i =>
        // floor-scaled long denominator: order-free exact sum
        val d = sym.getOrElse(i, Seq.empty)
          .map { case (j, n) =>
            math.floor(n.toDouble / (pi(i) + pi(j)) * 1e9).toLong }
          .sum
        i -> (if (d > 0L) winRows.getOrElse(i, 0L).toDouble /
          (d.toDouble / 1e9) else pi(i))
      }
      val s = raw.map { case (_, p) => math.floor(p * 1e9).toLong }.sum
      pi = raw.map { case (i, p) => i -> p / (s.toDouble / 1e9) }.toMap
    }
    val nComp: Map[String, Long] = sym.map { case (i, xs) =>
      i -> xs.map(_._2).sum }
    items.map(i => (i, winRows.getOrElse(i, 0L), nComp.getOrElse(i, 0L),
        pi(i)))
      .toDF("item", "n_wins", "n_comparisons", "strength")
  }

  /** DYNAMIC TIME WARPING distance of each key's hour-of-day activity
    * profile against the corpus profile — "whose daily shape deviates,
    * allowing phase shifts?" (the elastic alternative to the Euclidean
    * profile distance: a user active 2 h later than the corpus is CLOSE
    * under DTW, far under L2). Profiles are the 24 per-hour exact mean
    * values (missing hours → 0.0); the template is the corpus-wide
    * profile, computed once and embedded as literals (a fit-side
    * readout). The DP runs in the [[graft.functions.VecKernels.DtwDistance]]
    * codegen kernel — O(24²) abs/min/+ per key, a fixed IEEE-exact fold
    * the oracle replays cell by cell as SQL lateral aliases (no floor
    * scaling anywhere; see the kernel scaladoc).
    *
    * Scale shape: two keyed aggregations (per-(key, hour) means → 24-col
    * per-key profile), one broadcastable template row, the kernel per
    * key — nothing data-sized leaves the executors, no windows. Returns
    * (key, n_obs, dtw). */
  def dtwHourlyProfile(df: DataFrame, keyCol: String, tsCol: String,
                       valueCol: String): DataFrame = {
    graft.functions.VecKernels.register(df.sparkSession)
    val x = col(valueCol).cast(DoubleType)
    val base = df
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        x.isNotNull && !isnan(x))
      .select(col(keyCol), hour(col(tsCol)).as("__h"), x.as("__x"))
    val tmplRows = base.groupBy(col("__h"))
      .agg((Reductions.isum(col("__x"), 6) / count(lit(1))).as("__m"))
      .collectBounded(24, "24-hour template profile")
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val template = array((0 until 24).map(h =>
      lit(tmplRows.getOrElse(h, 0.0))): _*)
    val perHour = base.groupBy(col(keyCol), col("__h"))
      .agg(count(lit(1)).as("__n"),
        (Reductions.isum(col("__x"), 6) / count(lit(1))).as("__m"))
    val aggs = sum(col("__n")).as("n_obs") +:
      (0 until 24).map(h =>
        coalesce(max(when(col("__h") === h, col("__m"))), lit(0.0))
          .as(s"__x$h"))
    val profile = perHour.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
    profile.select(col(keyCol), col("n_obs"),
      call_function("graft_dtw",
        array((0 until 24).map(h => col(s"__x$h")): _*), template).as("dtw"))
  }

  /** WASSERSTEIN-1 (earth mover) distance between two groups' empirical
    * value distributions: W₁ = ∫|F_a − F_b| dx = Σ_k |C1_k·n2 − C2_k·n1|
    * ·(x_{k+1} − x_k)/(n1·n2) over sorted distinct values — THE
    * distribution-shift magnitude in the data's own units (PSI/KS say
    * "how sure are we it moved"; W₁ says "by how much") — the metric a
    * training-data pipeline tracks across snapshot mixes.
    *
    * Runs on the [[Folds.twoClass]] cumulate; each partition's LAST value
    * takes its gap from the next non-empty partition's first value. Each
    * term's double product runs in a pinned order and is floor-scaled at
    * 10⁹ into a LONG accumulator, so the per-partition sums replay
    * exactly in SQL window cumulates. Returns one row (n1, n2, w1). */
  def wasserstein1(df: DataFrame, valueCol: String, groupCol: String,
                   a: String, b: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (n1, n2, sums) = twoGroups(df, valueCol, groupCol, a, b) { (p, it) =>
      var c1 = p.c1; var c2 = p.c2
      val n1d = p.n1.toDouble; val n2d = p.n2.toDouble
      var s = 0L
      def term(gap: Double): Long = {
        val diff = math.abs(c1 * p.n2 - c2 * p.n1)
        math.floor((diff.toDouble * gap) / (n1d * n2d) * 1e9).toLong
      }
      var prevX: java.lang.Double = null
      it.foreach { case (x, d1, d2) =>
        if (prevX != null) s += term(x - prevX)
        c1 += d1; c2 += d2
        prevX = java.lang.Double.valueOf(x)
      }
      if (prevX != null) p.nextFirst.foreach(nx => s += term(nx - prevX))
      s
    }
    val w1: java.lang.Double =
      if (n1 == 0 || n2 == 0) null
      else java.lang.Double.valueOf(sums.sum.toDouble / 1e9)
    Seq((n1, n2)).toDF("n1", "n2")
      .withColumn("w1", lit(w1).cast(DoubleType))
  }

  /** ENERGY DISTANCE between two groups' value distributions
    * (Székely–Rizzo): D² = 2·E|X−Y| − E|X−X'| − E|Y−Y'| — zero iff the
    * distributions are equal, sensitive to ANY difference (shape, not
    * just location), the two-sample companion to [[wasserstein1]]'s
    * magnitude. Every expectation is a closed form over the SAME sorted
    * cumulate: E|X−Y| = Σ_k (C1_k(n2−C2_k) + C2_k(n1−C1_k))·gap_k /
    * (n1·n2), and the within-group terms replace the cross counts — so
    * all three ride ONE [[Folds.twoClass]] scan (the [[wasserstein1]]
    * gaps with three floor-scaled LONG accumulators instead of one).
    * Returns one row (n1, n2, e_xy, e_xx, e_yy, energy). */
  def energyDistance(df: DataFrame, valueCol: String, groupCol: String,
                     a: String, b: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (n1, n2, sums) = twoGroups(df, valueCol, groupCol, a, b) { (p, it) =>
      var c1 = p.c1; var c2 = p.c2
      val (n1, n2) = (p.n1, p.n2)
      val n1d = n1.toDouble; val n2d = n2.toDouble
      var sxy = 0L; var sxx = 0L; var syy = 0L
      def add(gap: Double): Unit = {
        // E|X−Y| integrand F1(1−F2)+F2(1−F1); within-group integrands
        // are 2F(1−F), hence the doubled coefficients
        val cxy = c1 * (n2 - c2) + c2 * (n1 - c1)
        sxy += math.floor((cxy.toDouble * gap) / (n1d * n2d) * 1e9).toLong
        sxx += math.floor(((2L * c1 * (n1 - c1)).toDouble * gap) /
          (n1d * n1d) * 1e9).toLong
        syy += math.floor(((2L * c2 * (n2 - c2)).toDouble * gap) /
          (n2d * n2d) * 1e9).toLong
      }
      var prevX: java.lang.Double = null
      it.foreach { case (x, d1, d2) =>
        if (prevX != null) add(x - prevX)
        c1 += d1; c2 += d2
        prevX = java.lang.Double.valueOf(x)
      }
      if (prevX != null) p.nextFirst.foreach(nx => add(nx - prevX))
      (sxy, sxx, syy)
    }
    val degenerate = n1 == 0 || n2 == 0
    def d(s: Long): java.lang.Double =
      if (degenerate) null else java.lang.Double.valueOf(s.toDouble / 1e9)
    val exy = d(sums.map(_._1).sum)
    val exx = d(sums.map(_._2).sum)
    val eyy = d(sums.map(_._3).sum)
    Seq((n1, n2)).toDF("n1", "n2")
      .withColumn("e_xy", lit(exy).cast(DoubleType))
      .withColumn("e_xx", lit(exx).cast(DoubleType))
      .withColumn("e_yy", lit(eyy).cast(DoubleType))
      .withColumn("energy",
        lit(2.0) * col("e_xy") - col("e_xx") - col("e_yy"))
  }

  /** CLIFF'S DELTA ordinal effect size between two groups:
    * δ = (#{x_a > x_b} − #{x_a < x_b}) / (n1·n2) — the nonparametric
    * companion to [[mannWhitneyU]]'s p-value ("the test says they
    * differ; δ says how separated the distributions actually are",
    * robust where Cohen's d assumes normality). Exactly 2U₁/(n1n2) − 1
    * under the half-tie convention, so the numerator falls out of the
    * SAME doubled-rank machinery integer-exactly — no new distributed
    * pass beyond q151's. Magnitude labels use the standard Romano
    * thresholds (0.147/0.33/0.474). Returns one row
    * (n1, n2, delta, magnitude). */
  def cliffsDelta(df: DataFrame, valueCol: String, groupCol: String,
                  a: String, b: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pooled = df
      .filter(col(groupCol).isin(a, b) && col(valueCol).isNotNull &&
        !isnan(col(valueCol).cast(DoubleType)))
      .select(col(groupCol).as("__g"),
        col(valueCol).cast(DoubleType).as("__x"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (ranks, cleanup) =
      Advanced.doubledAvgRankTable(pooled.select(col("__x")), "__x", "__dr")
    val perVal = pooled.groupBy(col("__g"), col("__x"))
      .agg(count(lit(1)).as("__n"))
    val agg = perVal.join(ranks, perVal("__x") === ranks("__v"))
      .agg(
        sum(when(col("__g") === a, col("__n")).otherwise(0L)).as("n1"),
        sum(when(col("__g") === b, col("__n")).otherwise(0L)).as("n2"),
        sum(when(col("__g") === a, col("__dr") * col("__n")).otherwise(0L))
          .as("r1d"))
      .collectBounded(1, "one-row rank agg")(0)
    pooled.unpersist(); cleanup()
    val n1 = agg.getLong(0); val n2 = agg.getLong(1); val r1d = agg.getLong(2)
    val delta: java.lang.Double =
      if (n1 == 0 || n2 == 0) null
      else java.lang.Double.valueOf(
        (r1d - n1 * (n1 + 1) - n1 * n2).toDouble / (n1.toDouble * n2.toDouble))
    Seq((n1, n2)).toDF("n1", "n2")
      .withColumn("delta", lit(delta).cast(DoubleType))
      .withColumn("magnitude",
        when(col("delta").isNull, lit(null).cast(StringType))
          .when(abs(col("delta")) < 0.147, "negligible")
          .when(abs(col("delta")) < 0.33, "small")
          .when(abs(col("delta")) < 0.474, "medium")
          .otherwise("large"))
  }

  /** AUGMENTED DICKEY–FULLER unit-root test, lag-0 with constant (the
    * "is this hourly series mean-reverting or a random walk" gate that
    * decides whether [[grangerLag1]]/[[arFit2]]-style level regressions
    * are even meaningful): regress Δy_t = α + γ·y_{t−1}; the DF
    * statistic is γ̂/se(γ̂), compared against the τ_μ critical values
    * (−2.86 at 5% asymptotically — returned as a literal column so the
    * caller's verdict is explicit, not a hidden table lookup).
    *
    * Scale shape: the series is the HOURLY COUNT aggregate (integer
    * moments — every Σ is an exact BIGINT, the [[grangerLag1]]
    * convention), the lag-1 window rides the O(time-range) frame under
    * the in-plan [[seriesBound]] guard, and the closed form runs on one
    * O(1) aggregate row. Returns one row
    * (n, gamma, se_gamma, df_stat, stationary_5pct). */
  def adfTest(df: DataFrame, tsCol: String, typeCol: String,
              yType: String, maxSeriesRows: Long = 1L << 22): DataFrame = {
    val hourly = df
      .filter(col(tsCol).isNotNull && col(typeCol) === yType)
      .groupBy(date_trunc("hour", col(tsCol)).as("__h"))
      .agg(count(lit(1)).as("__y"))
      .withColumn("__y", seriesBound(col("__y").cast(DoubleType),
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy()),
        maxSeriesRows, "adfTest").cast(LongType))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("__h"))
    val lagged = hourly
      .withColumn("__y1", lag(col("__y"), 1).over(w))
      .filter(col("__y1").isNotNull)
      .withColumn("__d", col("__y") - col("__y1"))
    val agg = lagged.agg(count(lit(1)).as("n"),
      sum(col("__y1")).as("sx"), sum(col("__y1") * col("__y1")).as("sxx"),
      sum(col("__d")).as("sd"), sum(col("__d") * col("__d")).as("sdd"),
      sum(col("__y1") * col("__d")).as("sxd"))
    val nD = col("n").cast(DoubleType)
    def d(c: Column): Column = c.cast(DoubleType)
    val sxxC = nD * d(col("sxx")) - d(col("sx")) * d(col("sx"))
    val sxdC = nD * d(col("sxd")) - d(col("sx")) * d(col("sd"))
    val sddC = nD * d(col("sdd")) - d(col("sd")) * d(col("sd"))
    val gamma = sxdC / sxxC
    val rss = (sddC - sxdC * sxdC / sxxC) / nD
    val se = sqrt((rss / (nD - lit(2.0))) / (sxxC / nD))
    // degenerate gates, the grangerLag1 convention: constant series
    // (sxxC = 0) or an exact fit (rss = 0) make the forms 0/0 — NULL in
    // both engines instead of trusting two engines' 0/0 to agree
    val gammaG = when(sxxC > 0.0, gamma)
    val seG = when(sxxC > 0.0 && rss > 0.0 && col("n") > 2, se)
    val stat = gammaG / seG
    agg.select(col("n"), gammaG.as("gamma"), seG.as("se_gamma"),
      stat.as("df_stat"),
      when(stat.isNotNull, (stat < lit(-2.86)).cast("int"))
        .as("stationary_5pct"))
  }

  /** COCHRAN–ARMITAGE TREND TEST for a dose-ordered binary outcome —
    * "does the success share move MONOTONICALLY with the ordered
    * category" (stricter than chi-square independence, which spends
    * power on any deviation). Categories get integer scores 0..k−1 in
    * `categories` order; Z = Σsᵢ(rᵢ − nᵢ·p̄) / √(p̄(1−p̄)·(Σnᵢsᵢ² −
    * (Σnᵢsᵢ)²/N)). Every count/score moment is an exact BIGINT off ONE
    * keyed aggregation to an O(k) frame; the final Z is a fixed IEEE
    * sequence. Returns one row (n_total, n_success, z_trend). */
  def cochranArmitage(df: DataFrame, catCol: String, categories: Seq[String],
                      success: Column): DataFrame = {
    require(categories.size >= 2, "need >= 2 ordered categories")
    val score = categories.zipWithIndex.foldLeft(lit(null).cast(LongType)) {
      case (acc, (c, i)) => when(col(catCol) === c, lit(i.toLong)).otherwise(acc)
    }
    val perCat = df.select(score.as("__s"), success.cast("int").as("__y"))
      .filter(col("__s").isNotNull)
      .groupBy(col("__s"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__r"))
    val agg = perCat.agg(
      sum(col("__n")).as("n_total"), sum(col("__r")).as("n_success"),
      sum(col("__s") * col("__r")).as("__sr"),
      sum(col("__s") * col("__n")).as("__sn"),
      sum(col("__s") * col("__s") * col("__n")).as("__ssn"))
    def d(c: Column): Column = c.cast(DoubleType)
    val nD = d(col("n_total"))
    val p = d(col("n_success")) / nD
    val t = d(col("__sr")) - d(col("__sn")) * p
    val v = p * (lit(1.0) - p) *
      (d(col("__ssn")) - d(col("__sn")) * d(col("__sn")) / nD)
    agg.select(col("n_total"), col("n_success"),
      when(v > 0.0, t / sqrt(v)).as("z_trend"))
  }

  /** BENFORD FIRST-DIGIT TEST — the classic fabricated-data / unit-mix
    * audit: observed first-significant-digit shares of a positive
    * numeric column vs Benford's log₁₀(1 + 1/d), χ² = Σ(oᵢ−n·pᵢ)²/(n·pᵢ)
    * folded in pinned digit order. Digit extraction is STRING-based
    * (first char of the value's digits after stripping sign/zeros/dot) —
    * engine-portable where a log10-based extraction drifts a ULP at
    * exact powers of ten. Returns 9 rows
    * (digit, n_obs, share, expected_share) plus the chi2 on each row
    * (single-statistic column, the [[chiSquareIndependence]] shape). */
  def benfordTest(df: DataFrame, valueCol: String): DataFrame = {
    val digits = regexp_replace(
      col(valueCol).cast(DecimalType(38, 6)).cast(StringType), "[^1-9]", "")
    val first = substring(digits, 1, 1)
    val obs = df.filter(col(valueCol).isNotNull && col(valueCol) > 0 &&
        length(digits) > 0)
      .groupBy(first.cast("int").as("digit"))
      .agg(count(lit(1)).as("n_obs"))
    val expected = (1 to 9).map(dg =>
      (dg, math.log10(1.0 + 1.0 / dg)))
      .foldLeft(lit(null).cast(DoubleType)) { case (acc, (dg, pr)) =>
        when(col("digit") === dg, lit(pr)).otherwise(acc) }
    val spark = df.sparkSession
    import spark.implicits._
    val all = (1 to 9).toDF("digit")
    val full = all.join(obs, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n_obs"), lit(0L)).as("n_obs"))
      .withColumn("expected_share", expected)
    val tot = full.agg(sum(col("n_obs")).as("__n"))
    // chi2 folded in digit order: terms floor-scaled at 10^6 so the
    // 9-term reduce order cannot move the double
    val withN = full.crossJoin(broadcast(tot))
    val term = {
      val e = col("__n").cast(DoubleType) * col("expected_share")
      (col("n_obs").cast(DoubleType) - e) *
        (col("n_obs").cast(DoubleType) - e) / e
    }
    val chi = withN.agg(Reductions.isum(term, 6).as("chi2"))
    withN.crossJoin(broadcast(chi))
      .select(col("digit"), col("n_obs"),
        (col("n_obs").cast(DoubleType) / col("__n").cast(DoubleType))
          .as("share"),
        col("expected_share"), col("chi2"))
  }

  /** DEMING (orthogonal, λ = 1) REGRESSION — total least squares for
    * when BOTH variables carry error (calibration curves, replicate
    * instruments), where OLS attenuates the slope:
    * β = (S_yy − S_xx + √((S_yy−S_xx)² + 4S_xy²)) / (2S_xy) over the
    * centered second moments. One exact-sum aggregation (floor-scaled
    * 10⁶ co-moments, the [[partialCorr]] pass), then a fixed IEEE
    * sequence. Returns one row (n, slope, intercept, slope_ols) — the
    * OLS slope rides along so the attenuation is visible. */
  def demingRegression(df: DataFrame, xCol: String, yCol: String)
      : DataFrame = {
    val x = col(xCol).cast(DoubleType); val y = col(yCol).cast(DoubleType)
    val clean = df.filter(x.isNotNull && y.isNotNull && !isnan(x) && !isnan(y))
      .select(x.as("__x"), y.as("__y"))
    val agg = clean.agg(count(lit(1)).as("n"),
      fs(col("__x"), 6).as("sx"), fs(col("__y"), 6).as("sy"),
      fs(col("__x") * col("__x"), 6).as("sxx"),
      fs(col("__y") * col("__y"), 6).as("syy"),
      fs(col("__x") * col("__y"), 6).as("sxy"))
    val nD = col("n").cast(DoubleType)
    val sxxC = col("sxx") - col("sx") * col("sx") / nD
    val syyC = col("syy") - col("sy") * col("sy") / nD
    val sxyC = col("sxy") - col("sx") * col("sy") / nD
    val beta = (syyC - sxxC +
      sqrt((syyC - sxxC) * (syyC - sxxC) + lit(4.0) * sxyC * sxyC)) /
      (lit(2.0) * sxyC)
    val betaG = when(abs(sxyC) > 0.0, beta)
    agg.select(col("n"), betaG.as("slope"),
      when(betaG.isNotNull,
        col("sy") / nD - betaG * (col("sx") / nD)).as("intercept"),
      when(sxxC > 0.0, sxyC / sxxC).as("slope_ols"))
  }

  /** GUMBEL (EV-I) BLOCK-MAXIMA FIT by the method of moments — the
    * extreme-value answer to "what daily peak should I provision for":
    * block = calendar day, x = the day's max; β = s·√6/π and
    * μ = m − γ·β (γ = Euler–Mascheroni) from the blocks' exact-sum mean
    * and sample std; the p-quantile readout is μ − β·ln(−ln p). Block
    * maxima are one keyed aggregation; the fit is an O(1) closed form
    * with pinned literals. Returns one row
    * (n_blocks, mean_max, sd_max, mu, beta, q<p·100> — e.g. q99 at
    * p = 0.99; p·100 must land on an integer so the name is stable). */
  def gumbelFit(df: DataFrame, tsCol: String, valueCol: String,
                p: Double = 0.99): DataFrame = {
    require(p > 0 && p < 1, s"p=$p")
    val x = col(valueCol).cast(DoubleType)
    val blocks = df.filter(col(tsCol).isNotNull && x.isNotNull && !isnan(x))
      .groupBy(to_date(col(tsCol)).as("__d"))
      .agg(max(x).as("__m"))
    val agg = blocks.agg(count(lit(1)).as("n_blocks"),
      fs(col("__m"), 6).as("__sx"),
      fs(col("__m") * col("__m"), 6).as("__sxx"))
    val nD = col("n_blocks").cast(DoubleType)
    val m = col("__sx") / nD
    val varS = (col("__sxx") - col("__sx") * col("__sx") / nD) /
      (nD - lit(1.0))
    val sd = sqrt(varS)
    val beta = sd * lit(math.sqrt(6.0)) / lit(math.Pi)
    val mu = m - lit(0.5772156649015329) * beta
    agg.select(col("n_blocks"), m.as("mean_max"),
      when(col("n_blocks") > 1 && varS > 0.0, sd).as("sd_max"),
      when(col("n_blocks") > 1 && varS > 0.0, mu).as("mu"),
      when(col("n_blocks") > 1 && varS > 0.0, beta).as("beta"),
      when(col("n_blocks") > 1 && varS > 0.0,
        mu - beta * lit(math.log(-math.log(p)))).as(s"q${(p * 100).round}"))
  }

  /** ATKINSON INEQUALITY INDEX at ε = 1 — A = 1 − geomean/mean over a
    * positive value column (0 = perfect equality; the inequality-
    * aversion form whose ε = 1 case has the closed geometric-mean
    * form). Σx and Σln x both fold through floor-scaled exact sums, so
    * the index replays bit-for-bit. Non-positive values are excluded
    * (logged domain), their count reported. Returns one row
    * (n, n_excluded, mean, geomean, atkinson). */
  def atkinsonIndex(df: DataFrame, valueCol: String): DataFrame = {
    val x = col(valueCol).cast(DoubleType)
    val base = df.filter(x.isNotNull && !isnan(x))
      .select(x.as("__x"))
    val agg = base.agg(
      count(when(col("__x") > 0.0, 1)).as("n"),
      count(when(col("__x") <= 0.0, 1)).as("n_excluded"),
      fs(when(col("__x") > 0.0, col("__x")), 6).as("__sx"),
      fs(when(col("__x") > 0.0, log(col("__x"))), 9).as("__sl"))
    val nD = col("n").cast(DoubleType)
    val mean = col("__sx") / nD
    val geo = exp(col("__sl") / nD)
    agg.select(col("n"), col("n_excluded"),
      when(col("n") > 0, mean).as("mean"),
      when(col("n") > 0, geo).as("geomean"),
      when(col("n") > 0 && mean > 0.0,
        lit(1.0) - geo / mean).as("atkinson"))
  }

  /** TRIMMED MEAN per group — drop the lowest and highest ⌊α·n⌋ values,
    * exact-sum mean of the rest: the robust location estimate between
    * the mean (α = 0) and the median (α → 0.5), immune to the tail
    * garbage [[robustOutliers]] flags. Trimming is by VALUE RANK (ties
    * broken arbitrarily — the removed multiset is the same values
    * whichever tied rows the ranks pick, so the surviving SUM is
    * deterministic even though row identity is not). ONE keyed sort
    * pass: the descending rank is just n − ra + 1 over the same
    * multiset (r18 paid a second full per-group sort for a desc
    * row_number; same surviving multiset, so hashes are unchanged),
    * and the unordered count window rides the asc sort's shuffle.
    * Returns (group, n, n_trimmed_each, trimmed_mean). */
  def trimmedMean(df: DataFrame, valueCol: String, groupCol: String,
                  alpha: Double = 0.1): DataFrame = {
    require(alpha >= 0 && alpha < 0.5, s"alpha=$alpha")
    import org.apache.spark.sql.expressions.Window
    val x = col(valueCol).cast(DoubleType)
    val base = df.filter(x.isNotNull && !isnan(x) && col(groupCol).isNotNull)
      .select(col(groupCol).as("__g"), x.as("__x"))
    val wAsc = Window.partitionBy(col("__g")).orderBy(col("__x").asc)
    val ranked = base
      .withColumn("__ra", row_number().over(wAsc))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__g"))))
      .withColumn("__k", floor(col("__n") * lit(alpha)).cast(LongType))
    ranked.filter(col("__ra") > col("__k") &&
        col("__ra") <= col("__n") - col("__k"))
      .groupBy(col("__g").as("group"))
      .agg(max(col("__n")).as("n"), max(col("__k")).as("n_trimmed_each"),
        (fs(col("__x"), 6) / count(lit(1)).cast(DoubleType))
          .as("trimmed_mean"))
  }

  /** MANN-KENDALL TREND TEST + SEN'S SLOPE over the hourly count
    * series — the standard nonparametric "is this metric trending"
    * readout (sign-based, so outlier-immune; the robust companion to
    * [[adfTest]]'s stationarity view). S = Σ_{i<j} sign(y_j − y_i) is
    * an exact integer; Var(S) uses the tie-corrected closed form
    * (n(n−1)(2n+5) − Σ t(t−1)(2t+5))/18; z applies the ±1 continuity
    * correction. Sen's slope is pinned to the LOWER MEDIAN (rank
    * ⌈m/2⌉ of the sorted pairwise slopes) — a pure selection, no
    * interpolation average whose engine-specific formula could drift
    * a ulp. All slopes are (int−int)/(int−int) doubles, so both
    * engines divide identical exact values.
    *
    * Scale shape: the series is the HOURLY aggregate (flat in SF —
    * 10× rows means denser hours, not more of them), guarded in-plan
    * by [[seriesBound]] at 4096 hours, so the O(h²) pair frame is
    * ≤ 8.4M rows by construction and the global slope-rank window is
    * a bounded single sort. Returns one row
    * (n_hours, s_stat, var_s, z, sen_slope). */
  def mannKendall(df: DataFrame, tsCol: String, typeCol: String,
                  yType: String, maxHours: Long = 1L << 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.ops.TableOps._
    val hourly = df
      .filter(col(tsCol).isNotNull && col(typeCol) === yType)
      .groupBy(date_trunc("hour", col(tsCol)).as("__h"))
      .agg(count(lit(1)).as("__y0"))
      // in-plan O(time-range) contract (the q389/periodogram doctrine)
      .withColumn("__y", seriesBound(col("__y0"),
        count(lit(1)).over(Window.partitionBy()), maxHours, "mannKendall"))
      .select(col("__h"), col("__y"))
    val idx = hourly.withRowIndex(Seq(col("__h")), "__i")
    val pairs = idx.select(col("__i").as("i"), col("__y").as("xi"))
      .join(idx.select(col("__i").as("j"), col("__y").as("xj")),
        col("j") > col("i"))
    val slopes = pairs.select(
      when(col("xj") > col("xi"), 1L)
        .when(col("xj") < col("xi"), -1L).otherwise(0L).as("__sg"),
      ((col("xj") - col("xi")).cast(DoubleType) /
        (col("j") - col("i")).cast(DoubleType)).as("__sl"))
    val sen = slopes.select(col("__sl"))
      .withColumn("__rn",
        row_number().over(Window.orderBy(col("__sl"))).cast(LongType))
      .withColumn("__m", count(lit(1)).over(Window.partitionBy()))
      .filter(col("__rn") ===
        ceil(col("__m").cast(DoubleType) / lit(2.0)).cast(LongType))
      .select(col("__sl").as("sen_slope"))
    val sAgg = slopes.agg(sum(col("__sg")).as("s_stat"))
    val tAgg = idx.groupBy(col("__y")).agg(count(lit(1)).as("__t"))
      .agg(sum(col("__t")).as("n_hours"),
        coalesce(sum(expr("__t * (__t - 1) * (2 * __t + 5)")), lit(0L))
          .as("__tsum"))
    val varS = (col("n_hours") * (col("n_hours") - lit(1L)) *
      (lit(2L) * col("n_hours") + lit(5L)) - col("__tsum"))
      .cast(DoubleType) / lit(18.0)
    tAgg.crossJoin(sAgg).crossJoin(sen)
      .select(col("n_hours"), col("s_stat"), varS.as("var_s"),
        when(varS > 0.0,
          when(col("s_stat") > 0L,
            (col("s_stat") - lit(1L)).cast(DoubleType) / sqrt(varS))
            .when(col("s_stat") < 0L,
              (col("s_stat") + lit(1L)).cast(DoubleType) / sqrt(varS))
            .otherwise(lit(0.0))).as("z"),
        col("sen_slope"))
  }

  /** KLEINBERG-STYLE BURST DETECTION (2-state automaton) over the
    * hourly count series: state 0 emits at the base rate λ₀ = mean
    * hourly count, state 1 at λ₁ = s·λ₀; per-hour cost is the Poisson
    * NLL (λ − k·ln λ, the k!-free form — constant across states), and
    * entering the burst state pays γ·ln n. The minimum-cost state path
    * (Viterbi) marks the burst hours — the principled "is this spike a
    * regime or noise" detector next to [[pageHinkley]]'s drift monitor.
    *
    * Determinism & replay: costs are computed IN-PLAN (engine log) and
    * floor-scaled to LONGS at 10⁶; the Viterbi fold is then pure
    * integer arithmetic with pinned tie rules (ties prefer the base
    * state / the base→burst entry), and instead of a backtrack pass
    * each state CARRIES its best path's burst statistics (hours,
    * bursts, current/max run, first start) — so the DuckDB oracle
    * replays the whole thing as ONE forward recursive CTE. The fold
    * itself is a bounded driver readout over the O(time-range) series
    * (the [[pageHinkley]] pattern, collectBounded-fenced; the default
    * 1<<20-hour bound ≈ 120 years of hourly data, and the series is
    * copied into two primitive long arrays so even the worst case is
    * ~40 MB transient, not millions of boxed Rows). Returns one row
    * (n_hours, lambda0, n_burst_hours, n_bursts, max_burst_len,
    * first_burst_idx). */
  def burstDetect(df: DataFrame, tsCol: String, typeCol: String,
                  yType: String, s: Double = 2.0, gamma: Double = 1.0,
                  maxSeriesRows: Int = 1 << 20): DataFrame = {
    require(s > 1.0 && gamma >= 0.0, s"s=$s gamma=$gamma")
    val spark = df.sparkSession
    import spark.implicits._
    val hourly = df
      .filter(col(tsCol).isNotNull && col(typeCol) === yType)
      .groupBy(date_trunc("hour", col(tsCol)).as("__h"))
      .agg(count(lit(1)).as("__k"))
    val tot = hourly.agg(count(lit(1)).as("n"), sum(col("__k")).as("sk"))
      .collectBounded(1, "O(1) burst series totals").head
    val n = tot.getLong(0)
    if (n == 0L)
      return Seq((0L, null.asInstanceOf[java.lang.Double], 0L, 0L, 0L,
        null.asInstanceOf[java.lang.Long]))
        .toDF("n_hours", "lambda0", "n_burst_hours", "n_bursts",
          "max_burst_len", "first_burst_idx")
    val lam0 = tot.getLong(1).toDouble / n.toDouble
    val lam1 = s * lam0
    // per-hour integer costs, computed in-plan so both engines use
    // their own ln on the identical doubles and floor to the same grid
    // typed tuple collect copied straight into two PRIMITIVE long
    // arrays: the Viterbi loop reads unboxed longs, and with the
    // 1<<20 default bound (≈ 120 years of hours — generous for any
    // real hourly series) the worst-case driver footprint is ~40 MB
    // transient, not 4M boxed Rows (r18's 1<<22 Row-array bound)
    val costRows = hourly.orderBy(col("__h"))
      .select(
        floor((lit(lam0) - col("__k").cast(DoubleType) * log(lit(lam0)))
          * lit(1e6)).cast(LongType).as("c0"),
        floor((lit(lam1) - col("__k").cast(DoubleType) * log(lit(lam1)))
          * lit(1e6)).cast(LongType).as("c1"))
      .as[(Long, Long)]
      .collectBounded(maxSeriesRows, "O(time-range) burst cost series")
    val cost0 = new Array[Long](costRows.length)
    val cost1 = new Array[Long](costRows.length)
    var j = 0
    while (j < costRows.length) {
      cost0(j) = costRows(j)._1; cost1(j) = costRows(j)._2; j += 1
    }
    val big = gamma * math.log(n.toDouble)
    val g = math.floor(big * 1e6).toLong
    // augmented Viterbi state per automaton state:
    // (cost, burstHours, bursts, curRun, maxRun, firstIdx)
    final case class P(d: Long, bh: Long, nb: Long, cur: Long, mx: Long,
                       first: Long)
    var p0 = P(cost0(0), 0L, 0L, 0L, 0L, -1L)
    var p1 = P(g + cost1(0), 1L, 1L, 1L, 1L, 0L)
    var i = 1
    while (i < cost0.length) {
      val (c0, c1) = (cost0(i), cost1(i))
      // base at i: from min(d0, d1), tie -> base
      val fromBase0 = p0.d <= p1.d
      val pb = if (fromBase0) p0 else p1
      val n0 = P(pb.d + c0, pb.bh, pb.nb, 0L, pb.mx, pb.first)
      // burst at i: from min(d0 + G, d1), tie -> base entry
      val fromBase1 = p0.d + g <= p1.d
      val q = if (fromBase1) p0 else p1
      val enter = fromBase1
      val cur1 = if (enter) 1L else q.cur + 1L
      val n1 = P((if (enter) q.d + g else q.d) + c1,
        q.bh + 1L, if (enter) q.nb + 1L else q.nb, cur1,
        math.max(q.mx, cur1),
        if (enter && q.first < 0L) i.toLong else q.first)
      p0 = n0; p1 = n1
      i += 1
    }
    val best = if (p0.d <= p1.d) p0 else p1
    Seq((n, java.lang.Double.valueOf(lam0), best.bh, best.nb, best.mx,
      if (best.first < 0L) null.asInstanceOf[java.lang.Long]
      else java.lang.Long.valueOf(best.first)))
      .toDF("n_hours", "lambda0", "n_burst_hours", "n_bursts",
        "max_burst_len", "first_burst_idx")
  }

  /** CRAMÉR'S V — the χ²-based association strength between two
    * CATEGORICAL columns (reference exposes categorical mappings and
    * crosstabs; V is the standard "how correlated are these two
    * discrete columns" readout on top): V = √(χ² / (n·min(r−1,c−1)))
    * over the full r×c contingency grid INCLUDING zero-observed cells
    * (χ² needs every expected cell, not just the observed support).
    *
    * Exactness: observed counts, row/col totals and n are exact
    * BIGINTs off one keyed aggregation; each cell's
    * (o − e)²/e term is a pinned IEEE expression of those integers
    * (e = rt·ct/n in double), and the Σ over cells goes through the
    * floor-scaled exact sum at 10⁶ so reduce order cannot move it.
    *
    * Scale shape: one groupBy on (x, y) — O(data) with map-side
    * combine — then everything downstream lives on the O(r·c) cell
    * frame. The grid cross join is a fit-frame join, and BOTH sides
    * are bounded in-plan at 4096 distinct values ([[seriesBound]] on
    * the marginal frames): a column with more isn't categorical and
    * the operator refuses loudly instead of building a silent
    * million-cell grid. Returns one row
    * (n, r, c, dof, chi2, cramers_v). */
  def cramersV(df: DataFrame, xCol: String, yCol: String,
               maxCardinality: Long = 1L << 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // eager-checkpoint the O(r·c) cell frame: marginals, the grid, the
    // n/r/c aggregate and the χ² pass all read it, and without the
    // checkpoint each consumer re-runs the O(data) contingency groupBy
    // (the jaccardJoinApprox double-compute lesson from the r18 review)
    val cells = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).cast(StringType).as("__x"),
        col(yCol).cast(StringType).as("__y"))
      .groupBy(col("__x"), col("__y")).agg(count(lit(1)).as("__o"))
      .localCheckpoint(true)
    val xs = cells.groupBy(col("__x")).agg(sum(col("__o")).as("__rt"))
      .withColumn("__rt", seriesBound(col("__rt"),
        count(lit(1)).over(Window.partitionBy()), maxCardinality,
        "cramersV x-cardinality").cast(LongType))
    val ys = cells.groupBy(col("__y")).agg(sum(col("__o")).as("__ct"))
      .withColumn("__ct", seriesBound(col("__ct"),
        count(lit(1)).over(Window.partitionBy()), maxCardinality,
        "cramersV y-cardinality").cast(LongType))
    // full grid (fit-frame cross join: both sides ≤ maxCardinality rows)
    val grid = xs.crossJoin(ys)
      .join(cells, Seq("__x", "__y"), "left")
      .withColumn("__o", coalesce(col("__o"), lit(0L)))
    def d(c: Column): Column = c.cast(DoubleType)
    val agg = grid.agg(
      sum(col("__o")).as("n"),
      countDistinct(col("__x")).as("r"),
      countDistinct(col("__y")).as("c"))
    // e and the χ² term reference n, so fold them in a second pass over
    // the O(r·c) grid with n attached as a 1-row literal-frame join
    val withN = grid.crossJoin(agg.select(col("n").as("__n")))
    val e = d(col("__rt")) * d(col("__ct")) / d(col("__n"))
    val term = (d(col("__o")) - e) * (d(col("__o")) - e) / e
    val chi2 = withN.agg(fs(term, 6).as("chi2"))
    agg.crossJoin(chi2).select(
      col("n"), col("r"), col("c"),
      ((col("r") - 1L) * (col("c") - 1L)).as("dof"),
      col("chi2"),
      when(col("n") > 0L && least(col("r"), col("c")) > 1L,
        sqrt(col("chi2") / (d(col("n")) *
          (least(col("r"), col("c")) - 1L).cast(DoubleType))))
        .as("cramers_v"))
  }

  /** CHATTERJEE'S ξ RANK CORRELATION (Chatterjee 2020, JASA) between
    * two hourly event-count series — the modern "is y a FUNCTION of x"
    * dependence coefficient: 0 for independence, →1 when y is any
    * measurable function of x (where Pearson/Spearman only see
    * monotone trends). With ties, ξ = 1 − n·Σ_{i<n}|r_{i+1} − r_i| /
    * (2·Σ_i l_i(n − l_i)) where rows are sorted by x (ties pinned by
    * the hour so the statistic is deterministic — documented variant
    * of the paper's random tie-break), r_i = #{j: y_j ≤ y_i},
    * l_i = #{j: y_j ≥ y_i}. EVERYTHING except the single final
    * division is exact integer arithmetic — no floor grid needed.
    *
    * Scale shape: the series is the hourly aggregate (O(time-range),
    * flat in SF), [[seriesBound]]-guarded at 4096 hours, so the three
    * global windows (y-rank range frame, y-tie partition, x-order lag)
    * run on a bounded frame by construction. Returns one row
    * (n_hours, sum_abs_dr, denom, xi). */
  def chatterjeeXi(df: DataFrame, tsCol: String, typeCol: String,
                   xType: String, yType: String,
                   maxHours: Long = 1L << 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = df
      .filter(col(tsCol).isNotNull &&
        col(typeCol).isin(xType, yType))
      .groupBy(date_trunc("hour", col(tsCol)).as("__h"))
      .agg(sum(when(col(typeCol) === xType, 1L).otherwise(0L)).as("__xc"),
        sum(when(col(typeCol) === yType, 1L).otherwise(0L)).as("__yc"))
      .withColumn("__xc", seriesBound(col("__xc"),
        count(lit(1)).over(Window.partitionBy()), maxHours,
        "chatterjeeXi").cast(LongType))
    val wYRank = Window.orderBy(col("__yc"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wYTies = Window.partitionBy(col("__yc"))
    val wX = Window.orderBy(col("__xc"), col("__h"))
    val ranked = hourly
      .withColumn("__r", count(lit(1)).over(wYRank))    // #{y_j ≤ y_i}
      .withColumn("__t", count(lit(1)).over(wYTies))    // #{y_j = y_i}
      .withColumn("__n", count(lit(1)).over(Window.partitionBy()))
      .withColumn("__l", col("__n") - col("__r") + col("__t")) // #{y_j ≥ y_i}
      .withColumn("__dr", abs(col("__r") - lag(col("__r"), 1).over(wX)))
    val agg = ranked.agg(
      max(col("__n")).as("n_hours"),
      coalesce(sum(col("__dr")), lit(0L)).as("sum_abs_dr"),
      sum(col("__l") * (col("__n") - col("__l"))).as("__sl"))
    agg.select(col("n_hours"), col("sum_abs_dr"),
      (lit(2L) * col("__sl")).as("denom"),
      when(lit(2L) * col("__sl") > 0L,
        lit(1.0) - (col("n_hours") * col("sum_abs_dr")).cast(DoubleType) /
          (lit(2L) * col("__sl")).cast(DoubleType)).as("xi"))
  }

  /** GRUBBS' OUTLIER STATISTIC — G = max|x − x̄|/s (sample sd), the
    * classical single-outlier screen: is the most extreme value too
    * extreme for a normal sample. Emits the statistic and the suspect
    * value; the verdict against a chosen α is the caller's (the
    * t-quantile critical value is a lookup, not a computation this
    * engine should hide).
    *
    * ONE aggregation pass: max|x − x̄| = max(max(x) − x̄, x̄ − min(x))
    * — so the mean needs no second scan — with floor-scaled exact
    * moments (10⁶) and pinned IEEE arithmetic; ties between the two
    * sides go to the MAX side (documented). Nulls when n < 3 or
    * s = 0. Returns one row (n, mean, sd, g_stat, suspect). */
  def grubbs(df: DataFrame, valueCol: String): DataFrame = {
    val x = col(valueCol).cast(DoubleType)
    val agg = df.filter(x.isNotNull && !isnan(x))
      .agg(count(lit(1)).as("n"), fs(x, 6).as("__sx"),
        fs(x * x, 6).as("__sxx"), max(x).as("__mx"), min(x).as("__mn"))
    def d(c: Column): Column = c.cast(DoubleType)
    val nD = d(col("n"))
    val mean = col("__sx") / nD
    val varS = (col("__sxx") - col("__sx") * col("__sx") / nD) /
      (nD - lit(1.0))
    val hi = col("__mx") - mean
    val lo = mean - col("__mn")
    val dev = when(hi >= lo, hi).otherwise(lo)
    val ok = col("n") >= 3L && varS > 0.0
    agg.select(col("n"), when(col("n") > 0L, mean).as("mean"),
      when(ok, sqrt(varS)).as("sd"),
      when(ok, dev / sqrt(varS)).as("g_stat"),
      when(ok, when(hi >= lo, col("__mx")).otherwise(col("__mn")))
        .as("suspect"))
  }

  /** ANDERSON–DARLING TWO-SAMPLE STATISTIC (discrete/ties form) — the
    * tail-weighted companion of [[ksTest]] (sup-norm) and
    * [[cramerVonMises]] (L²): A² = Σ_j l_j·(N·M_j − n₁·B_j)² /
    * (n₁·n₂·N·B_j·(N−B_j)) over the distinct pooled values (last value
    * excluded, B_j < N), where B_j/M_j are pooled/sample-1 cumulative
    * counts and l_j the pooled count at the value. Weighting by
    * 1/(B(N−B)) makes it the distribution test that actually sees
    * tail drift.
    *
    * Runs on the [[Folds.twoClass]] cumulate. Each term's numerator
    * N·M − n₁·B is an EXACT Long (bounded by n₁·n₂ < 2⁵³ for doubles'
    * sake — fine to ~50M rows per side); the per-term division is one
    * pinned IEEE expression floored to an integer grid (terms are
    * O(n²/N) ≈ 10¹³ at sf1.0, so flooring costs < 10⁻¹³ relative) and
    * summed as BigInt — reduce-order-free, replayed verbatim by the
    * SQL mirror's HUGEINT sum. Returns one row (n1, n2, a2_stat). */
  def andersonDarling2(df: DataFrame, valueCol: String, groupCol: String,
                       a: String, b: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (n1, n2, sums) = twoGroups(df, valueCol, groupCol, a, b) { (p, it) =>
      val nTot = p.n1 + p.n2
      var m = p.c1 // sample-1 cumulative
      var o = p.c2
      var s = BigInt(0)
      it.foreach { case (_, d1, d2) =>
        m += d1; o += d2
        val bCum = m + o
        if (bCum < nTot) {
          // pinned term the SQL replays: (num·num·l)/(B·(N−B))
          val num = (nTot * m - p.n1 * bCum).toDouble
          val t = num * num * (d1 + d2).toDouble /
            (bCum.toDouble * (nTot - bCum).toDouble)
          s += BigInt(math.floor(t).toLong)
        }
      }
      s
    }
    val a2 =
      if (n1 == 0 || n2 == 0) null
      else java.lang.Double.valueOf(sums.sum.toDouble /
        (n1.toDouble * n2.toDouble * (n1 + n2).toDouble))
    Seq((n1, n2)).toDF("n1", "n2")
      .withColumn("a2_stat", lit(a2).cast(DoubleType))
  }

  /** AVERAGE PRECISION (area under the precision-recall curve,
    * step-wise) — the ranking metric that matters under class
    * imbalance, where [[rocAuc]] saturates: AP = Σ_j ΔR_j·P_j over
    * the distinct score thresholds in DESCENDING order, ties entering
    * together (the standard step-interpolation; P_j = tp/(tp+fp) at
    * the threshold, ΔR_j = pos_j/P).
    *
    * Runs on the [[Folds.twoClass]] cumulate, DESCENDING, over
    * per-distinct-score (pos, neg) counts; a row whose `labelPos` is null
    * counts as negative. Each term pos_j·(tp/(tp+fp)) is one pinned IEEE
    * expression of exact Longs, floor-scaled at 10⁶ and BigInt-summed
    * (reduce-order-free; the SQL mirror replays with a HUGEINT sum);
    * the final /P division is pinned. Returns one row
    * (n_pos, n_neg, average_precision). */
  def averagePrecision(df: DataFrame, scoreCol: String,
                       labelPos: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (nPos, nNeg, sums) = scoreSweep(df, scoreCol, labelPos)(
      (nPos, _) => nPos > 0L) { (st, it) =>
      var tp = st.c1; var fp = st.c2
      var s = BigInt(0)
      it.foreach { case (_, p, q) =>
        tp += p; fp += q
        if (p > 0L) {
          // pinned term the SQL replays: pos·(tp/(tp+fp))
          val t = p.toDouble * (tp.toDouble / (tp + fp).toDouble)
          s += BigInt(math.floor(t * 1e6).toLong)
        }
      }
      s
    }
    val ap =
      if (nPos == 0L) null
      else java.lang.Double.valueOf(
        sums.sum.toDouble / 1e6 / nPos.toDouble)
    Seq((nPos, nNeg)).toDF("n_pos", "n_neg")
      .withColumn("average_precision", lit(ap).cast(DoubleType))
  }

  /** [[Folds.twoClass]] over scores, highest first: class 1 = `labelPos`,
    * class 2 = every other row (a null label counts as negative). */
  private def scoreSweep[R: ClassTag](df: DataFrame, scoreCol: String,
                                      labelPos: Column)
                                     (scanWhen: (Long, Long) => Boolean)
                                     (scan: (Folds.PartStart,
                                       Iterator[(Double, Long, Long)]) => R)
      : (Long, Long, Array[R]) =
    Folds.twoClass(df, col(scoreCol), lit(true),
      coalesce(labelPos, lit(false)), pos => pos, pos => !pos,
      descending = true)(scanWhen)(scan)

  /** JONCKHEERE–TERPSTRA ORDERED-TREND TEST — does the value shift
    * monotonically across ORDERED groups (dose-response where
    * [[kruskalWallis]] only sees "different"): J = Σ_{i<j} U_ij with
    * U_ij the Mann-Whitney count between groups i and j in the given
    * order; z against the no-ties null moments μ = (N² − Σnᵢ²)/4,
    * σ² = (N²(2N+3) − Σnᵢ²(2nᵢ+3))/72 (the no-ties-correction
    * variant, documented — ties contribute ½ to J via the exact
    * integer 2J).
    *
    * Scale shape: the data reduces to the per-(group, value) count
    * frame over a DISCRETE value column — in-plan bounded at
    * `maxDistinct` distinct values ([[seriesBound]]; bucket
    * continuous measurements first) — zero-filled into the
    * values × groups grid (fit-frame cross join), per-group
    * cumulative-below counts via keyed windows, and
    * 2U_ij = Σ_v cnt_j(v)·(2·below_i(v) + cnt_i(v)) as exact BIGINTs
    * over the O(grid·k) pair frame. Groups are ordered by their
    * NAME's ascending sort (encode the ordinal in the label — the
    * '1-URGENT'..'5-LOW' convention). Returns one row
    * (n, k_groups, j_stat, z). */
  def jonckheereTerpstra(df: DataFrame, valueCol: String,
                         groupCol: String,
                         maxDistinct: Long = 1L << 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x = col(valueCol).cast(DoubleType)
    val base = df.filter(x.isNotNull && !isnan(x) &&
        col(groupCol).isNotNull)
      .select(col(groupCol).cast(StringType).as("__g"), x.as("__x"))
    // eager-checkpoint the O(grid) count frame — values/groups/grid/
    // sizes all read it (4 consumers = 4 data scans otherwise)
    val counts = base.groupBy(col("__g"), col("__x"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    val values = counts.select(col("__x")).distinct()
      .withColumn("__vn", count(lit(1)).over(Window.partitionBy()))
      .withColumn("__x", seriesBound(col("__x"),
        col("__vn"), maxDistinct, "jonckheereTerpstra distinct values"))
      .select(col("__x"))
    val groups = counts.select(col("__g")).distinct()
    val grid = values.crossJoin(groups) // fit-frame: ≤ maxDistinct × k
      .join(counts, Seq("__g", "__x"), "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
      .withColumn("__below", coalesce(sum(col("__c")).over(
        Window.partitionBy(col("__g")).orderBy(col("__x"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val pairs = grid.select(col("__g").as("__gi"), col("__x"),
        col("__c").as("__ci"), col("__below").as("__bi"))
      .join(grid.select(col("__g").as("__gj"), col("__x"),
        col("__c").as("__cj")), "__x")
      .filter(col("__gi") < col("__gj"))
    val jAgg = pairs.agg(
      coalesce(sum(col("__cj") * (lit(2L) * col("__bi") + col("__ci"))),
        lit(0L)).as("__j2"))
    // the cubic moment n_i²(2n_i+3) overflows LONG past n_i ≈ 1.2M —
    // exact DECIMAL products (12+12+13 digits ≤ 38), double'd only in
    // the final closed form (the q395 ΣC² convention)
    val niD = col("__ni").cast(DecimalType(12, 0))
    val sizes = counts.groupBy(col("__g")).agg(sum(col("__c")).as("__ni"))
      .agg(sum(col("__ni")).as("n"), count(lit(1)).as("k_groups"),
        sum(col("__ni") * col("__ni")).as("__sn2"),
        sum(niD * niD *
          (lit(2L) * col("__ni") + lit(3L)).cast(DecimalType(13, 0)))
          .as("__sn23"))
    def d(c: Column): Column = c.cast(DoubleType)
    val mu4 = d(col("n")) * d(col("n")) - d(col("__sn2")) // 4μ
    val var72 = d(col("n")) * d(col("n")) *
      (lit(2.0) * d(col("n")) + lit(3.0)) - d(col("__sn23")) // 72σ²
    sizes.crossJoin(jAgg).select(col("n"), col("k_groups"),
      (d(col("__j2")) / lit(2.0)).as("j_stat"),
      when(var72 > 0.0,
        (d(col("__j2")) / lit(2.0) - mu4 / lit(4.0)) /
          sqrt(var72 / lit(72.0))).as("z"))
  }

  /** ODDS RATIO + RELATIVE RISK of a 2×2 exposure/outcome table with
    * Wald confidence intervals — the epidemiology/AB-testing readout
    * next to [[mcnemar]] (paired) and [[cramersV]] (strength):
    * OR = ad/bc, RR = (a/(a+b))/(c/(c+d)), CIs on the log scale with
    * se_lnOR = √(1/a+1/b+1/c+1/d) and
    * se_lnRR = √(1/a − 1/(a+b) + 1/c − 1/(c+d)), z = 1.96.
    *
    * One conditional-count aggregation (four exact BIGINTs), every
    * derived value a pinned IEEE expression. Any zero cell nulls the
    * estimates and CIs (no Haldane correction — the caller sees the
    * degenerate table instead of a silently-shifted estimate; a, b,
    * c, d are always emitted). Returns one row
    * (a, b, c, d, odds_ratio, or_ci_lo, or_ci_hi, rel_risk,
    * rr_ci_lo, rr_ci_hi). */
  def oddsRatio(df: DataFrame, exposed: Column, outcome: Column)
      : DataFrame = {
    val agg = df.agg(
      coalesce(sum(when(exposed && outcome, 1L)), lit(0L)).as("a"),
      coalesce(sum(when(exposed && !outcome, 1L)), lit(0L)).as("b"),
      coalesce(sum(when(!exposed && outcome, 1L)), lit(0L)).as("c"),
      coalesce(sum(when(!exposed && !outcome, 1L)), lit(0L)).as("d"))
    def dd(c: Column): Column = c.cast(DoubleType)
    val ok = col("a") > 0L && col("b") > 0L && col("c") > 0L &&
      col("d") > 0L
    val or = dd(col("a")) * dd(col("d")) / (dd(col("b")) * dd(col("c")))
    val seOr = sqrt(lit(1.0) / dd(col("a")) + lit(1.0) / dd(col("b")) +
      lit(1.0) / dd(col("c")) + lit(1.0) / dd(col("d")))
    val rr = (dd(col("a")) / (dd(col("a")) + dd(col("b")))) /
      (dd(col("c")) / (dd(col("c")) + dd(col("d"))))
    val seRr = sqrt(lit(1.0) / dd(col("a")) -
      lit(1.0) / (dd(col("a")) + dd(col("b"))) +
      lit(1.0) / dd(col("c")) -
      lit(1.0) / (dd(col("c")) + dd(col("d"))))
    agg.select(col("a"), col("b"), col("c"), col("d"),
      when(ok, or).as("odds_ratio"),
      when(ok, exp(log(or) - lit(1.96) * seOr)).as("or_ci_lo"),
      when(ok, exp(log(or) + lit(1.96) * seOr)).as("or_ci_hi"),
      when(ok, rr).as("rel_risk"),
      when(ok, exp(log(rr) - lit(1.96) * seRr)).as("rr_ci_lo"),
      when(ok, exp(log(rr) + lit(1.96) * seRr)).as("rr_ci_hi"))
  }

  /** MOOD'S MEDIAN TEST — do the groups share a common median:
    * χ² of independence on the k×2 (group × above/not-above the GRAND
    * median) table. The rank-free robust companion of
    * [[kruskalWallis]] (only the sign relative to the pooled median
    * matters, so a single wild group can't dominate).
    *
    * Pinning: the grand median is the LOWER MEDIAN by rank selection
    * (smallest v with 2·cum(v) ≥ n over the distinct-value count
    * frame — a pure integer compare, no interpolation formula to
    * drift; the q393 Sen convention). "Above" is the strict x > med
    * side — ties at the median count as not-above (documented).
    * The distinct-value frame is [[seriesBound]]-bounded in-plan at
    * `maxDistinct` (use a bucketed or discrete column — quantities,
    * ratings, buckets — not a continuous measurement). χ² over the
    * O(k) table via the [[cramersV]] grid arithmetic (exact counts,
    * floor-scaled term sum). Returns one row
    * (median, n, k_groups, dof, chi2). */
  def moodMedianTest(df: DataFrame, valueCol: String, groupCol: String,
                     maxDistinct: Long = 1L << 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x = col(valueCol).cast(DoubleType)
    val base = df.filter(x.isNotNull && !isnan(x) &&
        col(groupCol).isNotNull)
      .select(col(groupCol).cast(StringType).as("__g"), x.as("__x"))
    val grid = base.groupBy(col("__x")).agg(count(lit(1)).as("__c"))
      .withColumn("__c", seriesBound(col("__c"),
        count(lit(1)).over(Window.partitionBy()), maxDistinct,
        "moodMedianTest distinct values").cast(LongType))
      .withColumn("__cum", sum(col("__c")).over(Window.orderBy(col("__x"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy()))
    val med = grid.filter(lit(2L) * col("__cum") >= col("__n"))
      .agg(min(col("__x")).as("__med"), max(col("__n")).as("__nTot"))
    val cells = base.crossJoin(med) // 1-row median frame
      .groupBy(col("__g"))
      .agg(coalesce(sum(when(col("__x") > col("__med"), 1L)), lit(0L))
        .as("__above"),
        coalesce(sum(when(col("__x") <= col("__med"), 1L)), lit(0L))
        .as("__notAbove"))
    def dd(c: Column): Column = c.cast(DoubleType)
    // k×2 χ²: margins off the O(k) cell frame, pinned (o−e)²/e terms
    val withTot = cells
      .withColumn("__rt", col("__above") + col("__notAbove"))
      .withColumn("__ca", sum(col("__above")).over(Window.partitionBy()))
      .withColumn("__cn", sum(col("__notAbove")).over(Window.partitionBy()))
      .withColumn("__nn", col("__ca") + col("__cn"))
    def term(o: Column, ct: Column): Column = {
      val e = dd(col("__rt")) * dd(ct) / dd(col("__nn"))
      (dd(o) - e) * (dd(o) - e) / e
    }
    // a degenerate margin (every value on one side of the median —
    // constant columns) makes e = 0: gate the terms to NULL in BOTH
    // engines rather than trusting two engines' 0/0 to agree
    val marginsOk = col("__ca") > 0L && col("__cn") > 0L
    withTot.agg(
      max(col("__nn")).as("__n2"),
      count(lit(1)).as("k_groups"),
      fs(when(marginsOk, term(col("__above"), col("__ca")) +
        term(col("__notAbove"), col("__cn"))), 6).as("chi2"))
      .crossJoin(med.select(col("__med")))
      .select(col("__med").as("median"), col("__n2").as("n"),
        col("k_groups"), (col("k_groups") - 1L).as("dof"), col("chi2"))
  }

  /** KPSS LEVEL-STATIONARITY TEST on the hourly count series — the
    * null-reversed companion of [[adfTest]] (ADF's null is a unit
    * root; KPSS's null is stationarity — running both gives the
    * standard 2×2 verdict table): η = Σ_t S_t² / (n²·σ̂²) with S_t the
    * partial sums of the demeaned series and σ̂² the lag-0 long-run
    * variance (the no-autocorrelation-correction variant, documented
    * and replayed verbatim; 5% critical value 0.463).
    *
    * Exactness: the demeaned partial sum is kept ×n as the exact
    * BIGINT C_t = Σ_{i≤t}(n·yᵢ − Σy) (one cumulative window over the
    * bounded series), ΣC² runs in DECIMAL(38,0) (C ≤ ~10¹⁶ on any
    * real series, so the 19,0×19,0 product is exact), and
    * η = ΣC² / (n²·(nΣy² − (Σy)²)) is one pinned division of exact
    * integers — n⁴ cancels. Gates null on zero variance. Series
    * O(time-range), [[seriesBound]]-guarded. Returns one row
    * (n_hours, eta, stationary_5pct). */
  def kpssTest(df: DataFrame, tsCol: String, typeCol: String,
               yType: String, maxHours: Long = 1L << 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = hourlySeries(df, tsCol, typeCol, yType, maxHours,
      "kpssTest")
    val wAll = Window.partitionBy()
    val wCum = Window.orderBy(col("__t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withC = hourly
      .withColumn("__sy", sum(col("__y")).over(wAll))
      .withColumn("__e", col("__n") * col("__y") - col("__sy"))
      .withColumn("__C", sum(col("__e")).over(wCum))
    val agg = withC.agg(
      max(col("__n")).as("n_hours"),
      max(col("__sy")).as("__syv"),
      sum(col("__y") * col("__y")).as("__syy"),
      sum(col("__C").cast(DecimalType(19, 0)) *
        col("__C").cast(DecimalType(19, 0))).as("__sc2"))
    def d(c: Column): Column = c.cast(DoubleType)
    val varTerm = d(col("n_hours")) * d(col("__syy")) -
      d(col("__syv")) * d(col("__syv"))
    val eta = d(col("__sc2")) /
      (d(col("n_hours")) * d(col("n_hours")) * varTerm)
    agg.select(col("n_hours"),
      when(varTerm > 0.0, eta).as("eta"),
      when(varTerm > 0.0,
        when(eta <= 0.463, 1).otherwise(0)).as("stationary_5pct"))
  }

  /** TURNING-POINT TEST of series randomness — the classical quick
    * i.i.d. check: count interior hours that are a strict local max or
    * min; under randomness E[T] = 2(n−2)/3, Var[T] = (16n−29)/90, and
    * z = (T − E)/√Var flags too-smooth (z ≪ 0, trending) or
    * too-jagged (z ≫ 0, alternating) series. Plateaus (ties with a
    * neighbor) are not turning points — the strict-inequality variant,
    * documented and replayed verbatim.
    *
    * Exactness: T is an exact integer off one lag/lead window pass;
    * E and z are pinned IEEE expressions of n. Series O(time-range),
    * [[seriesBound]]-guarded. Returns one row
    * (n_hours, n_turning, expected, z). */
  def turningPointTest(df: DataFrame, tsCol: String, typeCol: String,
                       yType: String,
                       maxHours: Long = 1L << 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("__h"))
    val hourly = hourlySeries(df, tsCol, typeCol, yType, maxHours,
      "turningPointTest")
      .withColumn("__p", lag(col("__y"), 1).over(w))
      .withColumn("__f", lead(col("__y"), 1).over(w))
    val isTp = col("__p").isNotNull && col("__f").isNotNull &&
      ((col("__y") > col("__p") && col("__y") > col("__f")) ||
        (col("__y") < col("__p") && col("__y") < col("__f")))
    val agg = hourly.agg(max(col("__n")).as("n_hours"),
      coalesce(sum(when(isTp, 1L)), lit(0L)).as("n_turning"))
    def d(c: Column): Column = c.cast(DoubleType)
    val e = lit(2.0) * (d(col("n_hours")) - lit(2.0)) / lit(3.0)
    val v = (lit(16.0) * d(col("n_hours")) - lit(29.0)) / lit(90.0)
    agg.select(col("n_hours"), col("n_turning"),
      when(col("n_hours") >= 3L, e).as("expected"),
      when(col("n_hours") >= 3L && v > 0.0,
        (d(col("n_turning")) - e) / sqrt(v)).as("z"))
  }

  /** SAMPLE ENTROPY (Richman & Moorman 2000) of the hourly count
    * series at template length m = 2 — the regularity/complexity
    * readout (low SampEn = predictable/periodic, high = irregular)
    * complementing [[spectralEntropy]]'s frequency view: SampEn =
    * −ln(A/B) with B = #template pairs (i < j ≤ n−m) matching within
    * tolerance r under the Chebyshev metric at length m, A = the same
    * pairs at length m+1. Counts are over INTEGER hourly counts with
    * an integer tolerance `rTol`, so A and B are exact and the single
    * −ln(A/B) is one pinned double of an exact rational.
    *
    * Scale shape: the O(h²) template-pair frame off the
    * [[seriesBound]]-guarded hourly series — the [[mannKendall]]
    * bound-by-construction pattern (≤ 8.4M pairs at the 4096-hour
    * default, FLAT in SF). Returns one row
    * (n_hours, r_tol, b_count, a_count, sampen). */
  def sampleEntropy(df: DataFrame, tsCol: String, typeCol: String,
                    yType: String, rTol: Long = 2L,
                    maxHours: Long = 1L << 12): DataFrame = {
    require(rTol >= 0, s"rTol=$rTol")
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("__h"))
    val tpl = hourlySeries(df, tsCol, typeCol, yType, maxHours,
      "sampleEntropy")
      .withColumn("__y1", lead(col("__y"), 1).over(w))
      .withColumn("__y2", lead(col("__y"), 2).over(w))
      .filter(col("__y2").isNotNull) // i ≤ n−m−1 (0-based), m = 2
      .select(col("__t"), col("__y"), col("__y1"), col("__y2"),
        col("__n"))
    val pairs = tpl.select(col("__t").as("i"), col("__y").as("a0"),
        col("__y1").as("a1"), col("__y2").as("a2"), col("__n"))
      .join(tpl.select(col("__t").as("j"), col("__y").as("b0"),
        col("__y1").as("b1"), col("__y2").as("b2")),
        col("j") > col("i"))
    val mMatch = greatest(abs(col("a0") - col("b0")),
      abs(col("a1") - col("b1"))) <= rTol
    val m1Match = mMatch && abs(col("a2") - col("b2")) <= rTol
    val agg = pairs.agg(max(col("__n")).as("n_hours"),
      coalesce(sum(when(mMatch, 1L)), lit(0L)).as("b_count"),
      coalesce(sum(when(m1Match, 1L)), lit(0L)).as("a_count"))
    agg.select(col("n_hours"), lit(rTol).as("r_tol"),
      col("b_count"), col("a_count"),
      when(col("a_count") > 0L && col("b_count") > 0L,
        -log(col("a_count").cast(DoubleType) /
          col("b_count").cast(DoubleType))).as("sampen"))
  }

  /** The shared hourly-count series frame of the bounded time-series
    * operators: (__h hour, __y exact BIGINT count, __n series length,
    * __t 0-based index), [[seriesBound]]-guarded in-plan. */
  private def hourlySeries(df: DataFrame, tsCol: String, typeCol: String,
                           yType: String, maxHours: Long,
                           op: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.filter(col(tsCol).isNotNull && col(typeCol) === yType)
      .groupBy(date_trunc("hour", col(tsCol)).as("__h"))
      .agg(count(lit(1)).as("__y0"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy()))
      .withColumn("__y",
        seriesBound(col("__y0"), col("__n"), maxHours, op).cast(LongType))
      .withColumn("__t",
        (row_number().over(Window.orderBy(col("__h"))) - 1).cast(LongType))
      .select(col("__h"), col("__t"), col("__y"), col("__n"))
  }

  /** CHOW STRUCTURAL-BREAK TEST on the hourly count series — "did the
    * linear trend change at the breakpoint": OLS y ~ a + b·t on the
    * pooled series and on each half (break at ⌊n/2⌋), then
    * F = ((RSS_p − RSS₁ − RSS₂)/k) / ((RSS₁ + RSS₂)/(n − 2k)), k = 2.
    * The regime-change companion to [[pageHinkley]]'s level-drift
    * monitor and [[mannKendall]]'s monotone-trend test.
    *
    * Exactness: all six moments per segment (n, Σt, Σt², Σy, Σty, Σy²)
    * are exact BIGINT sums folded in ONE pass with conditional
    * aggregates; each RSS is a pinned IEEE closed form of those
    * integers (products in double — no intermediate overflow). Gates:
    * a segment with < 3 points or a degenerate design (n·Σt² = (Σt)²)
    * nulls its RSS, and f_stat nulls unless every piece is defined and
    * RSS₁+RSS₂ > 0 (a perfect two-piece fit has no F). Series is
    * O(time-range), [[seriesBound]]-guarded. Returns one row
    * (n_hours, break_idx, rss_pooled, rss_1, rss_2, f_stat). */
  def chowTest(df: DataFrame, tsCol: String, typeCol: String,
               yType: String, maxHours: Long = 1L << 12): DataFrame = {
    val hourly = hourlySeries(df, tsCol, typeCol, yType, maxHours,
      "chowTest")
      .withColumn("__b", floor(col("__n").cast(DoubleType) / lit(2.0))
        .cast(LongType))
    def seg(pred: Column, sfx: String): Seq[Column] = Seq(
      coalesce(sum(when(pred, 1L)), lit(0L)).as(s"__n$sfx"),
      coalesce(sum(when(pred, col("__t"))), lit(0L)).as(s"__st$sfx"),
      coalesce(sum(when(pred, col("__t") * col("__t"))), lit(0L))
        .as(s"__stt$sfx"),
      coalesce(sum(when(pred, col("__y"))), lit(0L)).as(s"__sy$sfx"),
      coalesce(sum(when(pred, col("__t") * col("__y"))), lit(0L))
        .as(s"__sty$sfx"),
      coalesce(sum(when(pred, col("__y") * col("__y"))), lit(0L))
        .as(s"__syy$sfx"))
    val cols = seg(lit(true), "p") ++ seg(col("__t") < col("__b"), "1") ++
      seg(col("__t") >= col("__b"), "2") :+ max(col("__b")).as("break_idx")
    val agg = hourly.agg(cols.head, cols.tail: _*)
    def d(c: Column): Column = c.cast(DoubleType)
    def det(sfx: String): Column =
      d(col(s"__n$sfx")) * d(col(s"__stt$sfx")) -
        d(col(s"__st$sfx")) * d(col(s"__st$sfx"))
    def rss(sfx: String): Column = {
      val nD = d(col(s"__n$sfx"))
      val b = (nD * d(col(s"__sty$sfx")) -
        d(col(s"__st$sfx")) * d(col(s"__sy$sfx"))) / det(sfx)
      val a = (d(col(s"__sy$sfx")) - b * d(col(s"__st$sfx"))) / nD
      d(col(s"__syy$sfx")) - a * d(col(s"__sy$sfx")) -
        b * d(col(s"__sty$sfx"))
    }
    def ok(sfx: String): Column =
      col(s"__n$sfx") >= 3L && det(sfx) > 0.0
    val (rP, r1, r2) = (when(ok("p"), rss("p")),
      when(ok("1"), rss("1")), when(ok("2"), rss("2")))
    agg.select(col("__np").as("n_hours"), col("break_idx"),
      rP.as("rss_pooled"), r1.as("rss_1"), r2.as("rss_2"),
      when(ok("p") && ok("1") && ok("2") && (r1 + r2) > 0.0,
        ((rP - r1 - r2) / lit(2.0)) /
          ((r1 + r2) / (d(col("__np")) - lit(4.0)))).as("f_stat"))
  }

  /** LO–MACKINLAY VARIANCE-RATIO TEST on the hourly count series —
    * "is this series a random walk": VR(q) compares the per-period
    * variance of OVERLAPPING q-period differences against 1-period
    * differences; 1 for a random walk, > 1 under positive
    * autocorrelation (trending), < 1 under mean reversion — the
    * scale-free companion to [[adfTest]].
    *
    * Uncorrected overlapping-estimator variant, documented and
    * replayed verbatim: drift μ = Σd/(n−1) (the telescoping exact
    * BIGINT sum / count), Var₁ = Σ(d−μ)²/(n−1) and
    * Var_q = Σ(D−qμ)²/(q·(n−q)) both expanded to pinned IEEE closed
    * forms of exact BIGINT sums (Σd, Σd², ΣD, ΣD²) — no floor grid
    * needed anywhere. Series O(time-range), [[seriesBound]]-guarded.
    * Returns one row (n_hours, q, mu, var_1, var_q, vr). */
  def varianceRatio(df: DataFrame, tsCol: String, typeCol: String,
                    yType: String, q: Int = 4,
                    maxHours: Long = 1L << 12): DataFrame = {
    require(q >= 2 && q <= 64, s"q=$q")
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("__h"))
    val hourly = hourlySeries(df, tsCol, typeCol, yType, maxHours,
      "varianceRatio")
      .withColumn("__d", col("__y") - lag(col("__y"), 1).over(w))
      .withColumn("__q", col("__y") - lag(col("__y"), q).over(w))
    val agg = hourly.agg(
      max(col("__n")).as("n_hours"),
      coalesce(sum(when(col("__d").isNotNull, 1L)), lit(0L)).as("__m1"),
      coalesce(sum(col("__d")), lit(0L)).as("__sd"),
      coalesce(sum(col("__d") * col("__d")), lit(0L)).as("__sdd"),
      coalesce(sum(when(col("__q").isNotNull, 1L)), lit(0L)).as("__mq"),
      coalesce(sum(col("__q")), lit(0L)).as("__sq"),
      coalesce(sum(col("__q") * col("__q")), lit(0L)).as("__sqq"))
    def d(c: Column): Column = c.cast(DoubleType)
    val mu = d(col("__sd")) / d(col("__m1"))
    val var1 = (d(col("__sdd")) - lit(2.0) * mu * d(col("__sd")) +
      d(col("__m1")) * mu * mu) / d(col("__m1"))
    val qD = lit(q.toDouble)
    val varq = (d(col("__sqq")) - lit(2.0) * qD * mu * d(col("__sq")) +
      d(col("__mq")) * qD * mu * qD * mu) / (qD * d(col("__mq")))
    agg.select(col("n_hours"), lit(q).as("q"),
      when(col("__m1") > 0L, mu).as("mu"),
      when(col("__m1") > 0L, var1).as("var_1"),
      when(col("__mq") > 0L && col("__m1") > 0L, varq).as("var_q"),
      when(col("__mq") > 0L && col("__m1") > 0L && var1 > 0.0,
        varq / var1).as("vr"))
  }

  /** COOK'S DISTANCE — the per-row regression-influence diagnostic for
    * the simple OLS y ~ a + b·x: D_i = e_i²·h_i / (p·s²·(1−h_i)²) with
    * leverage h_i = 1/n + (x_i − x̄)²/Sxx_c and p = 2; the top-k frame
    * is the "which rows drive this fit" audit (data-quality triage —
    * the regression-side sibling of [[robustOutliers]]).
    *
    * One exact-sum moment pass (floor-scaled 10⁶ Σx, Σy, Σx², Σxy, Σy²
    * — the [[demingRegression]] pass), the fit broadcast back as a
    * 1-row fit frame, then every per-row quantity is a pinned IEEE
    * expression — fully distributed, the only bounded step is the
    * top-k TakeOrderedAndProject. s² comes from the moment identity
    * RSS = Σy² − aΣy − bΣxy (not a second residual pass). Returns the
    * top-k rows by D desc (ties broken by the id columns then x, y):
    * (idCols…, x, y, residual, leverage, cooks_d). */
  def cooksDistance(df: DataFrame, xCol: String, yCol: String,
                    idCols: Seq[String], topK: Int = 15): DataFrame = {
    require(topK >= 1 && idCols.nonEmpty, s"topK=$topK ids=$idCols")
    val x = col(xCol).cast(DoubleType)
    val y = col(yCol).cast(DoubleType)
    val base = df
      .filter(x.isNotNull && !isnan(x) && y.isNotNull && !isnan(y))
      .select(idCols.map(col) ++ Seq(x.as("__x"), y.as("__y")): _*)
    val m = base.agg(
      count(lit(1)).as("__fn"),
      fs(col("__x"), 6).as("__fsx"), fs(col("__y"), 6).as("__fsy"),
      fs(col("__x") * col("__x"), 6).as("__fsxx"),
      fs(col("__x") * col("__y"), 6).as("__fsxy"),
      fs(col("__y") * col("__y"), 6).as("__fsyy"))
    def d(c: Column): Column = c.cast(DoubleType)
    val joined = base.crossJoin(m) // 1-row fit frame
    val nD = d(col("__fn"))
    val mx = col("__fsx") / nD
    val sxxC = col("__fsxx") - col("__fsx") * col("__fsx") / nD
    val b = (nD * col("__fsxy") - col("__fsx") * col("__fsy")) /
      (nD * col("__fsxx") - col("__fsx") * col("__fsx"))
    val a = (col("__fsy") - b * col("__fsx")) / nD
    val s2 = (col("__fsyy") - a * col("__fsy") - b * col("__fsxy")) /
      (nD - lit(2.0))
    val e = col("__y") - a - b * col("__x")
    val h = lit(1.0) / nD +
      (col("__x") - mx) * (col("__x") - mx) / sxxC
    val dI = when(col("__fn") > 2L && sxxC > 0.0 && s2 > 0.0,
      e * e * h / (lit(2.0) * s2 * (lit(1.0) - h) * (lit(1.0) - h)))
    val out = joined.select(idCols.map(col) ++ Seq(
      col("__x").as("x"), col("__y").as("y"),
      e.as("residual"), h.as("leverage"), dI.as("cooks_d")): _*)
    out.orderBy(col("cooks_d").desc +:
        (idCols.map(col(_).asc) ++ Seq(col("x").asc, col("y").asc)): _*)
      .limit(topK)
  }

  /** SPECTRAL ENTROPY of the hourly series — the single-number
    * "how periodic vs noisy is this signal" readout on top of
    * [[periodogram]]: H = −Σ_k p_k·ln p_k over the normalized power at
    * the first K Fourier frequencies, plus H/ln K ∈ [0,1] (0 = all
    * power in one cycle, 1 = flat/white spectrum). Same portable trig
    * kernel, so both engines see bit-identical powers; the Σ over the
    * O(K) power frame and the entropy terms are floor-scaled
    * (10⁶ / 10⁹). Zero-power frequencies contribute 0 (the p·ln p
    * limit). Returns one row
    * (n, k_max, total_power, spectral_entropy, h_norm). */
  def spectralEntropy(df: DataFrame, orderCols: Seq[String],
                      valueCol: String, maxK: Int = 8,
                      maxSeriesRows: Long = 1L << 22): DataFrame = {
    // materialize the O(K) power frame once: periodogram is a union of
    // K single-row aggregates over the same lineage, and this operator
    // consumes it twice (total + entropy terms) — as a literal frame
    // the input series is computed exactly once
    val pg = materializeSmall(
      periodogram(df, orderCols, valueCol, maxK, maxSeriesRows),
      maxK, "spectralEntropy periodogram")
    // the entropy readout over the O(maxK) power frame is folded in-core
    // with the same floor-scaled sums: as Spark plans it would be four
    // tiny jobs of pure analysis and scheduling
    val rows = pg.collectBounded(maxK, "O(maxK) spectral-entropy readout")
    val nVal = rows.map(_.getLong(1)).max
    val powers = rows.collect {
      case r if !r.isNullAt(2) => r.getDouble(2)
    }
    val tp: java.lang.Double =
      if (powers.isEmpty) null
      else java.lang.Double.valueOf(new java.math.BigDecimal(
        powers.map(p => BigInt(math.floor(p * 1e6).toLong)).sum.bigInteger)
        .doubleValue() / 1e6)
    val hTerms = powers.filter(p => p > 0.0 && tp != null && tp > 0.0)
      .map { p0 =>
        val p = p0 / tp.doubleValue()
        BigInt(math.floor((-p * math.log(p)) * 1e9).toLong)
      }
    val h: java.lang.Double =
      if (hTerms.isEmpty) null
      else java.lang.Double.valueOf(new java.math.BigDecimal(
        hTerms.sum.bigInteger).doubleValue() / 1e9)
    val tpPos = tp != null && tp.doubleValue() > 0.0
    val se: java.lang.Double = if (tpPos) h else null
    val hn: java.lang.Double =
      if (tpPos && h != null)
        java.lang.Double.valueOf(h.doubleValue() / math.log(maxK.toDouble))
      else null
    val spark = df.sparkSession
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(org.apache.spark.sql.Row(nVal, maxK, tp, se, hn)), 1),
      StructType(Seq(StructField("n", LongType, nullable = true),
        StructField("k_max", IntegerType, nullable = false),
        StructField("total_power", DoubleType, nullable = true),
        StructField("spectral_entropy", DoubleType, nullable = true),
        StructField("h_norm", DoubleType, nullable = true))))
  }

  /** THEIL T INEQUALITY + BETWEEN/WITHIN DECOMPOSITION — the additively
    * decomposable member of the inequality tier ([[atkinsonIndex]] and the
    * per-group gini are scalars; Theil T uniquely splits as
    * T = T_between + Σ s_g·T_g): HOW MUCH of the corpus concentration is
    * across groups vs inside them — the "is the imbalance a source
    * problem or a per-source problem" readout before rebalancing a
    * 100 TB mix. T = (Σx·ln x)/(N·μ) − ln μ over the positive domain
    * (non-positive rows excluded and counted, the atkinson policy).
    *
    * Exactness & scale: per-group and global moment passes (floor-scaled
    * Σx, Σx·ln x), the global row joined back as a broadcast literal; the
    * cross-group decomposition sums are floor-scaled (10⁹) exact
    * aggregates over the per-group frame — groups unbounded, nothing
    * collected. Returns one row per group: (group, n, mean, share,
    * theil_g, theil_total, theil_between, theil_within) with the three
    * totals repeated per row. */
  def theilDecomposition(df: DataFrame, valueCol: String,
                         groupCol: String): DataFrame = {
    val x = col(valueCol).cast(DoubleType)
    val base = df
      .filter(col(groupCol).isNotNull && x.isNotNull && !isnan(x) &&
        x > 0.0)
      .select(col(groupCol).cast(StringType).as("grp"), x.as("__x"))
    val glob = base.agg(count(lit(1)).as("__n"), fs(col("__x"), 6)
      .as("__sx"), fs(col("__x") * log(col("__x")), 6).as("__sxl"))
    val per = base.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), fs(col("__x"), 6).as("__sxg"),
        fs(col("__x") * log(col("__x")), 6).as("__sxlg"))
    def d(c: Column): Column = c.cast(DoubleType)
    val joined = per.crossJoin(broadcast(glob))
    val mu = col("__sx") / d(col("__n"))
    val muG = col("__sxg") / d(col("n"))
    val share = col("__sxg") / col("__sx")
    // T readouts ride through ln, whose last ulp is NOT pinned across
    // engine libms (measured at sf0.1) — settle on a 10⁻⁹ grid, and
    // route the within-term through the SAME pinned value
    def pin(c: Column): Column = floor(c * lit(1e9)) / lit(1e9)
    val tG = pin(col("__sxlg") / (d(col("n")) * muG) - log(muG))
    val tTot = pin(col("__sxl") / (d(col("__n")) * mu) - log(mu))
    val grpFrame = joined.select(col("grp"), col("n"), muG.as("mean"),
      share.as("share"), tG.as("theil_g"), tTot.as("theil_total"),
      (share * log(muG / mu)).as("__bt"), (share * tG).as("__wt"))
    // cross-group decomposition totals ride one window over the per-group
    // frame (the neymanAllocation normalizer shape — floor-scaled exact,
    // no second execution of the moment lineage)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
    def tsum(c: Column): Column =
      sum(floor(c * lit(1e9)).cast(DecimalType(38, 0))).over(w)
        .cast(DoubleType) / lit(1e9)
    grpFrame
      .select(col("grp"), col("n"), col("mean"), col("share"),
        col("theil_g"), col("theil_total"),
        tsum(col("__bt")).as("theil_between"),
        tsum(col("__wt")).as("theil_within"))
  }

  /** YOUDEN'S J OPTIMAL THRESHOLD — the operating-point selector next to
    * [[rocAuc]]: among all thresholds θ = observed score values (predict
    * positive when score ≥ θ), pick the one maximizing
    * J = sensitivity + specificity − 1 = tp/P − fp/N. The argmax is
    * EXACT-INTEGER: J₁ > J₂ ⇔ tp₁·N − fp₁·P > tp₂·N − fp₂·P (common
    * denominator P·N), so no float compare can flip the winner across
    * engines; ties break to the HIGHEST threshold (the more conservative
    * classifier). J itself is one pinned division at the end.
    *
    * Runs on the [[Folds.twoClass]] cumulate, DESCENDING, over
    * per-distinct-score (pos, neg) counts, with a per-partition best
    * folded over O(P) candidates on the driver (BigInt cross-products, so
    * counts past 3·10⁹ stay exact). Returns one row: (n_pos, n_neg,
    * threshold, tp, fp, fn, tn, sensitivity, specificity, youden_j);
    * nulls when a class is empty. */
  def youdenThreshold(df: DataFrame, scoreCol: String,
                      labelPos: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // per-partition best: scanning thresholds DESCENDING, strict >
    // keeps the first (= highest-threshold) maximizer
    val (nPos, nNeg, bests) = scoreSweep(df, scoreCol, labelPos)(
      (nPos, nNeg) => nPos > 0L && nNeg > 0L) { (st, it) =>
      val bP = BigInt(st.n1); val bN = BigInt(st.n2)
      var tp = st.c1; var fp = st.c2
      var bestJ: BigInt = null
      var bestV = 0.0; var bestTp = 0L; var bestFp = 0L
      it.foreach { case (x, p, q) =>
        tp += p; fp += q
        val j = BigInt(tp) * bN - BigInt(fp) * bP
        if (bestJ == null || j > bestJ) {
          bestJ = j; bestV = x; bestTp = tp; bestFp = fp
        }
      }
      Option(bestJ).map(j => (j, bestV, bestTp, bestFp))
    }
    // partition order = threshold-descending order: strict > keeps the
    // highest-threshold global maximizer on ties
    val out: Option[(Double, Long, Long)] = bests.flatten
      .foldLeft(Option.empty[(BigInt, Double, Long, Long)]) { (g, b) =>
        if (g.isEmpty || b._1 > g.get._1) Some(b) else g }
      .map { case (_, v, tp, fp) => (v, tp, fp) }
    def jl(x: Long): java.lang.Long = java.lang.Long.valueOf(x)
    def jd(x: Double): java.lang.Double = java.lang.Double.valueOf(x)
    val (thr, tp, fp) = out match {
      case Some((a, b, c)) => (jd(a), jl(b), jl(c))
      case None => (null, null, null)
    }
    val (fn, tn) = out match {
      case Some((_, b, c)) => (jl(nPos - b), jl(nNeg - c))
      case None => (null, null)
    }
    val (sens, spec, jv) = out match {
      case Some((_, b, c)) =>
        (jd(b.toDouble / nPos.toDouble),
          jd((nNeg - c).toDouble / nNeg.toDouble),
          jd((BigInt(b) * BigInt(nNeg) - BigInt(c) * BigInt(nPos)).toDouble /
            (nPos.toDouble * nNeg.toDouble)))
      case None => (null, null, null)
    }
    Seq((nPos, nNeg)).toDF("n_pos", "n_neg")
      .withColumn("threshold", lit(thr).cast(DoubleType))
      .withColumn("tp", lit(tp).cast(LongType))
      .withColumn("fp", lit(fp).cast(LongType))
      .withColumn("fn", lit(fn).cast(LongType))
      .withColumn("tn", lit(tn).cast(LongType))
      .withColumn("sensitivity", lit(sens).cast(DoubleType))
      .withColumn("specificity", lit(spec).cast(DoubleType))
      .withColumn("youden_j", lit(jv).cast(DoubleType))
  }

  /** D'AGOSTINO–PEARSON K² OMNIBUS — the finite-sample-calibrated
    * normality test next to [[jarqueBera]]: JB's χ² approximation is
    * asymptotic (badly anti-conservative below n ≈ 2000), while K²
    * transforms the sample skewness and kurtosis SEPARATELY to
    * near-exact standard normals (D'Agostino 1970 / Anscombe–Glynn 1983)
    * before summing squares — usable at the per-group sizes a sliced
    * QA audit actually sees. Emits both component z's, so the caller
    * reads WHICH moment broke normality, not just that one did.
    *
    * Exactness: the same one-pass floor-scaled power sums as
    * [[jarqueBera]]; everything after is a single pinned IEEE expression
    * tree per group — n is cast to DOUBLE before any product (n³ overflows
    * nothing, both engines round identically), and the cube root in the
    * Anscombe–Glynn Wilson–Hilferty step is pinned as
    * sign(t)·exp(ln(|t|)/3) in BOTH engines (library cbrt is not
    * guaranteed correctly-rounded cross-engine; exp/ln are validated by
    * the Atkinson/JS tiers). Gated at n ≥ 20 and m2 > 0 (below that the
    * transforms' own preconditions fail); gated groups emit nulls.
    * Returns (group, n, skewness, kurtosis, z_skew, z_kurt, k2). */
  def dagostinoK2(df: DataFrame, valueCol: String, groupCol: String,
                  quarticDigits: Int = 2): DataFrame = {
    val x = col(valueCol).cast(DoubleType)
    val agg = df
      .filter(col(groupCol).isNotNull && x.isNotNull && !isnan(x))
      .select(col(groupCol), x.as("__x"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        fs(col("__x"), 6).as("__s1"),
        fs(col("__x") * col("__x"), 6).as("__s2"),
        fs(col("__x") * col("__x") * col("__x"), 4).as("__s3"),
        fs(col("__x") * col("__x") * col("__x") * col("__x"), quarticDigits)
          .as("__s4"))
    // One Project per dependency level: a non-cheap value read more than
    // once further down is a column of the next level, so CollapseProject
    // keeps it computed once instead of inlining its tree into every
    // reader (fully inlined, the aggregate's generated class did not
    // compile and whole-stage codegen fell back to interpreted). The
    // arithmetic per value is unchanged.
    val (nD, mu) = (col("__nD"), col("__mu"))
    val (e2, e3, e4) = (col("__e2"), col("__e3"), col("__e4"))
    val (m2, m3, m4) = (col("__m2"), col("__m3"), col("__m4"))
    val (g1, b2) = (col("__g1"), col("__b2"))
    val (beta2, eb2, vb2, sqB1) =
      (col("__beta2"), col("__eb2"), col("__vb2"), col("__sqB1"))
    val (w2, aG, ya, tCb, cb) =
      (col("__w2"), col("__aG"), col("__ya"), col("__tCb"), col("__cb"))
    val (zS, zK) = (col("__zS"), col("__zK"))
    val gate = col("n") >= 20L && m2 > 0.0
    val out = Seq(
      Seq("__nD" -> col("n").cast(DoubleType)),
      Seq("__mu" -> col("__s1") / nD, "__e2" -> col("__s2") / nD,
        "__e3" -> col("__s3") / nD, "__e4" -> col("__s4") / nD),
      Seq("__m2" -> (e2 - mu * mu),
        "__m3" -> (e3 - lit(3.0) * mu * e2 + lit(2.0) * mu * mu * mu),
        "__m4" -> (e4 - lit(4.0) * mu * e3 + lit(6.0) * mu * mu * e2 -
          lit(3.0) * mu * mu * mu * mu)),
      // gated at n ≥ 20 and m2 > 0: below the gate the transforms' own
      // preconditions fail (a zero divisor throws under ANSI), so a gated
      // group carries nulls from here on and every output is null
      Seq("__nD", "__m2", "__m3", "__m4").map(k => k -> when(gate, col(k))),
      Seq("__g1" -> m3 / (m2 * sqrt(m2)), "__b2" -> m4 / (m2 * m2),
        // --- skewness transform (D'Agostino 1970), n-only terms ---
        "__beta2" -> lit(3.0) * (nD * nD + lit(27.0) * nD - lit(70.0)) *
          (nD + lit(1.0)) * (nD + lit(3.0)) /
          ((nD - lit(2.0)) * (nD + lit(5.0)) * (nD + lit(7.0)) *
            (nD + lit(9.0))),
        // --- kurtosis transform (Anscombe–Glynn 1983), n-only terms ---
        "__eb2" -> lit(3.0) * (nD - lit(1.0)) / (nD + lit(1.0)),
        "__vb2" -> lit(24.0) * nD * (nD - lit(2.0)) * (nD - lit(3.0)) /
          ((nD + lit(1.0)) * (nD + lit(1.0)) * (nD + lit(3.0)) *
            (nD + lit(5.0))),
        "__sqB1" -> lit(6.0) * (nD * nD - lit(5.0) * nD + lit(2.0)) /
          ((nD + lit(7.0)) * (nD + lit(9.0))) *
          sqrt(lit(6.0) * (nD + lit(3.0)) * (nD + lit(5.0)) /
            (nD * (nD - lit(2.0)) * (nD - lit(3.0))))),
      Seq("__yS" -> g1 * sqrt((nD + lit(1.0)) * (nD + lit(3.0)) /
          (lit(6.0) * (nD - lit(2.0)))),
        "__w2" -> (sqrt(lit(2.0) * (beta2 - lit(1.0))) - lit(1.0)),
        "__xStd" -> (b2 - eb2) / sqrt(vb2),
        "__aG" -> (lit(6.0) + lit(8.0) / sqB1 *
          (lit(2.0) / sqB1 + sqrt(lit(1.0) + lit(4.0) / (sqB1 * sqB1))))),
      // ya = yS / alphaS
      Seq("__ya" -> col("__yS") / sqrt(lit(2.0) / (w2 - lit(1.0))),
        "__tCb" -> (lit(1.0) - lit(2.0) / aG) /
          (lit(1.0) + col("__xStd") * sqrt(lit(2.0) / (aG - lit(4.0))))),
      // pinned cube root: sign(t)·exp(ln(|t|)/3); t = 0 → 0
      Seq("__cb" -> when(tCb === 0.0, lit(0.0)).otherwise(
          signum(tCb) * exp(log(abs(tCb)) / lit(3.0)))),
      // both z's ride through exp/ln, whose last ulp is NOT pinned across
      // engine libms (measured: z_kurt off by 1 ulp at sf0.01) — settle
      // each on a 10⁻⁹ grid before the squares, the floor-scale doctrine;
      // z_skew = deltaS·ln(ya + √(ya² + 1)) with deltaS = 1/√ln√w2
      Seq("__zS" -> floor(lit(1.0) / sqrt(log(sqrt(w2))) *
          log(ya + sqrt(ya * ya + lit(1.0))) * lit(1e9)) / lit(1e9),
        "__zK" -> floor(((lit(1.0) - lit(2.0) / (lit(9.0) * aG)) - cb) /
          sqrt(lit(2.0) / (lit(9.0) * aG)) * lit(1e9)) / lit(1e9))
    ).foldLeft(agg)((df, level) => df.withColumns(level.toMap))
    out.select(col(groupCol), col("n"), g1.as("skewness"),
      b2.as("kurtosis"), zS.as("z_skew"), zK.as("z_kurt"),
      (zS * zS + zK * zK).as("k2"))
  }
}
