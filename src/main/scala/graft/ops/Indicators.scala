package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Keyed-series technical/telemetry indicators — the rolling.clj
  * parity-plus tier applied to the metrics a monitoring or market
  * pipeline derives per entity (reference rolling windows:
  * `tech/v3/dataset/rolling.clj`; these compose the same fixed windows
  * with the repo's exact-sum conventions).
  *
  * Scale posture shared by every operator here: one hash shuffle on the
  * key (or none, when the input is already keyed), per-key windows only —
  * never a global window — and every rolling SUM is floor-scaled into
  * DECIMAL(38,0) so the aggregate is EXACT regardless of partitioning or
  * reduce order (the q11/q233 convention). Derived per-row doubles (ratios,
  * %K, returns) use a pinned IEEE op order that the DuckDB oracles replay
  * verbatim. */
object Indicators {

  private def w(keys: Seq[String], ord: Seq[String]) =
    Window.partitionBy(keys.map(col): _*).orderBy(ord.map(col): _*)

  /** Exact rolling sum: floor-scale, decimal-sum, scale back. */
  private def fsum(c: Column, scale: Double,
                   over: org.apache.spark.sql.expressions.WindowSpec): Column =
    sum(floor(c * lit(scale)).cast(DecimalType(38, 0))).over(over)
      .cast(DoubleType) / lit(scale)

  /** Resample an event stream to OHLC bars: per (key, time bucket) the
    * first/highest/lowest/last value plus row count and exact volume.
    * One keyed aggregation — open/close are argmin/argmax by the
    * (ts, tiebreak) struct, so the bar is deterministic even when a
    * bucket's first or last timestamp duplicates. `bucket` is any
    * `date_trunc` unit ("hour", "day", ...). */
  def ohlcBars(df: DataFrame, keyCols: Seq[String], tsCol: String,
               tieCol: String, valueCol: String,
               bucket: String = "hour"): DataFrame = {
    val v = col(valueCol).cast(DoubleType)
    df.filter(v.isNotNull && !isnan(v))
      .groupBy((keyCols.map(col) :+
        date_trunc(bucket, col(tsCol)).as("bar_ts")): _*)
      .agg(
        min_by(v, struct(col(tsCol), col(tieCol))).as("open"),
        max(v).as("high"),
        min(v).as("low"),
        max_by(v, struct(col(tsCol), col(tieCol))).as("close"),
        count(lit(1)).as("n"),
        (sum(floor(v * lit(1e6)).cast(DecimalType(38, 0)))
          .cast(DoubleType) / lit(1e6)).as("volume"))
  }

  /** Cutler's RSI (simple-moving-average form of the relative strength
    * index) over an n-row window per key: up/down moves from the keyed
    * lag, exact rolling sums of gains and losses, RSI =
    * 100·avgGain/(avgGain+avgLoss). Null until the first delta exists;
    * null when the window saw no movement at all. The SMA form (not
    * Wilder's recursive smoothing) keeps the operator a pure window —
    * no sequential state — so it parallelizes per key-run for free. */
  def rsi(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
          valueCol: String, n: Int = 14, out: String = "rsi"): DataFrame = {
    require(n >= 2, s"rsi window n=$n")
    val ord = w(keyCols, orderCols)
    val win = ord.rowsBetween(-(n - 1), 0)
    val v = col(valueCol).cast(DoubleType)
    val d = v - lag(v, 1).over(ord)
    val gain = when(d > 0, d).otherwise(lit(0.0))
    val loss = when(d < 0, -d).otherwise(lit(0.0))
    val cnt = count(d).over(win)
    val g = fsum(when(d.isNotNull, gain), 1e6, win) / cnt
    val l = fsum(when(d.isNotNull, loss), 1e6, win) / cnt
    df.withColumn(out, when(g + l > 0, lit(100.0) * g / (g + l)))
  }

  /** Bollinger bands + %B over an n-row window per key: exact-sum rolling
    * mean and (population) variance from floor-scaled Σx and Σx², bands
    * at mid ± k·σ, and %B = (x − lower)/(upper − lower) when the band has
    * width. Variance op order is pinned (Σx²/n − mean², clamped at 0) so
    * the oracle replays it bit-exactly. */
  def bollinger(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
                valueCol: String, n: Int = 20, k: Double = 2.0): DataFrame = {
    require(n >= 2, s"bollinger window n=$n")
    val win = w(keyCols, orderCols).rowsBetween(-(n - 1), 0)
    val v = col(valueCol).cast(DoubleType)
    val cnt = count(v).over(win)
    val m = fsum(v, 1e6, win) / cnt
    val sxx = fsum(v * v, 1e6, win) / cnt
    val sd = sqrt(greatest(sxx - m * m, lit(0.0)))
    val up = m + lit(k) * sd
    val dn = m - lit(k) * sd
    df.withColumn("bb_mid", m)
      .withColumn("bb_up", up)
      .withColumn("bb_dn", dn)
      .withColumn("pct_b", when(up - dn > 0, (v - dn) / (up - dn)))
  }

  /** MACD (fast EMA − slow EMA, plus the signal EMA of that difference
    * and the histogram) in ONE keyed streaming fold on the [[Folds.keyed]]
    * kernel: the three coupled recurrences share a single hash shuffle +
    * in-partition sort instead of chaining [[Advanced.ewmaKeyed]] three
    * times (3 shuffles → 1; at 100 TB the shuffle is the cost, the per-row
    * arithmetic is free). Seeds match ewmaKeyed's `seedFirst`:
    * f₁ = s₁ = x₁ (so macd₁ = 0) and sig₁ = macd₁. Per-row op order is
    * pinned to a·state + b·x / fast − slow / a·sig + b·macd — the oracle's
    * recursive CTE (q318) replays it with the identical double literals. */
  def macd(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
           valueCol: String, nFast: Int = 12, nSlow: Int = 26,
           nSignal: Int = 9): DataFrame = {
    require(nFast >= 1 && nSlow > nFast && nSignal >= 1,
      s"macd($nFast, $nSlow, $nSignal)")
    val (bF, bS, bG) =
      (2.0 / (nFast + 1), 2.0 / (nSlow + 1), 2.0 / (nSignal + 1))
    val (aF, aS, aG) = (1.0 - bF, 1.0 - bS, 1.0 - bG)
    Folds.keyed(df, keyCols, orderCols, valueCol, "macd",
      Seq("macd", "macd_signal", "macd_hist").map(_ -> DoubleType)) { () =>
      var f = 0.0; var s = 0.0; var sig = 0.0; var first = true
      x => {
        if (first) { f = x; s = x } else { f = aF * f + bF * x; s = aS * s + bS * x }
        val m = f - s
        sig = if (first) m else aG * sig + bG * m
        first = false
        Seq(m, sig, m - sig)
      }
    }
  }

  /** Running maximum drawdown per key: peak = running max (exact — no
    * float accumulation), drawdown = peak − x, and the relative form
    * when the peak is nonzero. The classic "how far below the
    * high-water mark" metric for balances, latencies, scores. */
  def drawdown(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
               valueCol: String): DataFrame = {
    val win = w(keyCols, orderCols)
      .rowsBetween(Window.unboundedPreceding, 0)
    val v = col(valueCol).cast(DoubleType)
    val peak = max(v).over(win)
    df.withColumn("peak", peak)
      .withColumn("dd", peak - v)
      .withColumn("dd_pct", when(peak =!= 0, (peak - v) / peak))
  }

  /** Per-key Sharpe ratio over simple returns: r_t = x_t/x_{t−1} − 1
    * from the keyed lag (pinned per-row division), then EXACT
    * floor-scaled Σr and Σr² (1e6 — Spark's floor(double) yields LONG, and
    * a ratio of series extremes can reach ~5e4, so r²·1e6 ≈ 2.4e15 stays
    * comfortably inside 64-bit where 1e9 would flirt with overflow),
    * population std, and mean/std·√periods. One window pass + one keyed
    * aggregation. Returns (keys..., n_returns, mean_r, std_r, sharpe). */
  def sharpe(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
             valueCol: String, periodsPerYear: Int = 252): DataFrame = {
    val ord = w(keyCols, orderCols)
    val v = col(valueCol).cast(DoubleType)
    val prev = lag(v, 1).over(ord)
    val r = when(prev.isNotNull && prev =!= 0, v / prev - lit(1.0))
    val base = df.withColumn("__r", r).filter(col("__r").isNotNull)
    val n = count(lit(1))
    base.groupBy(keyCols.map(col): _*)
      .agg(
        n.as("n_returns"),
        (sum(floor(col("__r") * lit(1e6)).cast(DecimalType(38, 0)))
          .cast(DoubleType) / lit(1e6)).as("__sr"),
        (sum(floor(col("__r") * col("__r") * lit(1e6))
          .cast(DecimalType(38, 0))).cast(DoubleType) / lit(1e6)).as("__srr"))
      .withColumn("mean_r", col("__sr") / col("n_returns"))
      .withColumn("__var",
        greatest(col("__srr") / col("n_returns") -
          col("mean_r") * col("mean_r"), lit(0.0)))
      .withColumn("std_r", sqrt(col("__var")))
      .withColumn("sharpe", when(col("std_r") > 0,
        col("mean_r") / col("std_r") *
          sqrt(lit(periodsPerYear.toDouble))))
      .select((keyCols.map(col) ++
        Seq(col("n_returns"), col("mean_r"), col("std_r"),
          col("sharpe"))): _*)
  }

  /** Historical Value-at-Risk + Expected Shortfall per key at level
    * `alpha`: simple returns from the keyed lag, EXACT rank selection of
    * the k-th smallest return (k = ⌈α·n⌉, ties broken by the order
    * columns so both engines pick the same row — never an interpolating
    * percentile), and ES = exact floor-scaled mean of the k tail
    * returns. Two keyed window passes + one aggregation; the tail frame
    * is k rows per key, never data-sized.
    * Returns (keys..., n_returns, k_tail, var_alpha, es_alpha). */
  def varEs(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
            valueCol: String, alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha=$alpha")
    val ord = w(keyCols, orderCols)
    val v = col(valueCol).cast(DoubleType)
    val prev = lag(v, 1).over(ord)
    val r = when(prev.isNotNull && prev =!= 0, v / prev - lit(1.0))
    val base = df.withColumn("__r", r).filter(col("__r").isNotNull)
    val rk = row_number().over(
      Window.partitionBy(keyCols.map(col): _*)
        .orderBy((col("__r") +: orderCols.map(col)): _*))
    val n = count(lit(1)).over(Window.partitionBy(keyCols.map(col): _*))
    val ranked = base.withColumn("__rk", rk).withColumn("__n", n)
      .withColumn("__k", ceil(lit(alpha) * col("__n")).cast(LongType))
      .filter(col("__rk") <= col("__k"))
    ranked.groupBy(keyCols.map(col): _*)
      .agg(
        max(col("__n")).as("n_returns"),
        max(col("__k")).as("k_tail"),
        max(when(col("__rk") === col("__k"), col("__r"))).as("var_alpha"),
        (sum(floor(col("__r") * lit(1e6)).cast(DecimalType(38, 0)))
          .cast(DoubleType) / lit(1e6)).as("__ssum"))
      .withColumn("es_alpha", col("__ssum") / col("k_tail"))
      .select((keyCols.map(col) ++
        Seq(col("n_returns"), col("k_tail"), col("var_alpha"),
          col("es_alpha"))): _*)
  }

  /** Stochastic oscillator per key: %K = 100·(x − minₙ)/(maxₙ − minₙ)
    * from exact window min/max (no float accumulation), %D = exact-sum
    * d-row rolling mean of %K (floor-scaled at 1e6). Null %K when the
    * window is flat. */
  def stochastic(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
                 valueCol: String, n: Int = 14, d: Int = 3): DataFrame = {
    require(n >= 2 && d >= 1, s"stochastic($n, $d)")
    val winN = w(keyCols, orderCols).rowsBetween(-(n - 1), 0)
    val winD = w(keyCols, orderCols).rowsBetween(-(d - 1), 0)
    val v = col(valueCol).cast(DoubleType)
    val lo = min(v).over(winN)
    val hi = max(v).over(winN)
    val kPct = when(hi - lo > 0, lit(100.0) * (v - lo) / (hi - lo))
    df.withColumn("pct_k", kPct)
      .withColumn("pct_d",
        fsum(col("pct_k"), 1e6, winD) / count(col("pct_k")).over(winD))
  }

  /** ON-BALANCE VOLUME — the classic volume-flow confirmation indicator:
    * OBV_t = OBV_{t−1} + sign(Δprice)·volume_t (first row contributes 0;
    * flat ticks contribute 0). Prices and volumes are floor-scaled to
    * integer cents/units BEFORE the signed cumulate, so the running sum
    * is an exact BIGINT under any partitioning — sign, scale, and
    * cumulate all replay in SQL verbatim.
    *
    * Plan: one keyed lag + one keyed running sum over the same
    * (key, order) window spec — a single hash shuffle + in-partition
    * sort, no sequential state (the [[rsi]] SMA argument). Returns the
    * input plus (obv) as DOUBLE units. */
  def obv(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
          priceCol: String, volumeCol: String,
          out: String = "obv"): DataFrame = {
    val ord = w(keyCols, orderCols)
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pc = floor(col(priceCol).cast(DoubleType) * lit(100.0))
      .cast(LongType)
    val vu = floor(col(volumeCol).cast(DoubleType) * lit(1e6)).cast(LongType)
    val d = pc - lag(pc, 1).over(ord)
    val signed = when(d.isNull || d === 0L, 0L)
      .when(d > 0L, vu).otherwise(-vu)
    df.withColumn(out,
      (sum(signed).over(run).cast(DoubleType) / lit(1e6)))
  }
}
