package graft.japi

import java.{util => ju}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Display, Joins, Missing, Reductions, Rolling}
import graft.ops.TableOps._

/** JAVA-FACING API FACADE — the analog of the reference's
  * `java_public_api/tech/v3/TMD.java` (a static-method surface over the
  * engine for callers without the host language's idioms,
  * /root/reference/java_public_api/tech/v3/TMD.java:188-892).
  *
  * A Scala `object` compiles to a class with STATIC FORWARDERS, so every
  * method here is a plain `Graft.method(...)` call from Java; all
  * signatures use only Java types (`java.util.List`/`java.util.Map`,
  * `DataFrame`, boxed primitives) — no Scala collections, default
  * arguments, or implicits leak through. Pass a `LinkedHashMap` where
  * entry ORDER is meaningful (join keys, agg columns); plain `Map.of` is
  * fine where it is not (rename). `JavaApiSpec` runs the representative
  * queries through a genuine .java test class.
  *
  * Everything delegates to the Scala operators — this file adds no
  * semantics, so the oracle coverage of the underlying ops carries over.
  */
object Graft {

  // ---- io ----------------------------------------------------------------

  def readCsv(spark: SparkSession, path: String): DataFrame =
    graft.sources.Io.readCsv(spark, path)

  /** Reference-parity promotional inference read (all-strings, then
    * narrow; NA-as-missing, strict bool, flexible dates). */
  def readCsvPromotional(spark: SparkSession, path: String,
                         separator: String): DataFrame =
    graft.sources.Io.readCsvPromotional(spark, path,
      graft.sources.Io.ReadOptions(separator = separator))

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  // ---- projection / rows -------------------------------------------------

  def selectColumns(df: DataFrame, cols: ju.List[String]): DataFrame =
    df.selectColumns(cols.asScala.toSeq: _*)

  def dropColumns(df: DataFrame, cols: ju.List[String]): DataFrame =
    df.dropColumns(cols.asScala.toSeq: _*)

  def renameColumns(df: DataFrame, mapping: ju.Map[String, String]): DataFrame =
    df.renameColumns(mapping.asScala.toSeq: _*)

  /** Filter by a SQL boolean expression (`"l_quantity > 30 AND
    * l_returnflag = 'R'"`) — the Java-friendly predicate form. */
  def filterSql(df: DataFrame, sqlExpr: String): DataFrame =
    df.filter(sqlExpr)

  def head(df: DataFrame, n: Int): DataFrame = df.limit(n)

  /** Last n rows in `orderCols` ascending order. */
  def tail(df: DataFrame, n: Int, orderCols: ju.List[String]): DataFrame =
    df.tail(n, orderCols.asScala.toSeq.map(col))

  def sortByColumn(df: DataFrame, name: String, descending: Boolean,
                   nullsFirst: Boolean): DataFrame =
    df.sortByColumn(name, descending, nullsFirst)

  /** unique-by: one row per key, smallest `tiebreak` value wins
    * (deterministic at any parallelism). */
  def uniqueBy(df: DataFrame, keys: ju.List[String],
               tiebreak: ju.List[String]): DataFrame =
    df.uniqueByColumn(keys.asScala.toSeq,
      tiebreak.asScala.toSeq.map(col))

  /** concat with the reference's type widening (missing columns null-pad,
    * numerics widen). */
  def concat(frames: ju.List[DataFrame]): DataFrame = {
    val all = frames.asScala.toSeq
    require(all.nonEmpty, "concat of zero frames")
    all.head.concatWidening(all.tail: _*)
  }

  // ---- aggregation -------------------------------------------------------

  /** Named-reducer group-by: `aggSpecs` maps OUTPUT column name →
    * `"fn:column"` where fn ∈ sum | mean | min | max | count |
    * count_distinct | first | stddev (`"count:*"` = row count). Use a
    * LinkedHashMap to control output column order. */
  def groupByAgg(df: DataFrame, keys: ju.List[String],
                 aggSpecs: ju.Map[String, String]): DataFrame = {
    val aggs = aggSpecs.entrySet().asScala.toSeq.map { e =>
      val parts = e.getValue.split(":", 2)
      if (parts.length != 2) throw new IllegalArgumentException(
        s"malformed agg spec '${e.getValue}' for output column " +
          s"'${e.getKey}': expected 'fn:column' (e.g. 'sum:l_quantity', " +
          "'count:*')")
      val Array(fn, c) = parts
      val cc: Column = fn match {
        case "count" => if (c == "*") count(lit(1)) else count(col(c))
        case "sum" => sum(col(c))
        case "mean" => avg(col(c))
        case "min" => min(col(c))
        case "max" => max(col(c))
        case "count_distinct" => countDistinct(col(c))
        case "first" => first(col(c), ignoreNulls = true)
        case "stddev" => stddev(col(c))
        case other => throw new IllegalArgumentException(
          s"unknown agg fn '$other' in '${e.getValue}'")
      }
      e.getKey -> cc
    }
    Reductions.groupByAgg(df, keys.asScala.toSeq, aggs: _*)
  }

  /** One row per numeric column: n-valid / min / mean / max / stddev. */
  def descriptiveStats(df: DataFrame, cols: ju.List[String]): DataFrame =
    Reductions.descriptiveStats(df, cols.asScala.toSeq)

  /** Top/bottom-k by a column without a global sort
    * (TakeOrderedAndProject); `tiebreak` makes boundary ties stable. */
  def minNByColumn(df: DataFrame, name: String, n: Int, descending: Boolean,
                   tiebreak: ju.List[String]): DataFrame =
    Reductions.minNByColumn(df, name, n, descending,
      tiebreak.asScala.toSeq.map(col))

  // ---- joins -------------------------------------------------------------

  /** Equi join; right-side name collisions get the reference's `right.`
    * prefix. `how`: inner | left | right | outer | left_semi | left_anti. */
  def join(left: DataFrame, right: DataFrame, leftOn: ju.List[String],
           rightOn: ju.List[String], how: String): DataFrame =
    Joins.keyJoin(left, right, leftOn.asScala.toSeq,
      rightOn.asScala.toSeq, how)

  /** Keyed/keyless as-of join. `by` maps left key → right key (use a
    * LinkedHashMap; may be empty). `direction`: backward | forward |
    * nearest. Keyed joins plan the O(n+m) Catalyst merge exec. */
  def asofJoin(left: DataFrame, right: DataFrame, leftTime: String,
               rightTime: String, by: ju.Map[String, String],
               direction: String, allowExactMatch: Boolean): DataFrame = {
    val dir = direction match {
      case "backward" => Joins.Backward
      case "forward" => Joins.Forward
      case "nearest" => Joins.Nearest
      case other => throw new IllegalArgumentException(
        s"unknown as-of direction '$other'")
    }
    Joins.asofJoin(left, right, leftTime, rightTime,
      by.entrySet().asScala.toSeq.map(e => e.getKey -> e.getValue),
      dir, allowExactMatch)
  }

  // ---- missing -----------------------------------------------------------

  def dropMissing(df: DataFrame, cols: ju.List[String]): DataFrame =
    Missing.dropMissing(df, cols.asScala.toSeq)

  def fillValue(df: DataFrame, values: ju.Map[String, Object]): DataFrame =
    Missing.fillValue(df, values.asScala.toMap)

  /** replace-missing :down (carry last valid forward in `order`). */
  def fillDown(df: DataFrame, column: String,
               order: ju.List[String]): DataFrame =
    Missing.fillDown(df, column, order.asScala.toSeq.map(col))

  // ---- display -----------------------------------------------------------

  /** The reference's print format (markdown-ish table). */
  def datasetToString(df: DataFrame, name: String): String =
    Display.datasetToStr(df, name)

  // ---- round-15 surface --------------------------------------------------

  /** Calendar-unit trailing rolling window: for every row, `fn:column`
    * reducers (sum | mean | min | max | count) over partition rows whose
    * `timeCol` lies in [t − span·unit, t] (clamped calendar arithmetic);
    * `unit` ∈ months | years. `aggSpecs` maps output name → "fn:column". */
  def rollingCalendar(df: DataFrame, timeCol: String, span: Int,
                      unit: String, part: ju.List[String],
                      aggSpecs: ju.Map[String, String]): DataFrame = {
    val aggs = aggSpecs.entrySet().asScala.toSeq.map { e =>
      val parts = e.getValue.split(":", 2)
      if (parts.length != 2) throw new IllegalArgumentException(
        s"malformed agg spec '${e.getValue}' for output column " +
          s"'${e.getKey}': expected 'fn:column'")
      val fn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        parts(0) match {
          case "sum" => sum(_)
          case "mean" => avg(_)
          case "min" => min(_)
          case "max" => max(_)
          case "count" => count(_)
          case other => throw new IllegalArgumentException(
            s"unknown rolling fn '$other' in '${e.getValue}'")
        }
      (e.getKey, parts(1), fn)
    }
    Rolling.rollingRangeCalendar(df, timeCol, span, unit,
      part.asScala.toSeq, aggs)
  }

  /** Tag + canonicalize a logical dtype column (keyword | symbol | uuid);
    * the tag rides StructField metadata through Snapshot/Arrow/Transit. */
  def parseTagged(df: DataFrame, column: String, tag: String): DataFrame =
    graft.ops.Dtypes.parseTagged(df, column, tag)

  /** Deterministic label-propagation communities (min-label ties). */
  def labelPropagation(edges: DataFrame, src: String, dst: String,
                       iters: Int): DataFrame =
    graft.ops.Graph.labelPropagation(edges, src, dst, iters)

  /** Label propagation over an edge frame that already holds both
    * directions of every edge — skips only the mirroring; duplicate rows
    * fold either way (see Graph scaladoc). */
  def labelPropagationSymmetric(edges: DataFrame, src: String, dst: String,
                                iters: Int): DataFrame =
    graft.ops.Graph.labelPropagation(edges, src, dst, iters,
      assumeSymmetric = true)

  /** Fit categorical naive Bayes and predict `outCol` on `score`. */
  def naiveBayesPredict(train: DataFrame, features: ju.List[String],
                        labelCol: String, score: DataFrame,
                        outCol: String): DataFrame =
    graft.ops.Ml.fitNaiveBayes(train, features.asScala.toSeq, labelCol)
      .predict(score, outCol)

  /** Strip HTML/markup from a string column into `outCol`. */
  def stripMarkup(df: DataFrame, column: String,
                  outCol: String): DataFrame =
    df.withColumn(outCol, graft.llm.TextStats.stripMarkup(col(column)))

  /** Quantile-normalize `valueCol` across `groupCol` onto the pooled
    * distribution (appends `<valueCol>_qn`). */
  def quantileNormalizeByGroup(df: DataFrame, groupCol: String,
                               valueCol: String, gridK: Int): DataFrame =
    graft.ops.Ml.quantileNormalizeByGroup(df, groupCol, valueCol, gridK)

  /** AR(2) Yule-Walker fit per key series (r1, r2, phi1, phi2). */
  def arFit(df: DataFrame, keys: ju.List[String],
            order: ju.List[String], valueCol: String): DataFrame =
    graft.ops.Stats.arFit2(df, keys.asScala.toSeq, order.asScala.toSeq,
      valueCol)

  /** Single changepoint per key series: the split index maximizing the
    * between-segment SSE reduction. */
  def changepoint(df: DataFrame, keys: ju.List[String],
                  order: ju.List[String], valueCol: String): DataFrame =
    graft.ops.Stats.changepoint(df, keys.asScala.toSeq,
      order.asScala.toSeq, valueCol)

  /** Population stability index of `valueCol` between two SQL-expression
    * slices over `bins` reference-quantile bins. */
  def psi(df: DataFrame, valueCol: String, refExpr: String,
          curExpr: String, bins: Int): DataFrame =
    graft.ops.Stats.psi(df, valueCol, expr(refExpr), expr(curExpr), bins)

  /** Jensen-Shannon divergence of `catCol`'s composition between two
    * SQL-expression slices. */
  def jsDivergence(df: DataFrame, catCol: String, refExpr: String,
                   curExpr: String): DataFrame =
    graft.ops.Stats.jsDivergence(df, catCol, expr(refExpr), expr(curExpr))

  /** Cramér's V association table over every pair of the given columns. */
  def associationTable(df: DataFrame, cols: ju.List[String]): DataFrame =
    graft.ops.Stats.associationTable(df, cols.asScala.toSeq)

  /** Binned mutual information between two numeric columns. */
  def binnedMi(df: DataFrame, colA: String, colB: String,
               bins: Int): DataFrame =
    graft.ops.Stats.binnedMi(df, colA, colB, bins)

  /** Fleiss' kappa over a (item, category) rating log. */
  def fleissKappa(df: DataFrame, itemCol: String, catCol: String): DataFrame =
    graft.ops.Stats.fleissKappa(df, itemCol, catCol)

  /** Murphy decomposition of the Brier score over fixed-width bins. */
  def brierDecomposition(df: DataFrame, probCol: String, labelCol: String,
                         bins: Int): DataFrame =
    graft.ops.Ml.brierDecomposition(df, probCol, labelCol, bins)

  /** Newman modularity of a labeled partition over a symmetric edge list. */
  def modularity(edges: DataFrame, src: String, dst: String,
                 labels: DataFrame, idCol: String,
                 labelCol: String): DataFrame =
    graft.ops.Graph.modularity(edges, src, dst, labels, idCol, labelCol)

  /** Exactly-k weighted sample without replacement (md5 race, P ∝ w). */
  def weightedSampleK(df: DataFrame, weightCol: String, k: Int,
                      keyCols: ju.List[String]): DataFrame = {
    import graft.ops.TableOps._
    df.hashSampleTopKWeighted(weightCol, k, keyCols.asScala.toSeq)
  }

  /** Per-state dwell times from per-user event journeys. */
  def dwellTimes(df: DataFrame, userCol: String, order: ju.List[String],
                 tsCol: String, stateCol: String): DataFrame =
    graft.ops.Behavior.dwellTimes(df, userCol, order.asScala.toSeq,
      tsCol, stateCol)

  /** Length-2 sequential pattern support over per-user journeys. */
  def sequenceSupport(df: DataFrame, userCol: String,
                      order: ju.List[String], stateCol: String): DataFrame =
    graft.ops.Behavior.sequenceSupport(df, userCol, order.asScala.toSeq,
      stateCol)

  /** RAKE corpus keywords from a text column. */
  def rakeKeywords(df: DataFrame, textCol: String, minFreq: Long,
                   topK: Int): DataFrame =
    graft.llm.TextStats.rakeKeywords(df, textCol, minFreq, topK)

  /** Exact Jaccard set-similarity self-join (lossless prefix filter). */
  def jaccardJoin(df: DataFrame, idCol: String, textCol: String,
                  shingleLen: Int, threshold: Double): DataFrame =
    graft.llm.TextDedup.jaccardJoin(df, idCol, textCol, shingleLen,
      threshold)

  /** c-TF-IDF top terms per cluster (BERTopic labeling step). */
  def clusterTerms(df: DataFrame, clusterCol: String, textCol: String,
                   topK: Int): DataFrame =
    graft.llm.TextStats.clusterTerms(df, clusterCol, textCol, topK)

  /** Mahalanobis outliers over a numeric pair (d2 > threshold). */
  def mahalanobisOutliers(df: DataFrame, colX: String, colY: String,
                          threshold: Double): DataFrame =
    graft.ops.Stats.mahalanobisOutliers(df, colX, colY, threshold)

  /** Split-conformal prediction interval for y ~ x. */
  def splitConformal(df: DataFrame, xCol: String, yCol: String,
                     splitCols: ju.List[String], alpha: Double): DataFrame =
    graft.ops.Ml.splitConformal(df, xCol, yCol, splitCols.asScala.toSeq,
      alpha)

  /** Segmented trend: per-series changepoint + OLS slope on each side. */
  def segmentedTrend(df: DataFrame, keys: ju.List[String],
                     order: ju.List[String], valueCol: String): DataFrame =
    graft.ops.Stats.segmentedTrend(df, keys.asScala.toSeq,
      order.asScala.toSeq, valueCol)

  // ---- indicator tier (round 17) ------------------------------------------

  /** OHLC bar resample per key and date_trunc bucket. */
  def ohlcBars(df: DataFrame, keys: ju.List[String], tsCol: String,
               tieCol: String, valueCol: String, bucket: String): DataFrame =
    graft.ops.Indicators.ohlcBars(df, keys.asScala.toSeq, tsCol, tieCol,
      valueCol, bucket)

  /** Cutler's RSI over an n-row keyed window. */
  def rsi(df: DataFrame, keys: ju.List[String], order: ju.List[String],
          valueCol: String, n: Int): DataFrame =
    graft.ops.Indicators.rsi(df, keys.asScala.toSeq, order.asScala.toSeq,
      valueCol, n)

  /** Bollinger bands + %B over an n-row keyed window. */
  def bollinger(df: DataFrame, keys: ju.List[String],
                order: ju.List[String], valueCol: String, n: Int,
                k: Double): DataFrame =
    graft.ops.Indicators.bollinger(df, keys.asScala.toSeq,
      order.asScala.toSeq, valueCol, n, k)

  /** MACD fast/slow/signal in one keyed fold. */
  def macd(df: DataFrame, keys: ju.List[String], order: ju.List[String],
           valueCol: String, nFast: Int, nSlow: Int,
           nSignal: Int): DataFrame =
    graft.ops.Indicators.macd(df, keys.asScala.toSeq, order.asScala.toSeq,
      valueCol, nFast, nSlow, nSignal)

  /** Running max drawdown per key. */
  def drawdown(df: DataFrame, keys: ju.List[String],
               order: ju.List[String], valueCol: String): DataFrame =
    graft.ops.Indicators.drawdown(df, keys.asScala.toSeq,
      order.asScala.toSeq, valueCol)

  /** Per-key Sharpe ratio over simple returns. */
  def sharpe(df: DataFrame, keys: ju.List[String], order: ju.List[String],
             valueCol: String, periodsPerYear: Int): DataFrame =
    graft.ops.Indicators.sharpe(df, keys.asScala.toSeq,
      order.asScala.toSeq, valueCol, periodsPerYear)

  /** Historical VaR + expected shortfall per key at level alpha. */
  def varEs(df: DataFrame, keys: ju.List[String], order: ju.List[String],
            valueCol: String, alpha: Double): DataFrame =
    graft.ops.Indicators.varEs(df, keys.asScala.toSeq,
      order.asScala.toSeq, valueCol, alpha)

  /** Stochastic oscillator %K(n)/%D(d) per key. */
  def stochastic(df: DataFrame, keys: ju.List[String],
                 order: ju.List[String], valueCol: String, n: Int,
                 d: Int): DataFrame =
    graft.ops.Indicators.stochastic(df, keys.asScala.toSeq,
      order.asScala.toSeq, valueCol, n, d)

  // ---- association/agreement tier (round 17) -------------------------------

  /** Theil's U uncertainty coefficients between two categoricals. */
  def theilU(df: DataFrame, colA: String, colB: String): DataFrame =
    graft.ops.Stats.theilU(df, colA, colB)

  /** G-test of independence (likelihood-ratio chi-square). */
  def gTest(df: DataFrame, colA: String, colB: String): DataFrame =
    graft.ops.Stats.gTest(df, colA, colB)

  /** Gamma / Somers' D / tau over contingency cells. */
  def ordinalAssociation(df: DataFrame, xCol: String,
                         yCol: String): DataFrame =
    graft.ops.Stats.ordinalAssociation(df, xCol, yCol)

  /** Point-biserial correlation of a boolean column vs a metric. */
  def pointBiserial(df: DataFrame, valueCol: String,
                    flagCol: String): DataFrame =
    graft.ops.Stats.pointBiserial(df, valueCol, col(flagCol))

  /** Durbin-Watson serial-correlation statistic per key. */
  def durbinWatson(df: DataFrame, keys: ju.List[String],
                   order: ju.List[String], valueCol: String): DataFrame =
    graft.ops.Stats.durbinWatson(df, keys.asScala.toSeq,
      order.asScala.toSeq, valueCol)

  /** Cochran's Q over k related binary outcomes (success = col = 1). */
  def cochranQ(df: DataFrame, itemCol: String, treatCol: String,
               successCol: String): DataFrame =
    graft.ops.Stats.cochranQ(df, itemCol, treatCol,
      col(successCol).cast("boolean"))

  /** Kendall's W rater-concordance over per-(rater, item) scores. */
  def kendallW(df: DataFrame, itemCol: String, raterCol: String,
               valueCol: String): DataFrame =
    graft.ops.Stats.kendallW(df, itemCol, raterCol, valueCol)

  /** Krippendorff's alpha (nominal) with missing ratings tolerated. */
  def krippendorffAlpha(df: DataFrame, itemCol: String, raterCol: String,
                        categoryCol: String): DataFrame =
    graft.ops.Stats.krippendorffAlpha(df, itemCol, raterCol, categoryCol)

  /** Fisher's exact test (two-sided) of two boolean columns. */
  def fisherExact(df: DataFrame, flagA: String, flagB: String): DataFrame =
    graft.ops.Stats.fisherExact(df, col(flagA), col(flagB))

  /** HITS hubs/authorities over a directed edge list. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int): DataFrame =
    graft.ops.Graph.hits(edges, srcCol, dstCol, iters)

  /** PACF at lags 1–3 (Durbin-Levinson over the pooled panel ACF). */
  def pacf(df: DataFrame, keys: ju.List[String], order: ju.List[String],
           valueCol: String): DataFrame =
    graft.ops.Stats.pacf(df, keys.asScala.toSeq, order.asScala.toSeq,
      valueCol)

  /** Functional-dependency audit over (determinant, dependent) pairs. */
  def fdAudit(df: DataFrame,
              pairs: ju.Map[String, String]): DataFrame =
    graft.ops.Stats.fdAudit(df,
      pairs.entrySet().asScala.toSeq.map(e => (e.getKey, e.getValue)))

  /** Candidate-key audit: each inner list is one candidate column set. */
  def keyAudit(df: DataFrame,
               candidates: ju.List[ju.List[String]]): DataFrame =
    graft.ops.Stats.keyAudit(df,
      candidates.asScala.toSeq.map(_.asScala.toSeq))

  /** Markov stationary distribution of per-key state sequences. */
  def markovStationary(df: DataFrame, keys: ju.List[String],
                       order: ju.List[String], stateCol: String,
                       rounds: Int): DataFrame =
    graft.ops.Stats.markovStationary(df, keys.asScala.toSeq,
      order.asScala.toSeq, stateCol, rounds)

  /** Corpus distinct-n diversity (n = 1..3). */
  def distinctNgramDiversity(df: DataFrame, textCol: String): DataFrame =
    graft.llm.TextStats.distinctNgramDiversity(df, textCol)

  /** Schleimer winnowing fingerprints (k-grams, window w). */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int, w: Int): DataFrame =
    graft.llm.TextStats.winnowFingerprints(df, idCol, textCol, k, w)

  /** Hurst exponent via R/S analysis per key (sizes 8/16/32). */
  def hurst(df: DataFrame, keys: ju.List[String], order: ju.List[String],
            valueCol: String): DataFrame =
    graft.ops.Stats.hurstRs(df, keys.asScala.toSeq, order.asScala.toSeq,
      valueCol)

  /** Full Damerau-Levenshtein distance column (register per session). */
  def damerauLevenshtein(spark: SparkSession, a: String,
                         b: String): Column = {
    graft.functions.StringSim.register(spark)
    expr(s"graft_damerau_levenshtein($a, $b)")
  }

  /** Deterministic k-means cluster readout over an embedding column. */
  def kmeansClusters(df: DataFrame, nCentroids: Int, iters: Int): DataFrame =
    graft.llm.Similarity.kmeansClusters(df, nCentroids, iters)

  /** Simplified silhouette of the k-means model. */
  def kmeansSilhouette(df: DataFrame, nCentroids: Int,
                       iters: Int): DataFrame =
    graft.llm.Similarity.kmeansSilhouette(df, nCentroids, iters)

  /** Brown-Forsythe Levene variance-equality test. */
  def leveneTest(df: DataFrame, valueCol: String,
                 groupCol: String): DataFrame =
    graft.ops.Stats.leveneTest(df, valueCol, groupCol)

  /** Bounded-hop BFS distances from source node ids. */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
                   sources: ju.List[java.lang.Long],
                   maxHops: Int): DataFrame =
    graft.ops.Graph.bfsDistances(edges, srcCol, dstCol,
      sources.asScala.toSeq.map(_.longValue()), maxHops)

  /** Business days (Mon-Fri) between two date columns. */
  def businessDaysBetween(df: DataFrame, startCol: String, endCol: String,
                          out: String): DataFrame =
    df.withColumn(out,
      graft.ops.Advanced.businessDaysBetween(col(startCol), col(endCol)))

  /** Restricted mean survival time at horizon tau. */
  def rmst(df: DataFrame, durationCol: String, eventCol: String,
           tau: Long): DataFrame =
    graft.ops.Stats.rmst(df, durationCol, eventCol, tau)

  /** Huber robust mean per group (IRLS, fixed rounds). */
  def huberMean(df: DataFrame, valueCol: String,
                groupCol: String): DataFrame =
    graft.ops.Stats.huberMean(df, valueCol, groupCol)

  /** Periodogram power at Fourier frequencies 1..maxK of a series. */
  def periodogram(df: DataFrame, order: ju.List[String], valueCol: String,
                  maxK: Int): DataFrame =
    graft.ops.Stats.periodogram(df, order.asScala.toSeq, valueCol, maxK)
}
