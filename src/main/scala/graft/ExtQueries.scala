package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops._
import graft.ops.TableOps._
import graft.ops.Reductions._
import org.apache.spark.ml.functions.vector_to_array
import graft.ops.Bounded._

/** Typed rows for the induction query (top-level for Encoders.product). */
case class OrderRow(o_orderkey: Long, o_totalprice: Double)
case class InductState(o_orderkey: Long, running: Double)

/** Extended coverage queries: event-time windowing (streaming-equivalent),
  * sessionization, variable rolling windows, outer joins, bag ops, lerp
  * imputation, one-hot, whole-table descriptive stats, scalers, PCA. */
object ExtQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.t(s, dir, name)

  /** events with the NaN/null values dropped — the shared input of the
    * indicator-tier queries (q316–q322): every keyed recurrence/window
    * there assumes a clean series, same rationale as q233. */
  private def evClean(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("value").isNotNull && !isnan(col("value")))

  /** floor-scaled exact sum column (same contract as oracle side; Int128
    * codegen accumulator — identical values to the decimal form). */
  private def fsum(c: org.apache.spark.sql.Column, p: Double) =
    call_function("graft_sum128", floor(c * lit(p)).cast(LongType), lit(0))
      .cast(DoubleType) / lit(p)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // event-time tumbling window (batch equivalent of the streaming path in
    // graft.streaming.EventStream — identical plan minus the state store).
    "q38_time_bucket" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour")("start").as("bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), fsum(col("value"), 1e6).as("sum_value"))
        .orderBy(col("bucket"), col("event_type"))
    },

    // sessionization: a >30-minute gap starts a new session (window cumsum —
    // the batch analog of flatMapGroupsWithState sessionization).
    "q39_sessionize" -> { (s, dir) =>
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gap = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(wOrd))
      val withSess = t(s, dir, "events")
        .withColumn("new_sess",
          when(lag(col("ts"), 1).over(wOrd).isNull || gap > 30L * 60 * 1000000, 1L)
            .otherwise(0L))
        .withColumn("sess_id", sum(col("new_sess")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      withSess.groupBy(col("user_id"), col("sess_id"))
        .agg(count(lit(1)).as("n_events"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"), max(col("n_events")).as("max_session_events"))
        .orderBy(col("user_id"))
    },

    // variable (time-range) rolling window (reference rolling.clj:286-301):
    // trailing 1 hour per user on the event-time axis.
    "q40_variable_rolling" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600L * 1000000, 0)
      t(s, dir, "events")
        .withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("sum_1h",
          (sum(floor(col("value") * lit(1e6)).cast(DecimalType(30, 0))).over(w)
            .cast(DoubleType) / lit(1e6)))
        .selectColumns("event_id", "user_id", "n_1h", "sum_1h")
        .orderBy(col("event_id"))
    },

    // full outer join with padding on both sides (reference join.clj outer
    // variants; `:outer` of pd-merge).
    "q41_full_outer" -> { (s, dir) =>
      val o = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      val e = t(s, dir, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"))
      o.join(e, col("o_custkey") === col("user_id"), "full")
        .select(coalesce(col("o_custkey"), col("user_id")).as("k"),
          col("n_orders"), col("n_events"))
        .orderBy(col("k"))
    },

    // bag intersection = min multiplicity (reference set.clj:72-115).
    "q42_bag_intersect" -> { (s, dir) =>
      val early = t(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .selectColumns("l_returnflag", "l_linestatus")
      val late = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
        .selectColumns("l_returnflag", "l_linestatus")
      SetOps.bagIntersection(early, late)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("multiplicity"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // bag union = max multiplicity (reference set.clj:118-171).
    "q43_bag_union" -> { (s, dir) =>
      val early = t(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .selectColumns("l_returnflag", "l_linestatus")
      val late = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
        .selectColumns("l_returnflag", "l_linestatus")
      SetOps.bagUnion(early, late)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("multiplicity"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // replace-missing :lerp / :midpoint / :nearest (reference
    // missing.clj:163-189, 256-261) on an integer index axis.
    "q44_fill_lerp" -> { (s, dir) =>
      val e = t(s, dir, "events").select(
        col("event_id"), col("user_id"),
        when(col("event_type") === "view", lit(null).cast(DoubleType))
          .otherwise(col("value")).as("v"))
      val part = Seq(col("user_id"))
      val d1 = Missing.fillLerp(e.withColumn("v_lerp", col("v")), "v_lerp",
        col("event_id"), part)
      val d2 = Missing.fillLerp(d1.withColumn("v_mid", col("v")), "v_mid",
        col("event_id"), part, midpoint = true)
      val d3 = Missing.fillNearest(d2.withColumn("v_near", col("v")), "v_near",
        col("event_id"), part)
      d3.selectColumns("event_id", "user_id", "v", "v_lerp", "v_mid", "v_near")
        .orderBy(col("event_id"))
    },

    // categorical->one-hot (reference categorical.clj:202-318).
    "q45_one_hot" -> { (s, dir) =>
      Categorical.oneHot(t(s, dir, "customer"), "c_mktsegment",
        Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .selectColumns("c_custkey", "c_mktsegment_AUTOMOBILE",
          "c_mktsegment_BUILDING", "c_mktsegment_FURNITURE",
          "c_mktsegment_HOUSEHOLD", "c_mktsegment_MACHINERY")
        .orderBy(col("c_custkey"))
    },

    // descriptive-stats / brief (reference dataset_api.clj:1300-1399):
    // one row per numeric column, single-pass aggregation.
    "q46_descriptive_stats" -> { (s, dir) =>
      Reductions.descriptiveStats(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        squareScale = Map("l_extendedprice" -> 2))
        .orderBy(col("column"))
    },

    // std-scale + min-max fit/transform (reference math.clj:235-344).
    "q47_scalers" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val z = Ml.fitStandardScaler(li, Seq("l_quantity"),
        squareScale = Map("l_quantity" -> 2)).transform(li)
      val mm = Ml.fitMinMax(li, Seq("l_extendedprice")).transform(z)
      mm.selectColumns("l_orderkey", "l_linenumber", "l_quantity_z",
        "l_extendedprice_mm")
        // value tiebreakers: (l_orderkey, l_linenumber) is not unique in the
        // synthetic lineitem — the output columns complete a total order
        .orderBy(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity_z"), col("l_extendedprice_mm"))
    },

    // PCA projection (reference neanderthal.clj:73-331). Oracle-exact: the
    // fit is one exact-sum pass (Int128 sums → covariance by a fixed double
    // formula) and the d=2 Jacobi eigendecomposition is a single closed-form
    // rotation, so the DuckDB oracle recomputes components AND projections
    // bit-for-bit. AdvancedSpec covers the d>2 path (orthonormality,
    // partition invariance).
    "q48_pca" -> { (s, dir) =>
      Ml.pcaProject(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice"), 2,
        colScale = Map("l_extendedprice" -> 2))
        .withColumn("pc1", element_at(col("pc"), 1))
        .withColumn("pc2", element_at(col("pc"), 2))
        .selectColumns("l_orderkey", "l_linenumber", "pc1", "pc2")
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data
        // (sf0.1 has duplicate line numbers) — pc values complete the total
        // order so Spark and DuckDB agree on tie layout under the LIMIT
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("pc1"), col("pc2"))
        .limit(100)
    },

    // k-fold assignment (reference modelling.clj) — deterministic hash folds.
    "q49_kfold" -> { (s, dir) =>
      Ml.withFold(t(s, dir, "orders"), "o_orderkey", 5)
        .groupBy(col("fold")).agg(count(lit(1)).as("n"))
        .orderBy(col("fold"))
    },

    // Probabilistic + exact per-group summaries (reference
    // prob-set-cardinality/prob-quantile, apache_data_sketch.clj), PORTABLE
    // formulation so the whole row is oracle-exact: KMV/bottom-k theta
    // distinct estimate (functions/Kmv — md5-derived hashes, fixed IEEE
    // estimator), exact distinct, and exact rank-picked quantiles computed
    // from the per-(flag, price) frequency table — the cumulate windows run
    // over DISTINCT prices only (bounded domain: decimal(,2)), never an
    // O(group) buffer. The DataSketches HLL/CPC/KLL aggregates remain the
    // library path (spec-pinned vs exact in AdvancedSpec).
    "q50_sketches" -> { (s, dir) =>
      graft.functions.Kmv.register(s)
      import s.implicits._
      val k = 1024
      val li = t(s, dir, "lineitem")
      // per-flag KMV sketches are O(k) each; estimates are a driver-side
      // readout of the collected sketch arrays (same pattern as q62)
      val kmv = li.select(col("l_returnflag"),
          graft.llm.TextDedup.h60(col("l_partkey").cast(StringType)).as("h"))
        .groupBy(col("l_returnflag"))
        .agg(expr(s"kmv_sketch(h, $k)").as("sk"))
        .collectBounded(64, "O(flags) sketch readout").toSeq
        .map(r => (r.getString(0),
          graft.functions.Kmv.estimate(r.getSeq[Long](1).toArray, k)))
        .toDF("l_returnflag", "kmv_parts")
      val counts = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact_parts"))
      val freq = li.groupBy(col("l_returnflag"), col("l_extendedprice"))
        .agg(count(lit(1)).as("__c"))
      val cum = freq
        .withColumn("__cum", sum(col("__c")).over(
          Window.partitionBy(col("l_returnflag")).orderBy(col("l_extendedprice"))))
        .withColumn("__tot", sum(col("__c")).over(
          Window.partitionBy(col("l_returnflag"))))
      // value at ascending rank ceil(q·n): the smallest price whose
      // cumulative count reaches the rank (a VALUE pick — deterministic
      // regardless of tie order). BOTH quantiles come out of ONE
      // aggregation over the shared cum-count frame — a conditional min
      // per quantile — instead of two filter+agg+join chains re-running
      // the window lineage
      def pick(q: Double) =
        min(when(col("__cum") >= ceil(col("__tot") * lit(q)),
          col("l_extendedprice")))
      val quantiles = cum.groupBy(col("l_returnflag"))
        .agg(pick(0.5).as("median_price"), pick(0.9).as("p90_price"))
      counts
        .join(broadcast(kmv), Seq("l_returnflag"))
        .join(quantiles, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("kmv_parts"), col("exact_parts"),
          col("median_price"), col("p90_price"))
        .orderBy(col("l_returnflag"))
    },

    // head/tail (reference dataset_api.clj:381-404) with a total order.
    "q51_head_tail" -> { (s, dir) =>
      val o = t(s, dir, "orders").selectColumns("o_orderkey", "o_totalprice")
      o.orderBy(col("o_orderkey")).limit(10).withColumn("part", lit("head"))
        .unionByName(o.tail(10, Seq(col("o_orderkey"))).withColumn("part", lit("tail")))
        .orderBy(col("o_orderkey"))
    },

    // deterministic hash sample (reference sample, dataset_api.clj:407-445,
    // made cluster-size/engine-independent): the kept set is a pure function
    // of key values, so it is oracle-checkable and reproducible at any scale.
    // Seeded `sampleRows` remains in TableOps for within-Spark use.
    "q52_sample" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .hashSampleRows(10, Seq("l_orderkey", "l_linenumber"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    },

    // LOESS smoothing (reference math.clj:112-146) per user over event time.
    // robustnessIters = 0 so the whole smooth is one closed-form pass whose
    // op sequence the DuckDB oracle replays exactly (recursive CTEs for the
    // window slide and the five running sums); the robust (iters > 0) path
    // is spec-pinned bit-identical to commons-math in AdvancedSpec.
    "q53_loess" -> { (s, dir) =>
      Advanced.loessSmooth(
        t(s, dir, "events")
          .select(col("user_id"), col("event_id").cast(DoubleType).as("x"),
            col("value")),
        "user_id", "x", "value", bandwidth = 0.3, robustnessIters = 0)
        .orderBy(col("user_id"), col("x"))
    },

    // induction (reference dataset_api.clj:1402-1469): sequential compound
    // accumulation (decay + add — not window-expressible). Single-partition
    // by design. Oracle-exact: the same mul-then-add IEEE op sequence is
    // replayed by a DuckDB recursive CTE; the 1/10 keyspace subset keeps the
    // oracle's O(n²) recursion affordable at sf0.01 (the Spark side is a
    // linear scanLeft at any scale).
    "q54_induction" -> { (s, dir) =>
      import s.implicits._
      val orders = t(s, dir, "orders")
        .filter(col("o_orderkey") % 10 === 0)
        .selectColumns("o_orderkey", "o_totalprice")
        .orderBy(col("o_orderkey")).as[OrderRow]
      Advanced.induction(orders, InductState(0L, 0.0)) { (acc, r) =>
        InductState(r.o_orderkey, acc.running * 0.999 + r.o_totalprice)
      }.toDF().orderBy(col("o_orderkey"))
    },

    // correlation-table (reference math.clj:37-109): all-pairs Pearson,
    // one aggregation pass, wide scalar matrix (oracle: exact-sum formula).
    "q55_corr_table" -> { (s, dir) =>
      Advanced.correlationTable(t(s, dir, "lineitem"),
        Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax"),
        squareScale = Map("l_extendedprice" -> 2))
        .orderBy(col("column"))
    },

    // crosstab (user × event_type counts), explicit domain.
    "q56_crosstab" -> { (s, dir) =>
      Advanced.crosstab(t(s, dir, "events"), "user_id", "event_type",
        Seq("click", "error", "purchase", "signup", "view"))
        .orderBy(col("user_id"))
    },

    // reservoir sample per group (reference reductions.clj:254-303):
    // k rows per key, one pass, md5-rank deterministic — the oracle
    // replays the SAME row selection (content-level gate, not counts).
    "q57_reservoir" -> { (s, dir) =>
      Reductions.reservoirPerGroupDeterministic(
        t(s, dir, "orders").selectColumns("o_custkey", "o_orderkey"),
        Seq("o_custkey"), k = 2, seed = 42L, tiebreak = Seq("o_orderkey"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    // rolling :edge-mode :clamp parity (reference rolling.clj:130-133):
    // trailing 5-row sum/mean with the reference's clamped-window semantics.
    "q58_rolling_clamp" -> { (s, dir) =>
      Rolling.rollingClampSumMean(
        t(s, dir, "events").selectColumns("event_id", "user_id", "ts")
          .withColumn("v", (col("event_id") % 97).cast(DoubleType)),
        5, Rolling.Left, Seq(col("ts"), col("event_id")), Seq(col("user_id")),
        col("v"), "clamp")
        .selectColumns("event_id", "user_id", "clamp_sum", "clamp_mean")
        .orderBy(col("event_id"))
    },

    // end-to-end near-dup dedup: LSH candidates → connected components →
    // keeper per group. Rows-only (sketch-based candidates).
    "q60_dedup_groups" -> { (s, dir) =>
      graft.llm.TextDedup.nearDupDedup(
        t(s, dir, "documents"), "doc_id", "text", minEstJaccard = 0.5)
        .groupBy(col("keep")).agg(count(lit(1)).as("n"),
          countDistinct(col("group_id")).as("n_groups"))
        .orderBy(col("keep"))
    },

    // IVF ANN (k-means coarse quantizer — the FAISS-style scale path).
    // Portable deterministic fit (md5 init, fixed-order distance folds,
    // exact-sum centroid updates, fixed iterations) → DuckDB-oracle-exact;
    // the MLlib fit remains as Similarity.ivfTopK (recall spec).
    "q61_ivf_ann" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      graft.llm.Similarity.ivfTopKPortable(emb.filter(col("vec_id") < 10), emb,
        3, nCentroids = 10, nProbe = 3, iters = 2)
        .orderBy(col("query_id"), col("rank"))
    },

    // IVF with SAMPLED quantizer fit (fitFraction 0.5): the 100 TB posture —
    // k-means iterations touch a deterministic md5-sample, never the corpus;
    // only the single final assignment pass reads every vector.
    "q121_ivf_sampled_fit" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      graft.llm.Similarity.ivfTopKPortable(emb.filter(col("vec_id") < 10), emb,
        3, nCentroids = 10, nProbe = 3, iters = 2, fitFraction = 0.5)
        .orderBy(col("query_id"), col("rank"))
    },

    // SemDeDup (Abbas et al. 2023): cluster-then-prune semantic dedup —
    // portable k-means cells, within-cell keep-first cosine pruning at
    // tau = 0.85. Pair work stays O(Σ n_c²); nothing corpus-sized is
    // collected or windowed.
    "q132_semdedup" -> { (s, dir) =>
      graft.llm.Similarity.semDedup(t(s, dir, "embeddings"),
          nClusters = 16, tau = 0.85, iters = 2)
        .orderBy(col("vec_id"))
    },

    // Product Quantization ADC (Jégou et al.): per-subspace portable
    // k-means codebooks (8 × 64 codewords), corpus scanned as 8-int codes,
    // reconstructed-cosine ranking — the memory-compressed ANN scan path.
    "q123_pq_adc" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      graft.llm.Similarity.pqTopK(emb.filter(col("vec_id") < 10), emb,
        3, numSub = 8, k = 64, iters = 2)
        .orderBy(col("query_id"), col("rank"))
    },

    // point-in-interval join (parity-plus — SURVEY §2.3 theta/interval row):
    // binned equi-join + post-filter (Spark's native plan for the raw range
    // condition is a nested-loop join). Lineitem ship days against 7-day
    // order windows; integer day arithmetic — oracle = plain non-equi join.
    "q77_interval_join" -> { (s, dir) =>
      val li = t(s, dir, "lineitem").select(
        datediff(to_date(col("l_shipdate")), lit("1970-01-01")).as("ship_day"),
        col("l_quantity"))
      val iv = t(s, dir, "orders").filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("start_day"))
        .withColumn("end_day", col("start_day") + lit(7))
      Joins.pointInIntervalJoin(li, iv, col("ship_day"), col("start_day"),
          col("end_day"), binWidth = 7)
        .groupBy(col("o_orderkey"), col("start_day"))
        .agg(count(lit(1)).as("n_shipped"),
          Reductions.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_orderkey"))
    },

    // theta-sketch distinct with downstream SET OPERATIONS on the sketches
    // (reference theta support): per-flag partkey KMV/bottom-k theta sketches
    // → pairwise intersection/union estimates. The KMV formulation (md5-derived
    // 60-bit hashes, k minimum values, (k−1)/θ estimator) is engine-portable,
    // so this is oracle-exact — the DataSketches theta aggregate
    // (Sketches.ThetaSketchAgg) remains as the library-backed alternative.
    "q62_theta_setops" -> { (s, dir) =>
      graft.functions.Kmv.register(s)
      val k = 1024
      val sk = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          graft.llm.TextDedup.h60(col("l_partkey").cast(StringType)).as("h"))
        .groupBy(col("l_returnflag"))
        .agg(expr(s"kmv_sketch(h, $k)").as("sk"))
        .collectBounded(64, "O(flags) sketch readout").map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
      val flags = sk.keys.toSeq.sorted
      val rows = for (a <- flags; b <- flags if a < b) yield
        (a, b,
          graft.functions.Kmv.estimate(sk(a), k),
          graft.functions.Kmv.intersectEstimate(sk(a), sk(b), k),
          graft.functions.Kmv.unionEstimate(sk(a), sk(b), k))
      import s.implicits._
      rows.toDF("flag_a", "flag_b", "est_a", "est_intersect", "est_union")
        .orderBy(col("flag_a"), col("flag_b"))
    },

    // as-of :nearest (reference join.clj:716-744): each event matched to the
    // temporally closest purchase of the same user, either direction.
    "q63_asof_nearest" -> { (s, dir) =>
      val ev = t(s, dir, "events").selectColumns("event_id", "user_id", "ts")
      val purch = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("p_event_id"))
        .select(col("user_id"), col("ts").as("p_ts"), col("p_event_id"))
      Joins.asofJoin(ev, purch, "ts", "p_ts", Seq(("user_id", "user_id")),
        Joins.Nearest)
        .selectColumns("event_id", "user_id", "p_event_id")
        .orderBy(col("event_id"))
    },

    // native codegen token kernel (custom Catalyst Expression with
    // doGenCode) through the correctness gate: true token counts per lang.
    "q64_token_kernel" -> { (s, dir) =>
      graft.functions.TextKernels.register(s)
      t(s, dir, "documents")
        .selectExpr("lang", "graft_token_count(text) AS n_tok")
        .groupBy(col("lang"))
        .agg(sum(col("n_tok").cast(LongType)).as("total_tokens"),
          max(col("n_tok")).as("max_tokens"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("lang"))
    },

    // brief: per-column quartile summary, exact percentiles (reference
    // dataset_api.clj:1300-1399).
    "q65_brief" -> { (s, dir) =>
      Reductions.briefStats(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy(col("column"))
    },

    // mode per group, deterministic tie-break (reference descriptive-stats
    // :mode for categoricals).
    "q66_mode" -> { (s, dir) =>
      Reductions.modePerGroup(t(s, dir, "orders"),
        Seq("o_orderstatus"), "o_orderpriority")
        .orderBy(col("o_orderstatus"))
    },

    // correlation-table :spearman (reference math.clj:47-48,90-91):
    // distributed average-rank transform feeding the exact-Pearson sums.
    "q67_spearman" -> { (s, dir) =>
      Advanced.spearmanCorrelationTable(t(s, dir, "lineitem"),
        Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax"))
        .orderBy(col("column"))
    },

    // correlation-table :kendall (reference math.clj:47-48,90-91): tau-b on
    // a BOUNDED block (all-pairs is O(n²) by nature — ~1.6k rows here at
    // every SF; the scale path for monotone association is q67 spearman).
    "q68_kendall" -> { (s, dir) =>
      Advanced.kendallCorrelationTable(
        t(s, dir, "lineitem").filter(col("l_orderkey") < 400),
        Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax"))
        .orderBy(col("column"))
    },

    // probability-distributions->label-column (reference modelling.clj:
    // 225-260): per-row argmax over columns-as-labels, first column wins
    // ties; then labels() maps codes back through the fitted categorical map.
    "q69_prob_label" -> { (s, dir) =>
      val probs = t(s, dir, "events")
        .withColumn("__s", (col("event_id") % 7 + 1) + (col("event_id") % 5 + 1)
          + (col("event_id") % 3 + 1))
        .select(col("event_id"),
          ((col("event_id") % 7 + 1).cast(DoubleType) / col("__s")).as("p_click"),
          ((col("event_id") % 5 + 1).cast(DoubleType) / col("__s")).as("p_view"),
          ((col("event_id") % 3 + 1).cast(DoubleType) / col("__s")).as("p_purchase"))
      Ml.probDistToLabel(probs, Seq("p_click", "p_view", "p_purchase"), "label")
        .groupBy(col("label")).agg(count(lit(1)).as("n"))
        .orderBy(col("label"))
    },

    // salted skew join (SCALE.md): identical RESULTS to the plain join —
    // the salt only changes the shuffle layout — so the plain join IS the
    // oracle; this puts the skew infrastructure under the correctness gate.
    "q70_salted_join" -> { (s, dir) =>
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      Joins.saltedJoin(li, ord, Seq("l_orderkey"), saltFactor = 8)
        .groupBy(col("o_orderpriority"))
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    },

    // take-nth (reference dataset_api.clj:99): every 97th row of the
    // (l_orderkey, l_linenumber) total order, via the distributed row index
    // (range sort + zipWithIndex — no single-task window).
    "q71_take_nth" -> { (s, dir) =>
      // l_quantity joins the stride key: (l_orderkey, l_linenumber) is not
      // unique, and sorting by the full output tuple makes the value at
      // every global position — hence the picked set — well-defined
      t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
        .takeNth(97, Seq(col("l_orderkey"), col("l_linenumber"), col("l_quantity")))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
    },

    // replace-missing :abb (reference impute.clj approx-bayesian-bootstrap)
    // with content-derived draws — md5(seed#event_id) picks the observed
    // slot, so the bootstrap is deterministic and oracle-checkable.
    "q72_abb" -> { (s, dir) =>
      val e = t(s, dir, "events").select(
        col("event_id"),
        when(col("event_type") === "click", lit(null).cast(DoubleType))
          .otherwise(col("value")).as("v"))
      Missing.fillAbbDeterministic(e, "v", Seq("event_id"), seed = 7L)
        .orderBy(col("event_id"))
    },

    // xlsx round-trip under the correctness gate (reference libs/
    // fastexcel.clj + libs/poi.clj): write supplier through the pure-JVM
    // OOXML writer, read it back with the xlsx parser, aggregate — if any
    // value, type, or null is disturbed in flight the oracle hash diverges.
    "q80_xlsx" -> { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_q80").toString
      val src = t(s, dir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      graft.sources.XlsxIo.write(src, s"$tmp/supplier.xlsx")
      graft.sources.XlsxIo.read(s, s"$tmp/supplier.xlsx")
        .groupBy(col("s_nationkey").cast(IntegerType).as("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          dsum(col("s_acctbal").cast(DoubleType)).as("sum_bal"),
          min(col("s_name")).as("first_name"))
        .orderBy(col("s_nationkey"))
    },

    // svm-format round-trip under the correctness gate (reference
    // libs/svm.clj): label+dense-features through Spark's native libsvm
    // source and back; the parquet source is the oracle. Sparse zero-drop
    // is exercised too (acctbal can be any value; suppkey is never 0).
    "q82_libsvm" -> { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_q82").toString
      val src = t(s, dir, "supplier").select(
        col("s_nationkey").cast(DoubleType).as("label"),
        array(col("s_acctbal").cast(DoubleType),
          col("s_suppkey").cast(DoubleType)).as("features"))
      graft.sources.Io.writeLibsvm(src, s"$tmp/sup_svm")
      graft.sources.Io.readLibsvm(s, s"$tmp/sup_svm")
        .select(col("label").cast(IntegerType).as("s_nationkey"),
          element_at(col("features"), 1).as("bal"),
          element_at(col("features"), 2).as("skey"))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"), dsum(col("bal")).as("sum_bal"),
          sum(col("skey").cast(LongType)).as("sum_key"))
        .orderBy(col("s_nationkey"))
    },

    // EDN round-trip under the correctness gate (reference dataset/io.clj:
    // 74-79,98-105 get-edn/put-edn! over the mapseq reader).
    "q81_edn" -> { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_q81").toString
      val src = t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
      graft.sources.EdnIo.write(src, s"$tmp/customer.edn")
      graft.sources.EdnIo.read(s, s"$tmp/customer.edn")
        .groupBy(col("c_nationkey").cast(IntegerType).as("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          dsum(col("c_acctbal").cast(DoubleType)).as("sum_bal"),
          min(col("c_name")).as("first_name"))
        .orderBy(col("c_nationkey"))
    },

    // row-map (reference dataset_api.clj:885-943) as a per-row computed
    // margin — declarative, stays in codegen.
    "q59_row_map" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .withColumn("margin",
          col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
        .selectColumns("l_orderkey", "l_linenumber", "margin")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("margin"))
    },

    // fill-range-replace (reference math.clj:160-232) under the oracle
    // gate: densify each priority group's key axis so consecutive gaps are
    // ≤ 2; inserted rows carry their group key and null payload. The
    // inserted axis values are pure IEEE arithmetic the oracle replays in
    // the same operation order.
    "q88_fill_range" -> { (s, dir) =>
      val base = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey").cast(DoubleType).as("axis"),
          col("o_orderpriority").as("grp"), col("o_totalprice"))
      Missing.fillRange(base, "axis", 2.0, partitionBy = Seq("grp"))
    },

    // PII redaction (training-corpus hygiene): deterministic PII spans are
    // planted from doc_id, then redacted; the oracle replays the same
    // RE2-compatible patterns (the operator pins them to the common
    // Java/RE2 dialect precisely so engines agree).
    "q89_redact_pii" -> { (s, dir) =>
      val raw = concat_ws(" ", col("text"),
        concat(lit("mail"), col("doc_id"), lit("@ex"),
          col("doc_id") % 10, lit(".com")),
        concat(lit("srv 10.0."), col("doc_id") % 256, lit(".7")),
        concat(lit("call +1 (555) 010-"),
          lpad((col("doc_id") % 10000).cast(StringType), 4, "0")))
      t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          graft.llm.TextStats.redactPii(raw).as("redacted"),
          graft.llm.TextStats.piiCount(raw).cast(LongType).as("n_pii"))
        .orderBy(col("doc_id"))
    },

    // extend-with-empty (reference base.clj:1091-1096): append n all-null
    // rows. All-null rows are mutually identical, so NULLS LAST yields a
    // deterministic row stream.
    "q90_extend_empty" -> { (s, dir) =>
      Reshape.extendWithEmpty(t(s, dir, "nation"), 5)
        .orderBy(col("n_nationkey").asc_nulls_last)
    },

    // column-labeled-mapseq (reference dataset_api.clj:1183-1201): melt to
    // driver-side labeled maps (the reference's plotting path), then round
    // the maps back into a DataFrame so the oracle can check the collected
    // values — proving the driver-side materialization, not just the melt.
    "q91_labeled_mapseq" -> { (s, dir) =>
      import s.implicits._
      val src = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), col("n_chars"),
          length(col("text")).cast(LongType).as("n_len"))
      val maps = Reshape.columnLabeledMapseq(src, Seq("n_chars", "n_len"))
      maps.map(m => (m("doc_id").asInstanceOf[Long],
          m("label").asInstanceOf[String], m("value").asInstanceOf[Long]))
        .toDF("doc_id", "label", "value")
        .orderBy(col("doc_id"), col("label"))
    },

    // CSV write → read round-trip under the oracle gate (writer rows were
    // spec-only): supplier goes out through Io.write(csv) and back through
    // the inferring reader; doubles survive because Spark's CSV writer
    // emits shortest-round-trip decimal text.
    "q92_csv_roundtrip" -> { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_q92").toString
      val src = t(s, dir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      graft.sources.Io.write(src, s"$tmp/supplier_csv", format = "csv")
      graft.sources.Io.readCsv(s, s"$tmp/supplier_csv")
        .groupBy(col("s_nationkey").cast(IntegerType).as("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          dsum(col("s_acctbal").cast(DoubleType)).as("sum_bal"),
          min(col("s_name")).as("first_name"))
        .orderBy(col("s_nationkey"))
    },

    // Arrow IPC write → read round-trip (zstd stream framing, list<float>
    // column) under the oracle gate: integer-exact floor-scaled sums prove
    // every float came back bit-identical.
    "q93_arrow_roundtrip" -> { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_q93").toString
      val src = t(s, dir, "embeddings").filter(col("vec_id") < 500)
      graft.sources.ArrowIo.write(src, s"$tmp/emb_arrow", codec = "zstd")
      graft.sources.ArrowIo.read(s, s"$tmp/emb_arrow")
        .select(col("vec_id"), size(col("embedding")).as("n_dim"),
          expr("aggregate(transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)), CAST(0 AS BIGINT), (a, x) -> a + x)").as("ssum"))
        .orderBy(col("vec_id"))
    },

    // zip-of-csv ingest under the oracle gate: nation split across two zip
    // archives (multi-entry, per-entry headers) written driver-side, read
    // back through the distributed readCsvZip, aggregated losslessly.
    "q94_zip_csv" -> { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_q94")
      val rows = t(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey").collectBounded(32, "25-row nation table")
      def writeZip(file: java.nio.file.Path,
                   parts: Seq[(String, Seq[org.apache.spark.sql.Row])]): Unit = {
        val z = new java.util.zip.ZipOutputStream(
          java.nio.file.Files.newOutputStream(file))
        parts.foreach { case (name, rs) =>
          z.putNextEntry(new java.util.zip.ZipEntry(name))
          val sb = new StringBuilder("n_nationkey,n_name,n_regionkey\n")
          rs.foreach(r => sb.append(s"${r.get(0)},${r.get(1)},${r.get(2)}\n"))
          z.write(sb.toString.getBytes("UTF-8")); z.closeEntry()
        }
        z.close()
      }
      val (even, odd) = rows.partition(_.getInt(0) % 2 == 0)
      writeZip(tmp.resolve("a.zip"), Seq(
        "a1.csv" -> even.take(even.length / 2).toSeq,
        "a2.csv" -> even.drop(even.length / 2).toSeq))
      writeZip(tmp.resolve("b.zip"), Seq("b1.csv" -> odd.toSeq))
      graft.sources.Io.readCsvZip(s, tmp.toString)
        .groupBy(col("n_regionkey").cast(IntegerType).as("n_regionkey"))
        .agg(count(lit(1)).as("n"), min(col("n_name")).as("first_name"),
          sum(col("n_nationkey").cast(LongType)).as("sum_key"))
        .orderBy(col("n_regionkey"))
    },

    // STREAMING under the oracle gate: the watermark windowed aggregation
    // (readStream → window/watermark → memory sink, AvailableNow) must
    // equal the batch hourly bucket — the oracle is q38's SQL verbatim.
    // This closes the "streaming rows are spec-only" gap: the actual
    // Structured Streaming execution path is what produces the rows.
    "q96_stream_hourly" -> { (s, dir) =>
      val table = graft.streaming.EventStream.runToMemorySink(
        graft.streaming.EventStream.hourlyCounts(s, dir),
        s"q96_sink_${System.nanoTime()}", statePartitions = Some(8),
        // hourly windows over the time range × event types (Complete mode
        // evicts nothing), not data-proportional — in-memory provider
        boundedState = true)
      table.orderBy(col("bucket"), col("event_type"))
    },

    // STREAMING stateful sessionization (flatMapGroupsWithState, Update
    // mode) under the oracle gate. Update-mode sinks emit one row per user
    // per micro-batch; session/max counters only grow, so max() collapses
    // multi-batch updates to the final state deterministically.
    "q97_stream_sessionize" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.OutputMode
      val table = graft.streaming.EventStream.runToMemorySink(
        graft.streaming.EventStream.sessionize(s, dir),
        s"q97_sink_${System.nanoTime()}", mode = OutputMode.Update(),
        statePartitions = Some(8))
      table.groupBy(col("user_id"))
        .agg(max(col("n_sessions")).as("n_sessions"),
          max(col("max_session_events")).as("max_session_events"))
        .orderBy(col("user_id"))
    },

    // STREAMING exact dedup under the oracle gate
    // (dropDuplicatesWithinWatermark, Append mode): exactly one row
    // survives per content fingerprint, so the per-type survivor counts
    // are deterministic even though WHICH duplicate row survives is
    // stream-order-dependent — the aggregation projects only the
    // fp-determined columns.
    "q137_stream_dedup" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.OutputMode
      val table = graft.streaming.EventStream.runToMemorySink(
        graft.streaming.EventStream.dedupStream(s, dir),
        s"q137_sink_${System.nanoTime()}", mode = OutputMode.Append(),
        statePartitions = Some(8))
      table.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_kept")).orderBy(col("event_type"))
    },

    // STREAMING watermarked stream-stream range join under the oracle
    // gate (Append): with one AvailableNow batch the watermark never
    // advances mid-run, so the emitted pair set equals the batch
    // click→purchase attribution join exactly.
    "q138_stream_join" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.OutputMode
      val table = graft.streaming.EventStream.runToMemorySink(
        graft.streaming.EventStream.clickPurchaseJoin(s, dir, 60),
        s"q138_sink_${System.nanoTime()}", mode = OutputMode.Append(),
        statePartitions = Some(8))
      table.select(col("user_id"), col("click_id"), col("purchase_id"),
          col("c_ts"), col("p_ts"))
        .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    },

    // custom reducer (init/rfn/merge/finalize — reference
    // dataset/reductions.clj) under the oracle gate: the typed Aggregator
    // machinery (KahanSum: zero/reduce/merge/finish across partitions) over
    // integer-valued cents, where every partial sum is IEEE-exact in any
    // order — so the oracle is a plain integer SUM.
    "q95_custom_reducer" -> { (s, dir) =>
      t(s, dir, "customer")
        .withColumn("cents", round(col("c_acctbal") * 100).cast(DoubleType))
        .groupBy(col("c_nationkey").cast(IntegerType).as("c_nationkey"))
        .agg(Reductions.kahanSum(col("cents")).as("sum_cents_d"))
        .select(col("c_nationkey"),
          col("sum_cents_d").cast(LongType).as("sum_cents"))
        .orderBy(col("c_nationkey"))
    },

    // Kendall via Knight's O(n log n) distributed plan (maxRows = 0 forces
    // it): tie-run aggregations + distributed inversion counting instead of
    // the q68 pair frame — THE scale path; the oracle is still the all-pairs
    // definition (bounded subset keeps the DuckDB mirror quadratic-feasible;
    // the spec pins distributed == pair-frame bit-exact at any size).
    "q98_kendall_distributed" -> { (s, dir) =>
      Advanced.kendallCorrelationTable(
        t(s, dir, "lineitem").filter(col("l_orderkey") < 2000),
        Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax"),
        maxRows = 0L)
        .orderBy(col("column"))
    },

    // Linear recurrence s = a·s_prev + x per key (the induction escape
    // hatch as a DISTRIBUTED operator — one hash shuffle + streaming fold;
    // q54's coalesce(1) induction is for genuinely non-linear state only).
    // Exponential-decay accumulation of event value per user, ordered by
    // (ts, event_id); the oracle recursive CTE replays the identical IEEE
    // op sequence per key.
    "q99_linear_recurrence" -> { (s, dir) =>
      Advanced.linearRecurrenceKeyed(
        t(s, dir, "events").select(col("event_id"), col("user_id"),
          col("ts"), col("value")),
        Seq("user_id"), Seq("ts", "event_id"), "value", 0.9, "decay")
        .select(col("event_id"), col("user_id"), col("decay"))
        .orderBy(col("event_id"))
    },

    // winsorize at [1%, 99%]: the clip is visible through per-flag min/max
    // (pinned to the global cutoffs) and the exact-sum mean.
    "q147_winsorize" -> { (s, dir) =>
      val w = graft.ops.Ml.winsorize(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice"), 0.01, 0.99)
      w.groupBy(col("l_returnflag"))
        .agg(min(col("l_quantity")).as("min_q"),
          max(col("l_quantity")).as("max_q"),
          (Reductions.isum(col("l_extendedprice"), 4) / count(lit(1)))
            .as("mean_p"))
        .orderBy(col("l_returnflag"))
    },

    // robust scaler (median/IQR): per-flag exact-sum mean of the scaled
    // column proves fit + transform end-to-end.
    "q148_robust_scale" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val m = graft.ops.Ml.fitRobustScaler(li, Seq("l_extendedprice"))
      m.transform(li)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          (Reductions.isum(col("l_extendedprice_rs"), 6) / count(lit(1)))
            .as("mean_rs"))
        .orderBy(col("l_returnflag"))
    },

    // Holt linear (level+trend) smoothing per user with one-step forecast.
    "q146_holt" -> { (s, dir) =>
      Advanced.holtKeyed(
        t(s, dir, "events").select(col("event_id"), col("user_id"),
          col("ts"), col("value")),
        Seq("user_id"), Seq("ts", "event_id"), "value",
        alpha = 0.4, beta = 0.2)
        .select(col("event_id"), col("user_id"), col("level"), col("trend"),
          col("forecast"))
        .orderBy(col("event_id"))
    },

    // rolling Pearson correlation (5-row left window per customer) between
    // price and order day-of-month — exact scaled co-moment window sums.
    "q145_rolling_corr" -> { (s, dir) =>
      graft.ops.Rolling.rolling(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), dayofmonth(col("o_orderdate")).as("oday")),
        5, graft.ops.Rolling.Left,
        Seq(col("o_orderkey")), Seq(col("o_custkey")),
        "roll_corr" -> graft.ops.Rolling.rCorr(col("o_totalprice"),
          col("oday")))
        .select(col("o_orderkey"), col("o_custkey"), col("roll_corr"))
        .orderBy(col("o_orderkey"))
    },

    // EWMA smoothing per user (pandas ewm(adjust=False) semantics) through
    // the keyed streaming fold — the anomaly-baseline op.
    "q144_ewma" -> { (s, dir) =>
      Advanced.ewmaKeyed(
        t(s, dir, "events").select(col("event_id"), col("user_id"),
          col("ts"), col("value")),
        Seq("user_id"), Seq("ts", "event_id"), "value", 0.3, "ewma")
        .select(col("event_id"), col("user_id"), col("ewma"))
        .orderBy(col("event_id"))
    },

    // PageRank over the customer↔supplier trading graph — fixed-point
    // BIGINT ranks (scale 10^12), so 5 iterations replay integer-exact in
    // any engine regardless of partitioning or reduce order.
    "q149_pagerank" -> { (s, dir) =>
      Graph.pageRank(
        Graph.tradingPairsGraph(t(s, dir, "orders"), t(s, dir, "lineitem")),
        "src", "dst", iters = 5, damp = 85, dedupEdges = false)
        .orderBy(col("r").desc, col("id")).limit(20)
    },

    // Categorical naive Bayes (tribuo.clj classifier surface): priors +
    // Laplace-smoothed per-(feature,value,class) counts, log-free product
    // scoring in one pinned op sequence, ties to the first sorted label.
    // Train and self-predict on orders; the confusion matrix (pure
    // integers) is the oracle surface.
    "q288_naive_bayes" -> { (s, dir) =>
      val o = t(s, dir, "orders")
        .withColumn("pb",
          floor(col("o_totalprice") / lit(100000.0)).cast(LongType)
            .cast(StringType))
      val m = graft.ops.Ml.fitNaiveBayes(o,
        Seq("o_orderpriority", "pb"), "o_orderstatus")
      m.predict(o)
        .groupBy(col("o_orderstatus").as("actual"), col("nb_pred").as("pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("actual"), col("pred"))
    },

    // Label-propagation communities over the trading graph (deterministic
    // min-label tie-break, 3 synchronous rounds — a pure function of the
    // edge set). The raw one-direction trading pairs go in: the operator
    // mirrors them and folds repeats inside its one a-keyed shuffle.
    "q287_label_propagation" -> { (s, dir) =>
      Graph.labelPropagation(
        Graph.tradingPairs(t(s, dir, "orders"), t(s, dir, "lineitem")),
        "cnode", "snode", iters = 3)
        .orderBy(col("id"))
    },

    // Multi-touch attribution over event journeys: purchases credit the
    // preceding touches per user under first/last/linear/position models
    // at once — integer micro-credits, one user-key shuffle.
    "q289_attribution" -> { (s, dir) =>
      Behavior.attribution(t(s, dir, "events"), "user_id", "event_type",
          Seq("ts", "event_id"), "purchase")
        .orderBy(col("channel"))
    },

    // mSPRT always-valid sequential A/B monitor (Johari et al.): click vs
    // view value lift, pooled-variance mixture LR in log form — exact
    // moments, the single ln floor-scaled at 1e9.
    "q290_msprt" -> { (s, dir) =>
      Stats.msprt(t(s, dir, "events"), "value", "event_type",
        "click", "view", tau2 = 0.01)
    },

    // Poisson-bootstrap CI for mean document length: B=200 deterministic
    // Poisson(1) weights per doc (one md5 seed per doc, universal-hash
    // draw per replicate), replicate means from exact weighted sums,
    // order-statistic CI over the O(B) frame.
    "q291_poisson_bootstrap" -> { (s, dir) =>
      Stats.poissonBootstrapCI(t(s, dir, "documents"), "n_chars",
        Seq("doc_id"), reps = 200, alpha = 0.05)
    },

    // Quantile normalization of doc length across sources: within-source
    // ECDF (max-rank ties) → pooled 21-point grid interpolation; per-source
    // rollup of the normalized column proves the distributions aligned.
    "q292_quantile_normalize" -> { (s, dir) =>
      graft.ops.Ml.quantileNormalizeByGroup(t(s, dir, "documents"),
          "source", "n_chars", gridK = 21)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          (Reductions.isum(col("n_chars_qn"), 6) / count(lit(1)))
            .as("mean_qn"),
          min(col("n_chars_qn")).as("min_qn"),
          max(col("n_chars_qn")).as("max_qn"))
        .orderBy(col("source"))
    },

    // AR(2) Yule-Walker fit per user series: lag-1/2 autocorrelations →
    // Levinson-Durbin order-2 coefficients. One window pass + one keyed agg.
    "q293_ar_fit" -> { (s, dir) =>
      Stats.arFit2(t(s, dir, "events"), Seq("user_id"),
          Seq("ts", "event_id"), "value")
        .orderBy(col("user_id"))
    },

    // Single changepoint per user series: the split maximizing the
    // between-segment SSE reduction, ties to the smallest index.
    "q294_changepoint" -> { (s, dir) =>
      Stats.changepoint(t(s, dir, "events"), Seq("user_id"),
          Seq("ts", "event_id"), "value")
        .orderBy(col("user_id"))
    },

    // Population stability index of the event value distribution,
    // first half of January (reference) vs second half (current),
    // 10 reference-decile bins.
    "q295_psi" -> { (s, dir) =>
      val e = t(s, dir, "events")
      val split = lit("2024-01-16 00:00:00").cast(TimestampType)
      Stats.psi(e, "value", col("ts") < split, col("ts") >= split, bins = 10)
    },

    // Cramér's V association table over the orders categorical triple
    // (status, priority, order year) — the categorical correlation-table.
    "q296_assoc_table" -> { (s, dir) =>
      Stats.associationTable(
          t(s, dir, "orders").withColumn("o_year", year(col("o_orderdate"))),
          Seq("o_orderstatus", "o_orderpriority", "o_year"))
        .orderBy(col("col_x"), col("col_y"))
    },

    // RAKE corpus keywords: stopword/punctuation-delimited phrases,
    // degree/freq word scores, floor-scaled phrase score sums, top 50.
    "q297_rake_keywords" -> { (s, dir) =>
      graft.llm.TextStats.rakeKeywords(t(s, dir, "documents"), "text",
          minFreq = 2, topK = 50)
        .orderBy(col("score").desc, col("phrase"))
    },

    // Newman modularity of the 3-round label-propagation partition over
    // the trading graph — "was the community detection any good".
    "q298_modularity" -> { (s, dir) =>
      // the graph feeds BOTH consumers below: labelPropagation persists
      // no frame (only its own adjacencies) and modularity only its own
      // projection — persist the shared, already mirrored parent so the
      // orders⋈lineitem build runs once, released after modularity
      // materializes (it counts its one-row result before returning).
      val g = Graph.tradingPairsGraph(t(s, dir, "orders"),
          t(s, dir, "lineitem"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val labels = Graph.labelPropagation(g, "src", "dst", iters = 3,
        assumeSymmetric = true)
      val out = Graph.modularity(g, "src", "dst", labels, "id", "community")
      g.unpersist()
      out
    },

    // Weighted sample WITHOUT replacement: exactly 100 documents via the
    // Efraimidis-Spirakis md5 race, P(win) ∝ n_chars.
    "q299_weighted_topk" -> { (s, dir) =>
      t(s, dir, "documents")
        .hashSampleTopKWeighted("n_chars", 100, Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // Sequential pattern support: for every ordered event-type pair, how
    // many users did A (first occurrence) strictly before B.
    "q300_seq_support" -> { (s, dir) =>
      Behavior.sequenceSupport(t(s, dir, "events"), "user_id",
          Seq("ts", "event_id"), "event_type")
        .orderBy(col("antecedent"), col("consequent"))
    },

    // Binned mutual information between quantity and price — the
    // nonlinear-dependence audit over decile grids.
    "q301_binned_mi" -> { (s, dir) =>
      Stats.binnedMi(t(s, dir, "lineitem"), "l_quantity",
        "l_extendedprice", bins = 10)
    },

    // Jensen-Shannon divergence of the event-type mix, first vs second
    // half of January — the smoothing-free drift companion to q295.
    "q302_jsd" -> { (s, dir) =>
      val split = lit("2024-01-16 00:00:00").cast(TimestampType)
      Stats.jsDivergence(t(s, dir, "events"), "event_type",
        col("ts") < split, col("ts") >= split)
    },

    // Dwell time per event type: exact microsecond spell durations from
    // one keyed lead pass.
    "q303_dwell" -> { (s, dir) =>
      Behavior.dwellTimes(t(s, dir, "events"), "user_id",
          Seq("ts", "event_id"), "ts", "event_type")
        .orderBy(col("state"))
    },

    // Fleiss' kappa: do a user's events agree on their type — the
    // multi-rater agreement form over the (user, event_type) rating log.
    "q304_fleiss_kappa" -> { (s, dir) =>
      Stats.fleissKappa(t(s, dir, "events"), "user_id", "event_type")
    },

    // Holm step-down FWER correction over the q176 p-value table — the
    // prefix-max companion to BH's suffix-min.
    "q312_holm" -> { (s, dir) =>
      val p = pmod(conv(substring(md5(concat_ws("#", col("doc_id"))), 1, 15),
        16, 10).cast(LongType), lit(1000000L)).cast(DoubleType) / 1000000.0
      val tests = t(s, dir, "documents").filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), p.as("p_value"))
      Stats.holmAdjust(tests, "doc_id", "p_value")
        .orderBy(col("holm_rank"))
    },

    // Cumulative gains / lift by score decile: "act on the top k% by
    // n_chars, capture what share of English docs?"
    "q313_gains" -> { (s, dir) =>
      val d = t(s, dir, "documents")
        .withColumn("label", when(col("lang") === "en", 1L).otherwise(0L))
      graft.ops.Ml.cumulativeGains(d, "n_chars", "label", buckets = 10)
    },

    // ---- indicator tier (round 17): keyed-series technical/telemetry
    // indicators over each user's value stream. All per-key windows (no
    // global window), exact floor-scaled rolling sums, pinned final ops.
    // `evClean` = the NaN/null-free series every indicator query shares.

    // OHLC resample: per (user, hour) bar with argmin/argmax open/close.
    "q315_ohlc_bars" -> { (s, dir) =>
      Indicators.ohlcBars(t(s, dir, "events"), Seq("user_id"), "ts",
          "event_id", "value", "hour")
        .orderBy(col("user_id"), col("bar_ts"))
    },

    // Cutler's RSI(14) per user — SMA gains/losses, window-only plan.
    "q316_rsi" -> { (s, dir) =>
      Indicators.rsi(evClean(s, dir), Seq("user_id"),
          Seq("ts", "event_id"), "value", n = 14)
        .select(col("event_id"), col("user_id"), col("rsi"))
        .orderBy(col("event_id"))
    },

    // Bollinger(20, 2) + %B per user — exact-sum rolling mean/variance.
    "q317_bollinger" -> { (s, dir) =>
      Indicators.bollinger(evClean(s, dir), Seq("user_id"),
          Seq("ts", "event_id"), "value", n = 20, k = 2.0)
        .select(col("event_id"), col("user_id"), col("bb_mid"),
          col("bb_up"), col("bb_dn"), col("pct_b"))
        .orderBy(col("event_id"))
    },

    // MACD(12, 26, 9) per user — the three coupled EMA recurrences in ONE
    // keyed streaming fold (one shuffle); oracle = recursive CTE with the
    // identical double literals and per-row op order.
    "q318_macd" -> { (s, dir) =>
      Indicators.macd(evClean(s, dir), Seq("user_id"),
          Seq("ts", "event_id"), "value")
        .select(col("event_id"), col("user_id"), col("macd"),
          col("macd_signal"), col("macd_hist"))
        .orderBy(col("event_id"))
    },

    // Running max drawdown per user — high-water mark, absolute and
    // relative shortfall.
    "q319_drawdown" -> { (s, dir) =>
      Indicators.drawdown(evClean(s, dir), Seq("user_id"),
          Seq("ts", "event_id"), "value")
        .select(col("event_id"), col("user_id"), col("peak"), col("dd"),
          col("dd_pct"))
        .orderBy(col("event_id"))
    },

    // Per-user Sharpe over simple returns — exact Σr/Σr², pinned finish.
    "q320_sharpe" -> { (s, dir) =>
      Indicators.sharpe(evClean(s, dir), Seq("user_id"),
          Seq("ts", "event_id"), "value", periodsPerYear = 252)
        .orderBy(col("user_id"))
    },

    // Historical VaR(5%) + expected shortfall per user — exact rank
    // selection (never an interpolating percentile), exact tail mean.
    "q321_var_es" -> { (s, dir) =>
      Indicators.varEs(evClean(s, dir), Seq("user_id"),
          Seq("ts", "event_id"), "value", alpha = 0.05)
        .orderBy(col("user_id"))
    },

    // Stochastic oscillator %K(14)/%D(3) per user — window min/max plus
    // an exact-sum rolling mean of the derived %K.
    "q322_stochastic" -> { (s, dir) =>
      Indicators.stochastic(evClean(s, dir), Seq("user_id"),
          Seq("ts", "event_id"), "value", n = 14, d = 3)
        .select(col("event_id"), col("user_id"), col("pct_k"), col("pct_d"))
        .orderBy(col("event_id"))
    },

    // ---- association/agreement tier (round 17): the dependence measures
    // q231/q267/q296/q304 left open.

    // Theil's U: asymmetric "segment predicts nation?" over the q231 pair.
    "q323_theil_u" -> { (s, dir) =>
      Stats.theilU(t(s, dir, "customer"), "c_mktsegment", "c_nationkey")
    },

    // Gamma / Somers' D / tau-a/b from contingency CELLS — quantity vs
    // discount over lineitem; the k×k cell join is bounded by the value
    // domains, not the row count.
    "q324_ordinal_assoc" -> { (s, dir) =>
      Stats.ordinalAssociation(t(s, dir, "lineitem"), "l_quantity",
        "l_discount")
    },

    // Point-biserial: do purchase events carry larger values?
    "q325_point_biserial" -> { (s, dir) =>
      Stats.pointBiserial(t(s, dir, "events"), "value",
        col("event_type") === "purchase")
    },

    // Durbin-Watson per user series — serial-correlation triage for the
    // q105/q311 residual family.
    "q326_durbin_watson" -> { (s, dir) =>
      Stats.durbinWatson(t(s, dir, "events"), Seq("user_id"),
          Seq("ts", "event_id"), "value")
        .orderBy(col("user_id"))
    },

    // G-test (likelihood-ratio independence) on the q231/q323 pair —
    // 2n·MI in nats, integer dof.
    "q327_gtest" -> { (s, dir) =>
      Stats.gTest(t(s, dir, "customer"), "c_mktsegment", "c_nationkey")
    },

    // Cochran's Q: did users hit a high-value event in EACH of the k
    // event channels? k related binary outcomes, complete blocks only.
    "q328_cochran_q" -> { (s, dir) =>
      Stats.cochranQ(t(s, dir, "events"), "user_id", "event_type",
        col("value") > 250 && !isnan(col("value")))
    },

    // Kendall's W: do the k event channels rank users consistently by
    // exact per-channel value totals? Deterministic (score, item) ranks.
    "q329_kendall_w" -> { (s, dir) =>
      Stats.kendallW(t(s, dir, "events"), "user_id", "event_type", "value")
    },

    // Krippendorff's alpha (nominal) over value-bucket "ratings" per
    // (user, channel) — the missing-tolerant sibling of q267/q304.
    "q330_krippendorff" -> { (s, dir) =>
      Stats.krippendorffAlpha(
        evClean(s, dir).withColumn("cat",
          floor(col("value") / 100).cast(LongType)),
        "user_id", "event_type", "cat")
    },

    // Fisher's exact test: are high-value purchases independent of the
    // morning half of the day? One margin is deliberately SMALL (rare
    // flag) so the hypergeometric enumeration is min(r1,c1)-bounded.
    "q331_fisher_exact" -> { (s, dir) =>
      Stats.fisherExact(t(s, dir, "events"),
        col("event_type") === "purchase" && col("value") > 250 &&
          !isnan(col("value")),
        hour(col("ts")) < 12)
    },

    // PACF lags 1-3 via Durbin-Levinson on the q150 panel ACF — the
    // AR-order diagnostic.
    "q333_pacf" -> { (s, dir) =>
      Stats.pacf(t(s, dir, "events"), Seq("user_id"),
        Seq("ts", "event_id"), "value")
    },

    // Functional-dependency audit over orders: the key pair holds, the
    // behavioral pairs violate — the schema-profiling readout.
    "q334_fd_audit" -> { (s, dir) =>
      Stats.fdAudit(t(s, dir, "orders"), Seq(
          ("o_orderkey", "o_custkey"),
          ("o_custkey", "o_orderstatus"),
          ("o_orderpriority", "o_orderstatus")))
        .orderBy(col("determinant"), col("dependent"))
    },

    // Candidate-key audit over lineitem — (l_orderkey, l_linenumber) is
    // famously NOT unique in this shape; the audit proves it with counts.
    "q335_key_audit" -> { (s, dir) =>
      Stats.keyAudit(t(s, dir, "lineitem"), Seq(
          Seq("l_orderkey"),
          Seq("l_orderkey", "l_linenumber"),
          Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")))
        .orderBy(col("candidate"))
    },

    // Engle's ARCH LM per user — volatility clustering the level tests
    // miss.
    "q336_arch_lm" -> { (s, dir) =>
      Stats.archLm(t(s, dir, "events"), Seq("user_id"),
          Seq("ts", "event_id"), "value")
        .orderBy(col("user_id"))
    },

    // Distinct-1/2/3 corpus diversity over documents — the generation-
    // diversity / memorization readout.
    "q337_distinct_n" -> { (s, dir) =>
      graft.llm.TextStats.distinctNgramDiversity(t(s, dir, "documents"), "text")
        .orderBy(col("n"))
    },

    // Markov stationary distribution of the per-user event_type chain —
    // where does a user's session settle long-run?
    "q338_markov_stationary" -> { (s, dir) =>
      Stats.markovStationary(t(s, dir, "events"), Seq("user_id"),
        Seq("ts", "event_id"), "event_type", rounds = 3)
    },

    // MOSS winnowing fingerprints (k=5, w=4) per document — the
    // guaranteed local-containment detector.
    "q339_winnow_fp" -> { (s, dir) =>
      graft.llm.TextStats.winnowFingerprints(t(s, dir, "documents")
          .filter(col("doc_id") < 200), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // Hurst exponent per user via R/S analysis — long-range dependence
    // of the value series.
    "q340_hurst" -> { (s, dir) =>
      Stats.hurstRs(t(s, dir, "events"), Seq("user_id"),
          Seq("ts", "event_id"), "value")
        .orderBy(col("user_id"))
    },

    // Full Damerau-Levenshtein (native codegen kernel, bit-pinned to
    // DuckDB) over brand-blocked part-name pairs — the fuzzy-match
    // scorer for record linkage.
    "q341_damerau" -> { (s, dir) =>
      val p = t(s, dir, "part")
        .filter(col("p_partkey") <= 300)
        .select(col("p_partkey"), col("p_name"), col("p_brand"))
      val a = p.select(col("p_partkey").as("key_a"),
        col("p_name").as("__na"), col("p_brand").as("__b"))
      val b = p.select(col("p_partkey").as("key_b"),
        col("p_name").as("__nb"), col("p_brand").as("__b"))
      a.join(b, Seq("__b")).filter(col("key_a") < col("key_b"))
        .selectExpr("key_a", "key_b",
          "CAST(graft_damerau_levenshtein(__na, __nb) AS BIGINT) AS dl")
        .filter(col("dl") <= 12)
        .orderBy(col("key_a"), col("key_b"))
    },

    // Heaps' law vocabulary-growth fit over documents — is the corpus
    // still minting new types at the natural-language rate?
    "q342_heaps" -> { (s, dir) =>
      graft.llm.TextStats.heapsLaw(t(s, dir, "documents"), "doc_id", "text")
    },

    // Corpus vocabulary statistics: TTR, hapax/dis legomena — the
    // Zipf-tail health readout.
    "q343_vocab" -> { (s, dir) =>
      graft.llm.TextStats.vocabularyStats(t(s, dir, "documents"), "text")
    },

    // Two-sample Cramér-von Mises: click vs purchase value
    // distributions compared over their WHOLE shape.
    "q344_cvm" -> { (s, dir) =>
      Stats.cramerVonMises(t(s, dir, "events"), "value", "event_type",
        "click", "purchase")
    },

    // Entropy rate of the per-user event_type Markov chain — session
    // predictability in nats.
    "q345_markov_entropy" -> { (s, dir) =>
      Stats.markovEntropyRate(t(s, dir, "events"), Seq("user_id"),
        Seq("ts", "event_id"), "event_type", rounds = 3)
    },

    // Fano factor of hourly event arrivals per type — which streams are
    // bursty vs Poisson-like?
    "q346_fano" -> { (s, dir) =>
      Stats.fanoFactor(t(s, dir, "events"), "ts", "event_type")
        .orderBy(col("category"))
    },

    // The portable k-means quantizer (q61's fit) exposed as a standalone
    // clustering readout: sizes + leading centroid coordinates.
    "q347_kmeans" -> { (s, dir) =>
      graft.llm.Similarity.kmeansClusters(t(s, dir, "embeddings"),
          nCentroids = 8, iters = 2)
        .orderBy(col("centroid"))
    },

    // Simplified silhouette of the q347 model — the O(n·k) clustering
    // quality readout.
    "q348_silhouette" -> { (s, dir) =>
      graft.llm.Similarity.kmeansSilhouette(t(s, dir, "embeddings"),
          nCentroids = 8, iters = 2)
        .orderBy(col("cluster"))
    },

    // Brown-Forsythe Levene test: are the per-event-type value variances
    // equal? (the q175 ANOVA's own assumption, checked robustly).
    "q349_levene" -> { (s, dir) =>
      Stats.leveneTest(t(s, dir, "events"), "value", "event_type")
    },

    // Bartlett's test — the parametric variance-equality sibling.
    "q350_bartlett" -> { (s, dir) =>
      Stats.bartlettTest(t(s, dir, "events"), "value", "event_type")
    },

    // Bounded-hop BFS over the undirected trading graph from its
    // smallest node: how much of the graph is within 3 hops?
    "q351_bfs" -> { (s, dir) =>
      // r19: persist the shared graph — the source-node readout and the
      // BFS edge build each re-derived the orders⋈lineitem graph from
      // parquet (~0.9 s each at sf0.1); one cached build serves both.
      val g = Graph.tradingPairsGraph(t(s, dir, "orders"),
          t(s, dir, "lineitem"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val src = g.agg(min(col("src").cast(LongType)))
        .collectBounded(1, "O(1) BFS source-node readout").head.getLong(0)
      val out = Graph.bfsDistances(g, "src", "dst", Seq(src), maxHops = 3)
        .groupBy(col("dist")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("dist"))
      g.unpersist() // BFS state is checkpointed; the cache is done
      out
    },

    // Out-in degree assortativity of the directed customer→supplier
    // trading graph — do busy buyers trade with busy suppliers?
    "q352_assortativity" -> { (s, dir) =>
      val pairs = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      Graph.degreeAssortativity(pairs, "src", "dst")
    },

    // Business days (Mon-Fri) from order to line shipment per return
    // flag — closed-form calendar arithmetic, no calendar table.
    "q354_business_days" -> { (s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"))
        .join(t(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_shipdate"), col("l_returnflag")),
          col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") >= col("o_orderdate"))
        .select(col("l_returnflag"),
          Advanced.businessDaysBetween(col("o_orderdate").cast(DateType),
            col("l_shipdate").cast(DateType)).as("bd"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("bd")).as("total_bdays"),
          (sum(col("bd")).cast(DoubleType) /
            count(lit(1)).cast(DoubleType)).as("avg_bdays"),
          max(col("bd")).as("max_bdays"))
        .orderBy(col("l_returnflag"))
    },

    // Restricted mean survival time at 30 days over the q196 KM curve —
    // the model-free average-survival summary.
    "q355_rmst" -> { (s, dir) =>
      val per = t(s, dir, "events").groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"),
          min(when(col("event_type") === "purchase", col("ts"))).as("p_ts"))
        .select(
          when(col("p_ts").isNotNull,
            datediff(col("p_ts").cast(DateType), col("first_ts").cast(DateType)))
            .otherwise(datediff(col("last_ts").cast(DateType),
              col("first_ts").cast(DateType))).as("dur"),
          when(col("p_ts").isNotNull, 1L).otherwise(0L).as("ev"))
      Stats.rmst(per, "dur", "ev", tau = 30L)
    },

    // Maximum-likelihood next-event table of the per-user event chain —
    // the practical readout of the q345 entropy rate.
    "q356_markov_predict" -> { (s, dir) =>
      Stats.markovPredictNext(t(s, dir, "events"), Seq("user_id"),
          Seq("ts", "event_id"), "event_type")
        .orderBy(col("state"))
    },

    // Periodogram of the hourly event-count series (k = 1..6) — does the
    // stream have a dominant cycle?
    "q357_periodogram" -> { (s, dir) =>
      val series = t(s, dir, "events").filter(col("ts").isNotNull)
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("c"))
      Stats.periodogram(series, Seq("h"), "c", maxK = 6)
        .orderBy(col("k"))
    },

    // Top contiguous event-type trigram runs — the short-pattern
    // sequence-mining readout.
    "q358_trigram_patterns" -> { (s, dir) =>
      Behavior.ngramPatterns(t(s, dir, "events"), "user_id",
        Seq("ts", "event_id"), "event_type", n = 3, topK = 20)
    },

    // Weibull shape/scale fitted to the q196 KM curve via the linearized
    // CDF — is churn infant-mortality (k<1) or wear-out (k>1)?
    "q359_weibull" -> { (s, dir) =>
      val per = t(s, dir, "events").groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"),
          min(when(col("event_type") === "purchase", col("ts"))).as("p_ts"))
        .select(
          when(col("p_ts").isNotNull,
            datediff(col("p_ts").cast(DateType), col("first_ts").cast(DateType)))
            .otherwise(datediff(col("last_ts").cast(DateType),
              col("first_ts").cast(DateType))).as("dur"),
          when(col("p_ts").isNotNull, 1L).otherwise(0L).as("ev"))
      Stats.weibullFit(per, "dur", "ev")
    },

    // Huber robust mean of the event value per type — the location
    // M-estimator between q166's median and the plain mean.
    "q360_huber_mean" -> { (s, dir) =>
      Stats.huberMean(t(s, dir, "events"), "value", "event_type")
        .orderBy(col("event_type"))
    },

    // Reciprocity of the trade/return digraph: c→s for every trade edge,
    // s→c where some line came back (l_returnflag = 'R') — what share of
    // trading relationships saw a return?
    "q353_reciprocity" -> { (s, dir) =>
      val j = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("cnode"),
          (col("l_suppkey") * 2 + 1).as("snode"), col("l_returnflag"))
      val e = j.select(col("cnode").as("src"), col("snode").as("dst"))
        .unionByName(j.filter(col("l_returnflag") === "R")
          .select(col("snode").as("src"), col("cnode").as("dst")))
      Graph.reciprocity(e, "src", "dst")
    },

    // HITS hubs/authorities on the DIRECTED customer→supplier trading
    // graph (q149's edge set, one direction): which customers spread
    // orders across the best-connected suppliers? Fixed-point BIGINT
    // rounds, max-renormalized — integer-exact in any engine.
    "q332_hits" -> { (s, dir) =>
      val pairs = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      Graph.hits(pairs, "src", "dst", iters = 3)
        .orderBy(col("id"))
    },

    // Segmented trend: split each user series at its changepoint and fit
    // OLS slopes on both sides — "the level shifted AND the trend went
    // from +a to -b per step".
    "q311_segmented_trend" -> { (s, dir) =>
      Stats.segmentedTrend(t(s, dir, "events"), Seq("user_id"),
          Seq("ts", "event_id"), "value")
        .orderBy(col("user_id"))
    },

    // Mahalanobis outliers on the (value, hour-of-day) joint — the
    // multivariate anomaly gate per-column z-scores miss.
    "q309_mahalanobis" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .withColumn("hr", hour(col("ts")).cast(DoubleType))
      Stats.mahalanobisOutliers(ev, "value", "hr", threshold = 9.21)
        .select(col("event_id"), col("value"), col("hr"), col("d2"))
        .orderBy(col("event_id"))
    },

    // Split-conformal prediction interval for price ~ quantity: md5-split
    // halves, OLS on train, exact order-statistic residual quantile.
    "q310_conformal" -> { (s, dir) =>
      graft.ops.Ml.splitConformal(t(s, dir, "lineitem"),
        "l_quantity", "l_extendedprice",
        Seq("l_orderkey", "l_linenumber"), alpha = 0.1)
    },

    // STREAMING PSI drift monitor under the oracle gate: reference bins
    // fit statically, the current side streamed (Complete-mode O(bins)
    // state), the scalar finished on the sink table — equals batch PSI.
    "q307_stream_psi" -> { (s, dir) =>
      graft.streaming.EventStream.psiDrift(s, dir,
        "2024-01-16 00:00:00", bins = 10)
    },

    // Murphy decomposition of the Brier score for the min-max-scaled
    // n_chars "probability" forecasting lang = en.
    "q305_brier" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val mm = docs.agg(min(col("n_chars")).as("__mn"),
        max(col("n_chars")).as("__mx"))
      val d = docs.crossJoin(broadcast(mm))
        .withColumn("p",
          (col("n_chars") - col("__mn")).cast(DoubleType) /
            (col("__mx") - col("__mn")).cast(DoubleType))
        .withColumn("label", when(col("lang") === "en", 1L).otherwise(0L))
      graft.ops.Ml.brierDecomposition(d, "p", "label", bins = 10)
    },

    // Autocorrelation of the event value series at lags 1..3 (per-user
    // series, pooled pairs) — exact scaled co-moment sums.
    "q150_acf" -> { (s, dir) =>
      Stats.acf(t(s, dir, "events"), Seq("user_id"), Seq("ts", "event_id"),
        "value", Seq(1, 2, 3))
        .withColumnRenamed("lag", "lag_k")
    },

    // Mann-Whitney U: click vs purchase value distributions, distributed
    // pooled average ranks (doubled → integer-exact rank sums).
    "q151_mann_whitney" -> { (s, dir) =>
      Stats.mannWhitneyU(t(s, dir, "events"), "value", "event_type",
        "click", "purchase")
    },

    // Two-sample Kolmogorov-Smirnov: D as an exact integer max over the
    // distributed cumulative-count frame.
    "q152_ks_test" -> { (s, dir) =>
      Stats.ksTest(t(s, dir, "events"), "value", "event_type",
        "click", "purchase")
    },

    // Chi-square independence of lang × source over documents — per-cell
    // terms floor-scale-summed exactly.
    "q153_chi_square" -> { (s, dir) =>
      Stats.chiSquareIndependence(t(s, dir, "documents"), "lang", "source")
    },

    // Equal-frequency quantile binning (k=4) of l_extendedprice: the fit
    // is the distributed rank-selection (no percentile agg buffer), the
    // transform a codegen CASE chain; per-bin stats prove both.
    "q154_quantile_bin" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val m = graft.ops.Ml.fitQuantileBinner(li, Seq("l_extendedprice"), 4)
      m.transform(li)
        .groupBy(col("l_extendedprice_bin").as("bin"))
        .agg(count(lit(1)).as("n"),
          min(col("l_extendedprice")).cast(DoubleType).as("min_p"),
          max(col("l_extendedprice")).cast(DoubleType).as("max_p"),
          (Reductions.isum(col("l_extendedprice"), 4) / count(lit(1)))
            .as("mean_p"))
        .orderBy(col("bin"))
    },

    // Funnel conversion view→click→purchase (strictly-after,
    // earliest-completion semantics), k−1 keyed joins on the user key.
    "q156_funnel" -> { (s, dir) =>
      Behavior.funnel(t(s, dir, "events"), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
        .orderBy(col("stage_idx"))
    },

    // Cohort retention triangle: ISO-week cohorts × active-week offsets.
    // (cohort week emitted as yyyy-MM-dd text — DATE columns round-trip
    // differently through the two engines' parquet/pandas paths.)
    "q157_cohort_retention" -> { (s, dir) =>
      Behavior.cohortRetention(t(s, dir, "events"), "user_id", "ts")
        .withColumn("cohort_week",
          date_format(col("cohort_week"), "yyyy-MM-dd"))
    },

    // Calibration/reliability deciles: length-score bins vs the
    // English-language label over documents.
    "q168_calibration" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
        .withColumn("label", when(col("lang") === "en", 1L).otherwise(0L))
      graft.ops.Ml.calibrationBins(docs, "n_chars", "label", 10)
        .orderBy(col("bin"))
    },

    // Two-proportion z-test: error rate, even- vs odd-id user cohorts.
    "q169_prop_ztest" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .withColumn("cohort",
          when(col("user_id") % 2 === 0, "even").otherwise("odd"))
        .withColumn("is_error",
          when(col("event_type") === "error", 1L).otherwise(0L))
      Stats.proportionZTest(ev, "cohort", "even", "odd", "is_error")
    },

    // Per-group winsorize: per-flag [5%, 95%] cutoffs from the
    // distributed group-quantile fit, broadcast back for the clip.
    "q170_group_winsorize" -> { (s, dir) =>
      graft.ops.Ml.winsorizeByGroup(t(s, dir, "lineitem"), "l_returnflag",
          "l_extendedprice", 0.05, 0.95)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          min(col("l_extendedprice")).as("min_p"),
          max(col("l_extendedprice")).as("max_p"),
          (Reductions.isum(col("l_extendedprice"), 4) / count(lit(1)))
            .as("mean_p"))
        .orderBy(col("l_returnflag"))
    },

    // Holt-Winters additive seasonal smoothing per user (period 4) — the
    // triple-exponential member of the q144/q146 family; the oracle
    // carries the seasonal ring as a list through the recursion.
    "q167_holt_winters" -> { (s, dir) =>
      Advanced.holtWintersKeyed(
        t(s, dir, "events").select(col("event_id"), col("user_id"),
          col("ts"), col("value")),
        Seq("user_id"), Seq("ts", "event_id"), "value",
        alpha = 0.3, beta = 0.1, gamma = 0.2, period = 4)
        .select(col("event_id"), col("user_id"), col("level"), col("trend"),
          col("seasonal"), col("forecast"))
        .orderBy(col("event_id"))
    },

    // Per-group EXACT interpolated quantiles without a percentile buffer
    // or per-group sort window (stratifiedRank + order-stat selection).
    "q165_group_quantiles" -> { (s, dir) =>
      Reductions.groupQuantiles(t(s, dir, "events"), "event_type", "value",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9))
        .orderBy(col("event_type"))
    },

    // Median absolute deviation per group — robust spread via two
    // distributed quantile passes.
    "q166_mad" -> { (s, dir) =>
      Stats.madByGroup(t(s, dir, "events"), "event_type", "value")
        .orderBy(col("event_type"))
    },

    // Gini impurity of the language mix per source — the log-free
    // concentration metric a corpus card reports.
    "q162_gini" -> { (s, dir) =>
      Stats.giniImpurity(t(s, dir, "documents"), Seq("source"), "lang")
        .orderBy(col("source"))
    },

    // Dataset diff between two snapshot variants of customer — the
    // data-versioning primitive: one full-outer key join, per-column
    // null-safe change flags.
    "q163_dataset_diff" -> { (s, dir) =>
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("c_acctbal"))
      val a = cust.filter(col("c_custkey") <= 1400)
      val b = cust.filter(col("c_custkey") >= 101)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 13 === 0, col("c_acctbal") + 1.0)
            .otherwise(col("c_acctbal")))
        .withColumn("c_mktsegment",
          when(col("c_custkey") % 17 === 0, lit("CHANGED"))
            .otherwise(col("c_mktsegment")))
      Behavior.diffDatasets(a, b, Seq("c_custkey"))
        .orderBy(col("c_custkey"))
    },

    // SCD2 dimension-history build: per-customer order-status runs with
    // validity intervals (one keyed window pass).
    "q164_scd2" -> { (s, dir) =>
      Behavior.scd2History(
        t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_orderstatus")),
        Seq("o_custkey"), Seq("o_orderdate", "o_orderkey"),
        Seq("o_orderstatus"), "o_orderdate", carryCols = Seq("o_orderkey"))
        .withColumn("valid_from", date_format(col("valid_from"), "yyyy-MM-dd"))
        .withColumn("valid_to", date_format(col("valid_to"), "yyyy-MM-dd"))
        .orderBy(col("o_custkey"), col("valid_from"), col("o_orderkey"))
    },

    // STREAMING per-user CUSUM anomaly monitor under the oracle gate
    // (flatMapGroupsWithState, Update mode): per-user event count n only
    // grows, so a struct-max collapses multi-batch updates to the final
    // state deterministically (q97's policy).
    "q172_stream_cusum" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.OutputMode
      val table = graft.streaming.EventStream.runToMemorySink(
        graft.streaming.EventStream.cusumMonitor(s, dir),
        s"q172_sink_${System.nanoTime()}", mode = OutputMode.Update(),
        statePartitions = Some(8))
      table.groupBy(col("user_id"))
        .agg(max(struct(col("n_events"), col("cusum_pos"), col("cusum_neg"),
          col("n_alarms"))).as("f"))
        .select(col("user_id"), col("f.n_events").as("n_events"),
          col("f.cusum_pos").as("cusum_pos"),
          col("f.cusum_neg").as("cusum_neg"),
          col("f.n_alarms").as("n_alarms"))
        .orderBy(col("user_id"))
    },

    // Two-sided CUSUM changepoint monitor per user on the event value
    // series — genuinely non-linear state (max clamp) through the keyed
    // streaming fold.
    "q160_cusum" -> { (s, dir) =>
      Advanced.cusumKeyed(
        t(s, dir, "events").select(col("event_id"), col("user_id"),
          col("ts"), col("value")),
        Seq("user_id"), Seq("ts", "event_id"), "value",
        target = 50.0, slack = 5.0, threshold = 100.0)
        .select(col("event_id"), col("user_id"), col("cusum_pos"),
          col("cusum_neg"), col("alarm"))
        .orderBy(col("event_id"))
    },

    // Deterministic weighted Bernoulli sample (P ∝ n_chars), md5-keyed —
    // the "sample long documents more" curation primitive.
    "q158_weighted_sample" -> { (s, dir) =>
      t(s, dir, "documents").hashSampleRowsWeighted("n_chars", Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"))
        .orderBy(col("lang"))
    },

    // The projection/repair conveniences under the oracle gate in one
    // chain: add-column (scalar lit broadcast), parse-column :relaxed?
    // (try_cast + boolean `_unparsed` side column), remove-empty-columns
    // (the all-null column must VANISH — schema_match proves it),
    // rename-columns, remove-columns. Every 7th customer's numeric string
    // is replaced by its market segment, which fails the long parse.
    "q100_column_repair" -> { (s, dir) =>
      val base = t(s, dir, "customer")
        .withColumn("mixed",
          when(col("c_custkey") % 7 === 0, col("c_mktsegment"))
            .otherwise(round(col("c_acctbal") * 100).cast(LongType)
              .cast(StringType)))
        .addColumn("dead", lit(null).cast(StringType))
        .addColumn("flag", "x")
      graft.ops.Missing.removeEmptyColumns(
          base.columnCastRelaxed("mixed", LongType))
        .renameColumns("mixed" -> "cents", "mixed_unparsed" -> "cents_unparsed")
        .dropColumns("c_name", "c_address", "c_nationkey", "c_phone",
          "c_acctbal", "c_mktsegment", "c_comment")
        .orderBy(col("c_custkey"))
    },

    // KEYLESS as-of under the oracle gate: the carry distributes now
    // (range-partitioned windows + O(P) boundary frame — Joins.scala
    // keylessCarryDirectional); the oracle is DuckDB's native ASOF JOIN, an
    // independent implementation of the same semantics. Latest purchase at
    // or before each click, globally (no by key).
    "q101_keyless_asof" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("ts"))
      // one purchase per distinct ts (argmax by event_id): an asof right
      // side with DUPLICATE keys has no deterministic winner — neither in
      // the merge exec nor in DuckDB's ASOF — and the sf1.0 replica
      // duplicates timestamps across its 10 copies (caught by the sf1.0
      // oracle sweep, round 16). Uniqueness pins the row both engines pick.
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("ts").as("pts"))
        .agg(max(struct(col("event_id"), col("value"))).as("__m"))
        .select(col("pts"), col("__m.event_id").as("p_event_id"),
          col("__m.value").as("p_value"))
      Joins.asofJoin(clicks, purchases, "ts", "pts", Seq.empty,
          Joins.Backward, allowExactMatch = true)
        .select(col("event_id"), col("p_event_id"), col("p_value"))
        .orderBy(col("event_id"))
    },

    // KEYLESS fill-range under the oracle gate: the global lead now runs
    // per value-derived bucket with an O(P) boundary-successor frame
    // (Missing.keylessLead) instead of one global-window task.
    "q102_fill_range_keyless" -> { (s, dir) =>
      val base = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey").cast(DoubleType).as("axis"),
          col("o_totalprice"))
      Missing.fillRange(base, "axis", 2.0)
    },

    // drop-missing / select-missing / replace-missing :value under the
    // oracle gate: nulls are planted deterministically, the kept branch
    // comes from dropMissing, the missing branch from selectMissing with
    // fillValue imputation — both visible in one tagged union.
    "q103_missing_triage" -> { (s, dir) =>
      // NaN normalizes to null first: dropMissing (na.drop) treats NaN as
      // missing while selectMissing checks isNull only — an un-normalized
      // NaN row would fall out of BOTH branches (and DuckDB's IS NULL
      // would disagree). The fixture has no NaN; this keeps it robust.
      val base = t(s, dir, "events")
        .select(col("event_id"),
          when(col("event_id") % 5 === 0 || isnan(col("value")),
            lit(null).cast(DoubleType))
            .otherwise(col("value")).as("v"))
      val kept = Missing.dropMissing(base, Seq("v"))
        .withColumn("status", lit("kept"))
      val repaired = Missing.fillValue(Missing.selectMissing(base, Seq("v")),
          Map("v" -> -1.0))
        .withColumn("status", lit("was_missing"))
      kept.unionByName(repaired).orderBy(col("event_id"))
    },

    // update-columnwise + filter-dataset column algebra under the oracle
    // gate: every numeric column of the projection gets one transform; the
    // column-algebra selection is visible through the output schema.
    "q104_columnwise" -> { (s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_nationkey"))
        .numericColumns
        .updateColumnsWhere(f => f.dataType == DoubleType, c => c * 2)
        .orderBy(col("c_custkey"))
    },

    // train-regression / predict-regression (reference tribuo.clj:285-301):
    // closed-form simple linear regression from ONE exact-sum pass (six
    // scalars to the driver), prediction as pure column arithmetic with the
    // coefficients as plan literals. The oracle replays the identical op
    // sequence (floor-scaled Int128 sums → slope/intercept → b0 + x·b1).
    // metamorph pipeline END-TO-END through the oracle: stage 2 (simple
    // linreg) fits on stage 1's OUTPUT (the z-scaled column), and the
    // fitted pipeline replays as a pure transform on a DIFFERENT slice —
    // the reference's fit-on-train / replay-on-anything contract. The
    // oracle rebuilds both fitted stages from exact sums and chains them.
    "q125_pipeline" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val pipe = Ml.Pipeline.fit(li, Seq(
        (d: org.apache.spark.sql.DataFrame) =>
          Ml.fitStandardScaler(d, Seq("l_quantity"),
            squareScale = Map("l_quantity" -> 2)),
        (d: org.apache.spark.sql.DataFrame) =>
          Ml.fitSimpleLinearRegression(d, "l_quantity_z", "l_extendedprice")))
      pipe.transform(li.filter(col("l_orderkey") % 50 === 0))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity_z"), col("prediction"))
        .orderBy(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity_z"), col("prediction"))
    },

    "q105_linreg" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val m = Ml.fitSimpleLinearRegression(li, "l_quantity", "l_extendedprice")
      m.predict(li.filter(col("l_orderkey") < 500))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("prediction"))
        // (l_orderkey, l_linenumber) is not unique in the synthetic data —
        // the value columns complete the total order
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("prediction"))
    },

    // train-classification / predict-classification (reference
    // tribuo.clj:232-273) as the closed-form nearest-centroid rule: fit is
    // one groupBy(label) exact-sum aggregation (O(classes·d) readout),
    // predict is a pinned-order argmin fold over pure column expressions.
    // Output: the confusion matrix — any engine-divergent prediction on any
    // of the 600k rows moves a count and fails the hash.
    "q109_classify_centroid" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val m = Ml.fitNearestCentroid(li, Seq("l_quantity", "l_discount"),
        "l_returnflag")
      m.predict(li)
        .groupBy(col("l_returnflag").as("actual"), col("prediction"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("actual"), col("prediction"))
    },

    // Per-group regression + evaluate-regression metrics
    // (tribuo.clj:285-315) with NO driver round-trip: model and metrics
    // materialize per group inside one distributed exact-sum aggregation —
    // at 100 TB this fits one model per group in a single shuffle.
    "q110_linreg_groups" -> { (s, dir) =>
      Ml.linearRegressionByGroup(t(s, dir, "lineitem"), Seq("l_returnflag"),
          "l_quantity", "l_extendedprice")
        .orderBy(col("l_returnflag"))
    },

    // FULL descriptive-stats (reference dataset_api.clj:1300-1399
    // all-descriptive-stats-names): n_valid/n_missing/min/q1/mean/mode/
    // median/q3/max/stddev/skew/n_distinct/first/last in ONE call — exact
    // third-moment skew, keyed first/last (o_orderkey is unique), quartiles
    // by distributed rank-selection, mode via min_by (no global window).
    "q106_descriptive_full" -> { (s, dir) =>
      Reductions.descriptiveStatsFull(t(s, dir, "orders"),
        Seq("o_totalprice", "o_custkey"), orderCol = Some("o_orderkey"),
        squareScale = Map("o_totalprice" -> 0, "o_custkey" -> 2),
        cubeDiv = Map("o_totalprice" -> 10000.0, "o_custkey" -> 100.0))
        .orderBy(col("column"))
    },

    // Legacy .xls round-trip under the correctness gate (reference
    // libs/poi.clj writes + reads .xls via POI; here both directions are
    // pure-JVM BIFF8): longs, strings, doubles AND date-styled serials
    // survive the OLE2/BIFF8 round trip or the oracle hash diverges.
    // 1-in-16 sample keeps every SF under the format's 65,536-row cap.
    "q107_xls" -> { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_q107").toString
      // key cap: a BIFF8 sheet holds 65,536 rows — the stride alone
      // overflows it at sf1.0 (93,750 rows) and the writer correctly
      // refuses. Capping at 1M keys is a no-op through sf0.1 and pins the
      // sheet at ≤62,500 rows at ANY larger replica (the format's limit
      // is the operator's contract, not a scale defect).
      val src = t(s, dir, "orders")
        .filter(col("o_orderkey") % 16 === 0 && col("o_orderkey") < 1000000)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          to_date(col("o_orderdate")).as("o_date"))
      graft.sources.XlsIo.write(src, s"$tmp/orders.xls")
      graft.sources.XlsIo.read(s, s"$tmp/orders.xls")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice").cast(DoubleType)).as("sum_price"),
          date_format(min(col("o_date").cast(DateType)), "yyyy-MM-dd")
            .as("first_date"),
          max(col("o_orderkey").cast(LongType)).as("max_key"))
        .orderBy(col("o_orderstatus"))
    },

    // Promotional CSV inference under the correctness gate (reference
    // column_parsers.clj:310-345 promotion chain): a CSV written at query
    // time exercises every rung — short/int/long narrowing by value range,
    // double, relaxed-token boolean, timestamp, string fallback. Output =
    // one row per column with the INFERRED type name plus a typed checksum;
    // the oracle recomputes from the parquet originals with the expected
    // types hardcoded, so a mis-promotion breaks datatype AND checksum.
    "q108_csv_promote" -> { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_q108").toString
      val src = t(s, dir, "events").filter(col("event_id") < 10000)
        .select(
          col("event_id"),                                  // < 32768 → short
          (col("event_id") + 40000).as("mid"),              // → int
          (col("event_id") + 3000000000L).as("big"),        // → long
          col("value"),                                     // → double
          // STRICT bool table (exact "true"/"false" — the reference's
          // default :bool coercer; t/yes promote to string, pinned in
          // IoSpec)
          when(col("event_id") % 3 === 0, "true")
            .when(col("event_id") % 3 === 1, "true")
            .otherwise("false").as("flag"),                 // → boolean
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"), // → ts
          col("event_type"))                                // stays string
      graft.sources.Io.write(src, s"$tmp/ev_csv", "csv")
      val inf = graft.sources.Io.readCsvPromotional(s, s"$tmp/ev_csv")
      val checksums: Seq[(String, org.apache.spark.sql.Column)] = Seq(
        "event_id" -> sum(col("event_id")).cast(DoubleType),
        "mid" -> sum(col("mid")).cast(DoubleType),
        "big" -> sum(col("big")).cast(DoubleType),
        "value" -> graft.ops.Reductions.isum(col("value"), 6),
        "flag" -> count(when(col("flag"), lit(1))).cast(DoubleType),
        "ts_s" -> sum(unix_timestamp(col("ts_s"))).cast(DoubleType),
        "event_type" -> countDistinct(col("event_type")).cast(DoubleType))
      val aggs = checksums.map { case (c, e) => e.as(s"${c}__sum") } ++
        checksums.map { case (c, _) => count(col(c)).as(s"${c}__n") }
      val row = inf.agg(aggs.head, aggs.tail: _*).collectBounded(1, "one-row checksum agg")(0)
      val types = inf.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
      import s.implicits._
      checksums.map { case (c, _) =>
        (c, types(c), row.getLong(row.fieldIndex(s"${c}__n")),
          row.getDouble(row.fieldIndex(s"${c}__sum")))
      }.toDF("column", "datatype", "n_valid", "checksum")
        .orderBy(col("column"))
    },

    // End-to-end LLM-pipeline classifier mechanics on the documents table:
    // text-derived features (char/whitespace/'e' counts — exactly
    // replayable in SQL) → nearest-centroid model → confusion matrix.
    // NOTE the synthetic corpus draws every lang's text from one vocabulary
    // (per-lang character distributions are identical — verified), so
    // chance-level accuracy is EXPECTED here; what the oracle pins is the
    // 5-class × 3-feature train+predict loop bit-for-bit (exact centroid
    // sums, pinned distance order, sorted-label argmin fold) over 5000
    // docs. Separable-data accuracy is spec-pinned in MlModelSpec.
    "q111_lang_classifier" -> { (s, dir) =>
      val feats = t(s, dir, "documents")
        .select(col("lang"),
          col("n_chars").cast(DoubleType).as("f_chars"),
          (length(col("text")) -
            length(translate(col("text"), " ", ""))).cast(DoubleType).as("f_spaces"),
          (length(col("text")) -
            length(translate(col("text"), "e", ""))).cast(DoubleType).as("f_e"))
      val m = Ml.fitNearestCentroid(feats,
        Seq("f_chars", "f_spaces", "f_e"), "lang")
      m.predict(feats)
        .groupBy(col("lang").as("actual"), col("prediction"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("actual"), col("prediction"))
    },

    // Model-per-group at scale: MULTIVARIATE (2-feature) regression fitted
    // for every group in ONE exact-sum aggregation, the 3×3 normal-equation
    // solve running as pure column expressions (pinned Cramer cofactors —
    // whole-stage codegen, no driver round-trip, so a million groups fit a
    // million models in one shuffle). Oracle replays moments + cofactors.
    "q112_mlr_groups" -> { (s, dir) =>
      Ml.linearRegressionByGroup2(t(s, dir, "lineitem"), Seq("l_returnflag"),
          "l_quantity", "l_discount", "l_extendedprice")
        .orderBy(col("l_returnflag"))
    },

    // evaluate-classification (per-class precision/recall/F1) on the q109
    // centroid model — train, predict, AND score all inside the oracle
    // gate: the SQL replays centroids, the argmin fold, the confusion
    // matrix, and the pinned metric arithmetic.
    "q114_classify_metrics" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val m = Ml.fitNearestCentroid(li, Seq("l_quantity", "l_discount"),
        "l_returnflag")
      Ml.evaluateClassification(m.predict(li), "l_returnflag", "prediction")
        .orderBy(col("label"))
    },

    // Categorical descriptive-stats branch (reference :values/:histogram/
    // :n-values for non-numeric columns), row-shaped: top values by
    // (count desc, value asc) with rank + distinct totals.
    "q115_cat_stats" -> { (s, dir) =>
      Reductions.categoricalStats(t(s, dir, "orders"),
          Seq("o_orderstatus", "o_orderpriority"), nValues = 21)
        .orderBy(col("column"), col("rank"))
    },

    // General-d model-per-group: executor-side PIVOT-FREE Cholesky solve
    // over exact-sum moments. The normal-equation matrix is SPD, so the
    // factorization + both substitutions are a fixed left-to-right
    // arithmetic sequence — the oracle replays the full 4×4 solve in SQL
    // bit-for-bit (the q112 Cramer-mirror pattern, generalized).
    "q116_mlr_groups_n" -> { (s, dir) =>
      Ml.linearRegressionByGroupN(t(s, dir, "lineitem"), Seq("l_returnflag"),
          Seq("l_quantity", "l_discount", "l_tax"), "l_extendedprice")
        .withColumn("b1", element_at(col("coefficients"), 1))
        .withColumn("b2", element_at(col("coefficients"), 2))
        .withColumn("b3", element_at(col("coefficients"), 3))
        .drop("coefficients")
        .orderBy(col("l_returnflag"))
    },

    // Pure-data snapshot round-trip (reference dataset->data/data->dataset,
    // base.clj:992-1088): write a frame — int64/string/float64/local-date
    // columns — as the self-describing columnar EDN document, read it back
    // through the :datatype-driven decoder, and aggregate. The oracle runs
    // on the ORIGINAL parquet, so any value/dtype drift through the
    // snapshot (date formatting, double rendering, missing slots) breaks
    // the hash.
    "q117_snapshot_roundtrip" -> { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_q117").toString
      val src = t(s, dir, "orders").filter(col("o_orderkey") < 4000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate").cast(DateType).as("o_date"))
      graft.sources.Snapshot.write(src, s"$tmp/orders.edn", "orders")
      graft.sources.Snapshot.read(s, s"$tmp/orders.edn")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("sum_price"),
          max(col("o_orderkey")).as("max_key"),
          date_format(min(col("o_date")), "yyyy-MM-dd").as("first_date"))
        .orderBy(col("o_orderstatus"))
    },

    // Workbook-of-datasets round-trip (reference datasets->workbook!,
    // fastexcel.clj/poi.clj): TWO tables into one xlsx, read back by
    // sheet, joined and aggregated — the oracle sees only the original
    // parquet, so sheet routing or any cell drift breaks the hash.
    "q118_workbook" -> { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_q118").toString
      graft.sources.XlsxIo.writeWorkbook(Seq(
        "nation" -> t(s, dir, "nation"),
        "supplier" -> t(s, dir, "supplier")
          .select("s_suppkey", "s_nationkey", "s_acctbal")), s"$tmp/wb.xlsx")
      val back = graft.sources.XlsxIo.readAllSheets(s, s"$tmp/wb.xlsx")
      val nation = back(0); val supplier = back(1)
      supplier.join(nation,
          supplier("s_nationkey") === nation("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          dsum(col("s_acctbal").cast(DoubleType)).as("sum_bal"))
        .orderBy(col("n_name"))
    },

    // ROC-AUC via the exact rank-sum identity: does document length
    // predict English-ness? (the classifier-evaluation primitive for
    // quality filters). Integer-exact until one final division.
    "q173_roc_auc" -> { (s, dir) =>
      Stats.rocAuc(
        t(s, dir, "documents")
          .withColumn("label", when(col("lang") === "en", 1L).otherwise(0L)),
        "n_chars", "label")
    },

    // Welch's unequal-variance t: click vs purchase event values —
    // floor-scaled exact moments, fixed scalar op sequence.
    "q174_welch_t" -> { (s, dir) =>
      Stats.welchTTest(t(s, dir, "events"), "value", "event_type",
        "click", "purchase")
    },

    // One-way ANOVA F across ALL event types (k groups, not two) — the
    // between-group terms re-floor-scaled so cross-group sum order can't
    // perturb the statistic.
    "q175_anova" -> { (s, dir) =>
      Stats.anovaOneWay(t(s, dir, "events"), "value", "event_type")
    },

    // Benjamini-Hochberg FDR adjustment over a per-document p-value
    // table (deterministic md5-uniform p's — the op is agnostic to how p
    // was produced; md5 makes the whole pipeline engine-replayable).
    // Distributed suffix-min: range partitions + O(P) offsets, no global
    // window.
    "q176_bh_fdr" -> { (s, dir) =>
      val p = pmod(conv(substring(md5(concat_ws("#", col("doc_id"))), 1, 15),
        16, 10).cast(LongType), lit(1000000L)).cast(DoubleType) / 1000000.0
      val tests = t(s, dir, "documents").filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), p.as("p_value"))
      Stats.bhAdjust(tests, "doc_id", "p_value")
        .orderBy(col("bh_rank"))
    },

    // Referential-integrity audit across four FK relationships — child
    // ships only its key column, parent only its distinct keys; the
    // events→customer relation is the one with real orphans.
    "q177_fk_audit" -> { (s, dir) =>
      Quality.fkAudit(Seq(
        Quality.FkRelation("lineitem->orders", t(s, dir, "lineitem"),
          "l_orderkey", t(s, dir, "orders"), "o_orderkey"),
        Quality.FkRelation("orders->customer", t(s, dir, "orders"),
          "o_custkey", t(s, dir, "customer"), "c_custkey"),
        Quality.FkRelation("lineitem->part", t(s, dir, "lineitem"),
          "l_partkey", t(s, dir, "part"), "p_partkey"),
        Quality.FkRelation("events->customer", t(s, dir, "events"),
          "user_id", t(s, dir, "customer"), "c_custkey")))
        .orderBy(col("relation"))
    },

    // Declarative expectation suite over orders: all row-level rules fuse
    // into ONE scan; each uniqueness rule is a distinct-count of its key
    // tuple. The (o_custkey, o_orderstatus) rule is the failing one.
    "q178_expectations" -> { (s, dir) =>
      Quality.checkExpectations(t(s, dir, "orders"), Seq(
        Quality.NotNull("status_not_null", "o_orderstatus"),
        Quality.InSet("status_domain", "o_orderstatus", Seq("O", "F", "P")),
        Quality.InRange("price_range", "o_totalprice", 1.0, 500000.0),
        Quality.MatchesRegex("priority_format", "o_orderpriority",
          "[1-5]-[A-Z]+"),
        Quality.Unique("pk_unique", Seq("o_orderkey")),
        Quality.Unique("cust_status_unique",
          Seq("o_custkey", "o_orderstatus"))))
        .orderBy(col("rule"))
    },

    // Benford first-significant-digit audit of l_extendedprice — digit
    // extraction via scale-12 fixed-point rendering (no libm log10 on
    // either engine; expected fractions are shared literals).
    "q179_benford" -> { (s, dir) =>
      Quality.benfordAudit(t(s, dir, "lineitem"), "l_extendedprice")
    },

    // Ridge regression per group: q116's executor-side Cholesky with
    // XᵀX + λI (intercept unpenalized) — λ large enough to visibly
    // shrink the slopes, oracle replays the same sequence with p_kk + λ.
    "q180_ridge_groups" -> { (s, dir) =>
      Ml.linearRegressionByGroupN(t(s, dir, "lineitem"), Seq("l_returnflag"),
          Seq("l_quantity", "l_discount", "l_tax"), "l_extendedprice",
          ridgeLambda = 100000.0)
        .withColumn("b1", element_at(col("coefficients"), 1))
        .withColumn("b2", element_at(col("coefficients"), 2))
        .withColumn("b3", element_at(col("coefficients"), 3))
        .drop("coefficients")
        .orderBy(col("l_returnflag"))
    },

    // Theil-Sen robust trend per user (value over event time): median of
    // pairwise slopes + median-residual intercept via the group-quantile
    // rank-selection — the pair frame is group-keyed and LOUDLY bounded.
    "q181_theil_sen" -> { (s, dir) =>
      val ev = t(s, dir, "events").filter(col("user_id") < 20)
        .select(col("user_id"),
          unix_micros(col("ts")).cast(DoubleType).as("ts_us"),
          col("value"))
      Stats.theilSen(ev, "user_id", "ts_us", "value")
        .orderBy(col("user_id"))
    },

    // Seasonal-naive (lag-4) forecast evaluation per user: MAE/RMSE/
    // sMAPE/MASE from floor-scaled exact error sums — the forecast-QA
    // primitive for the q146/q167 smoother family.
    "q182_forecast_acc" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .withColumn("sn_forecast", lag(col("value"), 4).over(w))
      Stats.forecastAccuracy(ev, Seq("user_id"), Seq("ts", "event_id"),
          "value", "sn_forecast")
        .orderBy(col("user_id"))
    },

    // Triangle counting over the nation-level trade graph: nations are
    // linked when their customer→supplier flow is strictly above the
    // average flow (integer cross-multiplied — no float threshold);
    // per-node triangle membership counts from the canonical edge-join.
    "q184_triangles" -> { (s, dir) =>
      val flows = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
      val tot = flows.agg(sum(col("cnt")).as("ts"), count(lit(1)).as("np"))
      val strong = flows.crossJoin(broadcast(tot))
        .filter(col("cnt") * col("np") > col("ts"))
      Graph.triangleCount(strong, "src", "dst").orderBy(col("id"))
    },

    // Rolling EXACT median (trailing 5) of the event value per user —
    // the robust rolling center the mean/var reducers can't give;
    // bounded-frame collect + total-order index pick.
    "q185_rolling_median" -> { (s, dir) =>
      Rolling.rolling(t(s, dir, "events"), 5, Rolling.Left,
          Seq(col("ts"), col("event_id")), Seq(col("user_id")),
          "med5" -> Rolling.rMedian(col("value")))
        .select(col("event_id"), col("user_id"), col("value"), col("med5"))
        .orderBy(col("event_id"))
    },

    // Time-weighted average of the event value per user (TWAP): integer
    // microsecond hold durations × floor-scaled exact weighted sums.
    "q186_twap" -> { (s, dir) =>
      Rolling.timeWeightedAvg(t(s, dir, "events"), Seq(col("user_id")),
          col("ts"), Seq(col("event_id")), col("value"))
        .orderBy(col("user_id"))
    },

    // STREAM-STATIC enrichment under the oracle gate: the event stream
    // joined to the broadcast customer dimension, aggregated per nation —
    // the actual streaming execution (memory sink, AvailableNow) must
    // match the batch SQL.
    "q187_stream_enrich" -> { (s, dir) =>
      val table = graft.streaming.EventStream.runToMemorySink(
        graft.streaming.EventStream.enrichedNationAgg(s, dir),
        s"q187_sink_${System.nanoTime()}", statePartitions = Some(8),
        // nations × event types: a fixed domain — in-memory provider
        boundedState = true)
      table.orderBy(col("c_nationkey"), col("event_type"))
    },

    // CDC MERGE (SCD1 upsert): a change feed derived from orders —
    // every 10th order rewrites its customer's balance, every 100th
    // deletes the customer; latest change per key wins, one key shuffle.
    "q188_cdc_merge" -> { (s, dir) =>
      val base = t(s, dir, "customer")
      val changes = t(s, dir, "orders")
        .filter(col("o_orderkey") % 10 === 0)
        .join(base, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("o_totalprice").as("c_acctbal"), col("c_mktsegment"),
          col("o_orderkey").as("version"),
          (col("o_orderkey") % 100 === 0).as("is_delete"))
      Behavior.applyChanges(base, changes, Seq("c_custkey"),
          Seq("version"), "is_delete")
        .orderBy(col("c_custkey"))
    },

    // Jaccard link prediction on the q184 strong-trade graph:
    // non-adjacent nation pairs sharing ≥ 2 strong partners, scored by
    // integer common/union neighbor counts.
    "q189_jaccard_links" -> { (s, dir) =>
      val flows = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
      val tot = flows.agg(sum(col("cnt")).as("ts"), count(lit(1)).as("np"))
      val strong = flows.crossJoin(broadcast(tot))
        .filter(col("cnt") * col("np") > col("ts"))
      Graph.jaccardLinks(strong, "src", "dst", minCommon = 2L)
        .orderBy(col("a"), col("b"))
    },

    // k-core (k=8, 6 peel rounds) of the strong-trade graph: iterative
    // degree peeling, per-round persisted edge frames — the cohesive
    // trading cluster extraction.
    "q190_kcore" -> { (s, dir) =>
      val flows = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
      val tot = flows.agg(sum(col("cnt")).as("ts"), count(lit(1)).as("np"))
      val strong = flows.crossJoin(broadcast(tot))
        .filter(col("cnt") * col("np") > col("ts"))
      Graph.kCore(strong, "src", "dst", k = 8, rounds = 6)
        .orderBy(col("id"))
    },

    // ORC round-trip under the correctness gate (parity-plus source/sink
    // breadth — Spark-native columnar ORC): write supplier, read back,
    // aggregate; the oracle sees only the original parquet.
    "q191_orc_roundtrip" -> { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_q191").toString
      t(s, dir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .write.mode("overwrite").orc(s"$tmp/supplier_orc")
      s.read.orc(s"$tmp/supplier_orc")
        .groupBy(col("s_nationkey").cast(IntegerType).as("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          dsum(col("s_acctbal").cast(DoubleType)).as("sum_bal"),
          min(col("s_name")).as("first_name"))
        .orderBy(col("s_nationkey"))
    },

    // Cross-correlation: does the click indicator LEAD the value series?
    // x_t vs y_{t−lag} per user at lags 0..3, pooled — q150's exact
    // co-moment machinery over two columns.
    "q192_ccf" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .withColumn("is_click",
          when(col("event_type") === "click", 1.0).otherwise(0.0))
      Stats.ccf(ev, Seq("user_id"), Seq("ts", "event_id"),
          "value", "is_click", Seq(0, 1, 2, 3))
        .withColumnRenamed("lag", "lag_k")
    },

    // Equi-width histogram (12 bins) of l_extendedprice: O(1) min/max
    // fit broadcast, codegen bin assignment, empty bins materialized.
    "q193_histogram" -> { (s, dir) =>
      Reductions.histogramEqWidth(t(s, dir, "lineitem"), "l_extendedprice", 12)
    },

    // Market-basket association rules: brand pairs co-ordered in ≥ 2% of
    // orders — integer support threshold, confidences/lift from exact
    // counts.
    "q194_assoc_rules" -> { (s, dir) =>
      val baskets = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
        .join(t(s, dir, "part").select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
      Advanced.assocRules(baskets, "l_orderkey", "p_brand", minSupportPct = 2)
        .orderBy(col("item_a"), col("item_b"))
    },

    // ABC / Pareto classification of parts by revenue: exact integer
    // cumulative shares over the range-partitioned prefix sum (no global
    // window), integer threshold tests.
    "q195_abc" -> { (s, dir) =>
      Reductions.abcClassification(t(s, dir, "lineitem"), "l_partkey",
          "l_extendedprice")
        .orderBy(col("cum"))
    },

    // Kaplan-Meier survival of days-to-first-purchase per user (censored
    // at the user's last event): one duration groupBy, the O(distinct
    // days) risk table folded left-to-right.
    "q196_kaplan_meier" -> { (s, dir) =>
      val per = t(s, dir, "events").groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"),
          min(when(col("event_type") === "purchase", col("ts"))).as("p_ts"))
        .select(
          when(col("p_ts").isNotNull,
            datediff(col("p_ts").cast(DateType), col("first_ts").cast(DateType)))
            .otherwise(datediff(col("last_ts").cast(DateType),
              col("first_ts").cast(DateType))).as("dur"),
          when(col("p_ts").isNotNull, 1L).otherwise(0L).as("ev"))
      Stats.kaplanMeier(per, "dur", "ev").orderBy(col("t"))
    },

    // Partition-skew report for keying a shuffle on user_id: top-5
    // heaviest keys + the salting-decision skew factor.
    "q197_skew_report" -> { (s, dir) =>
      Quality.skewReport(t(s, dir, "events"), Seq("user_id"), topK = 5)
        .orderBy(col("key_rank"))
    },

    // Additive seasonal decomposition (period 5) of the event value per
    // user: centered exact-mean trend, re-centered per-phase seasonal,
    // residual — all floor-scaled exact means.
    "q199_seasonal_decompose" -> { (s, dir) =>
      Advanced.seasonalDecompose(
        t(s, dir, "events").select(col("event_id"), col("user_id"),
          col("ts"), col("value")),
        Seq("user_id"), Seq("ts", "event_id"), "value", period = 5)
        .select(col("event_id"), col("user_id"), col("phase"),
          col("trend"), col("seasonal"), col("resid"))
        .orderBy(col("event_id"))
    },

    // Global percent-rank of the order price WITHOUT a single-task
    // window: range-partitioned per-value min-ranks joined back.
    "q200_percent_rank" -> { (s, dir) =>
      Reductions.globalPercentRank(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        "o_totalprice")
        .orderBy(col("o_orderkey"))
    },

    // STREAMING sliding windows (2h / 1h) under the oracle gate — each
    // event lands in two overlapping windows; the batch mirror
    // duplicates events into both window starts.
    "q201_stream_sliding" -> { (s, dir) =>
      val table = graft.streaming.EventStream.runToMemorySink(
        graft.streaming.EventStream.slidingCounts(s, dir),
        s"q201_sink_${System.nanoTime()}", statePartitions = Some(8),
        // sliding windows over the time range × event types (Complete
        // mode evicts nothing) — in-memory provider
        boundedState = true)
      table.orderBy(col("bucket"), col("event_type"))
    },

    // Per-cell chi-square diagnostics: which (lang, source) cells drive
    // q153's statistic — expected counts, contributions, adjusted
    // standardized residuals.
    "q214_chi_cells" -> { (s, dir) =>
      Stats.chiSquareCells(t(s, dir, "documents"), "lang", "source")
        .orderBy(col("a"), col("b"))
    },

    // Clamped running balance per user (inventory semantics): purchases
    // add value, clicks consume it, the floor-at-zero clamp records
    // unmet demand — the non-linear keyed fold.
    "q224_clamped_balance" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .withColumn("delta",
          when(col("event_type") === "purchase", col("value"))
            .when(col("event_type") === "click", -col("value"))
            .otherwise(lit(0.0)))
        .select(col("event_id"), col("user_id"), col("ts"), col("delta"))
      Advanced.clampedRunningSumKeyed(ev, Seq("user_id"),
          Seq("ts", "event_id"), "delta", floor = 0.0)
        .select(col("event_id"), col("user_id"), col("balance"),
          col("balance_lost"))
        .orderBy(col("event_id"))
    },

    // Union-of-intervals coverage: total active time per user with each
    // event opening a 30-minute presence interval, overlaps merged
    // exactly in integer microseconds.
    "q225_interval_union" -> { (s, dir) =>
      val iv = t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("s_us"),
          (unix_micros(col("ts")) + lit(1800000000L)).as("e_us"))
      Behavior.intervalUnionCoverage(iv, "user_id", "s_us", "e_us")
        .orderBy(col("user_id"))
    },

    // Bucketed-storage join under the oracle gate: orders and customer
    // co-bucketed on the customer key (saveAsTable), joined and
    // aggregated shuffle-free — the 100 TB repeated-join pattern, with
    // the VALUES (not just the plan shape, which IoSpec asserts)
    // verified against the original parquet.
    "q222_bucketed_join" -> { (s, dir) =>
      val tag = math.abs(dir.hashCode).toString
      // a FRESH session's catalog doesn't know last run's managed table,
      // but its warehouse directory survives on disk — drop both or
      // saveAsTable refuses with LOCATION_ALREADY_EXISTS
      Seq(s"q222_orders_$tag", s"q222_customer_$tag").foreach { tbl =>
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val wh = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), tbl.toLowerCase)
        wh.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(wh, true)
      }
      graft.sources.Io.writeBucketed(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice")),
        s"q222_orders_$tag", 8, Seq("o_custkey"))
      graft.sources.Io.writeBucketed(
        t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
        s"q222_customer_$tag", 8, Seq("c_custkey"))
      s.table(s"q222_orders_$tag")
        .join(s.table(s"q222_customer_$tag"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("c_nationkey"))
    },

    // Hourly percentile bands of the event value (p50/p90/p99 per
    // hour-of-day) — the metrics-dashboard quantile series over the
    // rank-selection machinery.
    "q223_hourly_percentiles" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .withColumn("hour", hour(col("ts")).cast(IntegerType))
      Reductions.groupQuantiles(ev, "hour", "value",
          Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
        .orderBy(col("hour"))
    },

    // Funnel time-to-convert: view→click→purchase stage-pair duration
    // quartiles (seconds) under the q156 earliest-completion semantics.
    "q219_funnel_durations" -> { (s, dir) =>
      Behavior.funnelDurations(t(s, dir, "events"), "user_id", "event_type",
          "ts", Seq("view", "click", "purchase"))
        .orderBy(col("stage_idx"))
    },

    // Robust outlier flags: |price − median| > 2·MAD per returnflag —
    // the median/MAD rule over the rank-selection stats.
    "q220_robust_outliers" -> { (s, dir) =>
      Stats.robustOutliers(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_extendedprice")),
        "l_returnflag", "l_extendedprice", k = 2.0)
        .orderBy(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"))
    },

    // Markov transition matrix of event types per user journey: counts
    // + row-normalized probabilities from one keyed lead pass.
    "q221_transitions" -> { (s, dir) =>
      Behavior.transitionMatrix(t(s, dir, "events"), "user_id",
          Seq("ts", "event_id"), "event_type")
        .orderBy(col("from_state"), col("to_state"))
    },

    // Two-sample Poisson rate test: events per distinct user, even vs
    // odd cohorts — four integers, fixed scalar sequence.
    "q215_rate_test" -> { (s, dir) =>
      val ev = t(s, dir, "events").withColumn("cohort",
        when(col("user_id") % 2 === 0, "even").otherwise("odd"))
      Stats.poissonRateTest(ev, "cohort", "even", "odd", "user_id")
    },

    // Spearman rank correlation per group (quantity vs price per
    // returnflag): keyed rank windows → integer doubled ranks → exact
    // decimal Pearson.
    "q216_group_spearman" -> { (s, dir) =>
      Stats.spearmanByGroup(t(s, dir, "lineitem"), "l_returnflag",
          "l_quantity", "l_extendedprice")
        .orderBy(col("l_returnflag"))
    },

    // Daily user growth: first-seen day per user → new users per day →
    // running total (the cumulate runs over the O(days) frame — bounded
    // by construction, like the RRF/MMR candidate windows).
    "q217_user_growth" -> { (s, dir) =>
      val firstDay = t(s, dir, "events").groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("day"))
      val daily = firstDay.groupBy(col("day"))
        .agg(count(lit(1)).as("new_users"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.withColumn("cum_users", sum(col("new_users")).over(w))
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy(col("day"))
    },

    // replace-missing :mode — categorical imputation per nation: nulled
    // segments refilled with the nation's most frequent segment
    // (ties → lowest), the deterministic mode pick.
    "q211_impute_mode" -> { (s, dir) =>
      val damaged = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          when(col("c_custkey") % 7 === 0, lit(null).cast(StringType))
            .otherwise(col("c_mktsegment")).as("segment"))
      Missing.fillModeByGroup(damaged, "c_nationkey", "segment")
        .orderBy(col("c_custkey"))
    },

    // Weighted least squares per returnflag: y = a + b·quantity under
    // weight 1 + discount — closed form from exact weighted moments.
    "q212_wls_groups" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .withColumn("w", lit(1.0) + col("l_discount"))
      Ml.weightedRegressionByGroup(li, Seq("l_returnflag"),
          "l_quantity", "l_extendedprice", "w")
        .orderBy(col("l_returnflag"))
    },

    // QQ table: click vs purchase value deciles side by side (the
    // drift-visual companion of q209) — exact rank-selection quantiles.
    "q213_qq_table" -> { (s, dir) =>
      Reductions.groupQuantiles(
        t(s, dir, "events").filter(col("event_type").isin("click", "purchase")),
        "event_type", "value",
        (1 to 9).map(i => s"q$i" -> i / 10.0))
        .orderBy(col("event_type"))
    },

    // Exponentially weighted mean + variance per user (volatility /
    // adaptive anomaly bands): the exact coupled West recursion through
    // the keyed streaming fold.
    "q210_ewm_var" -> { (s, dir) =>
      Advanced.ewmVarKeyed(
        t(s, dir, "events").select(col("event_id"), col("user_id"),
          col("ts"), col("value")),
        Seq("user_id"), Seq("ts", "event_id"), "value", alpha = 0.3)
        .select(col("event_id"), col("user_id"), col("ewm_mean"),
          col("ewm_var"), col("ewm_std"))
        .orderBy(col("event_id"))
    },

    // Native session_window STREAMING aggregation (Update mode,
    // AvailableNow — single batch emits final session states): the
    // declarative sibling of the q97 fMGWS sessionizer, with the native
    // boundary rule (gap-equal starts a NEW session) oracle-pinned.
    "q208_session_window" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.OutputMode
      val table = graft.streaming.EventStream.runToMemorySink(
        graft.streaming.EventStream.sessionWindowAgg(s, dir),
        s"q208_sink_${System.nanoTime()}", mode = OutputMode.Append(),
        statePartitions = Some(8))
      table.orderBy(col("user_id"), col("session_start"))
    },

    // Distribution-drift report: click (reference) vs purchase (current)
    // event values over reference-fitted equal-frequency deciles — TVD +
    // chi-square drift, the log-free PSI.
    "q209_drift_report" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      Quality.driftReport(
        ev.filter(col("event_type") === "click").select(col("value")),
        ev.filter(col("event_type") === "purchase").select(col("value")),
        "value", bins = 10)
    },

    // As-of join with a merge_asof tolerance: only purchases within the
    // previous hour attribute; farther carries are nulled as if
    // unmatched (conditional projection on the q14 plan — no extra
    // shuffle).
    "q207_asof_tolerance" -> { (s, dir) =>
      val ev = t(s, dir, "events").selectColumns("event_id", "user_id", "ts")
      val purch = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("p_event_id"))
        .select(col("user_id"), col("ts").as("p_ts"), col("p_event_id"))
      Joins.asofJoinTolerance(ev, purch, "ts", "p_ts",
          Seq(("user_id", "user_id")), Joins.Backward,
          allowExactMatch = false, tolerance = 3600.0)
        .selectColumns("event_id", "user_id", "p_event_id")
        .orderBy(col("event_id"))
    },

    // Avro container round-trip (hand-built codec on the Avro core
    // jars — distributed part-file write, timestamp-micros logical
    // type): the oracle sees only the original parquet.
    "q206_avro_roundtrip" -> { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_q206").toString
      val src = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"))
      graft.sources.AvroIo.write(src, s"$tmp/orders_avro")
      graft.sources.AvroIo.read(s, s"$tmp/orders_avro")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("sum_price"),
          max(col("o_orderkey")).as("max_key"),
          date_format(min(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss")
            .as("first_date"))
        .orderBy(col("o_orderstatus"))
    },

    // Incremental aggregation: day-1 partials written to parquet, day-2
    // partials merged in WITHOUT rescanning day 1 — the decimal partial
    // sums make the merge bit-identical to the single-pass aggregation
    // (which is exactly what the oracle runs).
    "q203_incremental_agg" -> { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_q203").toString
      val orders = t(s, dir, "orders")
      Reductions.aggPartials(orders.filter(col("o_orderkey") % 2 === 0),
          Seq("o_orderstatus"), "o_totalprice")
        .write.mode("overwrite").parquet(s"$tmp/day1")
      val day2 = Reductions.aggPartials(
        orders.filter(col("o_orderkey") % 2 =!= 0),
        Seq("o_orderstatus"), "o_totalprice")
      Reductions.mergeAggPartials(
          Seq(s.read.parquet(s"$tmp/day1"), day2),
          Seq("o_orderstatus"), "sum_price")
        .orderBy(col("o_orderstatus"))
    },

    // Kruskal-Wallis: do the 5 event types draw `value` from the same
    // distribution? The ≥3-group rank test — distributed rank build,
    // per-group exact doubled rank sums, tie-corrected H.
    "q226_kruskal_wallis" -> { (s, dir) =>
      Stats.kruskalWallis(t(s, dir, "events"), "value", "event_type")
    },

    // Weighted quantiles per group (weighted median + p90): each event
    // weighted by a deterministic integer weight — the smallest value
    // whose cumulative weight crosses q·W, picked by exact integer
    // cross-multiplication over the range-partitioned prefix sum.
    "q227_weighted_median" -> { (s, dir) =>
      Reductions.weightedQuantilesByGroup(t(s, dir, "events"),
          "event_type", "value", pmod(col("user_id"), lit(10L)) + lit(1L),
          Seq(("wp50", 1, 2), ("wp90", 9, 10)))
        .orderBy(col("event_type"))
    },

    // Brown-Forsythe (median-based Levene): is `value`'s SPREAD
    // homogeneous across event types? ANOVA F over |x − group median|.
    "q228_brown_forsythe" -> { (s, dir) =>
      Stats.brownForsythe(t(s, dir, "events"), "value", "event_type")
    },

    // Two-group log-rank test: do even- vs odd-id users convert (first
    // purchase) on different survival curves? Same duration/event build
    // as q196's Kaplan-Meier, plus the cohort label.
    "q229_log_rank" -> { (s, dir) =>
      val per = t(s, dir, "events").groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"),
          min(when(col("event_type") === "purchase", col("ts"))).as("p_ts"))
        .select(col("user_id"),
          when(col("p_ts").isNotNull,
            datediff(col("p_ts").cast(DateType), col("first_ts").cast(DateType)))
            .otherwise(datediff(col("last_ts").cast(DateType),
              col("first_ts").cast(DateType))).as("dur"),
          when(col("p_ts").isNotNull, 1L).otherwise(0L).as("ev"))
        .withColumn("grp",
          when(col("user_id") % 2 === 0, "even").otherwise("odd"))
      Stats.logRank(per, "dur", "ev", "grp", "even", "odd")
    },

    // Nelson-Aalen cumulative hazard over the same duration/event frame —
    // the additive sibling of q196's Kaplan-Meier product.
    "q230_nelson_aalen" -> { (s, dir) =>
      val per = t(s, dir, "events").groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"),
          min(when(col("event_type") === "purchase", col("ts"))).as("p_ts"))
        .select(
          when(col("p_ts").isNotNull,
            datediff(col("p_ts").cast(DateType), col("first_ts").cast(DateType)))
            .otherwise(datediff(col("last_ts").cast(DateType),
              col("first_ts").cast(DateType))).as("dur"),
          when(col("p_ts").isNotNull, 1L).otherwise(0L).as("ev"))
      Stats.nelsonAalen(per, "dur", "ev")
    },

    // Entropy / mutual information between market segment and nation:
    // the (source × label) dependence audit on the customer table.
    "q231_entropy_mi" -> { (s, dir) =>
      Stats.entropyMi(t(s, dir, "customer"), "c_mktsegment", "c_nationkey")
    },

    // Ljung-Box portmanteau over the q150 panel ACF (lags 1–5): is the
    // per-user value series white noise?
    "q232_ljung_box" -> { (s, dir) =>
      Stats.ljungBox(t(s, dir, "events"), Seq("user_id"),
        Seq("ts", "event_id"), "value", Seq(1, 2, 3, 4, 5))
    },

    // Rolling 10-row skewness + excess kurtosis per user — the shape
    // siblings of q11/q145's rolling mean/corr, exact-sum windows.
    "q233_rolling_moments" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-9, 0)
      t(s, dir, "events")
        .filter(col("value").isNotNull && !isnan(col("value")))
        .withColumn("r_skew", Rolling.rSkew(col("value"))(w))
        .withColumn("r_kurt", Rolling.rKurt(col("value"))(w))
        .select(col("event_id"), col("user_id"), col("r_skew"),
          col("r_kurt"))
        .orderBy(col("event_id"))
    },

    // RFM segmentation of customers from their orders — quintile scores
    // via the distributed percent-rank (q200's machinery), rolled up to
    // the segment table.
    "q234_rfm" -> { (s, dir) =>
      Behavior.rfm(t(s, dir, "orders"), "o_custkey", "o_orderdate",
        "o_totalprice")
    },

    // CUPED variance-reduced A/B readout: per-user pre/post metric sums
    // (exact decimal), pooled theta, per-cohort adjusted means.
    "q235_cuped" -> { (s, dir) =>
      val split = lit("2024-01-16").cast(TimestampType)
      val z = lit(0).cast(DecimalType(38, 2))
      val per = t(s, dir, "events").groupBy(col("user_id"))
        .agg(
          coalesce(sum(when(col("ts") < split, col("value"))
            .cast(DecimalType(38, 2))), z).cast(DoubleType).as("pre"),
          coalesce(sum(when(col("ts") >= split, col("value"))
            .cast(DecimalType(38, 2))), z).cast(DoubleType).as("post"))
        .withColumn("cohort",
          when(col("user_id") % 2 === 0, "A").otherwise("B"))
      Behavior.cuped(per, "cohort", "pre", "post")
    },

    // McNemar's paired test: do the quantity rule and the price rule
    // misclassify returns symmetrically?
    "q236_mcnemar" -> { (s, dir) =>
      val truth = col("l_returnflag") === "R"
      Stats.mcnemar(t(s, dir, "lineitem"),
        (col("l_quantity") > 25) === truth,
        (col("l_extendedprice") > 30000) === truth)
    },

    // Lorenz / concentration deciles of customer spend — "the top decile
    // holds X% of revenue", integer cents end-to-end.
    "q237_lorenz" -> { (s, dir) =>
      Behavior.lorenz(t(s, dir, "orders"), "o_custkey", "o_totalprice", 10)
    },

    // Hive-partitioned parquet sink round-trip: write orders partitioned
    // by month, read back ONE partition (the scan must prune to it —
    // IoSpec pins the plan), aggregate. The 100 TB layout primitive.
    "q239_partitioned_sink" -> { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_q239").toString
      val src = t(s, dir, "orders")
        .withColumn("o_month", month(col("o_orderdate")))
      src.write.mode("overwrite").partitionBy("o_month")
        .parquet(s"$tmp/orders_part")
      s.read.parquet(s"$tmp/orders_part")
        .filter(col("o_month") === 1)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    },

    // Z-order (Morton) clustering quality: bucket events by the top z
    // bits over (user_id, value) cells and report each bucket's bounding
    // box — tight boxes are what parquet min/max file stats prune on.
    "q240_zorder" -> { (s, dir) =>
      Layout.zorderStats(
        t(s, dir, "events")
          .filter(col("value").isNotNull && !isnan(col("value"))),
        "user_id", "value", 64)
    },

    // Schema evolution: two parquet batches with DIFFERENT schemas (an
    // added column, a dropped one) merged on read — the long-lived-table
    // reality every 100 TB lake hits. mergeSchema unions the fields;
    // missing columns surface as nulls, audited per batch.
    "q241_schema_evolution" -> { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_q241").toString
      val c = t(s, dir, "customer")
      c.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_acctbal"), lit(1).as("src"))
        .write.mode("overwrite").parquet(s"$tmp/b1")
      c.filter(col("c_custkey") % 2 === 1)
        .select(col("c_custkey"), col("c_mktsegment"), lit(2).as("src"))
        .write.mode("overwrite").parquet(s"$tmp/b2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$tmp/b1", s"$tmp/b2")
        .groupBy(col("src"))
        .agg(count(lit(1)).as("n"),
          count(col("c_acctbal")).as("n_bal"),
          count(col("c_mktsegment")).as("n_seg"),
          dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy(col("src"))
    },

    // Small-file compaction: 50 tiny shuffled files rewritten into 4
    // range-partitioned, internally sorted ones (IoSpec pins the file
    // count and the per-file key ranges); values must survive untouched.
    "q242_compaction" -> { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_q242").toString
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      ev.repartition(50).write.mode("overwrite").parquet(s"$tmp/small")
      val compacted = Layout.compact(s.read.parquet(s"$tmp/small"), 4,
        Seq("user_id", "event_id"))
      compacted.write.mode("overwrite").parquet(s"$tmp/compacted")
      s.read.parquet(s"$tmp/compacted")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    },

    // Dynamic partition pruning: month-partitioned orders joined to a
    // tiny quarter dim filtered to Q1 — the runtime filter must prune the
    // fact scan to 3 of 12 partitions (PlanGuardSpec pins the
    // dynamicpruning subquery in the executed plan).
    "q243_dpp" -> { (s, dir) =>
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft_q243").toString
      t(s, dir, "orders")
        .withColumn("o_month", month(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_month")
        .parquet(s"$tmp/orders_part")
      // the dim must be a REAL source (not a folded LocalRelation) or
      // the DPP rule sees no selective predicate to reuse
      (1 to 12).map(m => (m, s"Q${(m - 1) / 3 + 1}"))
        .toDF("m_month", "m_quarter")
        .write.mode("overwrite").parquet(s"$tmp/quarters")
      val quarters = s.read.parquet(s"$tmp/quarters")
      s.read.parquet(s"$tmp/orders_part")
        .join(quarters.filter(col("m_quarter") === "Q1"),
          col("o_month") === col("m_month"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    },

    // Isotonic (PAV) calibration of the q168 reliability table: monotone
    // probability fit via the minimax closed form over the decile frame.
    "q244_isotonic" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
        .withColumn("label", when(col("lang") === "en", 1L).otherwise(0L))
      graft.ops.Ml.isotonicCalibration(docs, "n_chars", "label", 10)
    },

    // Mann-Kendall trend test on monthly revenue (exact integer cents):
    // the nonparametric sibling of q181's Theil-Sen slope.
    "q245_mann_kendall" -> { (s, dir) =>
      val monthly = t(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
        .agg((sum(col("o_totalprice").cast(DecimalType(38, 2))) * 100)
          .cast(LongType).as("cents"))
      Stats.mannKendall(monthly, "m", "cents")
    },

    // Cochran-Mantel-Haenszel: does even-custkey exposure associate with
    // 'F' status AFTER stratifying by order priority?
    "q246_cmh" -> { (s, dir) =>
      Stats.cmh(t(s, dir, "orders"), "o_orderpriority",
        col("o_custkey") % 2 === 0, col("o_orderstatus") === "F")
    },

    // Sketch-partial persistence: per-day KMV user sketches written to
    // parquet, merged MONTHS later without rescanning history — the
    // incremental COUNT DISTINCT (q203's pattern for a non-associative
    // aggregate made associative by the sketch). Oracle replays the
    // portable bottom-k estimate exactly.
    "q247_sketch_persist" -> { (s, dir) =>
      graft.functions.Kmv.register(s)
      val k = 256
      val tmp = java.nio.file.Files.createTempDirectory("graft_q247").toString
      t(s, dir, "events")
        .select(to_date(col("ts")).as("day"),
          graft.llm.TextDedup.h60(col("user_id").cast(StringType)).as("h"))
        .groupBy(col("day")).agg(expr(s"kmv_sketch(h, $k)").as("sk"))
        .write.mode("overwrite").parquet(s"$tmp/daily")
      val daily = s.read.parquet(s"$tmp/daily")
      val merged = daily.select(explode(col("sk")).as("h")).distinct()
        .orderBy(col("h")).limit(k)
        .collectBounded(k, "top-k merged sketch hashes").map(_.getLong(0))
      val exact = t(s, dir, "events")
        .agg(countDistinct(col("user_id"))).collectBounded(1, "one-row distinct count")(0).getLong(0)
      import s.implicits._
      Seq((daily.count(), graft.functions.Kmv.estimate(merged, k), exact))
        .toDF("n_days", "est_users", "exact_users")
    },

    // Hill tail-index of the customer order-count distribution — the
    // power-law / heavy-tail audit (degree distributions, doc lengths).
    "q249_power_law" -> { (s, dir) =>
      val deg = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("degree"))
      Stats.hillTailIndex(deg, "degree", 3L)
    },

    // Point-in-time feature join (the feature-store materialization):
    // each event enriched with the user's LATEST order strictly at or
    // before the event — no leakage from the future. Keyed as-of join
    // against the per-(customer, day) latest-order frame.
    "q250_pit_features" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"))
      val od = t(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(struct(col("o_orderkey"), col("o_totalprice"))).as("__m"))
        .select(col("o_custkey"), col("o_orderdate"),
          col("__m.o_orderkey").as("last_orderkey"),
          col("__m.o_totalprice").as("last_total"))
      Joins.asofJoin(ev, od, "ts", "o_orderdate",
          Seq(("user_id", "o_custkey")), Joins.Backward,
          allowExactMatch = true)
        .select(col("event_id"), col("user_id"), col("last_orderkey"),
          datediff(col("ts").cast(DateType),
            col("o_orderdate").cast(DateType)).cast(LongType)
            .as("days_since"),
          col("last_total"))
        .orderBy(col("event_id"))
    },

    // Top-k per group — the "3 biggest accounts per nation" shape. At
    // scale Spark rewrites the rank filter into WindowGroupLimit (a
    // per-partition top-k heap BEFORE the shuffle; PlanGuardSpec pins
    // it), so no group's full membership is ever sorted.
    "q252_topk_per_group" -> { (s, dir) =>
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      t(s, dir, "customer")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("c_nationkey"), col("rnk"), col("c_custkey"),
          col("c_acctbal"))
        .orderBy(col("c_nationkey"), col("rnk"))
    },

    // Portable count-min sketch: O(d·w) counters no matter the key
    // cardinality; md5-derived row hashes replay in SQL (the KMV
    // contract for frequencies). est ≥ exact, audited side by side.
    "q253_cms_freq" -> { (s, dir) =>
      Reductions.cmsFrequency(t(s, dir, "lineitem"), "l_partkey",
        (1 to 10).map(_.toString), depth = 4, width = 256)
    },

    // 10% two-sided trimmed mean per flag: groupQuantiles cutoffs
    // broadcast back, conditional exact-decimal mean — the robust mean
    // between plain mean and median.
    "q254_trimmed_mean" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val cuts = Reductions.groupQuantiles(li, "l_returnflag",
          "l_extendedprice", Seq("lo" -> 0.1, "hi" -> 0.9))
        .select(col("l_returnflag"), col("lo"), col("hi"))
      li.join(broadcast(cuts), "l_returnflag")
        .filter(col("l_extendedprice") >= col("lo") &&
          col("l_extendedprice") <= col("hi"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_kept"),
          (dsum(col("l_extendedprice"), 2) / count(lit(1)))
            .as("trimmed_mean"))
        .orderBy(col("l_returnflag"))
    },

    // k-fold cross-validated regression in ONE data pass: train moments
    // by SUBTRACTION from the totals (associative exact partials), k
    // closed forms on the O(k) frame, one scoring pass for RMSE.
    "q256_cv_scores" -> { (s, dir) =>
      Ml.crossValidateSimpleRegression(t(s, dir, "lineitem"),
        "l_orderkey", "l_quantity", "l_extendedprice", 5)
    },

    // Leave-one-out target encoding: each customer's segment encoded by
    // the segment's mean balance EXCLUDING the row itself — the feature
    // that avoids self-leakage; exact decimal sums, one broadcast join.
    "q257_target_encode" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      val agg = c.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("__n"),
          sum(col("c_acctbal").cast(DecimalType(38, 2))).as("__s"))
      c.join(broadcast(agg), "c_mktsegment")
        .select(col("c_custkey"), col("c_mktsegment"),
          when(col("__n") > 1,
            (col("__s").cast(DoubleType) - col("c_acctbal")) /
              (col("__n") - 1).cast(DoubleType)).as("loo_mean_bal"))
        .orderBy(col("c_custkey"))
    },

    // Feature hashing (the hashing trick): categorical features folded
    // into 64 signed buckets via md5-derived hash+sign — fixed-width
    // vectors at ANY vocabulary size; per-bucket sums audited.
    "q258_feature_hash" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      val feats = c.select(explode(array(
        concat(lit("seg="), col("c_mktsegment")),
        concat(lit("nation="), col("c_nationkey").cast(StringType))))
        .as("feat"))
      val h = graft.llm.TextDedup.h60(col("feat"))
      feats
        .select(pmod(h, lit(64L)).as("bucket"),
          when(shiftright(h, 6).bitwiseAND(lit(1L)) === 0L,
            lit(1L)).otherwise(lit(-1L)).as("sign"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_feats"), sum(col("sign")).as("signed_sum"))
        .orderBy(col("bucket"))
    },

    // Difference-in-differences: treated (even users) vs control around
    // the 2024-01-16 split — the causal-readout arithmetic from four
    // exact-sum cell means.
    "q259_did" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .withColumn("treated", col("user_id") % 2 === 0)
        .withColumn("post", col("ts") >= lit("2024-01-16").cast(TimestampType))
      val cells = ev.groupBy(col("treated"), col("post"))
        .agg(count(lit(1)).as("n"),
          (sum(col("value").cast(DecimalType(38, 2))).cast(DoubleType) /
            count(lit(1))).as("mean_value"))
      val m = (t: Boolean, p: Boolean) =>
        max(when(col("treated") === t && col("post") === p,
          col("mean_value")))
      cells.agg(m(true, false).as("treat_pre"), m(true, true).as("treat_post"),
          m(false, false).as("ctrl_pre"), m(false, true).as("ctrl_post"))
        .select(col("treat_pre"), col("treat_post"), col("ctrl_pre"),
          col("ctrl_post"),
          ((col("treat_post") - col("treat_pre")) -
            (col("ctrl_post") - col("ctrl_pre"))).as("did"))
    },

    // STREAMING daily rollup + batch serving cut: the stream maintains
    // the windowed counts; the top-2-types-per-day rank runs on the
    // O(days × types) sink table, never inside the stream.
    "q264_stream_topn" -> { (s, dir) =>
      val sink = graft.streaming.EventStream.runToMemorySink(
        graft.streaming.EventStream.dailyTypeCounts(s, dir),
        s"q264_sink_${System.nanoTime()}", statePartitions = Some(8),
        // daily windows over the time range × event types (Complete mode
        // evicts nothing) — in-memory provider
        boundedState = true)
      val w = Window.partitionBy(col("day"))
        .orderBy(col("n").desc, col("event_type"))
      sink.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 2)
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("rnk").cast(LongType).as("rnk"), col("event_type"), col("n"))
        .orderBy(col("day"), col("rnk"))
    },

    // STREAMING foreachBatch change-log ingestion + latest-wins
    // compaction on read — CDC without a table format: the stream only
    // ever APPENDS; per-user current state is the struct-max pick.
    "q265_stream_changelog" -> { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_q265").toString
      val log = graft.streaming.EventStream.changeLogSink(
        graft.streaming.EventStream.eventsStream(s, dir), s"$tmp/log")
      log.groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
          col("value"))).as("__m"))
        .select(col("user_id"), col("__m.event_id").as("last_event_id"),
          col("__m.event_type").as("last_type"),
          col("__m.value").as("last_value"))
        .orderBy(col("user_id"))
    },

    // Two-factor cell-means decomposition of value over
    // (event_type × even/odd cohort) — main-effect F's + the
    // interaction remainder.
    "q275_two_way_anova" -> { (s, dir) =>
      val ev = t(s, dir, "events").withColumn("cohort",
        when(col("user_id") % 2 === 0, "even").otherwise("odd"))
      Stats.twoWayAnova(ev, "event_type", "cohort", "value")
    },

    // Friedman test: do the five event types rank the same within every
    // complete user block? Scores = per-(user, type) exact mean value.
    "q276_friedman" -> { (s, dir) =>
      val scores = t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg((sum(col("value").cast(DecimalType(38, 2))).cast(DoubleType) /
          count(lit(1))).as("score"))
      Stats.friedman(scores, "user_id", "event_type", "score")
    },

    // Wald-Wolfowitz runs test on the daily-revenue series, mean-split:
    // too few runs = trending, too many = oscillating.
    "q277_runs_test" -> { (s, dir) =>
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg((sum(col("o_totalprice").cast(DecimalType(38, 2))) * 100)
          .cast(LongType).as("cents"))
      Stats.runsTest(daily, "d", "cents",
        sum(col("cents")).cast(DoubleType) / count(lit(1)))
    },

    // descriptive stats over DATETIME columns — min/mean/max AS
    // timestamps (reference datetime_test.clj stocks-descriptive-stats);
    // exact integer epoch-micros mean (decimal sum, one integer div).
    "q282_datetime_stats" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("ts"), col("ts").cast(DateType).as("day"))
      Reductions.descriptiveStatsDatetime(ev, Seq("day", "ts"))
        .orderBy(col("column"))
    },

    // Calendar-unit variable rolling window (reference rolling.clj
    // :variable windows with :units :months): per customer, trailing
    // 3-calendar-month order count + exact sum — the frame DuckDB writes
    // as RANGE BETWEEN INTERVAL 3 MONTH PRECEDING AND CURRENT ROW.
    // Month-bucketed join-aggregate, no global window (Rolling.scala).
    "q284_calendar_rolling" -> { (s, dir) =>
      Rolling.rollingRangeCalendar(
        t(s, dir, "orders"), "o_orderdate", 3, "months", Seq("o_custkey"),
        Seq(
          ("n_3m", "o_orderkey", c => count(c)),
          ("sum_3m", "o_totalprice", c =>
            sum(floor(c * lit(100)).cast(DecimalType(30, 0)))
              .cast(DoubleType) / lit(100))))
        .selectColumns("o_orderkey", "o_custkey", "n_3m", "sum_3m")
        .orderBy(col("o_orderkey"))
    },

    // Logical :uuid dtype tag (reference io/column_parsers.clj:54-120):
    // md5-derived uuid strings with injected uppercase + invalid values,
    // parsed/normalized via Dtypes.parseTagged (lowercase canonical,
    // parse-failure -> NULL), round-tripped through the Snapshot sink
    // (tag rides :spark-meta; DtypesSpec pins Arrow/Transit too).
    "q285_uuid_tags" -> { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_q285").toString
      val m = md5(col("o_orderkey").cast(StringType))
      val raw = t(s, dir, "orders").filter(col("o_orderkey") < 4000)
        .select(col("o_orderkey"),
          concat_ws("-", substring(m, 1, 8), substring(m, 9, 4),
            substring(m, 13, 4), substring(m, 17, 4),
            substring(m, 21, 12)).as("u"))
        .withColumn("u",
          when(col("o_orderkey") % 7 === 0, upper(col("u")))
            .when(col("o_orderkey") % 13 === 0, lit("bogus"))
            .otherwise(col("u")))
      val parsed = graft.ops.Dtypes.parseTagged(raw, "u", "uuid")
      graft.sources.Snapshot.write(parsed, s"$tmp/u.edn", "uuids")
      val back = graft.sources.Snapshot.read(s, s"$tmp/u.edn")
      require(graft.ops.Dtypes.tagOf(back.schema, "u").contains("uuid"),
        "uuid tag lost through snapshot")
      back.withColumn("is_valid", col("u").isNotNull)
        .orderBy(col("o_orderkey"))
    },

    // Partial correlation: quantity ↔ price with tax controlled —
    // three Pearsons from ONE exact co-moment aggregation.
    "q271_partial_corr" -> { (s, dir) =>
      Stats.partialCorr(t(s, dir, "lineitem"), "l_quantity",
        "l_extendedprice", "l_tax")
    },

    // Cronbach's alpha over three lineitem "items" — the internal-
    // consistency reliability of a composite score.
    "q272_cronbach" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .withColumn("i1", col("l_quantity").cast(DoubleType))
        .withColumn("i2", col("l_discount") * 100.0)
        .withColumn("i3", col("l_tax") * 100.0)
      Stats.cronbachAlpha(li, Seq("i1", "i2", "i3"))
    },

    // Median with a distribution-free order-statistic CI per flag —
    // rank-pick endpoints, no bootstrap, no normality assumption.
    "q273_median_ci" -> { (s, dir) =>
      Reductions.medianWithCI(t(s, dir, "lineitem"), "l_returnflag",
          "l_extendedprice")
        .orderBy(col("l_returnflag"))
    },

    // Index series: monthly revenue rebased to first month = 100 — the
    // BI normalization (integer cents, one bounded-frame window).
    "q274_index_series" -> { (s, dir) =>
      val monthly = t(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
        .agg((sum(col("o_totalprice").cast(DecimalType(38, 2))) * 100)
          .cast(LongType).as("cents"))
      val w = Window.orderBy(col("m"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      monthly.withColumn("__first", first(col("cents")).over(w))
        .select(date_format(col("m"), "yyyy-MM-dd").as("month"),
          col("cents"),
          (lit(100.0) * col("cents").cast(DoubleType) /
            col("__first").cast(DoubleType)).as("idx"))
        .orderBy(col("month"))
    },

    // Cohen's kappa between the two returns rules — chance-corrected
    // agreement, integers until the final two divisions.
    "q267_cohens_kappa" -> { (s, dir) =>
      val a = col("l_quantity") > 25
      val b = col("l_extendedprice") > 30000
      val cnt = (pa: Boolean, pb: Boolean) =>
        sum(when(a === lit(pa) && b === lit(pb), 1L).otherwise(0L))
      val agg = t(s, dir, "lineitem")
        .filter(a.isNotNull && b.isNotNull)
        .agg(cnt(false, false).as("n00"), cnt(false, true).as("n01"),
          cnt(true, false).as("n10"), cnt(true, true).as("n11"))
      val n = (col("n00") + col("n01") + col("n10") + col("n11"))
        .cast(DoubleType)
      val po = (col("n00") + col("n11")).cast(DoubleType) / n
      val pe = ((col("n10") + col("n11")).cast(DoubleType) *
        (col("n01") + col("n11")).cast(DoubleType) +
        (col("n00") + col("n01")).cast(DoubleType) *
          (col("n00") + col("n10")).cast(DoubleType)) / (n * n)
      agg.select(col("n00"), col("n01"), col("n10"), col("n11"),
        po.as("po"), pe.as("pe"),
        when(pe < 1.0, (po - pe) / (lit(1.0) - pe)).as("kappa"))
    },

    // Wilson score interval for the incident rate (value > 90) per
    // event type — the small-n-safe proportion CI (z = 1.96 literal).
    "q268_wilson_ci" -> { (s, dir) =>
      val per = t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") > 90.0, 1L).otherwise(0L)).as("x"))
      val nD = col("n").cast(DoubleType); val xD = col("x").cast(DoubleType)
      val z = lit(1.96); val z2 = z * z
      val p = xD / nD
      val denom = lit(1.0) + z2 / nD
      val center = (p + z2 / (lit(2.0) * nD)) / denom
      val half = z * sqrt(p * (lit(1.0) - p) / nD +
        z2 / (lit(4.0) * nD * nD)) / denom
      per.select(col("event_type"), col("n"), col("x"),
          p.as("p_hat"), (center - half).as("ci_lo"),
          (center + half).as("ci_hi"))
        .orderBy(col("event_type"))
    },

    // Cohen's d / Hedges' g effect size of value between the even/odd
    // cohorts — "is the significant difference actually big?"
    "q269_effect_size" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .withColumn("g", when(col("user_id") % 2 === 0, "even")
          .otherwise("odd"))
        .filter(col("value").isNotNull && !isnan(col("value")))
      def m(gv: String, f: org.apache.spark.sql.Column) =
        max(when(col("g") === gv, f))
      val per = ev.groupBy(col("g"))
        .agg(count(lit(1)).as("n"), isum(col("value"), 6).as("s"),
          isum(col("value") * col("value"), 6).as("ss"))
      val wide = per.agg(m("even", col("n")).as("n1"),
        m("even", col("s")).as("s1"), m("even", col("ss")).as("ss1"),
        m("odd", col("n")).as("n2"), m("odd", col("s")).as("s2"),
        m("odd", col("ss")).as("ss2"))
      val n1 = col("n1").cast(DoubleType); val n2 = col("n2").cast(DoubleType)
      val m1 = col("s1") / n1; val m2 = col("s2") / n2
      val v1 = (col("ss1") - col("s1") * col("s1") / n1) / (n1 - 1.0)
      val v2 = (col("ss2") - col("s2") * col("s2") / n2) / (n2 - 1.0)
      val sp = sqrt(((n1 - 1.0) * v1 + (n2 - 1.0) * v2) / (n1 + n2 - 2.0))
      val d = (m1 - m2) / sp
      wide.select(col("n1"), col("n2"), m1.as("mean1"), m2.as("mean2"),
        d.as("cohens_d"),
        (d * (lit(1.0) - lit(3.0) / (lit(4.0) * (n1 + n2) - 9.0)))
          .as("hedges_g"))
    },

    // Flagship star join: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈
    // region('ASIA') → revenue per nation. PlanGuardSpec pins the dims
    // to BROADCAST joins (no cartesian, no shuffled dim) — the plan
    // shape that decides a 100 TB fact-table query.
    "q270_star_join" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      li.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          isum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("revenue"))
        .orderBy(col("n_name"))
    },

    // Box-Cox ladder: which variance-stabilizing transform fits the
    // value metric — profile log-likelihood over the libm-free λ grid.
    "q260_boxcox" -> { (s, dir) =>
      Stats.boxCoxLadder(t(s, dir, "events"), "value")
    },

    // Weight-of-evidence / information value of source vs English —
    // the credit-scoring encoder as a curation audit.
    "q261_woe" -> { (s, dir) =>
      Stats.woeTable(t(s, dir, "documents"), "source",
        col("lang") === "en")
    },

    // Economic Gini of customer spend (integer cents, exact): the
    // single-number inequality companion to q237's Lorenz table,
    // computed from the range-partitioned distinct-value frame —
    // no global window.
    "q262_gini_coeff" -> { (s, dir) =>
      val per = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg((sum(col("o_totalprice").cast(DecimalType(38, 2))) * 100)
          .cast(LongType).as("cents"))
      Reductions.giniCoefficient(per, "cents")
    },

    // Inter-arrival time quantiles per event type — the ops latency
    // profile of the event stream (keyed lead + groupQuantiles).
    "q263_interarrival" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val gaps = t(s, dir, "events")
        .withColumn("__next", lead(unix_micros(col("ts")), 1).over(w))
        .filter(col("__next").isNotNull)
        .withColumn("gap_s",
          (col("__next") - unix_micros(col("ts"))).cast(DoubleType) /
            lit(1e6))
      Reductions.groupQuantiles(gaps, "event_type", "gap_s",
          Seq("p50" -> 0.5, "p90" -> 0.9))
        .orderBy(col("event_type"))
    },

    // Longest consecutive-day activity streak per user — the classic
    // gaps-and-islands grouping (day − row_number is constant within a
    // run); ties on length go to the latest start (struct max).
    "q255_streaks" -> { (s, dir) =>
      val days = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val grp = days.withColumn("grp",
        datediff(col("day"), lit("2024-01-01").cast(DateType)) -
          row_number().over(w))
      grp.groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"), min(col("day")).as("start_day"))
        .groupBy(col("user_id"))
        .agg(max(struct(col("len"), col("start_day"))).as("__m"))
        .select(col("user_id"), col("__m.len").as("longest_streak"),
          date_format(col("__m.start_day"), "yyyy-MM-dd")
            .as("streak_start"))
        .orderBy(col("user_id"))
    },

    // Jarque-Bera normality test of the event value per type — the
    // moment-based gate (skewness² + excess-kurtosis²) that decides
    // whether the t/z machinery upstream is even applicable.
    "q361_jarque_bera" -> { (s, dir) =>
      Stats.jarqueBera(t(s, dir, "events"), "value", "event_type")
        .orderBy(col("event_type"))
    },

    // Tukey HSD post-hoc after q175's ANOVA: WHICH event-type pairs
    // differ, via the studentized-range statistic (Tukey-Kramer
    // unequal-n form) over the same exact moment pass.
    "q362_tukey_hsd" -> { (s, dir) =>
      Stats.tukeyHsd(t(s, dir, "events"), "value", "event_type")
        .orderBy(col("group_a"), col("group_b"))
    },

    // Page-Hinkley drift monitor on the hourly mean event value:
    // cumulative deviation from the RUNNING mean (CUSUM tracks a fixed
    // reference; PH tracks the evolving one). delta/lambda sized to the
    // synthetic series' noise floor so the alarm branch is exercised.
    "q363_page_hinkley" -> { (s, dir) =>
      Stats.pageHinkley(t(s, dir, "events"), "ts", "value",
        delta = 0.1, lambda = 200.0)
    },

    // Granger causality (lag-1): do views help predict next-hour clicks
    // beyond clicks' own history? Integer-exact hourly count moments,
    // restricted-vs-full OLS F via the q112 Cramer mirror.
    "q364_granger" -> { (s, dir) =>
      Stats.grangerLag1(t(s, dir, "events"), "ts", "event_type",
        yType = "click", xType = "view")
    },

    // Weighted shortest paths on the symmetric trading graph (edge cost =
    // the cheapest line quantity ever shipped on the relationship), 3
    // Bellman-Ford rounds from the lowest node id — q351's BFS with real
    // costs, integer-exact relaxations.
    "q365_sssp" -> { (s, dir) =>
      val j = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("cnode"),
          (col("l_suppkey") * 2 + 1).as("snode"),
          floor(col("l_quantity")).cast(LongType).as("w"))
        // r20 (guide §2.3 aggregate before you shuffle): collapse to the
        // per-pair min BEFORE doubling the rows — the operator's own
        // per-directed-pair min-collapse then aggregates min-of-min, the
        // identical integer (both directions of a pair carry the same
        // weight set)
        .groupBy(col("cnode"), col("snode")).agg(min(col("w")).as("w"))
      // r19: persist the weighted edge frame — the source readout and the
      // operator's edge build otherwise each re-derive it from parquet.
      // r20 (guide §2.4): both directions via explode — the self-union
      // evaluated the orders⋈lineitem join once per branch per pass.
      val e = j.select(explode(array(
          struct(col("cnode").as("src"), col("snode").as("dst"), col("w")),
          struct(col("snode").as("src"), col("cnode").as("dst"), col("w"))))
          .as("__e"))
        .select(col("__e.src").as("src"), col("__e.dst").as("dst"),
          col("__e.w").as("w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val source = e.agg(min(col("src")))
        .collectBounded(1, "O(1) SSSP source-node readout").head.getLong(0)
      val out = Graph.ssspWeighted(e, "src", "dst", "w", Seq(source),
        rounds = 3).orderBy(col("id"))
      e.unpersist() // sssp state is checkpointed; the cache is done
      out
    },

    // Bradley-Terry brand-preference strengths from within-order price
    // duels: every line pair in an order with different brands and prices
    // is one comparison (pricier line wins); 5 exact MM rounds.
    "q366_bradley_terry" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_extendedprice"))
        .join(t(s, dir, "part").select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
      val a = li.select(col("l_orderkey").as("__ok"),
        struct(col("l_linenumber"), col("l_partkey"),
          col("l_extendedprice")).as("__ka"),
        col("l_extendedprice").as("__pa"), col("p_brand").as("__ba"))
      val b = li.select(col("l_orderkey").as("__ok"),
        struct(col("l_linenumber"), col("l_partkey"),
          col("l_extendedprice")).as("__kb"),
        col("l_extendedprice").as("__pb"), col("p_brand").as("__bb"))
      val cmp = a.join(b, Seq("__ok"))
        .filter(col("__ka") < col("__kb") && col("__ba") =!= col("__bb") &&
          col("__pa") =!= col("__pb"))
        .select(
          when(col("__pa") > col("__pb"), col("__ba")).otherwise(col("__bb"))
            .as("winner"),
          when(col("__pa") > col("__pb"), col("__bb")).otherwise(col("__ba"))
            .as("loser"))
      Stats.bradleyTerry(cmp, "winner", "loser", iters = 5)
        .orderBy(col("item"))
    },

    // Logistic regression per user cohort: P(click | value) via 4 exact
    // IRLS rounds — the classification-side fixed-round solver next to
    // q360's Huber IRLS.
    "q367_logistic" -> { (s, dir) =>
      val e = t(s, dir, "events")
        .select(pmod(col("user_id"), lit(4)).as("cohort"), col("value"),
          when(col("event_type") === "click", 1.0).otherwise(0.0)
            .as("label"))
      graft.ops.Ml.logisticSimpleByGroup(e, "cohort", "value", "label",
          iters = 4)
        .orderBy(col("cohort"))
    },

    // DTW of each user's 24-point hour-of-day value profile against the
    // corpus profile — elastic shape deviation (a user active 2 h late is
    // CLOSE under DTW, far under L2); the codegen DP kernel per key.
    "q369_dtw_profile" -> { (s, dir) =>
      Stats.dtwHourlyProfile(t(s, dir, "events"), "user_id", "ts", "value")
        .orderBy(col("user_id"))
    },

    // Wasserstein-1 distance between click and view value distributions —
    // the shift MAGNITUDE in value units (q295's PSI says it moved; W1
    // says by how much), via the range-partitioned cumulate.
    "q370_wasserstein" -> { (s, dir) =>
      Stats.wasserstein1(t(s, dir, "events"), "value", "event_type",
        "click", "view")
    },

    // Cliff's delta effect size for click vs purchase values — the
    // ordinal "how separated" companion to q151's Mann-Whitney p-value,
    // from the same doubled-rank machinery.
    "q371_cliffs_delta" -> { (s, dir) =>
      Stats.cliffsDelta(t(s, dir, "events"), "value", "event_type",
        "click", "purchase")
    },

    // Energy distance click vs view — zero iff the distributions match,
    // sensitive to shape (not just location); all three expectations from
    // ONE cumulate scan (the q370 plan, three accumulators).
    "q372_energy_distance" -> { (s, dir) =>
      Stats.energyDistance(t(s, dir, "events"), "value", "event_type",
        "click", "view")
    },

    // ADF unit-root test on the hourly click series — random walk or
    // mean-reverting? Integer hourly moments, closed-form DF statistic.
    "q374_adf" -> { (s, dir) =>
      Stats.adfTest(t(s, dir, "events"), "ts", "event_type", "click")
    },

    // Cochran-Armitage: does the FINISHED share trend monotonically with
    // order priority? Integer score moments off one keyed aggregation.
    "q375_trend_test" -> { (s, dir) =>
      Stats.cochranArmitage(t(s, dir, "orders"), "o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        col("o_orderstatus") === "F")
    },

    // Benford first-digit audit of extended prices — the fabricated-data
    // / unit-mix screen; string-based digit extraction, pinned chi2.
    "q376_benford" -> { (s, dir) =>
      Stats.benfordTest(t(s, dir, "lineitem"), "l_extendedprice")
        .orderBy(col("digit"))
    },

    // Deming (orthogonal) regression of price-per-1000 on quantity —
    // both sides noisy, OLS attenuates; TLS closed form from exact
    // moments, OLS slope alongside for the attenuation readout.
    "q377_deming" -> { (s, dir) =>
      Stats.demingRegression(
        t(s, dir, "lineitem").select(
          col("l_quantity").cast(DoubleType).as("x"),
          (col("l_extendedprice").cast(DoubleType) / lit(1000.0)).as("y")),
        "x", "y")
    },

    // On-balance volume per event type (price = value, deterministic
    // synthetic volume): exact integer signed cumulate, one keyed window.
    "q378_obv" -> { (s, dir) =>
      Indicators.obv(
        t(s, dir, "events").withColumn("vol",
          ((col("event_id") % 100) + 1).cast(DoubleType)),
        Seq("event_type"), Seq("ts", "event_id"), "value", "vol")
        .select(col("event_id"), col("event_type"), col("obv"))
        .orderBy(col("event_id"))
    },

    // Local clustering coefficient per nation over the q184 trade-flow
    // graph — link farm vs community, per node.
    "q380_local_clustering" -> { (s, dir) =>
      val flows = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      Graph.localClustering(flows, "src", "dst").orderBy(col("id"))
    },

    // Harmonic centrality over the trading graph via portable KMV
    // neighborhood sketches (the HyperBall family, radius 2, k = 16) —
    // every round and the estimator replay bit-exactly in SQL.
    "q381_harmonic_centrality" -> { (s, dir) =>
      Graph.harmonicCentralityKmv(
        Graph.tradingPairsGraph(t(s, dir, "orders"), t(s, dir, "lineitem")),
        "src", "dst", radius = 2, k = 16)
        .orderBy(col("id"))
    },

    // Gumbel block-maxima fit of daily peak event values — the EVT
    // "what peak should I provision for" readout; moments closed form.
    "q385_gumbel" -> { (s, dir) =>
      Stats.gumbelFit(t(s, dir, "events"), "ts", "value", p = 0.99)
    },

    // Atkinson inequality (eps = 1) of order values — geomean/mean off
    // two exact sums.
    "q386_atkinson" -> { (s, dir) =>
      Stats.atkinsonIndex(t(s, dir, "orders"), "o_totalprice")
    },

    // 10%-trimmed mean of event values per type — the robust location
    // between mean and median, value-rank trimming.
    "q387_trimmed_mean" -> { (s, dir) =>
      Stats.trimmedMean(t(s, dir, "events"), "value", "event_type",
          alpha = 0.1)
        .orderBy(col("group"))
    },

    // Kleinberg-style 2-state burst detection on the hourly purchase
    // series — augmented integer Viterbi (no backtrack pass), the
    // regime-vs-noise spike detector. The synthetic series is flat, so
    // day 15 is DECORATED with 4 extra copies of each purchase (q124
    // policy — an input that cannot burst would make the oracle
    // vacuous); the mirror decorates identically.
    "q389_burst_detect" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val boost = ev.filter(col("event_type") === "purchase" &&
          dayofmonth(col("ts")) === 15)
        .withColumn("__r", explode(sequence(lit(1), lit(4))))
        .drop("__r")
      Stats.burstDetect(ev.unionByName(boost), "ts", "event_type",
        "purchase", s = 2.0, gamma = 1.0)
    },

    // Positional row selection with NEGATIVE (from-end) indices — the
    // reference's select-rows semantics (−1 = last row), resolved
    // in-plan via a broadcast 1-row count, mixed with positive indices.
    "q391_negative_row_select" -> { (s, dir) =>
      import graft.ops.TableOps._
      t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))
        .withRowIndex(Seq(col("s_suppkey")), "row_idx")
        .selectRows("row_idx", Seq(0L, 2L, -1L, -3L))
        .orderBy(col("row_idx"))
    },

    // HyperANF neighborhood function over the trading graph: per-radius
    // total ball mass N(r) + the effective-diameter 90% flag — the
    // whole-graph connectivity readout (same KMV round machinery as
    // q381, exact-decimal ball-mass sums).
    "q392_neighborhood_function" -> { (s, dir) =>
      Graph.neighborhoodFunction(
        Graph.tradingPairsGraph(t(s, dir, "orders"), t(s, dir, "lineitem")),
        "src", "dst", radius = 2, k = 16)
        .orderBy(col("r"))
    },

    // Mann-Kendall trend + Sen's slope on the hourly click-count
    // series — the nonparametric "is this metric trending" readout;
    // exact integer S, tie-corrected variance, lower-median slope.
    "q393_mann_kendall" -> { (s, dir) =>
      Stats.mannKendall(t(s, dir, "events"), "ts", "event_type", "click")
    },

    // Cramér's V between the two lineitem status categoricals — the
    // χ² association strength over the full r×c grid (zero cells
    // included), exact BIGINT contingency + floor-scaled term sum.
    "q394_cramers_v" -> { (s, dir) =>
      Stats.cramersV(t(s, dir, "lineitem"), "l_returnflag", "l_linestatus")
    },

    // KPSS level-stationarity test on the hourly click series — the
    // null-reversed companion of q374's ADF (ADF null = unit root,
    // KPSS null = stationary); exact integer partial sums, n⁴ cancels.
    "q395_kpss" -> { (s, dir) =>
      Stats.kpssTest(t(s, dir, "events"), "ts", "event_type", "click")
    },

    // Chatterjee's ξ between the hourly view-count and click-count
    // series — the functional-dependence coefficient (ties handled,
    // x-ties pinned by hour); integer-exact up to one final division.
    "q396_chatterjee_xi" -> { (s, dir) =>
      Stats.chatterjeeXi(t(s, dir, "events"), "ts", "event_type",
        "view", "click")
    },

    // Yule's K lexical-richness constant per language — the
    // sample-size-invariant repetitiveness readout over the q343
    // token-hash type counts.
    "q397_yule_k" -> { (s, dir) =>
      graft.llm.TextStats.yuleK(t(s, dir, "documents"), "text", "lang")
        .orderBy(col("group"))
    },

    // Chow structural-break test at the series midpoint on the hourly
    // view-count series — pooled-vs-two-piece OLS F; exact BIGINT
    // segment moments in one conditional-aggregate pass.
    "q398_chow_test" -> { (s, dir) =>
      Stats.chowTest(t(s, dir, "events"), "ts", "event_type", "view")
    },

    // Lo-MacKinlay variance ratio (q = 4, overlapping, uncorrected) on
    // the hourly click-count series — the random-walk test; exact
    // BIGINT difference sums, zero floor grids.
    "q399_variance_ratio" -> { (s, dir) =>
      Stats.varianceRatio(t(s, dir, "events"), "ts", "event_type",
        "click", q = 4)
    },

    // Cook's distance top-15 influencers of the price ~ quantity OLS —
    // the per-row regression-influence audit; one exact-sum moment
    // pass, fully distributed residual/leverage arithmetic.
    "q400_cooks_distance" -> { (s, dir) =>
      Stats.cooksDistance(t(s, dir, "lineitem"), "l_quantity",
        "l_extendedprice", Seq("l_orderkey", "l_linenumber"), topK = 15)
    },

    // Spectral entropy of the hourly purchase series over the first 8
    // Fourier frequencies — periodicity-vs-noise in one number; the
    // q357 portable trig kernel underneath.
    "q401_spectral_entropy" -> { (s, dir) =>
      val series = t(s, dir, "events")
        .filter(col("ts").isNotNull && col("event_type") === "purchase")
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("c"))
      Stats.spectralEntropy(series, Seq("h"), "c", maxK = 8)
    },

    // Adamic-Adar link prediction on the strong trade graph (q189's
    // above-average-flow edges): rare shared neighbors count more than
    // hubs; floor-scaled 1/ln(deg) sums, top-20.
    "q402_adamic_adar" -> { (s, dir) =>
      val flows = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
      val tot = flows.agg(sum(col("cnt")).as("ts"), count(lit(1)).as("np"))
      val strong = flows.crossJoin(broadcast(tot))
        .filter(col("cnt") * col("np") > col("ts"))
      Graph.adamicAdar(strong, "src", "dst", minCommon = 1L, topK = 20)
        .orderBy(col("aa_score").desc, col("a"), col("b"))
    },

    // Optimal depth-1 Gini stump: is quantity predictive of a return?
    // Exact per-value counts, bounded candidate grid, pinned impurities.
    "q403_decision_stump" -> { (s, dir) =>
      Ml.decisionStump(t(s, dir, "lineitem"), "l_quantity",
        col("l_returnflag") === "R")
    },

    // Jensen-Shannon divergence between every source-domain pair's
    // unigram distribution — the domain-mix distance matrix.
    "q404_js_divergence" -> { (s, dir) =>
      graft.llm.TextStats.jsDivergence(t(s, dir, "documents"), "text",
        "source")
        .orderBy(col("source_a"), col("source_b"))
    },

    // Personalized PageRank from a 5-customer seed cohort over the
    // trading graph — seed-relevance expansion; exact integer rounds
    // (teleport + dangling mass restricted to the seeds), top-20.
    "q405_personalized_pagerank" -> { (s, dir) =>
      val seeds = t(s, dir, "orders").filter(col("o_custkey") <= 5)
        .select((col("o_custkey") * 2).as("seed"))
      Graph.personalizedPageRank(
        Graph.tradingPairsGraph(t(s, dir, "orders"), t(s, dir, "lineitem")),
        "src", "dst", seeds, "seed", iters = 5, dedupEdges = false)
        .orderBy(col("r").desc, col("id")).limit(20)
    },

    // Turning-point randomness test on the hourly view series — the
    // classical i.i.d. check (strict local extrema count vs the
    // 2(n-2)/3 expectation).
    "q406_turning_points" -> { (s, dir) =>
      Stats.turningPointTest(t(s, dir, "events"), "ts", "event_type",
        "view")
    },

    // Sample entropy (m = 2, integer Chebyshev tolerance 2) of the
    // hourly purchase series — the regularity readout; exact pair
    // counts off the bounded O(h²) template frame.
    "q407_sample_entropy" -> { (s, dir) =>
      Stats.sampleEntropy(t(s, dir, "events"), "ts", "event_type",
        "purchase", rTol = 2L)
    },

    // Odds ratio + relative risk with Wald CIs: does URGENT priority
    // associate with final status F — the 2×2 epidemiology readout.
    "q408_odds_ratio" -> { (s, dir) =>
      Stats.oddsRatio(t(s, dir, "orders"),
        col("o_orderpriority") === "1-URGENT",
        col("o_orderstatus") === "F")
    },

    // k-truss (k = 4, 3 peel rounds) of the strong trade graph — the
    // triangle-dense community core; exact per-edge supports.
    "q409_k_truss" -> { (s, dir) =>
      val flows = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
      val tot = flows.agg(sum(col("cnt")).as("ts"), count(lit(1)).as("np"))
      val strong = flows.crossJoin(broadcast(tot))
        .filter(col("cnt") * col("np") > col("ts"))
      Graph.kTruss(strong, "src", "dst", k = 4, rounds = 3)
        .orderBy(col("a"), col("b"))
    },

    // Mood's median test: do the three return flags share a common
    // quantity median — k×2 χ² around the exact lower grand median.
    "q410_mood_median" -> { (s, dir) =>
      Stats.moodMedianTest(t(s, dir, "lineitem"), "l_quantity",
        "l_returnflag")
    },

    // Grubbs' single-outlier statistic on event values — one moment
    // pass, max deviation via max/min (no second scan).
    "q411_grubbs" -> { (s, dir) =>
      Stats.grubbs(t(s, dir, "events"), "value")
    },

    // Anderson-Darling two-sample (view vs purchase values) — the
    // tail-weighted distribution test; range-partitioned cumulate.
    "q412_anderson_darling" -> { (s, dir) =>
      Stats.andersonDarling2(t(s, dir, "events"), "value", "event_type",
        "view", "purchase")
    },

    // Jonckheere-Terpstra ordered trend: does quantity shift
    // monotonically across order priorities (1-URGENT .. 5-LOW)?
    "q413_jonckheere" -> { (s, dir) =>
      val joined = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
        .join(t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
      Stats.jonckheereTerpstra(joined, "l_quantity", "o_orderpriority")
    },

    // Average precision (step-wise PR-AUC) of value as a purchase
    // score — the imbalance-robust ranking metric next to q? rocAuc;
    // descending range-partitioned cumulate, no single-task sort.
    "q414_average_precision" -> { (s, dir) =>
      Stats.averagePrecision(t(s, dir, "events"), "value",
        col("event_type") === "purchase")
    },

    // Wang-Hyndman seasonal + trend strength of the daily count series
    // per event type (weekly period) — makes q199's decomposition
    // actionable as two bounded-[0,1] readouts.
    "q415_seasonal_strength" -> { (s, dir) =>
      val daily = t(s, dir, "events").filter(col("ts").isNotNull)
        .groupBy(col("event_type"),
          col("ts").cast(DateType).as("d"))
        .agg(count(lit(1)).as("c"))
      Advanced.seasonalStrength(daily, Seq("event_type"), Seq("d"), "c",
        period = 7)
        .orderBy(col("event_type"))
    },

    // Bipartite projection of the customer-supplier graph onto
    // suppliers: exact shared-customer weights + cosine normalization,
    // top-30 — the co-occurrence graph builder.
    "q416_bipartite_projection" -> { (s, dir) =>
      val cs = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
      Graph.bipartiteProjection(cs, "o_custkey", "l_suppkey", topK = 30)
        .orderBy(col("weight").desc, col("a"), col("b"))
    },

    // Neyman allocation of a 1000-row sample budget across return-flag
    // strata by price volatility — the optimal stratified-sampling
    // design readout.
    "q419_neyman_allocation" -> { (s, dir) =>
      Ml.neymanAllocation(t(s, dir, "lineitem"), "l_extendedprice",
        "l_returnflag", budget = 1000L)
        .orderBy(col("stratum"))
    },

    // Theil T inequality of event value with the between/within
    // event-type decomposition — is the concentration across types or
    // inside them? The additively-decomposable sibling of q386 Atkinson.
    "q420_theil_decomposition" -> { (s, dir) =>
      Stats.theilDecomposition(t(s, dir, "events"), "value", "event_type")
        .orderBy(col("grp"))
    },

    // Youden's J optimal threshold for value as a purchase score:
    // exact-integer argmax over the descending cumulate, ties to the
    // highest threshold — the operating-point selector next to rocAuc.
    "q421_youden_threshold" -> { (s, dir) =>
      Stats.youdenThreshold(t(s, dir, "events"), "value",
        col("event_type") === "purchase")
    },

    // Smoothed target encoding of part brand against line price
    // (m = 100): rare brands shrink toward the global mean — the
    // high-cardinality categorical featurizer.
    "q422_target_encode" -> { (s, dir) =>
      val j = t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))
        .join(t(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_extendedprice")),
          col("p_partkey") === col("l_partkey"))
      Ml.targetEncode(j, "p_brand", "l_extendedprice", m = 100.0)
        .orderBy(col("category"))
    },

    // D'Agostino-Pearson K2 omnibus normality per event type: the
    // finite-sample-calibrated companion of q361's Jarque-Bera, with
    // separate skew/kurtosis z components.
    "q423_dagostino_k2" -> { (s, dir) =>
      Stats.dagostinoK2(t(s, dir, "events"), "value", "event_type")
        .orderBy(col("event_type"))
    }
  )

  /** DuckDB mirror of Similarity.kmeansPortable + ivfTopKPortable: same md5
    * bottom-k init, the same left-to-right (x−c)² folds (list_reduce; ties to
    * the lower centroid index), the same floor-scaled exact-sum centroid
    * updates, `iters` unrolled iterations, then probe + exact-cosine ranking
    * (the q31 norm/dot mirror restricted to probed lists). */
  /** All-pairs tau-b DuckDB mirror over a lineitem subset: exact integer
    * concordant/discordant/tie counts over the pair frame, then the
    * identical tau-b double formula (shared by q68 pair-frame and q98
    * distributed — both Spark plans produce the same exact counts). */
  private def kendallLineitemOracle(whereSql: String): String = {
    val cols = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
    val pairs = for (a <- cols; b <- cols if a < b) yield (a, b)
    val cnts = Seq("COUNT(*) AS n0") ++
      cols.map(c => s"COUNT(CASE WHEN a.$c = b.$c THEN 1 END) AS t_$c") ++
      pairs.flatMap { case (x, y) => Seq(
        s"COUNT(CASE WHEN sign(a.$x - b.$x) * sign(a.$y - b.$y) > 0 THEN 1 END) AS c_${x}__$y",
        s"COUNT(CASE WHEN sign(a.$x - b.$x) * sign(a.$y - b.$y) < 0 THEN 1 END) AS d_${x}__$y")
      }
    def cell(a: String, b: String): String =
      if (a == b) "1.0"
      else {
        val (x, y) = if (a < b) (a, b) else (b, a)
        s"(CAST(c_${x}__$y AS DOUBLE) - CAST(d_${x}__$y AS DOUBLE)) / " +
          s"(sqrt(CAST(n0 AS DOUBLE) - CAST(t_$x AS DOUBLE)) * " +
          s"sqrt(CAST(n0 AS DOUBLE) - CAST(t_$y AS DOUBLE)))"
      }
    val rows = cols.map(a =>
      s"""SELECT '$a' AS "column", """ +
        cols.map(b => s"${cell(a, b)} AS $b").mkString(", ") + " FROM s")
    s"WITH d AS (SELECT row_number() OVER () AS rid, " +
      s"${cols.mkString(", ")} FROM lineitem WHERE $whereSql), " +
      s"s AS (SELECT ${cnts.mkString(", ")} FROM d a JOIN d b ON a.rid < b.rid) " +
      rows.mkString("SELECT * FROM (", " UNION ALL ", """) t ORDER BY "column"""")
  }

  /** DuckDB mirror of Graph.kCore over the strong-trade graph: the peel
    * rounds unrolled as CTEs (degree → keep ≥ k → surviving edges),
    * ending in the surviving-node degree table. */
  private def kcoreOracle(k: Int, rounds: Int): String = {
    val head =
      """WITH flows AS (SELECT c_nationkey AS src, s_nationkey AS dst,
           CAST(COUNT(*) AS BIGINT) AS cnt
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY 1, 2),
       tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS ts,
                      CAST(COUNT(*) AS BIGINT) AS np FROM flows),
       e0 AS MATERIALIZED (SELECT DISTINCT CAST(LEAST(src, dst) AS BIGINT) AS a,
                CAST(GREATEST(src, dst) AS BIGINT) AS b
              FROM flows, tot WHERE cnt * np > ts AND src <> dst)"""
    // MATERIALIZED: each round references the previous edge CTE three
    // times; inlining would expand the base scan 3^rounds times (DuckDB
    // ran out of file handles before the fix)
    val mids = (1 to rounds).map { r =>
      val p = r - 1
      s""",
       d$r AS (SELECT id, COUNT(*) AS d FROM (
            SELECT a AS id FROM e$p UNION ALL SELECT b FROM e$p) s$r GROUP BY 1),
       k$r AS (SELECT id FROM d$r WHERE d >= $k),
       e$r AS MATERIALIZED (SELECT e$p.a, e$p.b FROM e$p
            JOIN k$r x ON e$p.a = x.id JOIN k$r y ON e$p.b = y.id)"""
    }.mkString
    val tail = s"""
       SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
         SELECT a AS id FROM e$rounds UNION ALL SELECT b FROM e$rounds) fin
       GROUP BY 1 ORDER BY id"""
    head + mids + tail
  }

  private def sqDistSql(e: String, c: String) =
    s"list_reduce(list_transform(list_zip($e, $c), s -> (s[1]-s[2])*(s[1]-s[2])), (a,b) -> a+b)"

  /** DuckDB replay of Similarity.kmeansPortable, shared by the IVF and
    * SemDeDup oracles: md5-ordered seeding, per-iteration argmin
    * assignment (fixed-order distance fold, ties → lower centroid),
    * floor-scaled exact means. Emits CTEs `v` (corpus as double lists),
    * `c$iters` (final centroids) and `ca` (full-corpus assignment
    * corpus_id → centroid); splice after WITH. */
  private def kmeansCtes(nCent: Int, iters: Int, dim: Int,
                         fitModThresh: Option[Long]): String = {
    def dist(e: String, c: String) = sqDistSql(e, c)
    // vf = the fit sample (mirrors kmeansPortable's md5-Bernoulli keep);
    // init + every update iteration read vf, the final assignment reads v
    def iteration(i: Int): String = {
      val prev = s"c${i - 1}"
      s"""a$i AS (SELECT id, emb, centroid FROM (
           SELECT v.id, v.emb, c.centroid,
             row_number() OVER (PARTITION BY v.id
               ORDER BY ${dist("v.emb", "c.cent")}, c.centroid) AS rn
           FROM vf v, $prev c) WHERE rn = 1),
         u$i AS (SELECT centroid, i AS pos,
             (CAST(SUM(CAST(FLOOR(emb[i+1] * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE) / 1000000.0)
               / CAST(COUNT(*) AS DOUBLE) AS cd
           FROM a$i CROSS JOIN range(0, $dim) t(i) GROUP BY 1, 2),
         c$i AS MATERIALIZED (SELECT c.centroid, COALESCE(u.cent, c.cent) AS cent
           FROM $prev c LEFT JOIN (SELECT centroid, list(cd ORDER BY pos) AS cent
             FROM u$i GROUP BY centroid) u USING (centroid)),"""
    }
    val cf = s"c$iters"
    val fitPred = fitModThresh.map(t => s"WHERE h % 1000000 < $t").getOrElse("")
    // MATERIALIZED: v/vf feed every iteration and ca; c$i feeds two
    // consumers per round — inlined references re-execute the corpus
    // scan exponentially across rounds (the q132 sf1.0 OOM)
    s"""v AS MATERIALIZED (SELECT vec_id AS id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         FROM embeddings),
       vh AS (SELECT id, emb,
           CAST(concat('0x', substr(md5(CAST(id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         FROM v),
       vf AS MATERIALIZED (SELECT id, emb, h FROM vh $fitPred),
       c0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY h, id) - 1 AS centroid, emb AS cent
         FROM vf
         ORDER BY h, id LIMIT $nCent),
       ${(1 to iters).map(iteration).mkString("\n")}
       ca AS MATERIALIZED (SELECT id AS corpus_id, centroid FROM (
           SELECT v.id, c.centroid,
             row_number() OVER (PARTITION BY v.id
               ORDER BY ${dist("v.emb", "c.cent")}, c.centroid) AS rn
           FROM v, $cf c) WHERE rn = 1)"""
  }

  private def ivfOracle(nCent: Int, nProbe: Int, k: Int, iters: Int,
                        dim: Int, queryPred: String,
                        fitModThresh: Option[Long] = None): String = {
    def dist(e: String, c: String) = sqDistSql(e, c)
    val cf = s"c$iters"
    s"""WITH ${kmeansCtes(nCent, iters, dim, fitModThresh)},
       pr AS (SELECT id AS query_id, centroid FROM (
           SELECT v.id, c.centroid,
             row_number() OVER (PARTITION BY v.id
               ORDER BY ${dist("v.emb", "c.cent")}, c.centroid) AS rn
           FROM v, $cf c WHERE $queryPred) WHERE rn <= $nProbe),
       cand AS (SELECT pr.query_id, ca.corpus_id
         FROM pr JOIN ca USING (centroid) WHERE ca.corpus_id <> pr.query_id),
       n AS (SELECT vec_id, sqrt(CAST(SUM(CAST(FLOOR(
             CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE) * 1e12)
             AS DECIMAL(30,0))) AS DOUBLE) / 1e12) AS nrm
           FROM embeddings CROSS JOIN range(0, $dim) t(i) GROUP BY 1),
       dots AS (SELECT cand.query_id, cand.corpus_id,
             CAST(SUM(CAST(FLOOR(
               CAST(q.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE) * 1e12)
               AS DECIMAL(30,0))) AS DOUBLE) / 1e12 AS dot
           FROM cand
           JOIN embeddings q ON q.vec_id = cand.query_id
           JOIN embeddings c ON c.vec_id = cand.corpus_id
           CROSS JOIN range(0, $dim) t(i)
           GROUP BY 1, 2),
       scored AS (SELECT query_id, corpus_id,
             dot / (nq.nrm * nc.nrm) AS cosine,
             row_number() OVER (PARTITION BY query_id
               ORDER BY dot / (nq.nrm * nc.nrm) DESC, corpus_id ASC) AS rank
           FROM dots
           JOIN n nq ON nq.vec_id = query_id
           JOIN n nc ON nc.vec_id = corpus_id)
       SELECT query_id, corpus_id, cosine, CAST(rank AS INT) AS rank
       FROM scored WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** DuckDB replay of Similarity.semDedup: shared k-means fit/assignment
    * CTEs, then within-cluster lower-id pairs, exact floor-scaled dots and
    * norms, cosine with the zero-norm null guard, and a max-aggregation for
    * the keep-first bit — the same op sequence the Spark side runs. */
  private def semDedupOracle(nClusters: Int, tau: Double, iters: Int,
                             dim: Int): String =
    s"""WITH ${kmeansCtes(nClusters, iters, dim, None)},
       n AS (SELECT vec_id, sqrt(CAST(SUM(CAST(FLOOR(
             CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE) * 1e12)
             AS DECIMAL(30,0))) AS DOUBLE) / 1e12) AS nrm
           FROM embeddings CROSS JOIN range(0, $dim) t(i) GROUP BY 1),
       pairs AS (SELECT a.corpus_id AS id_a, b.corpus_id AS id_b
         FROM ca a JOIN ca b
           ON a.centroid = b.centroid AND a.corpus_id < b.corpus_id),
       dots AS (SELECT p.id_a, p.id_b,
             CAST(SUM(CAST(FLOOR(
               CAST(x.embedding[i+1] AS DOUBLE) * CAST(y.embedding[i+1] AS DOUBLE) * 1e12)
               AS DECIMAL(30,0))) AS DOUBLE) / 1e12 AS dot
           FROM pairs p
           JOIN embeddings x ON x.vec_id = p.id_a
           JOIN embeddings y ON y.vec_id = p.id_b
           CROSS JOIN range(0, $dim) t(i)
           GROUP BY 1, 2),
       sc AS (SELECT d.id_b,
             CASE WHEN na.nrm > 0 AND nb.nrm > 0
                  THEN d.dot / (na.nrm * nb.nrm) END AS cos
           FROM dots d
           JOIN n na ON na.vec_id = d.id_a
           JOIN n nb ON nb.vec_id = d.id_b),
       mx AS (SELECT id_b, max(cos) AS max_lower_cos FROM sc GROUP BY 1)
       SELECT ca.corpus_id AS vec_id, CAST(ca.centroid AS INT) AS cluster,
              mx.max_lower_cos,
              (mx.max_lower_cos IS NULL OR mx.max_lower_cos < $tau) AS kept
       FROM ca LEFT JOIN mx ON mx.id_b = ca.corpus_id
       ORDER BY vec_id"""

  /** DuckDB replay of Similarity.pqTrainPortable + pqTopK: same md5
    * bottom-k init (one sample seeds every subspace), same fixed-order
    * distance folds and floor-scaled exact centroid sums, same
    * ascending-subspace ADC summation (list(x ORDER BY m) → left fold). */
  private def pqOracle(numSub: Int, k: Int, topK: Int, iters: Int, dim: Int,
                       queryPred: String,
                       fitModThresh: Option[Long] = None): String = {
    val dsub = dim / numSub
    def dist(e: String, c: String) =
      s"list_reduce(list_transform(list_zip($e, $c), s -> (s[1]-s[2])*(s[1]-s[2])), (a,b) -> a+b)"
    def iteration(i: Int): String = {
      val prev = s"p${i - 1}"
      s"""pa$i AS (SELECT m, sv, ci FROM (
           SELECT s.id, s.m, s.sv, c.ci,
             row_number() OVER (PARTITION BY s.id, s.m
               ORDER BY ${dist("s.sv", "c.cent")}, c.ci) AS rn
           FROM sub s JOIN $prev c ON s.m = c.m) WHERE rn = 1),
         pu$i AS (SELECT m, ci, i AS pos,
             (CAST(SUM(CAST(FLOOR(sv[i+1] * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE) / 1000000.0)
               / CAST(COUNT(*) AS DOUBLE) AS cd
           FROM pa$i CROSS JOIN range(0, $dsub) t(i) GROUP BY 1, 2, 3),
         p$i AS (SELECT c.m, c.ci, COALESCE(u.cent, c.cent) AS cent
           FROM $prev c LEFT JOIN (SELECT m, ci, list(cd ORDER BY pos) AS cent
             FROM pu$i GROUP BY m, ci) u ON u.m = c.m AND u.ci = c.ci),"""
    }
    val pf = s"p$iters"
    val fitPred = fitModThresh.map(t => s"WHERE h % 1000000 < $t").getOrElse("")
    s"""WITH v AS (SELECT vec_id AS id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         FROM embeddings),
       vh AS (SELECT id, emb,
           CAST(concat('0x', substr(md5(CAST(id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         FROM v),
       vf AS (SELECT id, emb, h FROM vh $fitPred),
       ini AS (SELECT emb, row_number() OVER (ORDER BY h, id) - 1 AS rk
         FROM vf ORDER BY h, id LIMIT $k),
       p0 AS (SELECT m, rk AS ci, emb[m*$dsub + 1 : m*$dsub + $dsub] AS cent
         FROM ini CROSS JOIN range(0, $numSub) t(m)),
       sub AS (SELECT id, m, emb[m*$dsub + 1 : m*$dsub + $dsub] AS sv
         FROM vf CROSS JOIN range(0, $numSub) t(m)),
       ${(1 to iters).map(iteration).mkString("\n")}
       vsub AS (SELECT id, m, emb[m*$dsub + 1 : m*$dsub + $dsub] AS sv
         FROM v CROSS JOIN range(0, $numSub) t(m)),
       codes AS (SELECT id, m, ci FROM (
           SELECT s.id, s.m, c.ci,
             row_number() OVER (PARTITION BY s.id, s.m
               ORDER BY ${dist("s.sv", "c.cent")}, c.ci) AS rn
           FROM vsub s JOIN $pf c ON s.m = c.m) WHERE rn = 1),
       n2 AS (SELECT m, ci,
           list_reduce(list_transform(cent, x -> x*x), (a,b) -> a+b) AS n2
         FROM $pf),
       qv AS (SELECT id, emb FROM v WHERE $queryPred),
       qsub AS (SELECT id AS query_id, m,
           emb[m*$dsub + 1 : m*$dsub + $dsub] AS qsv
         FROM qv CROSS JOIN range(0, $numSub) t(m)),
       qn AS (SELECT id AS query_id,
           sqrt(list_reduce(list_transform(emb, x -> x*x), (a,b) -> a+b)) AS qn
         FROM qv),
       pm AS (SELECT q.query_id, cd.id AS corpus_id, q.m,
           list_reduce(list_transform(list_zip(q.qsv, c.cent), s -> s[1]*s[2]), (a,b) -> a+b) AS dot_m,
           n2.n2 AS n2_m
         FROM qsub q
         JOIN codes cd ON cd.m = q.m
         JOIN $pf c ON c.m = cd.m AND c.ci = cd.ci
         JOIN n2 ON n2.m = cd.m AND n2.ci = cd.ci
         WHERE cd.id <> q.query_id),
       ag AS (SELECT query_id, corpus_id,
           list_reduce(list(dot_m ORDER BY m), (a,b) -> a+b) AS dot,
           list_reduce(list(n2_m ORDER BY m), (a,b) -> a+b) AS rn2
         FROM pm GROUP BY 1, 2),
       sc AS (SELECT query_id, corpus_id,
           CASE WHEN qn.qn * sqrt(rn2) > 0 THEN dot / (qn.qn * sqrt(rn2))
                ELSE -1e308 END AS adc_cosine
         FROM ag JOIN qn USING (query_id)),
       r AS (SELECT query_id, corpus_id, adc_cosine,
           row_number() OVER (PARTITION BY query_id
             ORDER BY adc_cosine DESC, corpus_id ASC) AS rank
         FROM sc)
       SELECT query_id, corpus_id, adc_cosine, CAST(rank AS INT) AS rank
       FROM r WHERE rank <= $topK ORDER BY query_id, rank"""
  }

  val oracleSql: Map[String, String] = Map(
    "q123_pq_adc" -> pqOracle(numSub = 8, k = 64, topK = 3, iters = 2,
      dim = 64, queryPred = "v.id < 10"),

    "q132_semdedup" -> semDedupOracle(nClusters = 16, tau = 0.85, iters = 2,
      dim = 64),

    "q61_ivf_ann" -> ivfOracle(nCent = 10, nProbe = 3, k = 3, iters = 2,
      dim = 64, queryPred = "v.id < 10"),

    // sampled-fit IVF: the quantizer trains on the md5-Bernoulli half of the
    // corpus (h % 10^6 < 500000), full corpus assigned once at the end
    "q121_ivf_sampled_fit" -> ivfOracle(nCent = 10, nProbe = 3, k = 3,
      iters = 2, dim = 64, queryPred = "v.id < 10",
      fitModThresh = Some(500000L)),

    // LOESS mirror: replays Advanced.loessFit's exact op sequence for
    // robustnessIters = 0 — per-group sorted x/y lists, the one-step window
    // slide as a recursion over i, tricube weights (1−t³)³ against the
    // farther edge, and the five running sums accumulated left-to-right by a
    // second recursion over k (the same adds in the same IEEE order as the
    // Scala while-loop), then the closed-form beta/alpha with the 1e-12
    // guard. Groups with n < 3 pass through (smooth = y), mirroring the
    // Spark side.
    "q53_loess" ->
      """WITH RECURSIVE base AS (
           SELECT CAST(user_id AS BIGINT) AS g, CAST(event_id AS DOUBLE) AS x,
                  CAST(value AS DOUBLE) AS y
           FROM events
           WHERE user_id IS NOT NULL AND event_id IS NOT NULL AND value IS NOT NULL),
         -- duplicate x values average y first, replaying loessSmooth's
         -- ascending-value LEFT-FOLD sum (list_reduce is sequential; a
         -- plain SUM would be order-nondeterministic in doubles). Also
         -- makes x unique per g, so list(... ORDER BY x) below is
         -- deterministic and the window-edge denom can't hit x_l = x_i.
         dedup AS (
           SELECT g, x,
             list_reduce(list(y ORDER BY y), (a, b) -> a + b) / count(*) AS y
           FROM base GROUP BY g, x),
         agg AS (
           SELECT g, list(x ORDER BY x) AS xs, list(y ORDER BY x) AS ys,
                  CAST(count(*) AS INT) AS n
           FROM dedup GROUP BY g),
         big AS (
           SELECT g, xs, ys, n,
             LEAST(GREATEST(2, CAST(FLOOR(GREATEST(0.3, LEAST(1.0, 3.0/n)) * n) AS INT)), n) AS q
           FROM agg WHERE n >= 3),
         win AS (
           SELECT g, xs, ys, n, q, 0 AS i, 0 AS l, q - 1 AS r FROM big
           UNION ALL
           SELECT g, xs, ys, n, q, i + 1,
             CASE WHEN r + 1 < n AND xs[r + 2] - xs[i + 2] < xs[i + 2] - xs[l + 1]
                  THEN l + 1 ELSE l END,
             CASE WHEN r + 1 < n AND xs[r + 2] - xs[i + 2] < xs[i + 2] - xs[l + 1]
                  THEN r + 1 ELSE r END
           FROM win WHERE i + 1 < n),
         ptd AS (
           SELECT g, xs, ys, i, l, r, xs[i + 1] AS x,
             abs(1.0 / (xs[(CASE WHEN xs[i+1] - xs[l+1] > xs[r+1] - xs[i+1]
                                 THEN l ELSE r END) + 1] - xs[i + 1])) AS denom
           FROM win),
         acc AS (
           SELECT g, i, x, xs, ys, r, denom, l AS k,
                  CAST(0 AS DOUBLE) AS sw, CAST(0 AS DOUBLE) AS sx,
                  CAST(0 AS DOUBLE) AS sx2, CAST(0 AS DOUBLE) AS sy,
                  CAST(0 AS DOUBLE) AS sxy
           FROM ptd
           UNION ALL
           SELECT g, i, x, xs, ys, r, denom, k + 1,
                  sw + w, sx + xkw, sx2 + xk * xkw, sy + yk * w, sxy + yk * xkw
           FROM (
             SELECT *, xk * w AS xkw FROM (
               SELECT *, tmp * tmp * tmp AS w FROM (
                 SELECT *, 1.0 - t * t * t AS tmp FROM (
                   SELECT *, dist * denom AS t FROM (
                     SELECT g, i, x, xs, ys, r, denom, k, sw, sx, sx2, sy, sxy,
                            xs[k + 1] AS xk, ys[k + 1] AS yk,
                            CASE WHEN k < i THEN x - xs[k + 1] ELSE xs[k + 1] - x END AS dist
                     FROM acc WHERE k <= r
                   ) s1 ) s2 ) s3 ) s4 ) s5),
         fin AS (
           SELECT g, i, x, ys[i + 1] AS y, sx / sw AS mx, sy / sw AS my,
                  sxy / sw AS mxy, sx2 / sw AS mx2
           FROM acc WHERE k = r + 1),
         bet AS (
           SELECT g, x, y, mx, my,
             CASE WHEN sqrt(abs(mx2 - mx * mx)) < 1e-12 THEN 0.0
                  ELSE (mxy - mx * my) / (mx2 - mx * mx) END AS beta
           FROM fin),
         big_out AS (
           SELECT g, x, y, beta * x + (my - beta * mx) AS ysm FROM bet),
         small_out AS (
           SELECT g, UNNEST(xs) AS x, UNNEST(ys) AS y, UNNEST(ys) AS ysm
           FROM agg WHERE n < 3)
         SELECT g AS user_id, x, y AS value, ysm AS value_smooth
         FROM (SELECT * FROM big_out UNION ALL SELECT * FROM small_out)
         ORDER BY user_id, x""",

    // Sequential induction mirror: a recursive CTE replays the identical
    // s←s·0.999+x mul-then-add double sequence over the o_orderkey order
    // (verified bitwise vs an out-of-engine IEEE reference). The list
    // formulation avoids a per-iteration table join.
    "q54_induction" ->
      // base is MATERIALIZED: the recursive member references it every
      // step, and DuckDB's CTE inlining re-built the 150k-element lists
      // per step at sf1.0 (the sweep stall)
      """WITH RECURSIVE base AS MATERIALIZED (
           SELECT list(o_totalprice ORDER BY o_orderkey) AS xs,
                  list(o_orderkey   ORDER BY o_orderkey) AS ks
           FROM orders WHERE o_orderkey % 10 = 0),
         r AS (
           SELECT 0::BIGINT AS i, 0.0::DOUBLE AS running
           UNION ALL
           SELECT r.i + 1, r.running * 0.999 + base.xs[CAST(r.i AS INT) + 1]
           FROM r, base WHERE r.i < len(base.xs))
         SELECT base.ks[CAST(r.i AS INT)] AS o_orderkey, r.running
         FROM r, base WHERE r.i > 0 ORDER BY o_orderkey""",

    // PCA mirror (d=2): replays fitPca's exact op sequence — Int128 sums
    // (DECIMAL(30,0) here), covariance (p - s_i*s_j/n)/n, ONE Jacobi rotation
    // (tau → t → cos → sin; eigenpairs (a−t·b, (cos,−sin)) and
    // (c+t·b, (sin,cos))), stable descending-eigenvalue sort, then the
    // largest-|component|-positive sign flip, then raw-value projection.
    "q48_pca" ->
      """WITH st AS (
           SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(FLOOR((l_quantity) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS s1,
             CAST(SUM(CAST(FLOOR((l_extendedprice) * 100.0) AS DECIMAL(30,0))) AS DOUBLE) / 100.0 AS s2,
             CAST(SUM(CAST(FLOOR((l_quantity * l_quantity) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS p11,
             CAST(SUM(CAST(FLOOR((l_quantity * l_extendedprice) * 100.0) AS DECIMAL(30,0))) AS DOUBLE) / 100.0 AS p12,
             CAST(SUM(CAST(FLOOR((l_extendedprice * l_extendedprice) * 100.0) AS DECIMAL(30,0))) AS DOUBLE) / 100.0 AS p22
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
         cov0 AS (SELECT (p11 - s1*s1/n)/n AS ca, (p12 - s1*s2/n)/n AS cb,
                        (p22 - s2*s2/n)/n AS cc FROM st),
         -- norot mirrors jacobiEigen's relative-threshold skip (Ml.scala):
         -- |cb| <= 1e-15*(|ca|+|cc|) means "already diagonal, no rotation",
         -- which subsumes the exact-zero case.
         cov AS (SELECT *, (abs(cb) <= 1e-15*(abs(ca)+abs(cc))) AS norot
                 FROM cov0),
         r1 AS (SELECT *, CASE WHEN norot THEN 0.0 ELSE (cc - ca)/(2.0*cb) END AS tau FROM cov),
         r2 AS (SELECT *, CASE WHEN norot THEN 0.0
                               WHEN tau >= 0 THEN 1.0/(tau + sqrt(1.0 + tau*tau))
                               ELSE 1.0/(tau - sqrt(1.0 + tau*tau)) END AS tt FROM r1),
         r3 AS (SELECT *, 1.0/sqrt(1.0 + tt*tt) AS cs FROM r2),
         r4 AS (SELECT *, tt*cs AS sn, ca - tt*cb AS l1, cc + tt*cb AS l2 FROM r3),
         vecs AS (
           SELECT CASE WHEN norot THEN ca ELSE l1 END AS lam,
                  CASE WHEN norot THEN 1.0 ELSE cs END AS v0,
                  CASE WHEN norot THEN 0.0 ELSE -sn END AS v1, 0 AS orig FROM r4
           UNION ALL
           SELECT CASE WHEN norot THEN cc ELSE l2 END,
                  CASE WHEN norot THEN 0.0 ELSE sn END,
                  CASE WHEN norot THEN 1.0 ELSE cs END, 1 FROM r4),
         signed AS (SELECT lam, orig,
           CASE WHEN (CASE WHEN abs(v0) >= abs(v1) THEN v0 ELSE v1 END) < 0 THEN -v0 ELSE v0 END AS w0,
           CASE WHEN (CASE WHEN abs(v0) >= abs(v1) THEN v0 ELSE v1 END) < 0 THEN -v1 ELSE v1 END AS w1
           FROM vecs),
         ranked AS (SELECT w0, w1,
                      row_number() OVER (ORDER BY lam DESC, orig) AS rk
                    FROM signed)
         SELECT l_orderkey, l_linenumber,
           l_quantity * a.w0 + l_extendedprice * a.w1 AS pc1,
           l_quantity * b.w0 + l_extendedprice * b.w1 AS pc2
         FROM lineitem,
           (SELECT w0, w1 FROM ranked WHERE rk = 1) a,
           (SELECT w0, w1 FROM ranked WHERE rk = 2) b
         ORDER BY l_orderkey, l_linenumber, pc1, pc2 LIMIT 100""",

    // interval-join mirror: DuckDB runs the raw non-equi range join (its
    // IEJoin); the binned Spark plan must produce the identical match set.
    "q77_interval_join" ->
      """SELECT o.o_orderkey, o.start_day, COUNT(*) AS n_shipped,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty
         FROM (SELECT o_orderkey,
                 CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS INT) AS start_day
               FROM orders WHERE o_orderkey % 100 = 0) o
         JOIN (SELECT CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS INT) AS ship_day,
                 l_quantity
               FROM lineitem) l
           ON l.ship_day >= o.start_day AND l.ship_day < o.start_day + 7
         GROUP BY 1, 2 ORDER BY 1""",

    // KMV/bottom-k theta sketch mirror: same md5-derived 60-bit hash, same
    // bottom-k sets, same IEEE-double estimator op order as graft.functions.Kmv
    // (est = (k−1)·2^60 / h_k; intersection counts common hashes below
    // θ = min(θa, θb); union ranks the merged distinct bottom-k sets).
    "q62_theta_setops" ->
      """WITH hs AS (
           SELECT DISTINCT l_returnflag AS f,
             CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
           FROM lineitem),
         ranked AS (
           SELECT f, h, row_number() OVER (PARTITION BY f ORDER BY h) AS rn,
                  count(*) OVER (PARTITION BY f) AS cnt
           FROM hs),
         kept AS (SELECT * FROM ranked WHERE rn <= 1024),
         st AS (
           SELECT f, max(cnt) AS cnt,
             CASE WHEN max(cnt) >= 1024 THEN max(CASE WHEN rn = 1024 THEN h END)
                  ELSE 1152921504606846976 END AS th,
             CASE WHEN max(cnt) < 1024 THEN CAST(max(cnt) AS DOUBLE)
                  ELSE 1023.0 * pow(2.0, 60) / CAST(max(CASE WHEN rn = 1024 THEN h END) AS DOUBLE)
             END AS est
           FROM kept GROUP BY f),
         pairs AS (
           SELECT a.f AS flag_a, b.f AS flag_b, a.est AS est_a,
                  least(a.th, b.th) AS th_min
           FROM st a JOIN st b ON a.f < b.f),
         common AS (
           SELECT a.f AS fa, b.f AS fb, a.h
           FROM kept a JOIN kept b ON b.h = a.h AND a.f < b.f),
         inter AS (
           SELECT p.flag_a, p.flag_b, count(c.h) AS common
           FROM pairs p LEFT JOIN common c
             ON c.fa = p.flag_a AND c.fb = p.flag_b AND c.h < p.th_min
           GROUP BY p.flag_a, p.flag_b),
         umh AS (
           SELECT DISTINCT p.flag_a, p.flag_b, k2.h
           FROM pairs p JOIN kept k2 ON k2.f IN (p.flag_a, p.flag_b)),
         umd AS (
           SELECT flag_a, flag_b, h,
             row_number() OVER (PARTITION BY flag_a, flag_b ORDER BY h) AS rn,
             count(*) OVER (PARTITION BY flag_a, flag_b) AS cnt
           FROM umh),
         uest AS (
           SELECT flag_a, flag_b,
             CASE WHEN max(cnt) < 1024 THEN CAST(max(cnt) AS DOUBLE)
                  ELSE 1023.0 * pow(2.0, 60) / CAST(max(CASE WHEN rn = 1024 THEN h END) AS DOUBLE)
             END AS est_union
           FROM umd GROUP BY flag_a, flag_b)
         SELECT p.flag_a, p.flag_b, p.est_a,
           CAST(i.common AS DOUBLE) * pow(2.0, 60) / CAST(p.th_min AS DOUBLE) AS est_intersect,
           u.est_union
         FROM pairs p
         JOIN inter i ON i.flag_a = p.flag_a AND i.flag_b = p.flag_b
         JOIN uest u ON u.flag_a = p.flag_a AND u.flag_b = p.flag_b
         ORDER BY p.flag_a, p.flag_b""",

    "q38_time_bucket" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket, event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(FLOOR(value * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE) / 1000000.0 AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    "q39_sessionize" ->
      """WITH g AS (
           SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
                  THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT user_id,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
           FROM g),
         per_sess AS (
           SELECT user_id, sess_id, COUNT(*) AS n_events
           FROM sess GROUP BY 1, 2)
         SELECT user_id, COUNT(*) AS n_sessions, max(n_events) AS max_session_events
         FROM per_sess GROUP BY 1 ORDER BY 1""",

    "q40_variable_rolling" ->
      """SELECT event_id, user_id,
         COUNT(*) OVER w AS n_1h,
         CAST(SUM(CAST(FLOOR(value * 1000000.0) AS DECIMAL(30,0))) OVER w AS DOUBLE) / 1000000.0 AS sum_1h
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",

    "q41_full_outer" ->
      """SELECT COALESCE(o_custkey, user_id) AS k, n_orders, n_events
         FROM (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY 1) o
         FULL JOIN (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1) e
           ON o_custkey = user_id
         ORDER BY k""",

    "q42_bag_intersect" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS multiplicity FROM (
           SELECT l_returnflag, l_linestatus FROM lineitem
           WHERE l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
           INTERSECT ALL
           SELECT l_returnflag, l_linestatus FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00') t
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q43_bag_union" ->
      """WITH ca AS (
           SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem
           WHERE l_shipdate < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1, 2),
         cb AS (
           SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' GROUP BY 1, 2)
         SELECT l_returnflag, l_linestatus,
           greatest(COALESCE(ca.n, 0), COALESCE(cb.n, 0)) AS multiplicity
         FROM ca FULL JOIN cb USING (l_returnflag, l_linestatus)
         ORDER BY 1, 2""",

    "q44_fill_lerp" ->
      """WITH base AS (
           SELECT event_id, user_id,
             CASE WHEN event_type = 'view' THEN NULL ELSE value END AS v
           FROM events),
         ctx AS (
           SELECT event_id, user_id, v,
             last_value(v IGNORE NULLS) OVER wd AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN event_id END IGNORE NULLS) OVER wd AS px,
             first_value(v IGNORE NULLS) OVER wu AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN event_id END IGNORE NULLS) OVER wu AS nx
           FROM base
           WINDOW
             wd AS (PARTITION BY user_id ORDER BY event_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wu AS (PARTITION BY user_id ORDER BY event_id ASC
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT event_id, user_id, v,
           CASE WHEN v IS NOT NULL THEN v
                WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                  pv + (nv - pv) * ((CAST(event_id AS DOUBLE) - CAST(px AS DOUBLE)) /
                    (CAST(nx AS DOUBLE) - CAST(px AS DOUBLE)))
                ELSE COALESCE(pv, nv) END AS v_lerp,
           CASE WHEN v IS NOT NULL THEN v
                WHEN pv IS NOT NULL AND nv IS NOT NULL THEN pv + (nv - pv) * 0.5
                ELSE COALESCE(pv, nv) END AS v_mid,
           CASE WHEN v IS NOT NULL THEN v
                WHEN pv IS NOT NULL AND (nv IS NULL OR
                  abs(CAST(event_id AS DOUBLE) - CAST(px AS DOUBLE)) <=
                  abs(CAST(nx AS DOUBLE) - CAST(event_id AS DOUBLE))) THEN pv
                ELSE nv END AS v_near
         FROM ctx ORDER BY event_id""",

    "q45_one_hot" ->
      """SELECT c_custkey,
         CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS c_mktsegment_AUTOMOBILE,
         CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS c_mktsegment_BUILDING,
         CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END AS c_mktsegment_FURNITURE,
         CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END AS c_mktsegment_HOUSEHOLD,
         CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END AS c_mktsegment_MACHINERY
         FROM customer ORDER BY c_custkey""",

    "q46_descriptive_stats" -> {
      def branch(c: String, sqScale: Int): String = {
        val p = math.pow(10, sqScale).toLong
        s"""SELECT '$c' AS "column",
           COUNT($c) AS n_valid,
           CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
           CAST(min($c) AS DOUBLE) AS min,
           CAST(SUM(CAST(FLOOR($c * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 / COUNT($c) AS mean,
           CAST(max($c) AS DOUBLE) AS max,
           sqrt(greatest((CAST(SUM(CAST(FLOOR($c * $c * $p.0) AS DECIMAL(30,0))) AS DOUBLE) / $p.0
             - (CAST(SUM(CAST(FLOOR($c * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0)
               * (CAST(SUM(CAST(FLOOR($c * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0)
               / CAST(COUNT($c) AS DOUBLE)) / CAST(COUNT($c) AS DOUBLE), 0.0)) AS stddev
           FROM lineitem"""
      }
      Seq(branch("l_quantity", 4), branch("l_extendedprice", 2),
        branch("l_discount", 4), branch("l_tax", 4))
        .mkString("SELECT * FROM (", " UNION ALL ", ") t ORDER BY \"column\"")
    },

    "q47_scalers" ->
      """WITH st AS (
           SELECT
             CAST(SUM(CAST(FLOOR(l_quantity * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 / COUNT(l_quantity) AS mu,
             sqrt((CAST(SUM(CAST(FLOOR(l_quantity * l_quantity * 100.0) AS DECIMAL(30,0))) AS DOUBLE) / 100.0
               - (CAST(SUM(CAST(FLOOR(l_quantity * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0)
                 * (CAST(SUM(CAST(FLOOR(l_quantity * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0)
                 / CAST(COUNT(l_quantity) AS DOUBLE)) / CAST(COUNT(l_quantity) AS DOUBLE)) AS sd,
             CAST(min(l_extendedprice) AS DOUBLE) AS lo,
             CAST(max(l_extendedprice) AS DOUBLE) AS hi
           FROM lineitem)
         SELECT l_orderkey, l_linenumber,
           (l_quantity - mu) / (CASE WHEN sd = 0 THEN 1.0 ELSE sd END) AS l_quantity_z,
           (l_extendedprice - lo) / (CASE WHEN hi = lo THEN 1.0 ELSE hi - lo END) AS l_extendedprice_mm
         FROM lineitem CROSS JOIN st
         ORDER BY l_orderkey, l_linenumber, l_quantity_z, l_extendedprice_mm""",

    // mirrors Advanced.correlationTable cell-for-cell: exact scaled-integer
    // sums (bit-identical across engines), then the same double formula in
    // the same operation order.
    "q55_corr_table" -> {
      val cols = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
      def sc(c: String): Int = if (c == "l_extendedprice") 2 else 4
      def isumSql(e: String, d: Int): String = {
        val p = "1" + "0" * d
        s"CAST(SUM(CAST(FLOOR(($e) * $p.0) AS DECIMAL(30,0))) AS DOUBLE) / $p.0"
      }
      val sums = Seq("CAST(COUNT(*) AS DOUBLE) AS n") ++
        cols.map(c => s"${isumSql(c, 4)} AS sx_$c") ++
        cols.map(c => s"${isumSql(s"$c * $c", sc(c))} AS sxx_$c") ++
        (for (a <- cols; b <- cols if a < b)
          yield s"${isumSql(s"$a * $b", math.min(sc(a), sc(b)))} AS sxy_${a}__$b")
      def cell(a: String, b: String): String =
        if (a == b) "1.0"
        else {
          val (x, y) = if (a < b) (a, b) else (b, a)
          s"(n * sxy_${x}__$y - sx_$x * sx_$y) / " +
            s"(sqrt(n * sxx_$x - sx_$x * sx_$x) * sqrt(n * sxx_$y - sx_$y * sx_$y))"
        }
      val rows = cols.map(a =>
        s"""SELECT '$a' AS "column", """ +
          cols.map(b => s"${cell(a, b)} AS $b").mkString(", ") + " FROM s")
      s"WITH s AS (SELECT ${sums.mkString(", ")} FROM lineitem) " +
        rows.mkString("SELECT * FROM (", " UNION ALL ", """) t ORDER BY "column"""")
    },

    // mirrors Advanced.spearmanCorrelationTable: the doubled-avg-rank
    // transform is `2*rank() + count(*) OVER (PARTITION BY c) - 1` (integer
    // ranks), then the exact-scaled-sum Pearson formula cell-for-cell.
    "q67_spearman" -> {
      val cols = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
      def isumSql(e: String, d: Int): String = {
        val p = "1" + "0" * d
        s"CAST(SUM(CAST(FLOOR(($e) * $p.0) AS DECIMAL(30,0))) AS DOUBLE) / $p.0"
      }
      val rsel = cols.map(c =>
        s"CAST(2*rank() OVER (ORDER BY $c) + count(*) OVER (PARTITION BY $c) - 1 AS DOUBLE) AS $c")
        .mkString(", ")
      val sums = Seq("CAST(COUNT(*) AS DOUBLE) AS n") ++
        cols.map(c => s"${isumSql(c, 4)} AS sx_$c") ++
        cols.map(c => s"${isumSql(s"$c * $c", 0)} AS sxx_$c") ++
        (for (a <- cols; b <- cols if a < b)
          yield s"${isumSql(s"$a * $b", 0)} AS sxy_${a}__$b")
      def cell(a: String, b: String): String =
        if (a == b) "1.0"
        else {
          val (x, y) = if (a < b) (a, b) else (b, a)
          s"(n * sxy_${x}__$y - sx_$x * sx_$y) / " +
            s"(sqrt(n * sxx_$x - sx_$x * sx_$x) * sqrt(n * sxx_$y - sx_$y * sx_$y))"
        }
      val rows = cols.map(a =>
        s"""SELECT '$a' AS "column", """ +
          cols.map(b => s"${cell(a, b)} AS $b").mkString(", ") + " FROM s")
      s"WITH r AS (SELECT $rsel FROM lineitem), " +
        s"s AS (SELECT ${sums.mkString(", ")} FROM r) " +
        rows.mkString("SELECT * FROM (", " UNION ALL ", """) t ORDER BY "column"""")
    },

    // mirrors Advanced.kendallCorrelationTable: exact integer
    // concordant/discordant/tie counts over the bounded pair frame, then the
    // identical tau-b double formula.
    "q68_kendall" -> kendallLineitemOracle("l_orderkey < 400"),

    // same all-pairs DEFINITION over q98's subset — the Spark side runs
    // Knight's distributed plan, whose exact integer counts must agree.
    "q98_kendall_distributed" -> kendallLineitemOracle("l_orderkey < 2000"),

    // recursive CTE replaying the identical per-key IEEE fold
    // s = 0.9·s + x ordered by (ts, event_id) — same pattern as q54.
    "q99_linear_recurrence" ->
      // seq MATERIALIZED for the q54 reason: the recursion re-executed
      // the 1M-row window per step when inlined
      """WITH RECURSIVE seq AS MATERIALIZED (
           SELECT event_id, user_id, CAST(value AS DOUBLE) AS x,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         rec AS (
           SELECT event_id, user_id, x, rn, 0.9 * 0.0 + x AS s
           FROM seq WHERE rn = 1
           UNION ALL
           SELECT e.event_id, e.user_id, e.x, e.rn, 0.9 * r.s + e.x AS s
           FROM rec r JOIN seq e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
         SELECT event_id, user_id, s AS decay FROM rec ORDER BY event_id""",

    // mirrors Graph.pageRank over Graph.tradingPairsGraph: the whole
    // iteration is BIGINT fixed-point (truncating //), so 5 unrolled
    // rounds replay integer-exact — no float reduce-order drift possible.
    "q149_pagerank" -> {
      val iters = (1 to 5).map { k =>
        s"""r$k AS (SELECT e.dst AS id,
             (SELECT b FROM base) + (85 * SUM(r.r // d.outdeg)) // 100 AS r
           FROM e JOIN r${k - 1} r ON e.src = r.id JOIN deg d ON d.src = e.src
           GROUP BY e.dst)"""
      }.mkString(",\n         ")
      s"""WITH pairs AS (
           SELECT DISTINCT o_custkey * 2 AS cnode, l_suppkey * 2 + 1 AS snode
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         e AS (SELECT cnode AS src, snode AS dst FROM pairs
               UNION ALL SELECT snode, cnode FROM pairs),
         deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
         n AS (SELECT COUNT(*) AS nn FROM deg),
         base AS (SELECT (15 * (1000000000000 // nn)) // 100 AS b FROM n),
         r0 AS (SELECT src AS id, (SELECT 1000000000000 // nn FROM n) AS r FROM deg),
         $iters
         SELECT id, CAST(r AS BIGINT) AS r FROM r5
         ORDER BY r DESC, id LIMIT 20"""
    },

    // mirrors Ml.fitNaiveBayes/predict: identical count tables, the same
    // left-fold product ((prior/total) * f0term) * f1term with literal
    // integer denominators, and the >=-chain argmax = ties to the first
    // sorted label (o_orderstatus is always {F,O,P} in TPC-H shapes).
    "q288_naive_bayes" ->
      """WITH b AS (SELECT o_orderstatus AS y, o_orderpriority AS f0,
             CAST(CAST(FLOOR(o_totalprice / 100000.0) AS BIGINT) AS VARCHAR) AS f1
           FROM orders),
         pri AS (SELECT
             CAST(SUM(CASE WHEN y = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS nf,
             CAST(SUM(CASE WHEN y = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS no,
             CAST(SUM(CASE WHEN y = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS np,
             CAST(COUNT(*) AS BIGINT) AS t FROM b),
         v AS (SELECT CAST(COUNT(DISTINCT f0) AS BIGINT) AS v0,
             CAST(COUNT(DISTINCT f1) AS BIGINT) AS v1 FROM b),
         p0 AS (SELECT f0 AS val,
             SUM(CASE WHEN y = 'F' THEN 1 ELSE 0 END) AS cf,
             SUM(CASE WHEN y = 'O' THEN 1 ELSE 0 END) AS co,
             SUM(CASE WHEN y = 'P' THEN 1 ELSE 0 END) AS cp
           FROM b GROUP BY 1),
         p1 AS (SELECT f1 AS val,
             SUM(CASE WHEN y = 'F' THEN 1 ELSE 0 END) AS cf,
             SUM(CASE WHEN y = 'O' THEN 1 ELSE 0 END) AS co,
             SUM(CASE WHEN y = 'P' THEN 1 ELSE 0 END) AS cp
           FROM b GROUP BY 1),
         s AS (SELECT b.y AS actual,
             ((CAST(pri.nf AS DOUBLE) / CAST(pri.t AS DOUBLE))
               * ((CAST(COALESCE(p0.cf, 0) AS DOUBLE) + 1.0) * CAST(v.v0 AS DOUBLE)
                  / CAST(pri.nf + v.v0 AS DOUBLE)))
               * ((CAST(COALESCE(p1.cf, 0) AS DOUBLE) + 1.0) * CAST(v.v1 AS DOUBLE)
                  / CAST(pri.nf + v.v1 AS DOUBLE)) AS sf,
             ((CAST(pri.no AS DOUBLE) / CAST(pri.t AS DOUBLE))
               * ((CAST(COALESCE(p0.co, 0) AS DOUBLE) + 1.0) * CAST(v.v0 AS DOUBLE)
                  / CAST(pri.no + v.v0 AS DOUBLE)))
               * ((CAST(COALESCE(p1.co, 0) AS DOUBLE) + 1.0) * CAST(v.v1 AS DOUBLE)
                  / CAST(pri.no + v.v1 AS DOUBLE)) AS so,
             ((CAST(pri.np AS DOUBLE) / CAST(pri.t AS DOUBLE))
               * ((CAST(COALESCE(p0.cp, 0) AS DOUBLE) + 1.0) * CAST(v.v0 AS DOUBLE)
                  / CAST(pri.np + v.v0 AS DOUBLE)))
               * ((CAST(COALESCE(p1.cp, 0) AS DOUBLE) + 1.0) * CAST(v.v1 AS DOUBLE)
                  / CAST(pri.np + v.v1 AS DOUBLE)) AS sp
           FROM b
           LEFT JOIN p0 ON b.f0 = p0.val
           LEFT JOIN p1 ON b.f1 = p1.val
           CROSS JOIN pri CROSS JOIN v)
         SELECT actual,
           CASE WHEN sf >= so AND sf >= sp THEN 'F'
                WHEN so >= sp THEN 'O' ELSE 'P' END AS pred,
           CAST(COUNT(*) AS BIGINT) AS n
         FROM s GROUP BY 1, 2 ORDER BY actual, pred""",

    // mirrors Graph.labelPropagation: 3 synchronous rounds, most-frequent
    // neighbor label with min-label ties (row_number ORDER BY c DESC,
    // lbl ASC) over the same symmetric trading-pairs edge set as q149.
    "q287_label_propagation" -> {
      val rounds = (1 to 3).map { k =>
        s"""l$k AS (SELECT a AS id, lbl FROM (
             SELECT e.a, l.lbl, COUNT(*) AS c,
               row_number() OVER (PARTITION BY e.a
                 ORDER BY COUNT(*) DESC, l.lbl ASC) AS rn
             FROM e JOIN l${k - 1} l ON e.b = l.id
             GROUP BY e.a, l.lbl) t WHERE rn = 1)"""
      }.mkString(",\n         ")
      s"""WITH pairs AS (
           SELECT DISTINCT o_custkey * 2 AS cnode, l_suppkey * 2 + 1 AS snode
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         e AS (SELECT cnode AS a, snode AS b FROM pairs
               UNION ALL SELECT snode, cnode FROM pairs),
         l0 AS (SELECT DISTINCT a AS id, a AS lbl FROM e),
         $rounds
         SELECT id, lbl AS community FROM l3 ORDER BY id"""
    },

    // mirrors Behavior.attribution: keyed conversion-counter cumsum,
    // per-journey rank/size windows, identical integer micro-credits.
    "q289_attribution" ->
      """WITH e AS (SELECT user_id, event_type AS channel, ts, event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_conv
           FROM events WHERE event_type IS NOT NULL),
         t1 AS (SELECT *,
             SUM(is_conv) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(is_conv) OVER (PARTITION BY user_id) AS tot
           FROM e),
         touch AS (SELECT user_id, channel, ts, event_id, cum + 1 AS j
           FROM t1 WHERE is_conv = 0 AND cum + 1 <= tot),
         rk AS (SELECT *,
             ROW_NUMBER() OVER (PARTITION BY user_id, j
               ORDER BY ts, event_id) AS pos,
             COUNT(*) OVER (PARTITION BY user_id, j) AS n
           FROM touch),
         cr AS (SELECT channel, user_id, j,
             CASE WHEN pos = 1 THEN 1000000 ELSE 0 END AS first_c,
             CASE WHEN pos = n THEN 1000000 ELSE 0 END AS last_c,
             CAST(FLOOR(1000000.0 / n) AS BIGINT) AS linear_c,
             CASE WHEN n = 1 THEN 1000000
                  WHEN n = 2 THEN 500000
                  WHEN pos = 1 OR pos = n THEN 400000
                  ELSE CAST(FLOOR(200000.0 / (n - 2)) AS BIGINT) END AS pos_c
           FROM rk)
         SELECT channel, CAST(COUNT(*) AS BIGINT) AS touches,
           CAST(COUNT(DISTINCT (user_id, j)) AS BIGINT)
             AS conversions_touched,
           CAST(SUM(first_c) AS BIGINT) AS first_micro,
           CAST(SUM(last_c) AS BIGINT) AS last_micro,
           CAST(SUM(linear_c) AS BIGINT) AS linear_micro,
           CAST(SUM(pos_c) AS BIGINT) AS position_micro
         FROM cr GROUP BY 1 ORDER BY 1""",

    // mirrors Stats.msprt: same exact floor-scaled moments as q174, the
    // fixed mixture-LR scalar sequence, the single ln floor-scaled 1e9.
    "q290_msprt" ->
      """WITH f AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS x
           FROM events
           WHERE event_type IN ('click', 'view')
             AND value IS NOT NULL AND NOT isnan(value)),
         agg AS (SELECT
             CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT)
               AS n2,
             CAST(SUM(CASE WHEN g = 'click'
               THEN CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0)) END)
               AS DOUBLE) / 1000000.0 AS sx1,
             CAST(SUM(CASE WHEN g = 'view'
               THEN CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0)) END)
               AS DOUBLE) / 1000000.0 AS sx2,
             CAST(SUM(CASE WHEN g = 'click'
               THEN CAST(FLOOR(x * x * 1000000.0) AS DECIMAL(38,0)) END)
               AS DOUBLE) / 1000000.0 AS sxx1,
             CAST(SUM(CASE WHEN g = 'view'
               THEN CAST(FLOOR(x * x * 1000000.0) AS DECIMAL(38,0)) END)
               AS DOUBLE) / 1000000.0 AS sxx2
           FROM f),
         s AS (SELECT n1, n2,
             sx1 / CAST(n1 AS DOUBLE) AS m1, sx2 / CAST(n2 AS DOUBLE) AS m2,
             ((sxx1 - sx1 * sx1 / CAST(n1 AS DOUBLE)) +
              (sxx2 - sx2 * sx2 / CAST(n2 AS DOUBLE))) /
               (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0) AS vp
           FROM agg),
         r AS (SELECT n1, n2, m1, m2, (m1 - m2) AS delta,
             vp * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))
               AS rho
           FROM s)
         SELECT n1, n2, m1 AS mean1, m2 AS mean2, delta,
           CASE WHEN n1 > 1 AND n2 > 1 THEN rho END AS rho,
           CASE WHEN n1 > 1 AND n2 > 1 AND rho > 0 THEN
             CAST(CAST(FLOOR((0.5 * ln(rho / (rho + 0.01)) +
               0.01 * delta * delta / (2.0 * rho * (rho + 0.01)))
               * 1000000000.0) AS BIGINT) AS DOUBLE) / 1000000000.0
           END AS log_lambda
         FROM r""",

    // mirrors Stats.poissonBootstrapCI: q158's md5-uniform, the same
    // integer-quantized Poisson(1) CDF thresholds, floor-scaled exact
    // weighted sums, rank-5/rank-195 order statistics over the B frame.
    "q291_poisson_bootstrap" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS x,
             CAST(concat('0x', substr(md5(concat_ws('#', doc_id)),
               1, 7)) AS BIGINT) AS h,
             CAST(concat('0x', substr(md5(concat_ws('#', doc_id)),
               8, 7)) AS BIGINT) AS h2
           FROM documents
           WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))),
         reps AS (SELECT t.b AS b, base.doc_id, base.x,
             (((((t.b * 2 + 1) * 2654435761) % 4294967311) * base.h
                 + ((t.b * 40503 + 7) % 4294967311)) % 4294967311
               + ((((t.b * 2 + 1) * 2246822519) % 4294967311) * base.h2
                 + ((t.b * 104729 + 13) % 4294967311)) % 4294967311)
               % 4294967311 % 1000000 AS u
           FROM base CROSS JOIN
             (SELECT CAST(range AS INT) AS b FROM range(0, 200)) t),
         w AS (SELECT b, x,
             CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
                  WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
                  WHEN u < 996340 THEN 4 WHEN u < 999405 THEN 5
                  WHEN u < 999916 THEN 6 WHEN u < 999989 THEN 7
                  ELSE 8 END AS wt
           FROM reps),
         rm AS (SELECT b,
             CAST(SUM(CAST(FLOOR((CAST(wt AS DOUBLE) * x) * 1000000.0)
               AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0
               / CAST(SUM(wt) AS DOUBLE) AS m
           FROM w GROUP BY b HAVING SUM(wt) > 0),
         rk AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m, b) AS r FROM rm),
         ci AS (SELECT MAX(CASE WHEN r = 5 THEN m END) AS ci_lo,
                       MAX(CASE WHEN r = 195 THEN m END) AS ci_hi
                FROM rk),
         pt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000.0 AS sx
           FROM base)
         SELECT n, CAST(200 AS INT) AS reps,
           CASE WHEN n > 0 THEN sx / CAST(n AS DOUBLE) END AS point_mean,
           ci_lo, ci_hi
         FROM pt, ci""",

    // mirrors Ml.quantileNormalizeByGroup: quantile_cont grid (q154
    // precedent), RANGE-frame count-≤ as the max-rank ECDF, identical
    // two-product interpolation, exact-sum rollup.
    "q292_quantile_normalize" ->
      """WITH v AS (SELECT source AS g, CAST(n_chars AS DOUBLE) AS x
           FROM documents
           WHERE source IS NOT NULL AND n_chars IS NOT NULL
             AND NOT isnan(CAST(n_chars AS DOUBLE))),
         grid AS (SELECT quantile_cont(x, [0.0, 0.05, 0.1, 0.15, 0.2,
             0.25, 0.3, 0.35, 0.4, 0.45, 0.5, 0.55, 0.6, 0.65, 0.7,
             0.75, 0.8, 0.85, 0.9, 0.95, 1.0]) AS qs
           FROM v),
         e AS (SELECT g, x,
             COUNT(*) OVER (PARTITION BY g ORDER BY x
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r,
             COUNT(*) OVER (PARTITION BY g) AS n
           FROM v),
         d AS (SELECT g, x, MAX(r) AS r, MAX(n) AS n FROM e GROUP BY g, x),
         m AS (SELECT g, x,
             (CASE WHEN n = 1 THEN 0.5
                   ELSE CAST(r - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)
              END) * 20.0 AS t
           FROM d),
         i AS (SELECT g, x, t, CAST(FLOOR(t) AS INT) AS lo,
             CAST(CEIL(t) AS INT) AS hi
           FROM m),
         q AS (SELECT g, x,
             CASE WHEN lo = hi THEN qs[lo + 1]
                  ELSE (CAST(hi AS DOUBLE) - t) * qs[lo + 1] +
                       (t - CAST(lo AS DOUBLE)) * qs[hi + 1]
             END AS xqn
           FROM i, grid),
         rows0 AS (SELECT v.g, q.xqn FROM v JOIN q
             ON v.g = q.g AND v.x = q.x)
         SELECT g AS source, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(xqn * 1000000.0) AS DECIMAL(38,0)))
             AS DOUBLE) / 1000000.0 / COUNT(*) AS mean_qn,
           MIN(xqn) AS min_qn, MAX(xqn) AS max_qn
         FROM rows0 GROUP BY 1 ORDER BY 1""",

    // mirrors Stats.arFit2: complete-case series, keyed lag windows,
    // per-key conditional floor-scaled pair sums, the q150 Pearson form,
    // then the order-2 Levinson-Durbin closed form.
    "q293_ar_fit" ->
      """WITH b AS (SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS x
           FROM events
           WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
         l AS (SELECT user_id, x,
             lag(x, 1) OVER w AS y1, lag(x, 2) OVER w AS y2
           FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN y1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN y1 IS NOT NULL THEN CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0)) END) AS DOUBLE) / 1000000.0 AS sx1,
             CAST(SUM(CAST(FLOOR(y1 * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sy1,
             CAST(SUM(CASE WHEN y1 IS NOT NULL THEN CAST(FLOOR(x * x * 1000000.0) AS DECIMAL(38,0)) END) AS DOUBLE) / 1000000.0 AS sxx1,
             CAST(SUM(CAST(FLOOR(y1 * y1 * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS syy1,
             CAST(SUM(CAST(FLOOR(x * y1 * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sxy1,
             CAST(SUM(CASE WHEN y2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN y2 IS NOT NULL THEN CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0)) END) AS DOUBLE) / 1000000.0 AS sx2,
             CAST(SUM(CAST(FLOOR(y2 * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sy2,
             CAST(SUM(CASE WHEN y2 IS NOT NULL THEN CAST(FLOOR(x * x * 1000000.0) AS DECIMAL(38,0)) END) AS DOUBLE) / 1000000.0 AS sxx2,
             CAST(SUM(CAST(FLOOR(y2 * y2 * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS syy2,
             CAST(SUM(CAST(FLOOR(x * y2 * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sxy2
           FROM l GROUP BY user_id),
         r AS (SELECT user_id, n, n1, n2,
             CASE WHEN n1 >= 2 AND (CAST(n1 AS DOUBLE) * sxx1 - sx1 * sx1) > 0
                    AND (CAST(n1 AS DOUBLE) * syy1 - sy1 * sy1) > 0
                  THEN (CAST(n1 AS DOUBLE) * sxy1 - sx1 * sy1)
                    / (sqrt(CAST(n1 AS DOUBLE) * sxx1 - sx1 * sx1)
                       * sqrt(CAST(n1 AS DOUBLE) * syy1 - sy1 * sy1)) END AS r1,
             CASE WHEN n2 >= 2 AND (CAST(n2 AS DOUBLE) * sxx2 - sx2 * sx2) > 0
                    AND (CAST(n2 AS DOUBLE) * syy2 - sy2 * sy2) > 0
                  THEN (CAST(n2 AS DOUBLE) * sxy2 - sx2 * sy2)
                    / (sqrt(CAST(n2 AS DOUBLE) * sxx2 - sx2 * sx2)
                       * sqrt(CAST(n2 AS DOUBLE) * syy2 - sy2 * sy2)) END AS r2
           FROM s)
         SELECT user_id, n, n1, n2, r1, r2,
           CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL AND (1.0 - r1 * r1) <> 0
                THEN r1 * (1.0 - r2) / (1.0 - r1 * r1) END AS phi1,
           CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL AND (1.0 - r1 * r1) <> 0
                THEN (r2 - r1 * r1) / (1.0 - r1 * r1) END AS phi2
         FROM r ORDER BY user_id""",

    // mirrors Stats.changepoint: exact integer prefix sums, the identical
    // floor-scaled gain, argmax via (gain DESC, t ASC) row_number.
    "q294_changepoint" ->
      """WITH b AS (SELECT user_id, ts, event_id,
             CAST(FLOOR(CAST(value AS DOUBLE) * 1000000.0) AS BIGINT) AS xi
           FROM events
           WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
         p AS (SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t,
             SUM(xi) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
             COUNT(*) OVER (PARTITION BY user_id) AS n,
             SUM(xi) OVER (PARTITION BY user_id) AS sn
           FROM b),
         g AS (SELECT user_id, t, n,
             CAST(s AS DOUBLE) / 1000000.0 / CAST(t AS DOUBLE) AS ml,
             CAST(sn - s AS DOUBLE) / 1000000.0
               / (CAST(n AS DOUBLE) - CAST(t AS DOUBLE)) AS mr
           FROM p WHERE t < n),
         c AS (SELECT user_id, n, t, ml, mr,
             CAST(FLOOR(CAST(t AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(t AS DOUBLE))
               / CAST(n AS DOUBLE) * (ml - mr) * (ml - mr) * 1000000.0)
               AS BIGINT) AS gs
           FROM g)
         SELECT user_id, CAST(n AS BIGINT) AS n, CAST(t AS BIGINT) AS cp_index,
           CAST(gs AS DOUBLE) / 1000000.0 AS gain,
           ml AS mean_left, mr AS mean_right
         FROM c
         QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
           ORDER BY gs DESC, t ASC) = 1
         ORDER BY user_id""",

    // mirrors Stats.psi: quantile_cont reference deciles, ties-to-lower
    // binning, dense side x bin grid, Haldane-smoothed proportions, the
    // q231 floor-scaled ln term sum.
    "q295_psi" ->
      """WITH v AS (SELECT
             CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 'ref'
                  ELSE 'cur' END AS side,
             CAST(value AS DOUBLE) AS x
           FROM events
           WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
             AND (ts < TIMESTAMP '2024-01-16 00:00:00'
                  OR ts >= TIMESTAMP '2024-01-16 00:00:00')),
         q AS (SELECT quantile_cont(x,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
           FROM v WHERE side = 'ref'),
         binned AS (SELECT side,
             1 + len(list_filter(qs, e -> x > e)) AS bin FROM v, q),
         cnt AS (SELECT side, bin, CAST(COUNT(*) AS BIGINT) AS c
           FROM binned GROUP BY 1, 2),
         grid AS (SELECT s.side, b.bin
           FROM (VALUES ('ref'), ('cur')) s(side)
           CROSS JOIN (SELECT UNNEST(generate_series(1, 10)) AS bin) b),
         dense AS (SELECT g.side, g.bin, COALESCE(c.c, 0) AS c
           FROM grid g LEFT JOIN cnt c ON g.side = c.side AND g.bin = c.bin),
         tot AS (SELECT side, SUM(c) AS tot FROM dense GROUP BY 1),
         wp AS (SELECT d.side, d.bin, d.c,
             (CAST(d.c AS DOUBLE) + 0.5) / (CAST(t.tot AS DOUBLE) + 5.0) AS p
           FROM dense d JOIN tot t ON d.side = t.side),
         per AS (SELECT bin,
             SUM(CASE WHEN side = 'ref' THEN c ELSE 0 END) AS cr,
             MAX(CASE WHEN side = 'ref' THEN p END) AS pr,
             SUM(CASE WHEN side = 'cur' THEN c ELSE 0 END) AS cc,
             MAX(CASE WHEN side = 'cur' THEN p END) AS pc
           FROM wp GROUP BY 1)
         SELECT CAST(SUM(cr) AS BIGINT) AS n_ref,
           CAST(SUM(cc) AS BIGINT) AS n_cur,
           CAST(COUNT(*) AS BIGINT) AS k_bins,
           CAST(SUM(CAST(FLOOR((pc - pr) * ln(pc / pr) * 1000000000.0)
             AS DECIMAL(38,0))) AS DOUBLE) / 1000000000.0 AS psi
         FROM per""",

    // mirrors Stats.associationTable: per-pair joint/marginal counts,
    // floor-scaled chi-square cell terms, V = sqrt(chi2/(n*(min k - 1))).
    "q296_assoc_table" ->
      """WITH o AS (SELECT CAST(o_orderstatus AS VARCHAR) AS st,
             CAST(o_orderpriority AS VARCHAR) AS pr,
             CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR) AS yr
           FROM orders),
         pairs AS (
           SELECT 'o_orderstatus' AS cx, 'o_orderpriority' AS cy,
                  st AS a, pr AS b FROM o
           UNION ALL SELECT 'o_orderstatus', 'o_year', st, yr FROM o
           UNION ALL SELECT 'o_orderpriority', 'o_year', pr, yr FROM o),
         f AS (SELECT cx, cy, a, b FROM pairs
           WHERE a IS NOT NULL AND b IS NOT NULL),
         j AS (SELECT cx, cy, a, b, CAST(COUNT(*) AS BIGINT) AS nij
           FROM f GROUP BY 1, 2, 3, 4),
         ma AS (SELECT cx, cy, a, CAST(COUNT(*) AS BIGINT) AS ni
           FROM f GROUP BY 1, 2, 3),
         mb AS (SELECT cx, cy, b, CAST(COUNT(*) AS BIGINT) AS nj
           FROM f GROUP BY 1, 2, 3),
         tt AS (SELECT cx, cy, CAST(COUNT(*) AS BIGINT) AS n
           FROM f GROUP BY 1, 2),
         ka AS (SELECT cx, cy, CAST(COUNT(*) AS BIGINT) AS k_x
           FROM ma GROUP BY 1, 2),
         kb AS (SELECT cx, cy, CAST(COUNT(*) AS BIGINT) AS k_y
           FROM mb GROUP BY 1, 2),
         x2 AS (SELECT j.cx, j.cy, tt.n,
             CAST(tt.n AS DOUBLE) +
             CAST(SUM(CAST(FLOOR(
               ((CAST(nij AS DOUBLE)
                 - CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(nij AS DOUBLE)
                 - CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE) / CAST(n AS DOUBLE))
               / (CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE) / CAST(n AS DOUBLE))
               - CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE) / CAST(n AS DOUBLE))
               * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS chi2
           FROM j
           JOIN ma ON j.cx = ma.cx AND j.cy = ma.cy AND j.a = ma.a
           JOIN mb ON j.cx = mb.cx AND j.cy = mb.cy AND j.b = mb.b
           JOIN tt ON j.cx = tt.cx AND j.cy = tt.cy
           GROUP BY 1, 2, 3)
         SELECT x2.cx AS col_x, x2.cy AS col_y, x2.n AS n,
           ka.k_x, kb.k_y, chi2,
           CASE WHEN x2.n > 0 AND CAST(LEAST(ka.k_x, kb.k_y) AS DOUBLE) > 1.0
             THEN sqrt(chi2 / (CAST(x2.n AS DOUBLE)
               * (CAST(LEAST(ka.k_x, kb.k_y) AS DOUBLE) - 1.0))) END AS v
         FROM x2
         JOIN ka ON x2.cx = ka.cx AND x2.cy = ka.cy
         JOIN kb ON x2.cx = kb.cx AND x2.cy = kb.cy
         ORDER BY col_x, col_y""",

    // mirrors TextStats.rakeKeywords: the same two regexp_replace passes
    // (shared stopword alternation), degree/freq word scores, floor-scaled
    // phrase score sums, (score DESC, phrase) top-50.
    "q297_rake_keywords" -> {
      val sw = graft.llm.TextStats.englishStopwords.mkString("|")
      s"""WITH ph0 AS (SELECT unnest(string_split(regexp_replace(
             regexp_replace(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
               '[^a-z0-9'' ]', '|', 'g'),
             '\\b($sw)\\b', '|', 'g'), '|')) AS p0
           FROM documents),
         ph AS (SELECT trim(regexp_replace(p0, ' +', ' ', 'g')) AS phrase
           FROM ph0),
         ph2 AS (SELECT phrase, string_split(phrase, ' ') AS w,
             CAST(len(string_split(phrase, ' ')) AS BIGINT) AS l
           FROM ph WHERE phrase <> ''),
         ws AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(l) AS BIGINT) AS deg
           FROM (SELECT unnest(w) AS word, l FROM ph2) GROUP BY 1),
         occ AS (SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
             CAST(MAX(l) AS BIGINT) AS n_words
           FROM ph2 GROUP BY 1 HAVING COUNT(*) >= 2),
         pw AS (SELECT o.phrase, o.n_words, o.n_occurrences,
             unnest(string_split(o.phrase, ' ')) AS word FROM occ o),
         sc AS (SELECT phrase, n_words, n_occurrences,
             CAST(SUM(CAST(FLOOR(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE)
               * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS score
           FROM pw JOIN ws USING (word) GROUP BY 1, 2, 3)
         SELECT phrase, n_words, n_occurrences, score FROM sc
         ORDER BY score DESC, phrase ASC LIMIT 50"""
    },

    // mirrors Graph.modularity over the q287 label-propagation replay:
    // intra-community directed edge share minus the squared degree-mass
    // expectation, floor-scaled (10^9) per community.
    "q298_modularity" -> {
      val rounds = (1 to 3).map { k =>
        s"""l$k AS (SELECT a AS id, lbl FROM (
             SELECT e.a, l.lbl, COUNT(*) AS c,
               row_number() OVER (PARTITION BY e.a
                 ORDER BY COUNT(*) DESC, l.lbl ASC) AS rn
             FROM e JOIN l${k - 1} l ON e.b = l.id
             GROUP BY e.a, l.lbl) t WHERE rn = 1)"""
      }.mkString(",\n         ")
      s"""WITH pairs AS (
           SELECT DISTINCT o_custkey * 2 AS cnode, l_suppkey * 2 + 1 AS snode
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         e AS (SELECT cnode AS a, snode AS b FROM pairs
               UNION ALL SELECT snode, cnode FROM pairs),
         l0 AS (SELECT DISTINCT a AS id, a AS lbl FROM e),
         $rounds,
         lab AS (SELECT id, lbl FROM l3),
         m2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM e),
         intra AS (SELECT CAST(SUM(CASE WHEN la.lbl = lb.lbl THEN 1 ELSE 0
             END) AS BIGINT) AS intra
           FROM e JOIN lab la ON e.a = la.id JOIN lab lb ON e.b = lb.id),
         degc AS (SELECT la.lbl, CAST(SUM(d.deg) AS BIGINT) AS dc
           FROM (SELECT a, COUNT(*) AS deg FROM e GROUP BY 1) d
           JOIN lab la ON d.a = la.id GROUP BY 1),
         st AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_communities,
             CAST(SUM(CAST(FLOOR(CAST(dc AS DOUBLE) / CAST(m2.m2 AS DOUBLE)
               * (CAST(dc AS DOUBLE) / CAST(m2.m2 AS DOUBLE))
               * 1000000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000000.0 AS expterm
           FROM degc, m2)
         SELECT k_communities, CAST(m2.m2 / 2 AS BIGINT) AS m_edges,
           CAST(intra.intra / 2 AS BIGINT) AS intra_edges,
           CAST(intra.intra AS DOUBLE) / CAST(m2.m2 AS DOUBLE) - expterm
             AS modularity
         FROM st, intra, m2"""
    },

    // mirrors hashSampleTopKWeighted: the q158 md5 uniform offset to
    // (0,1), the Efraimidis-Spirakis ln(u)/w race floor-scaled to 10^9
    // integers, (race DESC, doc_id) top-100.
    "q299_weighted_topk" ->
      """WITH r AS (SELECT doc_id, lang, n_chars,
             CAST(FLOOR(ln((CAST(CAST(concat('0x', substr(md5(
               concat_ws('#', doc_id)), 1, 15)) AS BIGINT) % 1000000
               AS DOUBLE) + 0.5) / 1000000.0)
               / CAST(n_chars AS DOUBLE) * 1000000000.0) AS BIGINT) AS race
           FROM documents
           WHERE n_chars IS NOT NULL AND CAST(n_chars AS DOUBLE) > 0.0),
         top AS (SELECT doc_id, lang, n_chars FROM r
           ORDER BY race DESC, doc_id ASC LIMIT 100)
         SELECT doc_id, lang, n_chars FROM top ORDER BY doc_id""",

    // mirrors Behavior.sequenceSupport: first-occurrence positions, the
    // per-user (state, first-pos) self-join, exact count ratios.
    "q300_seq_support" ->
      """WITH e AS (SELECT user_id, event_type, ts, event_id FROM events
           WHERE event_type IS NOT NULL),
         pos AS (SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS p
           FROM e),
         f AS (SELECT user_id AS u, event_type AS st, MIN(p) AS fp
           FROM pos GROUP BY 1, 2),
         nu AS (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS nu FROM f),
         na AS (SELECT st AS antecedent, CAST(COUNT(*) AS BIGINT) AS n_users_a
           FROM f GROUP BY 1),
         ab AS (SELECT x.st AS antecedent, y.st AS consequent,
             CAST(COUNT(*) AS BIGINT) AS n_users_ab
           FROM f x JOIN f y ON x.u = y.u AND x.st <> y.st AND x.fp < y.fp
           GROUP BY 1, 2)
         SELECT ab.antecedent, ab.consequent, n_users_ab, n_users_a,
           nu AS n_users,
           CAST(n_users_ab AS DOUBLE) / CAST(nu AS DOUBLE) AS support,
           CAST(n_users_ab AS DOUBLE) / CAST(n_users_a AS DOUBLE)
             AS confidence
         FROM ab JOIN na ON ab.antecedent = na.antecedent CROSS JOIN nu
         ORDER BY 1, 2""",

    // mirrors Stats.binnedMi: quantile_cont decile edges, ties-to-lower
    // binning, then the q231 MI body verbatim over the bin ids.
    "q301_binned_mi" ->
      """WITH src AS (SELECT CAST(l_quantity AS DOUBLE) AS xa,
             CAST(l_extendedprice AS DOUBLE) AS xb
           FROM lineitem
           WHERE l_quantity IS NOT NULL
             AND NOT isnan(CAST(l_quantity AS DOUBLE))
             AND l_extendedprice IS NOT NULL
             AND NOT isnan(CAST(l_extendedprice AS DOUBLE))),
         qa AS (SELECT quantile_cont(xa,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs FROM src),
         qb AS (SELECT quantile_cont(xb,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs FROM src),
         c AS (SELECT 1 + len(list_filter(qa.qs, e -> xa > e)) AS a,
                      1 + len(list_filter(qb.qs, e -> xb > e)) AS b
           FROM src, qa, qb),
         j AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS nij
           FROM c GROUP BY 1, 2),
         ma AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS ni FROM c GROUP BY 1),
         mb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nj FROM c GROUP BY 1),
         tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c),
         mi AS (SELECT n,
             CAST(SUM(CAST(FLOOR((CAST(nij AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(nij AS DOUBLE) * CAST(n AS DOUBLE)
                 / (CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE)))
               * 1000000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000000.0 AS mi
           FROM j JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tt
           GROUP BY n),
         ha AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS k_a,
             CAST(SUM(CAST(FLOOR((-(CAST(ni AS DOUBLE) / CAST(n AS DOUBLE)))
               * ln(CAST(ni AS DOUBLE) / CAST(n AS DOUBLE))
               * 1000000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000000.0 AS h_a
           FROM ma CROSS JOIN tt GROUP BY n),
         hb AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS k_b,
             CAST(SUM(CAST(FLOOR((-(CAST(nj AS DOUBLE) / CAST(n AS DOUBLE)))
               * ln(CAST(nj AS DOUBLE) / CAST(n AS DOUBLE))
               * 1000000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000000.0 AS h_b
           FROM mb CROSS JOIN tt GROUP BY n)
         SELECT mi.n AS n, k_a, k_b, h_a, h_b, mi,
           CASE WHEN h_a > 0.0 AND h_b > 0.0
             THEN mi / sqrt(h_a * h_b) END AS nmi
         FROM mi JOIN ha USING (n) JOIN hb USING (n)""",

    // mirrors Stats.jsDivergence: one category-count frame, the mixture
    // m = (p+q)/2, 0 ln 0 = 0, floor-scaled (10^9) term sums.
    "q302_jsd" ->
      """WITH v AS (SELECT event_type AS cat,
             CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1
                  ELSE 0 END AS isr
           FROM events
           WHERE event_type IS NOT NULL
             AND (ts < TIMESTAMP '2024-01-16 00:00:00'
                  OR ts >= TIMESTAMP '2024-01-16 00:00:00')),
         per AS (SELECT cat,
             CAST(SUM(CASE WHEN isr = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nr,
             CAST(SUM(CASE WHEN isr = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc
           FROM v GROUP BY 1),
         tot AS (SELECT CAST(SUM(nr) AS BIGINT) AS tr,
             CAST(SUM(nc) AS BIGINT) AS tc FROM per),
         terms AS (SELECT tr, tc,
             CASE WHEN nr > 0 THEN (CAST(nr AS DOUBLE) / CAST(tr AS DOUBLE))
               * ln((CAST(nr AS DOUBLE) / CAST(tr AS DOUBLE))
                 / ((CAST(nr AS DOUBLE) / CAST(tr AS DOUBLE)
                     + CAST(nc AS DOUBLE) / CAST(tc AS DOUBLE)) / 2.0))
               ELSE 0.0 END AS tp,
             CASE WHEN nc > 0 THEN (CAST(nc AS DOUBLE) / CAST(tc AS DOUBLE))
               * ln((CAST(nc AS DOUBLE) / CAST(tc AS DOUBLE))
                 / ((CAST(nr AS DOUBLE) / CAST(tr AS DOUBLE)
                     + CAST(nc AS DOUBLE) / CAST(tc AS DOUBLE)) / 2.0))
               ELSE 0.0 END AS tq
           FROM per, tot)
         SELECT tr AS n_ref, tc AS n_cur,
           CAST(COUNT(*) AS BIGINT) AS k_categories,
           CASE WHEN tr > 0 AND tc > 0 THEN
             0.5 * (CAST(SUM(CAST(FLOOR(tp * 1000000000.0)
               AS DECIMAL(38,0))) AS DOUBLE) / 1000000000.0)
             + 0.5 * (CAST(SUM(CAST(FLOOR(tq * 1000000000.0)
               AS DECIMAL(38,0))) AS DOUBLE) / 1000000000.0) END AS jsd
         FROM terms GROUP BY tr, tc""",

    // mirrors Behavior.dwellTimes: exact epoch-microsecond lead
    // differences, one state aggregation, divisions only at the end.
    "q303_dwell" ->
      """WITH g AS (SELECT event_type AS state,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) - epoch_us(ts) AS dw
           FROM events),
         f AS (SELECT state, dw FROM g
           WHERE dw IS NOT NULL AND state IS NOT NULL)
         SELECT state, CAST(COUNT(*) AS BIGINT) AS n_spells,
           CAST(SUM(dw) AS DOUBLE) / 1000000.0 AS total_secs,
           CAST(SUM(dw) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             / 1000000.0 AS mean_secs,
           CAST(MAX(dw) AS DOUBLE) / 1000000.0 AS max_secs
         FROM f GROUP BY 1 ORDER BY 1""",

    // mirrors Stats.fleissKappa: (item, category) cells, per-item P_i over
    // items with >= 2 ratings, marginal P_e, both floor-scaled (10^9).
    "q304_fleiss_kappa" ->
      """WITH cell AS (SELECT user_id AS it, event_type AS ct,
             CAST(COUNT(*) AS BIGINT) AS nij
           FROM events
           WHERE user_id IS NOT NULL AND event_type IS NOT NULL
           GROUP BY 1, 2),
         pi AS (SELECT it, CAST(SUM(nij) AS BIGINT) AS ni,
             CAST(SUM(nij * nij) AS BIGINT) AS s2
           FROM cell GROUP BY 1 HAVING SUM(nij) >= 2),
         pb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(SUM(ni) AS BIGINT) AS n_ratings,
             CAST(SUM(CAST(FLOOR(CAST(s2 - ni AS DOUBLE)
               / (CAST(ni AS DOUBLE) * (CAST(ni AS DOUBLE) - 1.0))
               * 1000000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000000.0 AS spi
           FROM pi),
         ctt AS (SELECT cell.ct, CAST(SUM(nij) AS BIGINT) AS cj
           FROM cell JOIN pi ON cell.it = pi.it GROUP BY 1),
         t AS (SELECT CAST(SUM(cj) AS BIGINT) AS t FROM ctt),
         pe AS (SELECT CAST(SUM(CAST(FLOOR(
             CAST(cj AS DOUBLE) / CAST(t.t AS DOUBLE)
             * (CAST(cj AS DOUBLE) / CAST(t.t AS DOUBLE))
             * 1000000000.0) AS DECIMAL(38,0))) AS DOUBLE)
             / 1000000000.0 AS p_e
           FROM ctt, t)
         SELECT n_items, n_ratings,
           spi / CAST(n_items AS DOUBLE) AS p_bar, p_e,
           CASE WHEN p_e <> 1.0 THEN
             (spi / CAST(n_items AS DOUBLE) - p_e) / (1.0 - p_e)
           END AS kappa
         FROM pb, pe""",

    // mirrors Stats.holmAdjust: ascending-p ranks, the step-down
    // prefix-max of LEAST((m-j+1)*p, 1).
    "q312_holm" ->
      """WITH tests AS (SELECT doc_id,
             (CAST(concat('0x', substr(md5(concat_ws('#', doc_id)), 1, 15))
               AS BIGINT) % 1000000) / 1000000.0 AS p_value
           FROM documents WHERE doc_id % 7 = 0),
         r AS (SELECT doc_id, p_value,
             CAST(ROW_NUMBER() OVER (ORDER BY p_value, doc_id) AS BIGINT)
               AS holm_rank,
             CAST(COUNT(*) OVER () AS BIGINT) AS m
           FROM tests)
         SELECT doc_id, p_value, holm_rank,
           MAX(LEAST((CAST(m AS DOUBLE) - CAST(holm_rank AS DOUBLE) + 1.0)
             * p_value, 1.0)) OVER (ORDER BY holm_rank
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_adj
         FROM r ORDER BY holm_rank""",

    // mirrors Ml.cumulativeGains: percent_rank banding on the negated
    // score, O(buckets) cumulates, the identical gain/lift arithmetic.
    "q313_gains" ->
      """WITH b AS (SELECT -CAST(n_chars AS DOUBLE) AS neg,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
           FROM documents
           WHERE n_chars IS NOT NULL
             AND NOT isnan(CAST(n_chars AS DOUBLE))),
         pr AS (SELECT y, percent_rank() OVER (ORDER BY neg) AS p FROM b),
         bd AS (SELECT LEAST(10, CAST(FLOOR(p * 10) AS INTEGER) + 1)
             AS bucket, y FROM pr),
         per AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS n_pos FROM bd GROUP BY 1),
         tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tn,
             CAST(SUM(n_pos) AS BIGINT) AS tp FROM per),
         cum AS (SELECT bucket, n, n_pos,
             CAST(SUM(n) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
             CAST(SUM(n_pos) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos
           FROM per)
         SELECT CAST(bucket AS BIGINT) AS bucket, n, n_pos, cum_n, cum_pos,
           CASE WHEN tp > 0 THEN CAST(cum_pos AS DOUBLE)
             / CAST(tp AS DOUBLE) END AS gain,
           CASE WHEN tp > 0 AND cum_n > 0 THEN CAST(cum_pos AS DOUBLE)
             / CAST(cum_n AS DOUBLE)
             / (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)) END AS lift
         FROM cum, tot ORDER BY bucket""",

    // ---- indicator-tier oracles (q315–q322). Shared conventions: the
    // same NaN/null filter as evClean, per-key windows ordered (ts,
    // event_id), floor-scaled DECIMAL(38,0) sums, pinned final op order.

    // mirrors Indicators.ohlcBars: argmin/argmax by (ts, event_id) via
    // two row_numbers, exact-sum volume.
    "q315_ohlc_bars" ->
      """WITH e AS (SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS v
           FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         b AS (SELECT user_id, date_trunc('hour', ts) AS bar_ts, v,
             row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
               ORDER BY ts, event_id) AS ra,
             row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
               ORDER BY ts DESC, event_id DESC) AS rd
           FROM e)
         SELECT user_id, bar_ts,
           MAX(CASE WHEN ra = 1 THEN v END) AS open,
           MAX(v) AS high, MIN(v) AS low,
           MAX(CASE WHEN rd = 1 THEN v END) AS close,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(v * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE)
             / 1000000.0 AS volume
         FROM b GROUP BY 1, 2 ORDER BY user_id, bar_ts""",

    // mirrors Indicators.rsi: keyed lag deltas, exact 14-row gain/loss
    // sums, 100·g/(g+l).
    "q316_rsi" ->
      """WITH e AS (SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS v
           FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         d AS (SELECT event_id, user_id, ts, v,
             v - lag(v) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dd
           FROM e),
         g AS (SELECT event_id, user_id, ts, dd,
             CASE WHEN dd IS NULL THEN NULL
                  WHEN dd > 0 THEN dd ELSE 0.0 END AS gain,
             CASE WHEN dd IS NULL THEN NULL
                  WHEN dd < 0 THEN -dd ELSE 0.0 END AS loss
           FROM d),
         s AS (SELECT event_id, user_id,
             CAST(SUM(CAST(FLOOR(gain * 1000000.0) AS DECIMAL(38,0))) OVER w
               AS DOUBLE) / 1000000.0 / COUNT(dd) OVER w AS ag,
             CAST(SUM(CAST(FLOOR(loss * 1000000.0) AS DECIMAL(38,0))) OVER w
               AS DOUBLE) / 1000000.0 / COUNT(dd) OVER w AS al
           FROM g
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         SELECT event_id, user_id,
           CASE WHEN ag + al > 0 THEN 100.0 * ag / (ag + al) END AS rsi
         FROM s ORDER BY event_id""",

    // mirrors Indicators.bollinger: exact Σx/Σx² windows, pinned
    // sqrt(greatest(Σx²/n − m², 0)) and band arithmetic.
    "q317_bollinger" ->
      """WITH e AS (SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS v
           FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         s AS (SELECT event_id, user_id, v,
             CAST(SUM(CAST(FLOOR(v * 1000000.0) AS DECIMAL(38,0))) OVER w
               AS DOUBLE) / 1000000.0 / COUNT(v) OVER w AS m,
             CAST(SUM(CAST(FLOOR(v * v * 1000000.0) AS DECIMAL(38,0))) OVER w
               AS DOUBLE) / 1000000.0 / COUNT(v) OVER w AS sxx
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
         bands AS (SELECT event_id, user_id, v, m AS bb_mid,
             m + 2.0 * sqrt(greatest(sxx - m * m, 0.0)) AS bb_up,
             m - 2.0 * sqrt(greatest(sxx - m * m, 0.0)) AS bb_dn
           FROM s)
         SELECT event_id, user_id, bb_mid, bb_up, bb_dn,
           CASE WHEN bb_up - bb_dn > 0
             THEN (v - bb_dn) / (bb_up - bb_dn) END AS pct_b
         FROM bands ORDER BY event_id""",

    // mirrors Indicators.macd: the three coupled EMA recurrences replayed
    // row-by-row with the IDENTICAL double literals (interpolated from the
    // same Scala expressions the fold evaluates) and op order
    // a·state + b·x / fast − slow / a·sig + b·macd.
    "q318_macd" -> {
      // interpolated constants carry an e0 suffix: DuckDB parses a plain
      // 17-digit literal as DECIMAL, and the decimal→double conversion is
      // off by an ulp vs strtod — the exponent form parses as DOUBLE
      // directly, bit-identical to the Scala doubles the fold multiplies
      def d(x: Double): String = {
        val s = x.toString
        if (s.contains("e") || s.contains("E")) s else s + "e0"
      }
      val (bF, bS, bG) = (d(2.0 / 13), d(2.0 / 27), d(2.0 / 10))
      val (aF, aS, aG) =
        (d(1.0 - 2.0 / 13), d(1.0 - 2.0 / 27), d(1.0 - 2.0 / 10))
      s"""WITH RECURSIVE seq AS MATERIALIZED (
           SELECT event_id, user_id, CAST(value AS DOUBLE) AS x,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         rec AS (
           SELECT event_id, user_id, x, rn,
             x AS f, x AS s, x - x AS m, x - x AS sig
           FROM seq WHERE rn = 1
           UNION ALL
           SELECT e.event_id, e.user_id, e.x, e.rn,
             $aF * r.f + $bF * e.x AS f,
             $aS * r.s + $bS * e.x AS s,
             ($aF * r.f + $bF * e.x) - ($aS * r.s + $bS * e.x) AS m,
             $aG * r.sig + $bG *
               (($aF * r.f + $bF * e.x) - ($aS * r.s + $bS * e.x)) AS sig
           FROM rec r JOIN seq e
             ON e.user_id = r.user_id AND e.rn = r.rn + 1)
         SELECT event_id, user_id, m AS macd, sig AS macd_signal,
           m - sig AS macd_hist
         FROM rec ORDER BY event_id"""
    },

    // mirrors Indicators.drawdown: running max (exact), pinned ratios.
    "q319_drawdown" ->
      """WITH e AS (SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS v
           FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         p AS (SELECT event_id, user_id, v,
             MAX(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
           FROM e)
         SELECT event_id, user_id, peak, peak - v AS dd,
           CASE WHEN peak <> 0 THEN (peak - v) / peak END AS dd_pct
         FROM p ORDER BY event_id""",

    // mirrors Indicators.sharpe: per-row v/prev − 1, exact Σr/Σr² (1e6),
    // population std, (mean/std)·sqrt(252).
    "q320_sharpe" ->
      """WITH e AS (SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS v
           FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         r AS (SELECT user_id,
             CASE WHEN prev IS NOT NULL AND prev <> 0
               THEN v / prev - 1.0 END AS r
           FROM (SELECT user_id, v, lag(v) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM e)),
         a AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_returns,
             CAST(SUM(CAST(FLOOR(r * 1000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000.0 AS sr,
             CAST(SUM(CAST(FLOOR(r * r * 1000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000.0 AS srr
           FROM r WHERE r IS NOT NULL GROUP BY 1),
         m AS (SELECT user_id, n_returns, srr, sr / n_returns AS mean_r
           FROM a),
         sd AS (SELECT user_id, n_returns, mean_r,
             sqrt(greatest(srr / n_returns - mean_r * mean_r, 0.0)) AS std_r
           FROM m)
         SELECT user_id, n_returns, mean_r, std_r,
           CASE WHEN std_r > 0
             THEN mean_r / std_r * sqrt(252.0) END AS sharpe
         FROM sd ORDER BY user_id""",

    // mirrors Indicators.varEs: exact rank selection of the ⌈α·n⌉-th
    // smallest return (ties broken by the order columns), exact tail mean.
    "q321_var_es" ->
      """WITH e AS (SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS v
           FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         r AS (SELECT event_id, user_id, ts,
             CASE WHEN prev IS NOT NULL AND prev <> 0
               THEN v / prev - 1.0 END AS r
           FROM (SELECT event_id, user_id, ts, v, lag(v) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM e)),
         rk AS (SELECT user_id, r,
             row_number() OVER (PARTITION BY user_id
               ORDER BY r, ts, event_id) AS rk,
             CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
           FROM r WHERE r IS NOT NULL),
         kk AS (SELECT user_id, r, rk, n,
             CAST(CEIL(0.05 * n) AS BIGINT) AS k FROM rk),
         t AS (SELECT user_id, MAX(n) AS n_returns, MAX(k) AS k_tail,
             MAX(CASE WHEN rk = k THEN r END) AS var_alpha,
             CAST(SUM(CAST(FLOOR(r * 1000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000.0 AS ssum
           FROM kk WHERE rk <= k GROUP BY 1)
         SELECT user_id, n_returns, k_tail, var_alpha,
           ssum / k_tail AS es_alpha
         FROM t ORDER BY user_id""",

    // mirrors Indicators.stochastic: exact window min/max, derived %K,
    // exact-sum 3-row %D.
    "q322_stochastic" ->
      """WITH e AS (SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS v
           FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         b AS (SELECT event_id, user_id, ts, v,
             MIN(v) OVER wn AS lo, MAX(v) OVER wn AS hi
           FROM e
           WINDOW wn AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
         k AS (SELECT event_id, user_id, ts,
             CASE WHEN hi - lo > 0
               THEN 100.0 * (v - lo) / (hi - lo) END AS pct_k
           FROM b)
         SELECT event_id, user_id, pct_k,
           CAST(SUM(CAST(FLOOR(pct_k * 1000000.0) AS DECIMAL(38,0))) OVER wd
             AS DOUBLE) / 1000000.0 / COUNT(pct_k) OVER wd AS pct_d
         FROM k
         WINDOW wd AS (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",

    // mirrors Stats.theilU: the q231 entropy/MI machinery plus the three
    // uncertainty-coefficient divisions.
    "q323_theil_u" ->
      """WITH c AS (SELECT c_mktsegment AS a, c_nationkey AS b
           FROM customer
           WHERE c_mktsegment IS NOT NULL AND c_nationkey IS NOT NULL),
         j AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS nij
           FROM c GROUP BY 1, 2),
         ma AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS ni FROM c GROUP BY 1),
         mb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nj FROM c GROUP BY 1),
         tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c),
         mi AS (SELECT n,
             CAST(SUM(CAST(FLOOR((CAST(nij AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(nij AS DOUBLE) * CAST(n AS DOUBLE)
                 / (CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE)))
               * 1000000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000000.0 AS mi
           FROM j JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tt
           GROUP BY n),
         ha AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS k_a,
             CAST(SUM(CAST(FLOOR((-(CAST(ni AS DOUBLE) / CAST(n AS DOUBLE)))
               * ln(CAST(ni AS DOUBLE) / CAST(n AS DOUBLE))
               * 1000000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000000.0 AS h_a
           FROM ma CROSS JOIN tt GROUP BY n),
         hb AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS k_b,
             CAST(SUM(CAST(FLOOR((-(CAST(nj AS DOUBLE) / CAST(n AS DOUBLE)))
               * ln(CAST(nj AS DOUBLE) / CAST(n AS DOUBLE))
               * 1000000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000000.0 AS h_b
           FROM mb CROSS JOIN tt GROUP BY n)
         SELECT mi.n AS n, k_a, k_b, h_a, h_b, mi,
           CASE WHEN h_a > 0.0 THEN mi / h_a END AS u_a_given_b,
           CASE WHEN h_b > 0.0 THEN mi / h_b END AS u_b_given_a,
           CASE WHEN h_a + h_b > 0.0
             THEN 2.0 * mi / (h_a + h_b) END AS u_symmetric
         FROM mi JOIN ha USING (n) JOIN hb USING (n)""",

    // mirrors Stats.ordinalAssociation: exact cell-pair reductions for
    // C/D/ties, then the pinned divisions.
    "q324_ordinal_assoc" ->
      """WITH c AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
             CAST(l_discount AS DOUBLE) AS y
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND NOT isnan(CAST(l_quantity AS DOUBLE))
             AND l_discount IS NOT NULL AND NOT isnan(CAST(l_discount AS DOUBLE))),
         cells AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM c GROUP BY 1, 2),
         cross_pairs AS (SELECT a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2,
             a.cnt * b.cnt AS p
           FROM cells a JOIN cells b ON (a.x, a.y) < (b.x, b.y)),
         agg1 AS (SELECT
             CAST(COALESCE(SUM(CASE WHEN (x1 < x2 AND y1 < y2)
               OR (x1 > x2 AND y1 > y2) THEN p END), 0) AS BIGINT) AS conc,
             CAST(COALESCE(SUM(CASE WHEN (x1 < x2 AND y1 > y2)
               OR (x1 > x2 AND y1 < y2) THEN p END), 0) AS BIGINT) AS disc,
             CAST(COALESCE(SUM(CASE WHEN x1 = x2 THEN p END), 0) AS BIGINT)
               AS tx_cross,
             CAST(COALESCE(SUM(CASE WHEN y1 = y2 THEN p END), 0) AS BIGINT)
               AS ty_cross
           FROM cross_pairs),
         agg2 AS (SELECT CAST(COALESCE(SUM(cnt * (cnt - 1) // 2), 0)
             AS BIGINT) AS txy FROM cells),
         nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c),
         base AS (SELECT n, n * (n - 1) // 2 AS n0, conc, disc,
             tx_cross + txy AS tie_x, ty_cross + txy AS tie_y, txy AS tie_xy
           FROM agg1, agg2, nn)
         SELECT n, n0, conc, disc, tie_x, tie_y, tie_xy,
           CASE WHEN conc + disc > 0 THEN
             (CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
               / CAST(conc + disc AS DOUBLE) END AS gamma,
           CASE WHEN n0 > tie_x THEN
             (CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
               / CAST(n0 - tie_x AS DOUBLE) END AS somers_d_yx,
           CASE WHEN n0 > tie_y THEN
             (CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
               / CAST(n0 - tie_y AS DOUBLE) END AS somers_d_xy,
           CASE WHEN n0 > 0 THEN
             (CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
               / CAST(n0 AS DOUBLE) END AS tau_a,
           CASE WHEN n0 > tie_x AND n0 > tie_y THEN
             (CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
               / sqrt(CAST(n0 - tie_x AS DOUBLE)
                 * CAST(n0 - tie_y AS DOUBLE)) END AS tau_b
         FROM base""",

    // mirrors Stats.pointBiserial: one exact aggregation, pinned finish.
    "q325_point_biserial" ->
      """WITH e AS (SELECT CAST(value AS DOUBLE) AS v,
             (event_type = 'purchase') AS b
           FROM events
           WHERE value IS NOT NULL AND NOT isnan(value)
             AND event_type IS NOT NULL),
         a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) FILTER (b) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN b THEN CAST(FLOOR(v * 1000000.0)
               AS DECIMAL(38,0)) END) AS DOUBLE) / 1000000.0 AS s1,
             CAST(SUM(CASE WHEN NOT b THEN CAST(FLOOR(v * 1000000.0)
               AS DECIMAL(38,0)) END) AS DOUBLE) / 1000000.0 AS s0,
             CAST(SUM(CAST(FLOOR(v * 1000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000.0 AS s,
             CAST(SUM(CAST(FLOOR(v * v * 1000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000.0 AS sxx
           FROM e),
         m AS (SELECT n, n1, n - n1 AS n0,
             CASE WHEN n1 > 0 THEN s1 / CAST(n1 AS DOUBLE) END AS mean_1,
             CASE WHEN n - n1 > 0
               THEN s0 / CAST(n - n1 AS DOUBLE) END AS mean_0,
             s / CAST(n AS DOUBLE) AS mean_all, sxx
           FROM a),
         sd AS (SELECT n, n1, n0, mean_1, mean_0,
             sqrt(greatest(sxx / CAST(n AS DOUBLE)
               - mean_all * mean_all, 0.0)) AS std_n
           FROM m)
         SELECT n, n1, n0, mean_1, mean_0, std_n,
           CASE WHEN n1 > 0 AND n0 > 0 AND std_n > 0 THEN
             (mean_1 - mean_0) / std_n
               * sqrt(CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) END AS r_pb
         FROM sd""",

    // mirrors Stats.durbinWatson: exact whole-partition mean, pinned
    // centering, exact quadratic sums.
    "q326_durbin_watson" ->
      """WITH e AS (SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS v
           FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         m AS (SELECT user_id, ts, event_id,
             v - CAST(SUM(CAST(FLOOR(v * 1000000.0) AS DECIMAL(38,0)))
               OVER (PARTITION BY user_id) AS DOUBLE) / 1000000.0
               / COUNT(v) OVER (PARTITION BY user_id) AS ec
           FROM e),
         d AS (SELECT user_id, ec,
             ec - lag(ec) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS dd
           FROM m),
         a AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(dd * dd * 1000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000.0 AS num,
             CAST(SUM(CAST(FLOOR(ec * ec * 1000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000.0 AS den
           FROM d GROUP BY 1)
         SELECT user_id, n, CASE WHEN den > 0 THEN num / den END AS dw
         FROM a ORDER BY user_id""",

    // mirrors Stats.gTest: the q231 MI machinery, G = 2n·MI, integer dof.
    "q327_gtest" ->
      """WITH c AS (SELECT c_mktsegment AS a, c_nationkey AS b
           FROM customer
           WHERE c_mktsegment IS NOT NULL AND c_nationkey IS NOT NULL),
         j AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS nij
           FROM c GROUP BY 1, 2),
         ma AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS ni FROM c GROUP BY 1),
         mb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nj FROM c GROUP BY 1),
         tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c),
         mi AS (SELECT n,
             CAST(SUM(CAST(FLOOR((CAST(nij AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(nij AS DOUBLE) * CAST(n AS DOUBLE)
                 / (CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE)))
               * 1000000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000000.0 AS mi
           FROM j JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tt
           GROUP BY n),
         ka AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS k_a
           FROM ma CROSS JOIN tt GROUP BY n),
         kb AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS k_b
           FROM mb CROSS JOIN tt GROUP BY n)
         SELECT mi.n AS n, k_a, k_b, (k_a - 1) * (k_b - 1) AS dof,
           2.0 * CAST(mi.n AS DOUBLE) * mi AS g_stat
         FROM mi JOIN ka USING (n) JOIN kb USING (n)""",

    // mirrors Stats.cochranQ: max-reduced 0/1 cells, complete blocks,
    // exact BIGINT margin sums, one final division.
    "q328_cochran_q" ->
      """WITH cells AS (SELECT user_id AS i, event_type AS t,
             MAX(CASE WHEN value > 250 AND NOT isnan(value)
               THEN 1 ELSE 0 END) AS x
           FROM events
           WHERE user_id IS NOT NULL AND event_type IS NOT NULL
           GROUP BY 1, 2),
         kk AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS k FROM cells),
         bi AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS kt,
             CAST(SUM(x) AS BIGINT) AS ri FROM cells GROUP BY 1),
         comp AS (SELECT i, ri FROM bi, kk WHERE kt = kk.k),
         dr AS (SELECT CAST((SELECT COUNT(*) FROM bi)
             - (SELECT COUNT(*) FROM comp) AS BIGINT) AS n_dropped),
         ragg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(COALESCE(SUM(ri), 0) AS BIGINT) AS ns,
             CAST(COALESCE(SUM(ri * ri), 0) AS BIGINT) AS sr2 FROM comp),
         cagg AS (SELECT CAST(COALESCE(SUM(cj * cj), 0) AS BIGINT) AS sc2
           FROM (SELECT CAST(SUM(x) AS BIGINT) AS cj FROM cells
                 WHERE i IN (SELECT i FROM comp) GROUP BY t))
         SELECT kk.k AS k, n_items, n_dropped, ns AS n_success,
           CASE WHEN kk.k * ns - sr2 > 0 THEN
             CAST(kk.k * (kk.k - 1) * (kk.k * sc2 - ns * ns) AS DOUBLE)
               / CAST(kk.k * ns - sr2 AS DOUBLE) END AS q_stat
         FROM ragg, cagg, kk, dr""",

    // mirrors Stats.kendallW: exact per-(rater, item) score sums,
    // deterministic (score, item) ranks, integer S4, pinned W.
    "q329_kendall_w" ->
      """WITH e AS (SELECT event_type AS r, user_id AS i,
             CAST(value AS DOUBLE) AS v
           FROM events
           WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             AND value IS NOT NULL AND NOT isnan(value)),
         sc AS (SELECT r, i,
             CAST(SUM(CAST(FLOOR(v * 1000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000.0 AS s
           FROM e GROUP BY 1, 2),
         mm AS (SELECT CAST(COUNT(DISTINCT r) AS BIGINT) AS m FROM sc),
         comp AS (SELECT i FROM sc GROUP BY i
           HAVING CAST(COUNT(*) AS BIGINT) = (SELECT m FROM mm)),
         rk AS (SELECT r, i,
             row_number() OVER (PARTITION BY r ORDER BY s, i) AS rnk
           FROM sc WHERE i IN (SELECT i FROM comp)),
         ri AS (SELECT i, CAST(SUM(rnk) AS BIGINT) AS ri
           FROM rk GROUP BY 1),
         nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ri),
         s4 AS (SELECT CAST(COALESCE(SUM((ri * 2 - m * (n + 1))
               * (ri * 2 - m * (n + 1))), 0) AS BIGINT) AS s4
           FROM ri, mm, nn)
         SELECT mm.m AS m, nn.n AS n_items, s4.s4 AS s4,
           CASE WHEN nn.n > 1 THEN 3.0 * CAST(s4.s4 AS DOUBLE)
             / CAST(mm.m * mm.m * (nn.n * nn.n * nn.n - nn.n) AS DOUBLE)
           END AS w
         FROM mm, nn, s4""",

    // mirrors Stats.krippendorffAlpha: max-reduced ratings, per-cell
    // floor-scaled D_o terms, BIGINT D_e numerator, pinned finish.
    "q330_krippendorff" ->
      """WITH e AS (SELECT user_id AS i, event_type AS r,
             CAST(CAST(FLOOR(value / 100) AS BIGINT) AS VARCHAR) AS c
           FROM events
           WHERE value IS NOT NULL AND NOT isnan(value)
             AND user_id IS NOT NULL AND event_type IS NOT NULL),
         rt AS (SELECT i, r, MAX(c) AS c FROM e GROUP BY 1, 2),
         bi AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS mu
           FROM rt GROUP BY 1 HAVING COUNT(*) >= 2),
         kept AS (SELECT rt.i, rt.r, rt.c, bi.mu FROM rt JOIN bi USING (i)),
         cells AS (SELECT i, c, mu, CAST(COUNT(*) AS BIGINT) AS ouc
           FROM kept GROUP BY 1, 2, 3),
         dd AS (SELECT CAST(COUNT(DISTINCT i) AS BIGINT) AS n_items,
             CAST(COALESCE(SUM(ouc), 0) AS BIGINT) AS n_ratings,
             CAST(SUM(CAST(FLOOR(CAST(ouc AS DOUBLE)
               * CAST(mu - ouc AS DOUBLE) / CAST(mu - 1 AS DOUBLE)
               * 1000000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000000.0 AS dosum
           FROM cells),
         ca AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS nc
           FROM kept GROUP BY 1),
         tot AS (SELECT CAST(COALESCE(SUM(nc), 0) AS BIGINT) AS n FROM ca),
         de AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_categories,
             MAX(n) AS n2,
             CAST(COALESCE(SUM(nc * (n - nc)), 0) AS BIGINT) AS denum
           FROM ca, tot),
         fin AS (SELECT n_items, n_ratings, n_categories,
             dosum / CAST(n2 AS DOUBLE) AS d_o,
             CAST(denum AS DOUBLE) / CAST(n2 * (n2 - 1) AS DOUBLE) AS d_e
           FROM dd, de)
         SELECT n_items, n_ratings, n_categories, d_o, d_e,
           CASE WHEN d_e > 0 THEN 1.0 - d_o / d_e END AS alpha
         FROM fin""",

    // mirrors Stats.fisherExact: exact BIGINT log-factorial table
    // (Σ⌊ln(i)·10⁶⌋ — see the operator scaladoc for the libm-portability
    // argument), integer tail membership, floor-quantized exp sum.
    // range() only takes constants, so the index is over-generated to a
    // 100M bound and filtered to n (covers replicas to ~sf1000).
    "q331_fisher_exact" ->
      """WITH f AS (SELECT
             (event_type = 'purchase' AND value > 250
               AND NOT isnan(value)) AS af,
             (hour(ts) < 12) AS bf
           FROM events),
         cnt AS (SELECT
             CAST(COUNT(*) FILTER (af AND bf) AS BIGINT) AS a,
             CAST(COUNT(*) FILTER (af AND NOT bf) AS BIGINT) AS b,
             CAST(COUNT(*) FILTER (NOT af AND bf) AS BIGINT) AS c,
             CAST(COUNT(*) FILTER (NOT af AND NOT bf) AS BIGINT) AS d
           FROM f WHERE af IS NOT NULL AND bf IS NOT NULL),
         m AS (SELECT a, b, c, d, a + b + c + d AS n,
             a + b AS r1, c + d AS r2, a + c AS c1, b + d AS c2,
             greatest(CAST(0 AS BIGINT),
               (a + b) + (a + c) - (a + b + c + d)) AS kmin,
             least(a + b, a + c) AS kmax
           FROM cnt),
         idx AS (SELECT range AS i,
             CAST(FLOOR(ln(CAST(range AS DOUBLE)) * 1000000.0) AS BIGINT)
               AS li
           FROM range(2, 100000001)
           WHERE range <= (SELECT n FROM m)),
         ks AS (SELECT range AS k FROM range(0, 100000001)
           WHERE range BETWEEN (SELECT kmin FROM m)
             AND (SELECT kmax FROM m)),
         ex AS (SELECT k,
             unnest([r1, r2, c1, c2, n, k, r1 - k, c1 - k,
               n - r1 - c1 + k]) AS x,
             unnest([0, 1, 2, 3, 4, 5, 6, 7, 8]) AS pos
           FROM ks, m),
         lf AS (SELECT x, CAST(COALESCE(SUM(li), 0) AS BIGINT) AS lf
           FROM (SELECT DISTINCT x FROM ex) ax
           LEFT JOIN idx ON i <= x GROUP BY x),
         lp AS (SELECT k,
             CAST(SUM(CASE WHEN pos <= 3 THEN lf ELSE -lf END) AS BIGINT)
               AS logp
           FROM ex JOIN lf USING (x) GROUP BY k),
         po AS (SELECT logp AS pobs FROM lp, m WHERE lp.k = m.a),
         tl AS (SELECT lp.logp FROM lp, po WHERE lp.logp <= po.pobs),
         ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tables,
             CAST(SUM(CAST(FLOOR(exp(CAST(logp AS DOUBLE) / 1000000.0)
               * 1000000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000000.0 AS p_two
           FROM tl)
         SELECT m.a, m.b, m.c, m.d, m.n, m.kmin AS k_min, m.kmax AS k_max,
           CAST(po.pobs AS DOUBLE) / 1000000.0 AS log_p_obs,
           ag.n_tables, ag.p_two
         FROM m, po, ag""",

    // mirrors Graph.hits (r18 renorm schedule): the q149 edge build (one
    // direction), 3 unrolled fixed-point rounds — exact HUGEINT sums;
    // hubs renormalize once per round, authorities only at output
    // (a_raw sums the NORMALIZED h of the previous round; h_raw sums the
    // UNnormalized a_raw — the engine's per-round single-checkpoint
    // schedule, replayed in lockstep). Multiply-referenced CTEs are
    // MATERIALIZED: DuckDB otherwise inlines each reference, and the
    // doubled references per round re-execute the 6M-edge join chain
    // exponentially (OOM'd the sf1.0 sweep).
    "q332_hits" -> {
      val rounds = (1 to 3).map { k =>
        s"""a${k}r AS MATERIALIZED (SELECT e.dst AS id, SUM(h.h) AS s
             FROM e JOIN h${k - 1} h ON e.src = h.id GROUP BY 1),
         h${k}r AS MATERIALIZED (SELECT e.src AS id, SUM(a.s) AS s
             FROM e JOIN a${k}r a ON e.dst = a.id GROUP BY 1),
         h$k AS MATERIALIZED (SELECT id, CAST(s * 1000000000000
             // (SELECT MAX(s) FROM h${k}r) AS BIGINT) AS h FROM h${k}r)"""
      }.mkString(",\n         ")
      s"""WITH pairs AS (SELECT DISTINCT o_custkey * 2 AS src,
             l_suppkey * 2 + 1 AS dst
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         e AS MATERIALIZED (SELECT src, dst FROM pairs),
         h0 AS MATERIALIZED (SELECT DISTINCT src AS id,
             CAST(1000000000000 AS BIGINT) AS h FROM e),
         $rounds,
         a3n AS (SELECT id, CAST(s * 1000000000000
             // (SELECT MAX(s) FROM a3r) AS BIGINT) AS a FROM a3r),
         nodes AS (SELECT DISTINCT src AS id FROM e
                   UNION SELECT DISTINCT dst FROM e)
         SELECT n.id, COALESCE(h3.h, 0) AS hub, COALESCE(a3n.a, 0) AS auth
         FROM nodes n LEFT JOIN h3 ON n.id = h3.id
           LEFT JOIN a3n ON n.id = a3n.id
         ORDER BY n.id"""
    },

    // mirrors Stats.pacf: the q150 pooled-pair ACF pivoted wide, then the
    // Durbin-Levinson scalar recursion replayed in the identical IEEE
    // operation order (left-assoc subtract chains, one divide per level).
    "q333_pacf" ->
      """WITH b AS (SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS x
           FROM events),
         l AS (SELECT x, lag(x, 1) OVER w AS y1, lag(x, 2) OVER w AS y2,
                 lag(x, 3) OVER w AS y3
               FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         p AS (SELECT 1 AS lag_k, x, y1 AS y FROM l
               UNION ALL SELECT 2, x, y2 FROM l
               UNION ALL SELECT 3, x, y3 FROM l),
         f AS (SELECT lag_k, x, y FROM p
               WHERE x IS NOT NULL AND y IS NOT NULL
                 AND NOT isnan(x) AND NOT isnan(y)),
         s AS (SELECT lag_k, CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(FLOOR(x * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE) / 1000000.0 AS sx,
           CAST(SUM(CAST(FLOOR(y * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE) / 1000000.0 AS sy,
           CAST(SUM(CAST(FLOOR(x * x * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE) / 1000000.0 AS sxx,
           CAST(SUM(CAST(FLOOR(y * y * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE) / 1000000.0 AS syy,
           CAST(SUM(CAST(FLOOR(x * y * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE) / 1000000.0 AS sxy
           FROM f GROUP BY 1),
         a AS (SELECT lag_k,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN (n * sxy - sx * sy)
                  / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
           END AS acf FROM s),
         w AS (SELECT MAX(CASE WHEN lag_k = 1 THEN acf END) AS r1,
                 MAX(CASE WHEN lag_k = 2 THEN acf END) AS r2,
                 MAX(CASE WHEN lag_k = 3 THEN acf END) AS r3 FROM a),
         d2 AS (SELECT r1, r2, r3, r1 AS pacf1,
             CASE WHEN (1.0 - r1 * r1) <> 0.0
                  THEN (r2 - r1 * r1) / (1.0 - r1 * r1) END AS pacf2
           FROM w),
         d3 AS (SELECT *, r1 - pacf2 * r1 AS p21 FROM d2),
         d4 AS (SELECT *, 1.0 - p21 * r1 - pacf2 * r2 AS den3 FROM d3)
         SELECT r1, r2, r3, pacf1, pacf2,
           CASE WHEN den3 <> 0.0
                THEN (r3 - p21 * r2 - pacf2 * r1) / den3 END AS pacf3
         FROM d4""",

    // mirrors Stats.fdAudit: per (det, dep) pair a keyed aggregation over
    // string-cast cells, exact BIGINT counts, holds = zero violators.
    "q334_fd_audit" -> {
      def pair(det: String, dep: String, tag: Int): String =
        s"""g$tag AS (SELECT CAST($det AS VARCHAR) AS det,
             COUNT(*) AS n, COUNT(DISTINCT CAST($dep AS VARCHAR)) AS k
           FROM orders
           WHERE $det IS NOT NULL AND $dep IS NOT NULL GROUP BY 1),
         a$tag AS (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_det_values,
             CAST(COUNT(CASE WHEN k > 1 THEN 1 END) AS BIGINT) AS n_violating,
             CAST(COALESCE(MAX(k), 0) AS BIGINT) AS max_dep_per_det,
             '$det' AS determinant, '$dep' AS dependent
           FROM g$tag)"""
      s"""WITH ${pair("o_orderkey", "o_custkey", 1)},
         ${pair("o_custkey", "o_orderstatus", 2)},
         ${pair("o_orderpriority", "o_orderstatus", 3)}
         SELECT n_rows, n_det_values, n_violating, max_dep_per_det,
           determinant, dependent, (n_violating = 0) AS holds
         FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2
               UNION ALL SELECT * FROM a3) u
         ORDER BY determinant, dependent"""
    },

    // mirrors Stats.keyAudit: exact tuple-distinct counts with
    // null-bearing tuples excluded and reported separately.
    "q335_key_audit" -> {
      def cand(cols: Seq[String], tag: Int): String = {
        val nn = cols.map(c => s"$c IS NOT NULL").mkString(" AND ")
        val anyN = cols.map(c => s"$c IS NULL").mkString(" OR ")
        s"""c$tag AS (SELECT '${cols.mkString(",")}' AS candidate,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_rows,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
              WHERE $anyN) AS n_null_rows,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM
               (SELECT DISTINCT ${cols.mkString(", ")} FROM lineitem
                WHERE $nn) t) AS n_distinct)"""
      }
      s"""WITH ${cand(Seq("l_orderkey"), 1)},
         ${cand(Seq("l_orderkey", "l_linenumber"), 2)},
         ${cand(Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"), 3)}
         SELECT candidate, n_rows, n_null_rows, n_distinct,
           CAST(n_rows - n_null_rows - n_distinct AS BIGINT) AS n_dup_rows,
           (n_null_rows = 0 AND n_rows - n_null_rows - n_distinct = 0) AS is_key
         FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2
               UNION ALL SELECT * FROM c3) u
         ORDER BY candidate"""
    },

    // mirrors Stats.archLm: exact window mean (floor 1e6), squared
    // residuals, keyed lag-1 Pearson from floor-scaled (1e4) exact sums,
    // LM = n * r^2 in the identical IEEE order.
    "q336_arch_lm" ->
      """WITH b AS (SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS v
           FROM events
           WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
         m AS (SELECT user_id, ts, event_id, v,
             CAST(SUM(CAST(FLOOR(v * 1000000.0) AS DECIMAL(38,0))) OVER pw
               AS DOUBLE) / 1000000.0 / COUNT(v) OVER pw AS mu
           FROM b WINDOW pw AS (PARTITION BY user_id)),
         z AS (SELECT user_id, ts, event_id,
             (v - mu) * (v - mu) AS zz FROM m),
         zl AS (SELECT user_id, zz,
             lag(zz, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS zp
           FROM z),
         f AS (SELECT user_id, zz, zp FROM zl WHERE zp IS NOT NULL),
         s AS (SELECT user_id, CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CAST(FLOOR(zp * 10000.0) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS sx,
             CAST(SUM(CAST(FLOOR(zz * 10000.0) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS sy,
             CAST(SUM(CAST(FLOOR(zp * zp * 10000.0) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS sxx,
             CAST(SUM(CAST(FLOOR(zz * zz * 10000.0) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS syy,
             CAST(SUM(CAST(FLOOR(zp * zz * 10000.0) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS sxy
           FROM f GROUP BY user_id),
         r AS (SELECT user_id, n_pairs,
             CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                  THEN (n * sxy - sx * sy)
                    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
             END AS rr
           FROM s)
         SELECT user_id, n_pairs, rr * rr AS r2,
           CAST(n_pairs AS DOUBLE) * (rr * rr) AS lm
         FROM r ORDER BY user_id""",

    // mirrors TextStats.distinctNgramDiversity: normalized whitespace
    // tokens, per-n gram lists (short docs contribute zero), 60-bit
    // md5-prefix gram identity, exact count + count-distinct.
    "q337_distinct_n" -> {
      def gram(n: Int): String =
        if (n == 1) "w[i+1]"
        else (1 to n).map(j => s"w[i+$j]").mkString("concat(", ", ' ', ", ")")
      def tier(n: Int): String =
        s"""g$n AS (SELECT unnest(CASE WHEN len(w) >= $n
             THEN list_transform(range(len(w) - ${n - 1}), i -> ${gram(n)})
             ELSE CAST([] AS VARCHAR[]) END) AS g FROM d),
         h$n AS (SELECT CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT)
             AS h FROM g$n),
         a$n AS (SELECT $n AS n, CAST(COUNT(*) AS BIGINT) AS total_ngrams,
             CAST(COUNT(DISTINCT h) AS BIGINT) AS distinct_ngrams
           FROM h$n)"""
      s"""WITH d AS (SELECT string_split(
             lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS w
           FROM documents),
         ${tier(1)},
         ${tier(2)},
         ${tier(3)}
         SELECT n, total_ngrams, distinct_ngrams,
           CASE WHEN total_ngrams <> 0
                THEN CAST(distinct_ngrams AS DOUBLE)
                  / CAST(total_ngrams AS DOUBLE) END AS distinct_ratio
         FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2
               UNION ALL SELECT * FROM a3) u
         ORDER BY n"""
    },

    // mirrors Stats.markovStationary: per-user lead() transitions, 3
    // unrolled power-iteration rounds in exact HUGEINT floor arithmetic,
    // dangling mass dropped, Σπ renormalized to 10^12 each round.
    "q338_markov_stationary" -> {
      val rounds = (1 to 3).map { r =>
        s"""f$r AS (SELECT t.dst, SUM(CAST(p.pi AS HUGEINT) * t.n // t.tot)
             AS s
           FROM tr t JOIN p${r - 1} p ON t.src = p.state GROUP BY 1),
         f${r}k AS (SELECT f.dst, f.s FROM f$r f JOIN st ON f.dst = st.src),
         p$r AS (SELECT dst AS state,
             CAST(s * 1000000000000 // (SELECT SUM(s) FROM f${r}k)
               AS BIGINT) AS pi
           FROM f${r}k)"""
      }.mkString(",\n         ")
      s"""WITH seq AS (SELECT user_id, ts, event_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS nxt
           FROM events WHERE event_type IS NOT NULL),
         tr0 AS (SELECT CAST(event_type AS VARCHAR) AS src,
             CAST(nxt AS VARCHAR) AS dst, CAST(COUNT(*) AS BIGINT) AS n
           FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
         st AS (SELECT src, CAST(SUM(n) AS BIGINT) AS tot
           FROM tr0 GROUP BY 1),
         tr AS (SELECT t.src, t.dst, t.n, s.tot
           FROM tr0 t JOIN st s USING (src)),
         p0 AS (SELECT src AS state,
             CAST(1000000000000 // (SELECT COUNT(*) FROM st) AS BIGINT)
               AS pi
           FROM st),
         $rounds
         SELECT state, pi FROM p3 ORDER BY state"""
    },

    // mirrors TextStats.winnowFingerprints: q37's 5-gram md5-prefix
    // hashes, integer window-argmin keys (h·2^20 + (2^20-1-pos) — min =
    // smallest hash then rightmost pos), pos-major resort, "pos:hash" CSV.
    "q339_winnow_fp" ->
      s"""WITH d AS (SELECT doc_id, string_split(
             lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS w
           FROM documents WHERE doc_id < 200),
         sh AS (SELECT doc_id,
           CASE WHEN len(w) >= 5
             THEN list_transform(range(len(w) - 4),
               i -> concat(w[i+1], ' ', w[i+2], ' ', w[i+3], ' ', w[i+4],
                 ' ', w[i+5]))
             ELSE [array_to_string(w, ' ')] END AS s
           FROM d),
         hk AS (SELECT doc_id, list_transform(s,
             g -> CAST(concat('0x', substr(md5(g), 1, 7)) AS BIGINT)) AS hs
           FROM sh),
         ky AS (SELECT doc_id, CAST(len(hs) AS BIGINT) AS ng,
             list_transform(range(len(hs)),
               i -> hs[i+1] * 1048576 + (1048575 - (i+1))) AS keys
           FROM hk),
         sel AS (SELECT doc_id, ng,
             CASE WHEN ng >= 4
               THEN list_distinct(list_transform(range(4, ng + 1),
                 e -> list_min(keys[e-3:e])))
               ELSE [list_min(keys)] END AS sels
           FROM ky),
         pks AS (SELECT doc_id, ng,
             list_sort(list_transform(sels,
               kk -> (1048575 - (kk % 1048576)) * 268435456
                 + (kk // 1048576))) AS pk
           FROM sel)
         SELECT doc_id, ng AS n_grams, CAST(len(pk) AS BIGINT) AS n_fp,
           array_to_string(list_transform(pk,
             p -> concat(CAST(p // 268435456 AS VARCHAR), ':',
               CAST(p % 268435456 AS VARCHAR))), ',') AS fps
         FROM pks ORDER BY doc_id""",

    // mirrors Stats.hurstRs: full m-chunks per size, exact window
    // cumsums, the archLm floor conventions for sums, the zipf-slope
    // log-log OLS over per-size mean R/S.
    "q340_hurst" ->
      """WITH b AS (SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS v,
             CAST(FLOOR(CAST(value AS DOUBLE) * 1000000.0) AS BIGINT) AS xi
           FROM events
           WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
         r AS (SELECT user_id, v, xi,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS BIGINT) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
           FROM b),
         e AS (SELECT r.*, CAST(m AS BIGINT) AS m
           FROM r CROSS JOIN (VALUES (8), (16), (32)) s(m)
           WHERE rn <= (n // CAST(m AS BIGINT)) * CAST(m AS BIGINT)),
         c AS (SELECT user_id, m, (rn - 1) // m AS chunk, rn, v, xi FROM e),
         w1 AS (SELECT *,
             SUM(xi) OVER (PARTITION BY user_id, m, chunk ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
             SUM(xi) OVER (PARTITION BY user_id, m, chunk) AS s6
           FROM c),
         w2 AS (SELECT user_id, m, chunk, v,
             CAST(s6 AS DOUBLE) / 1000000.0 / CAST(m AS DOUBLE) AS mu,
             CAST(cs AS DOUBLE) / 1000000.0
               - CAST(rn - chunk * m AS DOUBLE)
                 * (CAST(s6 AS DOUBLE) / 1000000.0 / CAST(m AS DOUBLE)) AS dev
           FROM w1),
         pc AS (SELECT user_id, m, chunk, MAX(dev) AS dmax, MIN(dev) AS dmin,
             MAX(mu) AS mean,
             CAST(SUM(CAST(FLOOR(v * v * 1000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000.0 AS sxx
           FROM w2 GROUP BY 1, 2, 3),
         pv AS (SELECT user_id, m,
             (dmax - dmin)
               / sqrt(sxx / CAST(m AS DOUBLE) - mean * mean) AS rs
           FROM pc
           WHERE sxx / CAST(m AS DOUBLE) - mean * mean > 0.0),
         ps AS (SELECT user_id, m, COUNT(*) AS nc,
             CAST(SUM(CAST(FLOOR(rs * 1000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000.0 AS rssum
           FROM pv GROUP BY 1, 2),
         pt AS (SELECT user_id, ln(CAST(m AS DOUBLE)) AS x, ln(rsm) AS y
           FROM (SELECT user_id, m, rssum / CAST(nc AS DOUBLE) AS rsm
                 FROM ps) z
           WHERE rsm > 0.0),
         ag AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_points,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sx,
             CAST(SUM(CAST(FLOOR(y * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sy,
             CAST(SUM(CAST(FLOOR(x * x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sxx,
             CAST(SUM(CAST(FLOOR(x * y * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sxy
           FROM pt GROUP BY 1)
         SELECT user_id, n_points,
           CASE WHEN n * sxx - sx * sx > 0.0
                THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS hurst
         FROM ag ORDER BY user_id""",

    // mirrors q341: DuckDB's damerau_levenshtein IS the pinned kernel
    // (full Lowrance-Wagner DL — probed CA/ABC→2).
    "q341_damerau" ->
      """WITH p AS (SELECT p_partkey, p_name, p_brand FROM part
           WHERE p_partkey <= 300)
         SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           CAST(damerau_levenshtein(a.p_name, b.p_name) AS BIGINT) AS dl
         FROM p a JOIN p b
           ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
         WHERE damerau_levenshtein(a.p_name, b.p_name) <= 12
         ORDER BY key_a, key_b""",

    // mirrors TextStats.heapsLaw: 60-bit token hashes, first-occurrence
    // min per type, the 256-bucket id-range growth curve, zipf OLS.
    "q342_heaps" ->
      s"""WITH d AS (SELECT doc_id, string_split(
             lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS w
           FROM documents),
         tk AS (SELECT doc_id, unnest(w) AS tok FROM d),
         th AS (SELECT doc_id,
             CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
           FROM tk),
         fo AS (SELECT h, MIN(doc_id) AS fid FROM th GROUP BY 1),
         nt AS (SELECT fid, CAST(COUNT(*) AS BIGINT) AS nv FROM fo GROUP BY 1),
         pd AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS ntok FROM d),
         mx AS (SELECT MAX(doc_id) AS mxid, CAST(COUNT(*) AS BIGINT) AS nd
           FROM pd),
         p0 AS (SELECT p.doc_id, p.ntok, COALESCE(n.nv, 0) AS nv,
             mx.mxid, mx.nd
           FROM pd p LEFT JOIN nt n ON p.doc_id = n.fid, mx),
         pb AS (SELECT CAST(CAST(doc_id AS HUGEINT) * 256 // (mxid + 1)
               AS BIGINT) AS b,
             CAST(SUM(ntok) AS BIGINT) AS bnt,
             CAST(SUM(nv) AS BIGINT) AS bnv, MAX(nd) AS nd
           FROM p0 GROUP BY 1),
         p1 AS (SELECT b, nd,
             SUM(bnt) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS nn,
             SUM(bnv) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS vv
           FROM pb),
         pts AS (SELECT nd, nn, vv, ln(CAST(nn AS DOUBLE)) AS x,
             ln(CAST(vv AS DOUBLE)) AS y
           FROM p1 WHERE nn > 0 AND vv > 0),
         m AS (SELECT CAST(MAX(nd) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(MAX(nn) AS BIGINT) AS total_tokens,
             CAST(MAX(vv) AS BIGINT) AS vocab,
             CAST(SUM(CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sx,
             CAST(SUM(CAST(FLOOR(y * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sy,
             CAST(SUM(CAST(FLOOR(x * x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sxx,
             CAST(SUM(CAST(FLOOR(x * y * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sxy
           FROM pts)
         SELECT n_docs, total_tokens, vocab,
           CASE WHEN n * sxx - sx * sx > 0.0
                THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS beta,
           CASE WHEN n * sxx - sx * sx > 0.0
                THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                  * sx) / n END AS ln_k
         FROM m""",

    // mirrors TextStats.vocabularyStats: one keyed count over 60-bit
    // token hashes, exact hapax/dis tallies, guarded ratios.
    "q343_vocab" ->
      s"""WITH d AS (SELECT string_split(
             lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS w
           FROM documents),
         tk AS (SELECT unnest(w) AS tok FROM d),
         th AS (SELECT CAST(concat('0x', substr(md5(tok), 1, 15))
             AS BIGINT) AS h FROM tk),
         tc AS (SELECT h, COUNT(*) AS c FROM th GROUP BY 1)
         SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(COUNT(CASE WHEN c = 1 THEN 1 END) AS BIGINT) AS hapax,
           CAST(COUNT(CASE WHEN c = 2 THEN 1 END) AS BIGINT) AS dis_legomena,
           CASE WHEN COALESCE(SUM(c), 0) <> 0
                THEN CAST(COUNT(*) AS DOUBLE)
                  / CAST(COALESCE(SUM(c), 0) AS DOUBLE) END AS ttr,
           CASE WHEN COUNT(*) <> 0
                THEN CAST(COUNT(CASE WHEN c = 1 THEN 1 END) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE) END AS hapax_ratio
         FROM tc""",

    // mirrors Stats.cramerVonMises: per-distinct-value group counts,
    // exact HUGEINT cumulative-gap terms, one pinned final division.
    "q344_cvm" ->
      """WITH f AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS x
           FROM events
           WHERE event_type IN ('click', 'purchase')
             AND value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
         bv AS (SELECT x, COUNT(CASE WHEN g = 'click' THEN 1 END) AS c1,
             COUNT(CASE WHEN g = 'purchase' THEN 1 END) AS c2
           FROM f GROUP BY 1),
         cum AS (SELECT c1, c2,
             SUM(c1) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS a1,
             SUM(c2) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS a2
           FROM bv),
         tot AS (SELECT COUNT(CASE WHEN g = 'click' THEN 1 END) AS n,
             COUNT(CASE WHEN g = 'purchase' THEN 1 END) AS m
           FROM f),
         tm AS (SELECT t.n, t.m,
             CAST(c1 + c2 AS HUGEINT) * (a1 * t.m - a2 * t.n)
               * (a1 * t.m - a2 * t.n) AS term
           FROM cum, tot t),
         s AS (SELECT n, m, SUM(term) AS t FROM tm GROUP BY 1, 2)
         SELECT CAST(n AS BIGINT) AS n1, CAST(m AS BIGINT) AS n2,
           CAST(t AS DOUBLE)
             / (((CAST(n + m AS DOUBLE) * CAST(n + m AS DOUBLE))
               * CAST(n AS DOUBLE)) * CAST(m AS DOUBLE)) AS t_stat
         FROM s""",

    // mirrors Stats.markovEntropyRate: the q338 unrolled stationary
    // replay joined back onto the transition matrix, floor-scaled
    // weighted -p·ln p sum.
    "q345_markov_entropy" -> {
      val rounds = (1 to 3).map { r =>
        s"""f$r AS (SELECT t.dst, SUM(CAST(p.pi AS HUGEINT) * t.n // t.tot)
             AS s
           FROM tr t JOIN p${r - 1} p ON t.src = p.state GROUP BY 1),
         f${r}k AS (SELECT f.dst, f.s FROM f$r f JOIN st ON f.dst = st.src),
         p$r AS (SELECT dst AS state,
             CAST(s * 1000000000000 // (SELECT SUM(s) FROM f${r}k)
               AS BIGINT) AS pi
           FROM f${r}k)"""
      }.mkString(",\n         ")
      s"""WITH seq AS (SELECT user_id, ts, event_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS nxt
           FROM events WHERE event_type IS NOT NULL),
         tr0 AS (SELECT CAST(event_type AS VARCHAR) AS src,
             CAST(nxt AS VARCHAR) AS dst, CAST(COUNT(*) AS BIGINT) AS n
           FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
         st AS (SELECT src, CAST(SUM(n) AS BIGINT) AS tot
           FROM tr0 GROUP BY 1),
         tr AS (SELECT t.src, t.dst, t.n, s.tot
           FROM tr0 t JOIN st s USING (src)),
         p0 AS (SELECT src AS state,
             CAST(1000000000000 // (SELECT COUNT(*) FROM st) AS BIGINT)
               AS pi
           FROM st),
         $rounds,
         terms AS (SELECT p.state,
             CAST(p.pi AS DOUBLE) / 1000000000000.0
               * (CAST(t.n AS DOUBLE) / CAST(t.tot AS DOUBLE))
               * ln(CAST(t.n AS DOUBLE) / CAST(t.tot AS DOUBLE)) AS term
           FROM tr t JOIN p3 p ON t.src = p.state)
         SELECT CAST(COUNT(DISTINCT state) AS BIGINT) AS n_states,
           -(CAST(SUM(CAST(FLOOR(term * 1000000000.0) AS DECIMAL(38,0)))
             AS DOUBLE) / 1000000000.0) AS entropy_rate
         FROM terms"""
    },

    // mirrors Stats.fanoFactor: observed-hour grid × categories, zero
    // fill, exact count sums, pinned mean/variance divisions.
    "q346_fano" ->
      """WITH b AS (SELECT CAST(event_type AS VARCHAR) AS cat,
             date_trunc('hour', ts) AS bk
           FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
         grid AS (SELECT bk, cat
           FROM (SELECT DISTINCT bk FROM b) h, (SELECT DISTINCT cat FROM b) t),
         cts AS (SELECT cat, bk, COUNT(*) AS c FROM b GROUP BY 1, 2),
         fl AS (SELECT g.cat, COALESCE(c.c, 0) AS c
           FROM grid g LEFT JOIN cts c ON g.cat = c.cat AND g.bk = c.bk),
         ag AS (SELECT cat, CAST(COUNT(*) AS BIGINT) AS n_buckets,
             CAST(COUNT(*) AS DOUBLE) AS nd,
             CAST(SUM(c) AS DOUBLE) AS s,
             CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE) AS ss
           FROM fl GROUP BY 1)
         SELECT cat AS category, n_buckets, s / nd AS mean_per_bucket,
           CASE WHEN s / nd > 0.0
                THEN (ss / nd - (s / nd) * (s / nd)) / (s / nd) END AS fano
         FROM ag ORDER BY category""",

    // mirrors Similarity.kmeansClusters: the q61 kmeansCtes replay (same
    // md5 seeding, argmin, exact means), sizes from the full-corpus
    // assignment, leading centroid coordinates.
    "q347_kmeans" -> {
      s"""WITH ${kmeansCtes(8, 2, 64, None)},
         cnt AS (SELECT centroid, CAST(COUNT(*) AS BIGINT) AS n_points
           FROM ca GROUP BY 1)
         SELECT CAST(c.centroid AS INTEGER) AS centroid,
           COALESCE(t.n_points, 0) AS n_points,
           c.cent[1] AS c1, c.cent[2] AS c2, c.cent[3] AS c3, c.cent[4] AS c4
         FROM c2 c LEFT JOIN cnt t USING (centroid)
         ORDER BY centroid"""
    },

    // mirrors Similarity.kmeansSilhouette: one more assignment against
    // the final centroids keeping ranks 1 AND 2 — a/b are the nearest /
    // second-nearest distances; floor-scaled cluster means.
    "q348_silhouette" -> {
      s"""WITH ${kmeansCtes(8, 2, 64, None)},
         d4 AS (SELECT v.id, c.centroid AS cid,
             ${sqDistSql("v.emb", "c.cent")} AS d
           FROM v, c2 c),
         a4 AS (SELECT *, row_number() OVER (PARTITION BY id
             ORDER BY d, cid) AS rn FROM d4),
         pts AS (SELECT a1.id, a1.cid AS cl, sqrt(a1.d) AS a, sqrt(a2.d) AS b
           FROM (SELECT * FROM a4 WHERE rn = 1) a1
           JOIN (SELECT * FROM a4 WHERE rn = 2) a2 USING (id)),
         sil AS (SELECT cl, CASE WHEN greatest(a, b) > 0.0
             THEN (b - a) / greatest(a, b) ELSE 0.0 END AS s FROM pts)
         SELECT CAST(cl AS INTEGER) AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(CAST(FLOOR(s * 1000000.0) AS DECIMAL(38,0)))
             AS DOUBLE) / 1000000.0 / CAST(COUNT(*) AS DOUBLE)
             AS mean_silhouette
         FROM sil GROUP BY 1 ORDER BY cluster"""
    },

    // mirrors Stats.leveneTest: exact interpolated group medians
    // (quantile_cont, the q166 precedent), then the q175 ANOVA replay on
    // z = |x - median|.
    "q349_levene" ->
      """WITH f0 AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS x
           FROM events
           WHERE event_type IS NOT NULL
             AND value IS NOT NULL AND NOT isnan(value)),
         m AS (SELECT g, quantile_cont(x, 0.5) AS med FROM f0 GROUP BY 1),
         f AS (SELECT f0.g, abs(f0.x - m.med) AS x FROM f0 JOIN m USING (g)),
         pg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000.0 AS sx,
             CAST(SUM(CAST(FLOOR(x * x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000.0 AS sxx
           FROM f GROUP BY g),
         pg2 AS (SELECT *, sx * sx / CAST(n AS DOUBLE) AS bt FROM pg),
         agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(sx * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000.0 AS s,
             CAST(SUM(CAST(FLOOR(sxx * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000.0 AS sxx,
             CAST(SUM(CAST(FLOOR(bt * 1000000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000000.0 AS bt
           FROM pg2)
         SELECT k, n,
           bt - s * s / CAST(n AS DOUBLE) AS ssb,
           sxx - bt AS ssw,
           ((bt - s * s / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0))
             / ((sxx - bt) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))) AS f
         FROM agg""",

    // mirrors Stats.bartlettTest: per-group exact moments (HAVING n >= 2),
    // floor-scaled ssw/ln/1-over sums on the O(k) frame, the pinned
    // chi-square closed form.
    "q350_bartlett" ->
      """WITH f AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS x
           FROM events
           WHERE event_type IS NOT NULL
             AND value IS NOT NULL AND NOT isnan(value)),
         pg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000.0 AS sx,
             CAST(SUM(CAST(FLOOR(x * x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000.0 AS sxx
           FROM f GROUP BY g HAVING COUNT(*) >= 2),
         pv AS (SELECT *,
             (sxx - sx * sx / CAST(n AS DOUBLE))
               / (CAST(n AS DOUBLE) - 1.0) AS v
           FROM pg),
         a AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR((sxx - sx * sx / CAST(n AS DOUBLE))
               * 1000000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000000.0 AS ssw,
             CAST(SUM(CAST(FLOOR((CASE WHEN v > 0.0
                 THEN (CAST(n AS DOUBLE) - 1.0) * ln(v) ELSE 0.0 END)
               * 1000000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000000.0 AS lnterm,
             CAST(SUM(CAST(FLOOR((1.0 / (CAST(n AS DOUBLE) - 1.0))
               * 1000000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000000.0 AS inv,
             MIN(v) AS minv
           FROM pv)
         SELECT k, n,
           CASE WHEN n > k THEN ssw
             / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)) END AS pooled_var,
           CASE WHEN k > 1 AND n > k AND minv > 0.0 THEN
             ((CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
               * ln(ssw / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))) - lnterm)
             / (1.0 + (inv - 1.0 / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
               / (3.0 * (CAST(k AS DOUBLE) - 1.0)))
           END AS chi2
         FROM a""",

    // mirrors Graph.bfsDistances on the symmetric trading graph: 3
    // unrolled frontier rounds, anti-membership via anti-joins (NOT IN
    // planned poorly at 12M edges), multiply-referenced CTEs MATERIALIZED.
    "q351_bfs" ->
      """WITH pairs AS (SELECT DISTINCT o_custkey * 2 AS cnode,
             l_suppkey * 2 + 1 AS snode
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         e AS MATERIALIZED (SELECT cnode AS src, snode AS dst FROM pairs
               UNION ALL SELECT snode, cnode FROM pairs),
         d0 AS MATERIALIZED (
           SELECT (SELECT MIN(src) FROM e) AS id, 0 AS dist),
         n1 AS MATERIALIZED (
           SELECT f.id, 1 AS dist FROM (
             SELECT DISTINCT e.dst AS id FROM e JOIN d0 ON e.src = d0.id) f
           LEFT JOIN d0 v ON f.id = v.id WHERE v.id IS NULL),
         v1 AS MATERIALIZED (
           SELECT * FROM d0 UNION ALL SELECT * FROM n1),
         n2 AS MATERIALIZED (
           SELECT f.id, 2 AS dist FROM (
             SELECT DISTINCT e.dst AS id FROM e JOIN n1 ON e.src = n1.id) f
           LEFT JOIN v1 v ON f.id = v.id WHERE v.id IS NULL),
         v2 AS MATERIALIZED (
           SELECT * FROM v1 UNION ALL SELECT * FROM n2),
         n3 AS MATERIALIZED (
           SELECT f.id, 3 AS dist FROM (
             SELECT DISTINCT e.dst AS id FROM e JOIN n2 ON e.src = n2.id) f
           LEFT JOIN v2 v ON f.id = v.id WHERE v.id IS NULL),
         v3 AS (SELECT * FROM v2 UNION ALL SELECT * FROM n3)
         SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
         FROM v3 GROUP BY 1 ORDER BY 1""",

    // mirrors Graph.degreeAssortativity: exact HUGEINT degree moments
    // over edges, the pinned q150 Pearson order.
    "q352_assortativity" ->
      """WITH e AS (SELECT DISTINCT o_custkey * 2 AS src,
             l_suppkey * 2 + 1 AS dst
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         xo AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS x FROM e GROUP BY 1),
         yi AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS y FROM e GROUP BY 1),
         j AS (SELECT x, y FROM e JOIN xo USING (src) JOIN yi USING (dst)),
         a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
             CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
           FROM j)
         SELECT n_edges,
           CASE WHEN (CAST(n_edges AS DOUBLE) * sxx - sx * sx) > 0
                 AND (CAST(n_edges AS DOUBLE) * syy - sy * sy) > 0
                THEN (CAST(n_edges AS DOUBLE) * sxy - sx * sy)
                  / (sqrt(CAST(n_edges AS DOUBLE) * sxx - sx * sx)
                    * sqrt(CAST(n_edges AS DOUBLE) * syy - sy * sy))
           END AS r
         FROM a""",

    // mirrors Advanced.businessDaysBetween: the identical closed-form
    // (full weeks ×5 + remainder − interval-overlap weekend hits) on
    // (date_diff, isodow−1).
    "q354_business_days" ->
      """WITH b AS (SELECT l_returnflag,
             date_diff('day', CAST(o_orderdate AS DATE),
               CAST(l_shipdate AS DATE)) AS a,
             isodow(CAST(o_orderdate AS DATE)) - 1 AS w1
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey
           WHERE l_shipdate >= o_orderdate),
         d AS (SELECT l_returnflag,
             CAST((a - (a % 7)) / 7 AS BIGINT) * 5 + (a % 7)
               - GREATEST(0, LEAST(w1 + (a % 7), 6)
                   - GREATEST(w1 + 1, 5) + 1)
               - GREATEST(0, LEAST(w1 + (a % 7), 13)
                   - GREATEST(w1 + 1, 12) + 1) AS bd
           FROM b)
         SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(bd) AS BIGINT) AS total_bdays,
           CAST(SUM(bd) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_bdays,
           CAST(MAX(bd) AS BIGINT) AS max_bdays
         FROM d GROUP BY 1 ORDER BY 1""",

    // mirrors Stats.rmst: the q196 recursive survival replay, interval
    // areas floor-scaled (1e9) per term, horizon-clamped, plus the tail
    // rectangle.
    "q355_rmst" ->
      """WITH RECURSIVE per AS (SELECT user_id, MIN(ts) AS f, MAX(ts) AS l,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS p
           FROM events GROUP BY 1),
         dr AS (SELECT CASE WHEN p IS NOT NULL
                 THEN date_diff('day', CAST(f AS DATE), CAST(p AS DATE))
                 ELSE date_diff('day', CAST(f AS DATE), CAST(l AS DATE)) END
                 AS t,
               CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END AS e
           FROM per),
         g AS (SELECT CAST(t AS BIGINT) AS t, CAST(SUM(e) AS BIGINT) AS d,
             CAST(SUM(1 - e) AS BIGINT) AS c
           FROM dr GROUP BY 1),
         ord AS (SELECT t, d, c,
             CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS rn,
             (SELECT SUM(d + c) FROM g)
               - COALESCE(SUM(d + c) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
           FROM g),
         rec AS (
           SELECT rn, t, CAST(n_risk AS BIGINT) AS n_risk, d,
             (1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)) AS s
           FROM ord WHERE rn = 1
           UNION ALL
           SELECT o.rn, o.t, CAST(o.n_risk AS BIGINT), o.d,
             r.s * (1.0 - CAST(o.d AS DOUBLE) / CAST(o.n_risk AS DOUBLE))
           FROM ord o JOIN rec r ON o.rn = r.rn + 1),
         iv AS (SELECT rn, t, s,
             COALESCE(lag(s) OVER (ORDER BY rn), 1.0) AS sp,
             COALESCE(lag(t) OVER (ORDER BY rn), 0) AS tp
           FROM rec),
         terms AS (SELECT CAST(FLOOR(sp
               * CAST(LEAST(t, 30) - LEAST(tp, 30) AS DOUBLE)
               * 1000000000.0) AS BIGINT) AS term
             FROM iv WHERE LEAST(t, 30) > LEAST(tp, 30)
           UNION ALL
           SELECT CAST(FLOOR(s * CAST(30 - LEAST(t, 30) AS DOUBLE)
               * 1000000000.0) AS BIGINT)
             FROM rec
             WHERE rn = (SELECT MAX(rn) FROM rec) AND t < 30)
         SELECT CAST(30 AS BIGINT) AS tau,
           CAST(SUM(term) AS DOUBLE) / 1000000000.0 AS rmst
         FROM terms""",

    // mirrors Stats.markovPredictNext: lead() transitions, per-state
    // argmax with (n DESC, nxt ASC) tie-break.
    "q356_markov_predict" ->
      """WITH seq AS (SELECT user_id, ts, event_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS nxt
           FROM events WHERE event_type IS NOT NULL),
         tr AS (SELECT CAST(event_type AS VARCHAR) AS state,
             CAST(nxt AS VARCHAR) AS nxt, CAST(COUNT(*) AS BIGINT) AS n
           FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
         rk AS (SELECT *, row_number() OVER (PARTITION BY state
               ORDER BY n DESC, nxt ASC) AS rn,
             SUM(n) OVER (PARTITION BY state) AS tot
           FROM tr)
         SELECT state, nxt AS predicted_next, n AS n_top,
           CAST(tot AS BIGINT) AS n_total,
           CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS p_top
         FROM rk WHERE rn = 1 ORDER BY state""",

    // mirrors Stats.periodogram on the hourly count series: the portable
    // trig kernel (integer phase mod, quadrant reduction, the SAME
    // Taylor-Horner literals as Stats.CosCoef/SinCoef — library trig is
    // NOT cross-engine stable), floor-scaled product sums.
    "q357_periodogram" -> {
      def hornerSql(coeffs: Seq[Double]): String =
        coeffs.reverse.tail.foldLeft(coeffs.last.toString)(
          (acc, a) => s"($a + w * $acc)")
      val cosH = hornerSql(graft.ops.Stats.CosCoef)
      val sinH = hornerSql(graft.ops.Stats.SinCoef)
      val perK = (1 to 6).map { k =>
        s"""pk$k AS (SELECT x,
             CAST(($k * t) % n AS DOUBLE) / CAST(n AS DOUBLE) AS p FROM b),
         qk$k AS (SELECT x, p, CAST(FLOOR(p * 4.0) AS BIGINT) AS q FROM pk$k),
         zk$k AS (SELECT x, q,
             6.283185307179586 * (p - CAST(q AS DOUBLE) / 4.0) AS z
           FROM qk$k),
         wk$k AS (SELECT x, q, z, z * z AS w FROM zk$k),
         ek$k AS (SELECT x, q, (1.0 + w * $cosH) AS cp,
             z * (1.0 + w * $sinH) AS sp FROM wk$k),
         vk$k AS (SELECT x,
             CASE WHEN q = 0 THEN cp WHEN q = 1 THEN -sp
                  WHEN q = 2 THEN -cp ELSE sp END AS cv,
             CASE WHEN q = 0 THEN sp WHEN q = 1 THEN cp
                  WHEN q = 2 THEN -sp ELSE -cp END AS sv
           FROM ek$k),
         ak$k AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(x * cv * 1000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000.0 AS c,
             CAST(SUM(CAST(FLOOR(x * sv * 1000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000.0 AS s
           FROM vk$k)"""
      }.mkString(",\n         ")
      val rows = (1 to 6).map { k =>
        s"SELECT $k AS k, n, c * c + s * s AS power FROM ak$k"
      }.mkString("\n           UNION ALL ")
      s"""WITH s AS (SELECT date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
           FROM events WHERE ts IS NOT NULL GROUP BY 1),
         b AS (SELECT CAST(row_number() OVER (ORDER BY h) - 1 AS BIGINT) AS t,
             CAST(c AS DOUBLE) AS x,
             (SELECT COUNT(*) FROM s) AS n
           FROM s),
         $perK
         SELECT * FROM ($rows) u ORDER BY k"""
    },

    // mirrors Behavior.ngramPatterns: two leads, full-window filter,
    // total (count DESC, pattern ASC) top-k.
    "q358_trigram_patterns" ->
      """WITH b AS (SELECT user_id, event_type AS s0,
             lead(event_type, 1) OVER w AS s1,
             lead(event_type, 2) OVER w AS s2
           FROM events WHERE event_type IS NOT NULL
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         p AS (SELECT user_id, concat(s0, ' > ', s1, ' > ', s2) AS pattern
           FROM b WHERE s1 IS NOT NULL AND s2 IS NOT NULL),
         g AS (SELECT pattern, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
           FROM p GROUP BY 1)
         SELECT pattern, n_occurrences, n_users FROM g
         ORDER BY n_occurrences DESC, pattern ASC LIMIT 20""",

    // mirrors Stats.weibullFit: the q196 recursive KM replay, ln-ln
    // points, zipf floor-sum OLS, exp closed form for the scale.
    "q359_weibull" ->
      """WITH RECURSIVE per AS (SELECT user_id, MIN(ts) AS f, MAX(ts) AS l,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS p
           FROM events GROUP BY 1),
         dr AS (SELECT CASE WHEN p IS NOT NULL
                 THEN date_diff('day', CAST(f AS DATE), CAST(p AS DATE))
                 ELSE date_diff('day', CAST(f AS DATE), CAST(l AS DATE)) END
                 AS t,
               CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END AS e
           FROM per),
         g AS (SELECT CAST(t AS BIGINT) AS t, CAST(SUM(e) AS BIGINT) AS d,
             CAST(SUM(1 - e) AS BIGINT) AS c
           FROM dr GROUP BY 1),
         ord AS (SELECT t, d, c,
             CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS rn,
             (SELECT SUM(d + c) FROM g)
               - COALESCE(SUM(d + c) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
           FROM g),
         rec AS (
           SELECT rn, t, CAST(n_risk AS BIGINT) AS n_risk, d,
             (1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)) AS s
           FROM ord WHERE rn = 1
           UNION ALL
           SELECT o.rn, o.t, CAST(o.n_risk AS BIGINT), o.d,
             r.s * (1.0 - CAST(o.d AS DOUBLE) / CAST(o.n_risk AS DOUBLE))
           FROM ord o JOIN rec r ON o.rn = r.rn + 1),
         pts AS (SELECT ln(CAST(t AS DOUBLE)) AS x, ln(-ln(s)) AS y
           FROM rec WHERE d > 0 AND t > 0 AND s > 0.0 AND s < 1.0),
         m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sx,
             CAST(SUM(CAST(FLOOR(y * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sy,
             CAST(SUM(CAST(FLOOR(x * x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sxx,
             CAST(SUM(CAST(FLOOR(x * y * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sxy
           FROM pts),
         r AS (SELECT n_points, n, sx, sy,
             CASE WHEN n * sxx - sx * sx > 0.0
                  THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
             END AS shape
           FROM m)
         SELECT n_points, shape,
           CASE WHEN shape IS NOT NULL AND shape <> 0.0
                THEN exp(-(((sy - shape * sx) / n) / shape)) END AS scale
         FROM r""",

    // mirrors Stats.huberMean: quantile_cont median/MAD seed (the q166
    // build), 3 unrolled IRLS rounds with min(1, ks/|r|) weights and
    // floor-scaled weighted sums.
    "q360_huber_mean" -> {
      val rounds = (1 to 3).map { i =>
        s"""a$i AS (SELECT f.g,
             CAST(SUM(CAST(FLOOR((CASE WHEN abs(f.x - m.mu) <= 1.345 * m.s
                 THEN 1.0 ELSE 1.345 * m.s / abs(f.x - m.mu) END)
               * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sw,
             CAST(SUM(CAST(FLOOR((CASE WHEN abs(f.x - m.mu) <= 1.345 * m.s
                 THEN 1.0 ELSE 1.345 * m.s / abs(f.x - m.mu) END) * f.x
               * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS swx
           FROM f JOIN mu${i - 1} m USING (g) GROUP BY 1),
         mu$i AS (SELECT m.g,
             CASE WHEN a.sw > 0.0 THEN a.swx / a.sw ELSE m.mu END AS mu,
             m.s
           FROM mu${i - 1} m LEFT JOIN a$i a USING (g))"""
      }.mkString(",\n         ")
      s"""WITH f AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS x
           FROM events
           WHERE event_type IS NOT NULL
             AND value IS NOT NULL AND NOT isnan(value)),
         md AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             quantile_cont(x, 0.5) AS median FROM f GROUP BY 1),
         dv AS (SELECT f.g, abs(f.x - md.median) AS ad
           FROM f JOIN md USING (g)),
         mad AS (SELECT g, quantile_cont(ad, 0.5) AS mad FROM dv GROUP BY 1),
         mu0 AS (SELECT md.g, md.median AS mu, 1.4826 * mad.mad AS s
           FROM md JOIN mad USING (g)),
         $rounds
         SELECT md.g AS event_type, md.n, m.s AS scale,
           m.mu AS huber_mean
         FROM md JOIN mu3 m USING (g) ORDER BY event_type"""
    },

    // mirrors Graph.reciprocity on the trade/return digraph: distinct
    // directed edges, reverse-edge EXISTS count, ratio + density.
    "q353_reciprocity" ->
      """WITH j AS (SELECT o_custkey * 2 AS cnode, l_suppkey * 2 + 1 AS snode,
             l_returnflag
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         e AS (SELECT DISTINCT src, dst FROM (
             SELECT cnode AS src, snode AS dst FROM j
             UNION ALL SELECT snode, cnode FROM j WHERE l_returnflag = 'R') u
           WHERE src <> dst),
         rec AS (SELECT CAST(COUNT(*) AS BIGINT) AS nr FROM e
           WHERE EXISTS (SELECT 1 FROM e e2
                         WHERE e2.src = e.dst AND e2.dst = e.src)),
         nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM
           (SELECT src AS id FROM e UNION SELECT dst FROM e) t),
         ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e)
         SELECT nn.n AS n_nodes, ne.m AS n_edges, rec.nr AS n_reciprocal,
           CASE WHEN ne.m > 0 THEN CAST(rec.nr AS DOUBLE)
             / CAST(ne.m AS DOUBLE) END AS reciprocity,
           CASE WHEN nn.n > 1 THEN CAST(ne.m AS DOUBLE)
             / (CAST(nn.n AS DOUBLE) * (CAST(nn.n AS DOUBLE) - 1.0))
           END AS density
         FROM nn, ne, rec""",

    // mirrors Stats.segmentedTrend: the q294 argmax replay + per-segment
    // OLS from exact integer position sums and floor-scaled value sums.
    "q311_segmented_trend" ->
      """WITH b AS (SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS x,
             CAST(FLOOR(CAST(value AS DOUBLE) * 1000000.0) AS BIGINT) AS xi
           FROM events
           WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
         p AS (SELECT user_id, x,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t,
             SUM(xi) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
             COUNT(*) OVER (PARTITION BY user_id) AS n,
             SUM(xi) OVER (PARTITION BY user_id) AS sn
           FROM b),
         g AS (SELECT user_id, t, n,
             CAST(s AS DOUBLE) / 1000000.0 / CAST(t AS DOUBLE)
               - CAST(sn - s AS DOUBLE) / 1000000.0
                 / (CAST(n AS DOUBLE) - CAST(t AS DOUBLE)) AS d
           FROM p WHERE t < n),
         c AS (SELECT user_id, n, t,
             CAST(FLOOR(CAST(t AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(t AS DOUBLE))
               / CAST(n AS DOUBLE) * d * d * 1000000.0) AS BIGINT) AS gs
           FROM g),
         cpw AS (SELECT user_id, t AS cp FROM c
           QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
             ORDER BY gs DESC, t ASC) = 1),
         seg AS (SELECT p.user_id, p.n, cpw.cp, p.t, p.x,
             p.t <= cpw.cp AS lft
           FROM p JOIN cpw ON p.user_id = cpw.user_id),
         m AS (SELECT user_id, CAST(n AS BIGINT) AS n,
             CAST(cp AS BIGINT) AS cp_index,
             CAST(SUM(CASE WHEN lft THEN 1 ELSE 0 END) AS BIGINT) AS ln,
             CAST(SUM(CASE WHEN lft THEN t END) AS BIGINT) AS lst,
             CAST(SUM(CASE WHEN lft THEN t * t END) AS BIGINT) AS lstt,
             CAST(SUM(CASE WHEN lft THEN CAST(FLOOR(x * 1000000.0)
               AS DECIMAL(38,0)) END) AS DOUBLE) / 1000000.0 AS lsx,
             CAST(SUM(CASE WHEN lft THEN CAST(FLOOR(CAST(t AS DOUBLE) * x
               * 1000000.0) AS DECIMAL(38,0)) END) AS DOUBLE) / 1000000.0 AS lstx,
             CAST(SUM(CASE WHEN NOT lft THEN 1 ELSE 0 END) AS BIGINT) AS rn,
             CAST(SUM(CASE WHEN NOT lft THEN t END) AS BIGINT) AS rst,
             CAST(SUM(CASE WHEN NOT lft THEN t * t END) AS BIGINT) AS rstt,
             CAST(SUM(CASE WHEN NOT lft THEN CAST(FLOOR(x * 1000000.0)
               AS DECIMAL(38,0)) END) AS DOUBLE) / 1000000.0 AS rsx,
             CAST(SUM(CASE WHEN NOT lft THEN CAST(FLOOR(CAST(t AS DOUBLE) * x
               * 1000000.0) AS DECIMAL(38,0)) END) AS DOUBLE) / 1000000.0 AS rstx
           FROM seg GROUP BY 1, 2, 3),
         sl AS (SELECT user_id, n, cp_index,
             CASE WHEN ln >= 2 AND (CAST(ln AS DOUBLE) * CAST(lstt AS DOUBLE)
                 - CAST(lst AS DOUBLE) * CAST(lst AS DOUBLE)) > 0.0
               THEN (CAST(ln AS DOUBLE) * lstx - CAST(lst AS DOUBLE) * lsx)
                 / (CAST(ln AS DOUBLE) * CAST(lstt AS DOUBLE)
                   - CAST(lst AS DOUBLE) * CAST(lst AS DOUBLE)) END AS slope_left,
             CASE WHEN rn >= 2 AND (CAST(rn AS DOUBLE) * CAST(rstt AS DOUBLE)
                 - CAST(rst AS DOUBLE) * CAST(rst AS DOUBLE)) > 0.0
               THEN (CAST(rn AS DOUBLE) * rstx - CAST(rst AS DOUBLE) * rsx)
                 / (CAST(rn AS DOUBLE) * CAST(rstt AS DOUBLE)
                   - CAST(rst AS DOUBLE) * CAST(rst AS DOUBLE)) END AS slope_right
           FROM m)
         SELECT user_id, n, cp_index, slope_left, slope_right,
           slope_right - slope_left AS slope_change
         FROM sl ORDER BY user_id""",

    // mirrors Stats.mahalanobisOutliers: floor-scaled moment sums, the
    // closed-form 2x2 inverse, the identical d2 expression and filter.
    "q309_mahalanobis" ->
      """WITH b AS (SELECT event_id, CAST(value AS DOUBLE) AS x,
             CAST(extract(hour FROM ts) AS DOUBLE) AS y
           FROM events
           WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
             AND ts IS NOT NULL),
         s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sx,
             CAST(SUM(CAST(FLOOR(y * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sy,
             CAST(SUM(CAST(FLOOR(x * x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sxx,
             CAST(SUM(CAST(FLOOR(y * y * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS syy,
             CAST(SUM(CAST(FLOOR(x * y * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sxy
           FROM b),
         m AS (SELECT n,
             sx / CAST(n AS DOUBLE) AS mx, sy / CAST(n AS DOUBLE) AS my,
             sxx / CAST(n AS DOUBLE)
               - sx / CAST(n AS DOUBLE) * (sx / CAST(n AS DOUBLE)) AS cxx,
             syy / CAST(n AS DOUBLE)
               - sy / CAST(n AS DOUBLE) * (sy / CAST(n AS DOUBLE)) AS cyy,
             sxy / CAST(n AS DOUBLE)
               - sx / CAST(n AS DOUBLE) * (sy / CAST(n AS DOUBLE)) AS cxy
           FROM s),
         d AS (SELECT event_id, x, y,
             (cyy * (x - mx) * (x - mx)
               - 2.0 * cxy * (x - mx) * (y - my)
               + cxx * (y - my) * (y - my))
             / (cxx * cyy - cxy * cxy) AS d2,
             n, cxx * cyy - cxy * cxy AS det
           FROM b, m)
         SELECT event_id, x AS value, y AS hr, d2 FROM d
         WHERE n >= 2 AND det <> 0.0 AND d2 > 9.21
         ORDER BY event_id""",

    // mirrors Ml.splitConformal: md5 side bit, exact train moments, the
    // OLS closed form, row_number order-statistic residual pick.
    "q310_conformal" ->
      """WITH b AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
             CAST(l_extendedprice AS DOUBLE) AS y,
             (CAST(concat('0x', substr(md5(concat_ws('#', l_orderkey,
               l_linenumber)), 1, 15)) AS BIGINT) % 2) AS side
           FROM lineitem
           WHERE l_quantity IS NOT NULL
             AND NOT isnan(CAST(l_quantity AS DOUBLE))
             AND l_extendedprice IS NOT NULL
             AND NOT isnan(CAST(l_extendedprice AS DOUBLE))),
         tr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sx,
             CAST(SUM(CAST(FLOOR(y * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sy,
             CAST(SUM(CAST(FLOOR(x * x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sxx,
             CAST(SUM(CAST(FLOOR(x * y * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sxy
           FROM b WHERE side = 0),
         fit AS (SELECT n AS n_train,
             (CAST(n AS DOUBLE) * sxy - sx * sy)
               / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope,
             (sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
               / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
               / CAST(n AS DOUBLE) AS intercept
           FROM tr),
         cal AS (SELECT abs(y - (slope * x + intercept)) AS r
           FROM b, fit WHERE side = 1),
         nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal),
         kk AS (SELECT n_cal, LEAST(n_cal,
             CAST(CEIL((n_cal + 1) * (1.0 - 0.1)) AS BIGINT)) AS k FROM nc),
         rr AS (SELECT r, ROW_NUMBER() OVER (ORDER BY r) AS rn FROM cal)
         SELECT fit.n_train, kk.n_cal, fit.slope, fit.intercept,
           kk.k AS k_rank, rr.r AS q_hat
         FROM fit, kk, rr WHERE rr.rn = kk.k""",

    // q307: the AvailableNow-drained streaming PSI equals the batch PSI
    // of the same split — the q295 SQL verbatim.
    "q307_stream_psi" ->
      """WITH v AS (SELECT
             CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 'ref'
                  ELSE 'cur' END AS side,
             CAST(value AS DOUBLE) AS x
           FROM events
           WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
             AND (ts < TIMESTAMP '2024-01-16 00:00:00'
                  OR ts >= TIMESTAMP '2024-01-16 00:00:00')),
         q AS (SELECT quantile_cont(x,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
           FROM v WHERE side = 'ref'),
         binned AS (SELECT side,
             1 + len(list_filter(qs, e -> x > e)) AS bin FROM v, q),
         cnt AS (SELECT side, bin, CAST(COUNT(*) AS BIGINT) AS c
           FROM binned GROUP BY 1, 2),
         grid AS (SELECT s.side, b.bin
           FROM (VALUES ('ref'), ('cur')) s(side)
           CROSS JOIN (SELECT UNNEST(generate_series(1, 10)) AS bin) b),
         dense AS (SELECT g.side, g.bin, COALESCE(c.c, 0) AS c
           FROM grid g LEFT JOIN cnt c ON g.side = c.side AND g.bin = c.bin),
         tot AS (SELECT side, SUM(c) AS tot FROM dense GROUP BY 1),
         wp AS (SELECT d.side, d.bin, d.c,
             (CAST(d.c AS DOUBLE) + 0.5) / (CAST(t.tot AS DOUBLE) + 5.0) AS p
           FROM dense d JOIN tot t ON d.side = t.side),
         per AS (SELECT bin,
             SUM(CASE WHEN side = 'ref' THEN c ELSE 0 END) AS cr,
             MAX(CASE WHEN side = 'ref' THEN p END) AS pr,
             SUM(CASE WHEN side = 'cur' THEN c ELSE 0 END) AS cc,
             MAX(CASE WHEN side = 'cur' THEN p END) AS pc
           FROM wp GROUP BY 1)
         SELECT CAST(SUM(cr) AS BIGINT) AS n_ref,
           CAST(SUM(cc) AS BIGINT) AS n_cur,
           CAST(COUNT(*) AS BIGINT) AS k_bins,
           CAST(SUM(CAST(FLOOR((pc - pr) * ln(pc / pr) * 1000000000.0)
             AS DECIMAL(38,0))) AS DOUBLE) / 1000000000.0 AS psi
         FROM per""",

    // mirrors Ml.brierDecomposition over the min-max-scaled forecast:
    // fixed-width bins, exact label counts + floor-scaled forecast sums,
    // the Murphy reliability/resolution/uncertainty closed forms.
    "q305_brier" ->
      """WITH mm AS (SELECT CAST(MIN(n_chars) AS BIGINT) AS mn,
             CAST(MAX(n_chars) AS BIGINT) AS mx FROM documents),
         d AS (SELECT
             CAST(n_chars - mn AS DOUBLE) / CAST(mx - mn AS DOUBLE) AS p,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
           FROM documents, mm
           WHERE n_chars IS NOT NULL),
         b AS (SELECT LEAST(10, CAST(FLOOR(p * 10) AS INTEGER) + 1) AS bin,
             p, y FROM d),
         per AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS nk,
             CAST(SUM(CAST(FLOOR(p * 1000000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000000.0 AS sp,
             CAST(SUM(y) AS BIGINT) AS sy
           FROM b GROUP BY 1),
         tot AS (SELECT CAST(SUM(nk) AS BIGINT) AS n,
             CAST(SUM(sy) AS BIGINT) AS syt FROM per),
         terms AS (SELECT n, syt,
             (CAST(nk AS DOUBLE) / CAST(n AS DOUBLE))
               * (sp / CAST(nk AS DOUBLE) - CAST(sy AS DOUBLE)
                 / CAST(nk AS DOUBLE))
               * (sp / CAST(nk AS DOUBLE) - CAST(sy AS DOUBLE)
                 / CAST(nk AS DOUBLE)) AS rel,
             (CAST(nk AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(sy AS DOUBLE) / CAST(nk AS DOUBLE)
                 - CAST(syt AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(sy AS DOUBLE) / CAST(nk AS DOUBLE)
                 - CAST(syt AS DOUBLE) / CAST(n AS DOUBLE)) AS res,
             (CAST(nk AS DOUBLE) / CAST(n AS DOUBLE))
               * abs(sp / CAST(nk AS DOUBLE) - CAST(sy AS DOUBLE)
                 / CAST(nk AS DOUBLE)) AS ecet
           FROM per, tot)
         SELECT n, CAST(COUNT(*) AS BIGINT) AS k_bins,
           CAST(SUM(CAST(FLOOR(rel * 1000000000.0) AS DECIMAL(38,0)))
             AS DOUBLE) / 1000000000.0 AS reliability,
           CAST(SUM(CAST(FLOOR(res * 1000000000.0) AS DECIMAL(38,0)))
             AS DOUBLE) / 1000000000.0 AS resolution,
           CAST(SUM(CAST(FLOOR(ecet * 1000000000.0) AS DECIMAL(38,0)))
             AS DOUBLE) / 1000000000.0 AS ece,
           CAST(syt AS DOUBLE) / CAST(n AS DOUBLE)
             * (1.0 - CAST(syt AS DOUBLE) / CAST(n AS DOUBLE))
             AS uncertainty,
           CAST(SUM(CAST(FLOOR(rel * 1000000000.0) AS DECIMAL(38,0)))
             AS DOUBLE) / 1000000000.0
           - CAST(SUM(CAST(FLOOR(res * 1000000000.0) AS DECIMAL(38,0)))
             AS DOUBLE) / 1000000000.0
           + CAST(syt AS DOUBLE) / CAST(n AS DOUBLE)
             * (1.0 - CAST(syt AS DOUBLE) / CAST(n AS DOUBLE)) AS brier
         FROM terms GROUP BY n, syt""",

    // mirrors Stats.acf: keyed lag windows, pooled pairs per lag, the
    // q145 closed-form Pearson over floor-scaled exact sums.
    "q150_acf" ->
      """WITH b AS (SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS x
           FROM events),
         l AS (SELECT x, lag(x, 1) OVER w AS y1, lag(x, 2) OVER w AS y2,
                 lag(x, 3) OVER w AS y3
               FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         p AS (SELECT 1 AS lag_k, x, y1 AS y FROM l
               UNION ALL SELECT 2, x, y2 FROM l
               UNION ALL SELECT 3, x, y3 FROM l),
         f AS (SELECT lag_k, x, y FROM p
               WHERE x IS NOT NULL AND y IS NOT NULL
                 AND NOT isnan(x) AND NOT isnan(y)),
         s AS (SELECT lag_k, CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(FLOOR(x * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE) / 1000000.0 AS sx,
           CAST(SUM(CAST(FLOOR(y * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE) / 1000000.0 AS sy,
           CAST(SUM(CAST(FLOOR(x * x * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE) / 1000000.0 AS sxx,
           CAST(SUM(CAST(FLOOR(y * y * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE) / 1000000.0 AS syy,
           CAST(SUM(CAST(FLOOR(x * y * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE) / 1000000.0 AS sxy
           FROM f GROUP BY 1)
         SELECT lag_k, CAST(n AS BIGINT) AS n,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN (n * sxy - sx * sy)
                  / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
           END AS acf
         FROM s ORDER BY lag_k""",

    // mirrors Stats.mannWhitneyU: 2·avgrank = 2·rank + ties − 1 (always an
    // integer), exact rank/tie sums, then the identical scalar z formula.
    "q151_mann_whitney" ->
      """WITH f AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS x
           FROM events
           WHERE event_type IN ('click', 'purchase')
             AND value IS NOT NULL AND NOT isnan(value)),
         r AS (SELECT g,
             2 * rank() OVER (ORDER BY x)
               + COUNT(*) OVER (PARTITION BY x) - 1 AS dr
           FROM f),
         agg AS (SELECT
             CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN g = 'click' THEN dr ELSE 0 END) AS BIGINT) AS r1d
           FROM r),
         tie AS (SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tt
           FROM (SELECT COUNT(*) AS t FROM f GROUP BY x) z)
         SELECT n1, n2, r1d AS r1_doubled,
           CAST(r1d - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
           (CAST(r1d - n1 * (n1 + 1) AS DOUBLE) / 2.0
             - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
           / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
               * ((CAST(n1 + n2 AS DOUBLE) + 1.0)
                  - CAST(tt AS DOUBLE)
                    / (CAST(n1 + n2 AS DOUBLE) * (CAST(n1 + n2 AS DOUBLE) - 1.0))))
           AS z
         FROM agg, tie""",

    // mirrors Stats.ksTest: D as an exact integer max over cumulative
    // per-value counts; the only divisions happen once, at the end.
    "q152_ks_test" ->
      """WITH f AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS x
           FROM events
           WHERE event_type IN ('click', 'purchase')
             AND value IS NOT NULL AND NOT isnan(value)),
         g AS (SELECT x,
             CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c2
           FROM f GROUP BY x),
         c AS (SELECT CAST(SUM(c1) OVER (ORDER BY x) AS BIGINT) AS cc1,
                      CAST(SUM(c2) OVER (ORDER BY x) AS BIGINT) AS cc2 FROM g),
         n AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                      CAST(SUM(c2) AS BIGINT) AS n2 FROM g),
         d AS (SELECT CAST(MAX(ABS(cc1 * n2 - cc2 * n1)) AS BIGINT) AS d_num
               FROM c, n)
         SELECT n1, n2, d_num,
           CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS d,
           CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
             * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))) AS ks_stat
         FROM n, d""",

    // mirrors Stats.chiSquareIndependence: identical per-cell term op
    // order from integer counts, floor-scale-9 exact term sum.
    "q153_chi_square" ->
      """WITH cells AS (SELECT lang AS a, source AS b,
             CAST(COUNT(*) AS BIGINT) AS o
           FROM documents
           WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
         rt AS (SELECT a, CAST(SUM(o) AS BIGINT) AS rtot FROM cells GROUP BY 1),
         ct AS (SELECT b, CAST(SUM(o) AS BIGINT) AS ctot FROM cells GROUP BY 1),
         nt AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                       COUNT(DISTINCT a) AS ra, COUNT(DISTINCT b) AS rb
                FROM cells),
         term AS (SELECT
             (CAST(o AS DOUBLE)
               - CAST(rtot AS DOUBLE) * CAST(ctot AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(o AS DOUBLE)
               - CAST(rtot AS DOUBLE) * CAST(ctot AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(rtot AS DOUBLE) * CAST(ctot AS DOUBLE) / CAST(n AS DOUBLE))
             AS t
           FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN nt)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           (SELECT (ra - 1) * (rb - 1) FROM nt) AS dof,
           CAST(SUM(CAST(FLOOR(t * 1000000000.0) AS DECIMAL(30,0))) AS DOUBLE)
             / 1000000000.0 AS chi2
         FROM term""",

    // mirrors Ml.fitQuantileBinner(k=4) + transform: quantile_cont ==
    // the rank-selection interpolation (q106 precedent), same CASE-chain
    // bin assignment, exact-sum per-bin mean.
    "q154_quantile_bin" ->
      """WITH c AS (SELECT
           quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25) AS c1,
           quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.50) AS c2,
           quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75) AS c3
         FROM lineitem),
         b AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x,
           1 + (CASE WHEN CAST(l_extendedprice AS DOUBLE) > c1 THEN 1 ELSE 0 END)
             + (CASE WHEN CAST(l_extendedprice AS DOUBLE) > c2 THEN 1 ELSE 0 END)
             + (CASE WHEN CAST(l_extendedprice AS DOUBLE) > c3 THEN 1 ELSE 0 END)
           AS bin
         FROM lineitem, c)
         SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(x) AS min_p, MAX(x) AS max_p,
           CAST(SUM(CAST(FLOOR(x * 10000.0) AS DECIMAL(30,0))) AS DOUBLE)
             / 10000.0 / COUNT(*) AS mean_p
         FROM b GROUP BY 1 ORDER BY 1""",

    // mirrors Behavior.funnel(view→click→purchase): per-stage earliest
    // completion, strictly-after joins on the user key.
    "q156_funnel" ->
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
         s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
           JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
         SELECT * FROM (
           SELECT 1 AS stage_idx, 'view' AS stage,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_users
           UNION ALL SELECT 2, 'click',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM s2)
           UNION ALL SELECT 3, 'purchase',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM s3)) u
         ORDER BY stage_idx""",

    // mirrors Behavior.cohortRetention: date_trunc('week') Mondays both
    // engines; offsets are integer day-diffs // 7.
    "q157_cohort_retention" ->
      """WITH ev AS (SELECT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
         c AS (SELECT user_id, MIN(wk) AS cohort FROM ev GROUP BY 1),
         a AS (SELECT DISTINCT user_id, wk FROM ev)
         SELECT strftime(c.cohort, '%Y-%m-%d') AS cohort_week,
           CAST((a.wk - c.cohort) // 7 AS INT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
         FROM a JOIN c ON a.user_id = c.user_id
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // mirrors Ml.calibrationBins(k=10): decile cutpoints via
    // quantile_cont (q154 pattern), CASE-chain bins, exact-sum means.
    "q168_calibration" -> {
      val cutDefs = (1 to 9).map(i =>
        s"quantile_cont(CAST(n_chars AS DOUBLE), 0.$i) AS c$i").mkString(",\n           ")
      val binExpr = (1 to 9).map(i =>
        s"(CASE WHEN CAST(n_chars AS DOUBLE) > c$i THEN 1 ELSE 0 END)")
        .mkString("\n             + ")
      s"""WITH c AS (SELECT
           $cutDefs
         FROM documents),
         b AS (SELECT CAST(n_chars AS DOUBLE) AS x,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
           1 + $binExpr AS bin
         FROM documents, c)
         SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(x * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE)
             / 1000000.0 / COUNT(*) AS mean_score,
           CAST(SUM(label) AS BIGINT) AS n_pos,
           CAST(SUM(label) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS frac_pos
         FROM b GROUP BY 1 ORDER BY 1"""
    },

    // mirrors Stats.proportionZTest: four integer counts, identical
    // pooled-variance scalar sequence.
    "q169_prop_ztest" ->
      """WITH e AS (SELECT
           CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS cohort,
           CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS s
         FROM events),
         agg AS (SELECT
           CAST(SUM(CASE WHEN cohort = 'even' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(SUM(CASE WHEN cohort = 'even' THEN s ELSE 0 END) AS BIGINT) AS x1,
           CAST(SUM(CASE WHEN cohort = 'odd' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           CAST(SUM(CASE WHEN cohort = 'odd' THEN s ELSE 0 END) AS BIGINT) AS x2
         FROM e)
         SELECT n1, x1, n2, x2,
           CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
           CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS p2,
           (CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))
           / sqrt((CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
               * (1.0 - CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
               * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))) AS z
         FROM agg""",

    // mirrors Ml.winsorizeByGroup: per-group quantile_cont cutoffs,
    // identical clip and exact-sum mean (q147's shape, grouped).
    "q170_group_winsorize" ->
      """WITH c AS (SELECT l_returnflag,
           quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.05) AS lo,
           quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95) AS hi
         FROM lineitem GROUP BY 1),
         w AS (SELECT l.l_returnflag,
           least(greatest(CAST(l_extendedprice AS DOUBLE), lo), hi) AS p
         FROM lineitem l JOIN c ON l.l_returnflag = c.l_returnflag)
         SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(p) AS min_p, MAX(p) AS max_p,
           CAST(SUM(CAST(FLOOR(p * 10000.0) AS DECIMAL(30,0))) AS DOUBLE)
             / 10000.0 / COUNT(*) AS mean_p
         FROM w GROUP BY 1 ORDER BY 1""",

    // mirrors Advanced.holtWintersKeyed: per-key recursion carrying the
    // last-4 seasonal ring as a LIST; the level expression is repeated
    // verbatim inside trend/seasonal (q146's policy — no alias reuse in a
    // recursive step), damping written (1.0 - a) as the Scala computes it.
    "q167_holt_winters" ->
      """WITH RECURSIVE seq AS (
           SELECT event_id, user_id, CAST(value AS DOUBLE) AS x,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         rec AS (
           SELECT event_id, user_id, x, rn,
             x AS l, CAST(0.0 AS DOUBLE) AS b,
             0.2 * (x - x) + (1.0 - 0.2) * 0.0 AS sn,
             list_append([CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
               CAST(0.0 AS DOUBLE)],
               0.2 * (x - x) + (1.0 - 0.2) * 0.0) AS slist
           FROM seq WHERE rn = 1
           UNION ALL
           SELECT e.event_id, e.user_id, e.x, e.rn,
             0.3 * (e.x - r.slist[1]) + (1.0 - 0.3) * (r.l + r.b) AS l,
             0.1 * ((0.3 * (e.x - r.slist[1]) + (1.0 - 0.3) * (r.l + r.b))
               - r.l) + (1.0 - 0.1) * r.b AS b,
             0.2 * (e.x - (0.3 * (e.x - r.slist[1])
               + (1.0 - 0.3) * (r.l + r.b))) + (1.0 - 0.2) * r.slist[1] AS sn,
             list_append(r.slist[2:],
               0.2 * (e.x - (0.3 * (e.x - r.slist[1])
                 + (1.0 - 0.3) * (r.l + r.b)))
                 + (1.0 - 0.2) * r.slist[1]) AS slist
           FROM rec r JOIN seq e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
         SELECT event_id, user_id, l AS level, b AS trend, sn AS seasonal,
           l + b + slist[1] AS forecast
         FROM rec ORDER BY event_id""",

    // mirrors Reductions.groupQuantiles: per-group quantile_cont == the
    // rank-selection interpolation (q106 precedent), complete-case.
    "q165_group_quantiles" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           quantile_cont(x, 0.25) AS p25,
           quantile_cont(x, 0.5) AS p50,
           quantile_cont(x, 0.9) AS p90
         FROM (SELECT event_type, CAST(value AS DOUBLE) AS x FROM events
               WHERE value IS NOT NULL AND NOT isnan(value)) f
         GROUP BY 1 ORDER BY 1""",

    // mirrors Stats.madByGroup: median, then median of absolute
    // deviations, identical join-back and complete-case policy.
    "q166_mad" ->
      """WITH f AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS x
           FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         m AS (SELECT g, quantile_cont(x, 0.5) AS median FROM f GROUP BY 1),
         d AS (SELECT f.g, abs(f.x - m.median) AS ad FROM f JOIN m USING (g)),
         md AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             quantile_cont(ad, 0.5) AS mad FROM d GROUP BY 1)
         SELECT md.g AS event_type, md.n, m.median, md.mad
         FROM md JOIN m USING (g) ORDER BY 1""",

    // mirrors Stats.giniImpurity: exact integer cell counts, fixed
    // 1.0 − Σc²/n² op order.
    "q162_gini" ->
      """WITH cells AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
           FROM documents
           WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2)
         SELECT source, CAST(SUM(c) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_labels,
           1.0 - CAST(SUM(c * c) AS DOUBLE)
             / CAST(SUM(c) * SUM(c) AS DOUBLE) AS gini
         FROM cells GROUP BY 1 ORDER BY 1""",

    // mirrors Behavior.diffDatasets: full-outer key join, IS DISTINCT
    // FROM change flags, concat_ws skipping non-changed names.
    "q163_dataset_diff" ->
      """WITH cust AS (SELECT c_custkey, c_name, c_mktsegment,
             CAST(c_acctbal AS DOUBLE) AS c_acctbal FROM customer),
         a AS (SELECT * FROM cust WHERE c_custkey <= 1400),
         b AS (SELECT c_custkey, c_name,
             CASE WHEN c_custkey % 17 = 0 THEN 'CHANGED'
                  ELSE c_mktsegment END AS c_mktsegment,
             CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + 1.0
                  ELSE c_acctbal END AS c_acctbal
           FROM cust WHERE c_custkey >= 101)
         SELECT COALESCE(a.c_custkey, b.c_custkey) AS c_custkey,
           CASE WHEN a.c_custkey IS NULL THEN 'added'
                WHEN b.c_custkey IS NULL THEN 'removed'
                WHEN a.c_name IS NOT DISTINCT FROM b.c_name
                 AND a.c_mktsegment IS NOT DISTINCT FROM b.c_mktsegment
                 AND a.c_acctbal IS NOT DISTINCT FROM b.c_acctbal
                THEN 'unchanged'
                ELSE 'changed' END AS status,
           CASE WHEN a.c_custkey IS NOT NULL AND b.c_custkey IS NOT NULL
                THEN concat_ws(',',
                  CASE WHEN a.c_name IS DISTINCT FROM b.c_name
                       THEN 'c_name' END,
                  CASE WHEN a.c_mktsegment IS DISTINCT FROM b.c_mktsegment
                       THEN 'c_mktsegment' END,
                  CASE WHEN a.c_acctbal IS DISTINCT FROM b.c_acctbal
                       THEN 'c_acctbal' END)
                ELSE '' END AS changed_cols
         FROM a FULL OUTER JOIN b ON a.c_custkey = b.c_custkey
         ORDER BY 1""",

    // mirrors Behavior.scd2History: run-open detection by null-safe lag
    // inequality, validity from lead over the opens frame.
    "q164_scd2" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
             CAST(o_orderdate AS DATE) AS d, o_orderstatus FROM orders),
         l AS (SELECT *, lag(o_orderstatus) OVER w AS prev,
                 lag(d) OVER w AS prevd
               FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY d, o_orderkey)),
         opens AS (SELECT * FROM l
           WHERE prevd IS NULL OR o_orderstatus IS DISTINCT FROM prev),
         iv AS (SELECT o_custkey, o_orderkey, o_orderstatus, d AS vf,
             lead(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey) AS vt
           FROM opens)
         SELECT o_custkey, o_orderkey, o_orderstatus,
           strftime(vf, '%Y-%m-%d') AS valid_from,
           strftime(vt, '%Y-%m-%d') AS valid_to,
           (vt IS NULL) AS is_current
         FROM iv ORDER BY o_custkey, valid_from, o_orderkey""",

    // mirrors EventStream.cusumMonitor: q160's recursion, then the final
    // per-user state (row at max rn) + alarm-row count.
    "q172_stream_cusum" ->
      """WITH RECURSIVE seq AS (
           SELECT event_id, user_id, CAST(value AS DOUBLE) AS x,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         rec AS (
           SELECT event_id, user_id, x, rn,
             GREATEST(CAST(0.0 AS DOUBLE), 0.0 + ((x - 50.0) - 5.0)) AS sp,
             GREATEST(CAST(0.0 AS DOUBLE), 0.0 + ((50.0 - x) - 5.0)) AS sn
           FROM seq WHERE rn = 1
           UNION ALL
           SELECT e.event_id, e.user_id, e.x, e.rn,
             GREATEST(CAST(0.0 AS DOUBLE), r.sp + ((e.x - 50.0) - 5.0)) AS sp,
             GREATEST(CAST(0.0 AS DOUBLE), r.sn + ((50.0 - e.x) - 5.0)) AS sn
           FROM rec r JOIN seq e ON e.user_id = r.user_id AND e.rn = r.rn + 1),
         fin AS (SELECT user_id, MAX(rn) AS mr FROM rec GROUP BY 1),
         lastrow AS (SELECT r.user_id, r.rn AS n_events, r.sp, r.sn
           FROM rec r JOIN fin ON r.user_id = fin.user_id AND r.rn = fin.mr),
         al AS (SELECT user_id,
             CAST(SUM(CASE WHEN sp > 100.0 OR sn > 100.0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_alarms
           FROM rec GROUP BY 1)
         SELECT l.user_id, CAST(l.n_events AS BIGINT) AS n_events,
           l.sp AS cusum_pos, l.sn AS cusum_neg, a.n_alarms
         FROM lastrow l JOIN al a ON l.user_id = a.user_id
         ORDER BY l.user_id""",

    // mirrors Advanced.cusumKeyed: per-key recursion with the identical
    // max-clamp op order (q144's recursive-CTE pattern); NaN stickiness
    // agrees between engines.
    "q160_cusum" ->
      """WITH RECURSIVE seq AS (
           SELECT event_id, user_id, CAST(value AS DOUBLE) AS x,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         rec AS (
           SELECT event_id, user_id, x, rn,
             GREATEST(CAST(0.0 AS DOUBLE), 0.0 + ((x - 50.0) - 5.0)) AS sp,
             GREATEST(CAST(0.0 AS DOUBLE), 0.0 + ((50.0 - x) - 5.0)) AS sn
           FROM seq WHERE rn = 1
           UNION ALL
           SELECT e.event_id, e.user_id, e.x, e.rn,
             GREATEST(CAST(0.0 AS DOUBLE), r.sp + ((e.x - 50.0) - 5.0)) AS sp,
             GREATEST(CAST(0.0 AS DOUBLE), r.sn + ((50.0 - e.x) - 5.0)) AS sn
           FROM rec r JOIN seq e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
         SELECT event_id, user_id, sp AS cusum_pos, sn AS cusum_neg,
           (sp > 100.0 OR sn > 100.0) AS alarm
         FROM rec ORDER BY event_id""",

    // mirrors TableOps.hashSampleRowsWeighted(n_chars, doc_id): the keep
    // decision u·maxW < w·10⁶ is pure integer arithmetic (q52's md5 idiom).
    "q158_weighted_sample" ->
      """WITH mx AS (SELECT MAX(n_chars) AS maxw FROM documents)
         SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS kept_chars
         FROM documents, mx
         WHERE (CAST(concat('0x', substr(md5(concat_ws('#', doc_id)), 1, 15))
                  AS BIGINT) % 1000000) * maxw < n_chars * 1000000
         GROUP BY 1 ORDER BY 1""",

    // mirrors Ml.winsorize: quantile_cont == Spark exact percentile (q21
    // precedent), identical clip and exact-sum mean.
    "q147_winsorize" ->
      """WITH c AS (SELECT
           quantile_cont(l_quantity, 0.01) AS qlo,
           quantile_cont(l_quantity, 0.99) AS qhi,
           quantile_cont(l_extendedprice, 0.01) AS plo,
           quantile_cont(l_extendedprice, 0.99) AS phi
         FROM lineitem),
         w AS (SELECT l_returnflag,
           least(greatest(CAST(l_quantity AS DOUBLE), qlo), qhi) AS q,
           least(greatest(CAST(l_extendedprice AS DOUBLE), plo), phi) AS p
         FROM lineitem, c)
         SELECT l_returnflag, min(q) AS min_q, max(q) AS max_q,
           CAST(SUM(CAST(FLOOR(p * 10000.0) AS DECIMAL(30,0))) AS DOUBLE)
             / 10000.0 / COUNT(*) AS mean_p
         FROM w GROUP BY 1 ORDER BY 1""",

    // mirrors Ml.fitRobustScaler + transform: same median/IQR fit, same
    // (x - med) / iqr op order, zero-IQR guard to divisor 1.
    "q148_robust_scale" ->
      """WITH f AS (SELECT
           quantile_cont(l_extendedprice, 0.5) AS med,
           quantile_cont(l_extendedprice, 0.75)
             - quantile_cont(l_extendedprice, 0.25) AS iqr
         FROM lineitem),
         sc AS (SELECT l_returnflag,
           (CAST(l_extendedprice AS DOUBLE) - med)
             / (CASE WHEN iqr = 0 THEN 1.0 ELSE iqr END) AS v
         FROM lineitem, f)
         SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(v * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE)
             / 1000000.0 / COUNT(*) AS mean_rs
         FROM sc GROUP BY 1 ORDER BY 1""",

    // mirrors Advanced.holtKeyed: two-state per-key recursion; the damping
    // factors are written (1.0 - a) exactly as the Scala computes them (a
    // literal 0.6 can differ from 1.0-0.4 in the last ulp).
    "q146_holt" ->
      """WITH RECURSIVE seq AS (
           SELECT event_id, user_id, CAST(value AS DOUBLE) AS x,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         rec AS (
           SELECT event_id, user_id, x, rn, x AS l, CAST(0.0 AS DOUBLE) AS b
           FROM seq WHERE rn = 1
           UNION ALL
           SELECT e.event_id, e.user_id, e.x, e.rn,
             0.4 * e.x + (1.0 - 0.4) * (r.l + r.b) AS l,
             0.2 * ((0.4 * e.x + (1.0 - 0.4) * (r.l + r.b)) - r.l)
               + (1.0 - 0.2) * r.b AS b
           FROM rec r JOIN seq e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
         SELECT event_id, user_id, l AS level, b AS trend, l + b AS forecast
         FROM rec ORDER BY event_id""",

    // mirrors Rolling.rCorr: identical scaled window sums and closed-form
    // op order; zero-variance windows null on both sides.
    "q145_rolling_corr" ->
      """WITH b AS (SELECT o_orderkey, o_custkey,
           CAST(o_totalprice AS DOUBLE) AS x,
           CAST(day(o_orderdate) AS DOUBLE) AS y
         FROM orders),
         s AS (SELECT o_orderkey, o_custkey,
           CAST(COUNT(*) OVER win AS DOUBLE) AS n,
           CAST(SUM(CAST(FLOOR(x * 1000000.0) AS BIGINT)) OVER win AS DOUBLE) / 1000000.0 AS sx,
           CAST(SUM(CAST(FLOOR(y * 1000000.0) AS BIGINT)) OVER win AS DOUBLE) / 1000000.0 AS sy,
           CAST(SUM(CAST(FLOOR(x * x * 1000000.0) AS BIGINT)) OVER win AS DOUBLE) / 1000000.0 AS sxx,
           CAST(SUM(CAST(FLOOR(y * y * 1000000.0) AS BIGINT)) OVER win AS DOUBLE) / 1000000.0 AS syy,
           CAST(SUM(CAST(FLOOR(x * y * 1000000.0) AS BIGINT)) OVER win AS DOUBLE) / 1000000.0 AS sxy
           FROM b
           WINDOW win AS (PARTITION BY o_custkey ORDER BY o_orderkey
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
         SELECT o_orderkey, o_custkey,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN (n * sxy - sx * sy)
                  / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
           END AS roll_corr
         FROM s ORDER BY o_orderkey""",

    // mirrors Advanced.ewmaKeyed: s_1 = x_1, then 0.7*s + 0.3*x — the same
    // (a*s)+(b*x) IEEE op order per row as the Scala fold.
    "q144_ewma" ->
      """WITH RECURSIVE seq AS (
           SELECT event_id, user_id, CAST(value AS DOUBLE) AS x,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         rec AS (
           SELECT event_id, user_id, x, rn, x AS s
           FROM seq WHERE rn = 1
           UNION ALL
           SELECT e.event_id, e.user_id, e.x, e.rn, 0.7 * r.s + 0.3 * e.x AS s
           FROM rec r JOIN seq e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
         SELECT event_id, user_id, s AS ewma FROM rec ORDER BY event_id""",

    // DuckDB's native ASOF JOIN — an independent implementation of
    // backward-allow-exact as-of semantics — mirrors the keyless carry.
    // right side reduced to ONE purchase per distinct ts (argmax by
    // event_id) — duplicate asof keys have no deterministic winner in
    // either engine; see the q101 registration comment
    "q101_keyless_asof" ->
      """WITH c AS (SELECT event_id, ts FROM events WHERE event_type = 'click'),
            p AS (SELECT ts AS pts, event_id AS p_event_id, value AS p_value
                  FROM events WHERE event_type = 'purchase'
                  QUALIFY row_number() OVER
                    (PARTITION BY ts ORDER BY event_id DESC, value DESC) = 1)
         SELECT c.event_id, p.p_event_id, p.p_value
         FROM c ASOF LEFT JOIN p ON c.ts >= p.pts
         ORDER BY c.event_id""",

    "q103_missing_triage" ->
      """WITH base AS (
           SELECT event_id,
             CASE WHEN event_id % 5 = 0 OR isnan(value) THEN NULL
                  ELSE value END AS v
           FROM events)
         SELECT event_id, v, 'kept' AS status FROM base WHERE v IS NOT NULL
         UNION ALL
         SELECT event_id, -1.0 AS v, 'was_missing' AS status
         FROM base WHERE v IS NULL
         ORDER BY event_id""",

    "q104_columnwise" ->
      """SELECT c_custkey, c_acctbal * 2 AS c_acctbal, c_nationkey
         FROM customer ORDER BY c_custkey""",

    // Linear-regression mirror: replays fitSimpleLinearRegression's pinned
    // op sequence — floor-scaled Int128 sums (x/x² at 1e4, y/x·y at 1e2),
    // denom = n·sxx − sx·sx, slope, intercept, then b0 + x·b1 per row.
    // pipeline mirror: q47's scaler fragment feeds q105's regression
    // fragment on the DERIVED z column — same floor-scaled sums over the
    // same derived doubles, same pinned slope/intercept order.
    "q125_pipeline" ->
      """WITH st AS (
           SELECT
             CAST(SUM(CAST(FLOOR(l_quantity * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 / COUNT(l_quantity) AS mu,
             sqrt((CAST(SUM(CAST(FLOOR(l_quantity * l_quantity * 100.0) AS DECIMAL(30,0))) AS DOUBLE) / 100.0
               - (CAST(SUM(CAST(FLOOR(l_quantity * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0)
                 * (CAST(SUM(CAST(FLOOR(l_quantity * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0)
                 / CAST(COUNT(l_quantity) AS DOUBLE)) / CAST(COUNT(l_quantity) AS DOUBLE)) AS sd
           FROM lineitem),
         z AS (SELECT l_orderkey, l_linenumber, l_extendedprice,
             (l_quantity - mu) / (CASE WHEN sd = 0 THEN 1.0 ELSE sd END) AS zq
           FROM lineitem CROSS JOIN st),
         reg AS (
           SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(FLOOR((zq) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS sx,
             CAST(SUM(CAST(FLOOR((l_extendedprice) * 100.0) AS DECIMAL(30,0))) AS DOUBLE) / 100.0 AS sy,
             CAST(SUM(CAST(FLOOR((zq * zq) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS sxx,
             CAST(SUM(CAST(FLOOR((zq * l_extendedprice) * 100.0) AS DECIMAL(30,0))) AS DOUBLE) / 100.0 AS sxy
           FROM z WHERE zq IS NOT NULL AND l_extendedprice IS NOT NULL),
         m AS (SELECT n, sx, sy,
                 CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
                      ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope
               FROM reg),
         m2 AS (SELECT slope, (sy - slope * sx) / n AS intercept FROM m)
         SELECT l_orderkey, l_linenumber, zq AS l_quantity_z,
           m2.intercept + zq * m2.slope AS prediction
         FROM z CROSS JOIN m2 WHERE l_orderkey % 50 = 0
         ORDER BY l_orderkey, l_linenumber, l_quantity_z, prediction""",

    "q105_linreg" ->
      """WITH st AS (
           SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(FLOOR((l_quantity) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS sx,
             CAST(SUM(CAST(FLOOR((l_extendedprice) * 100.0) AS DECIMAL(30,0))) AS DOUBLE) / 100.0 AS sy,
             CAST(SUM(CAST(FLOOR((l_quantity * l_quantity) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS sxx,
             CAST(SUM(CAST(FLOOR((l_quantity * l_extendedprice) * 100.0) AS DECIMAL(30,0))) AS DOUBLE) / 100.0 AS sxy
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
         m AS (SELECT n, sx, sy,
                 CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
                      ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope
               FROM st),
         m2 AS (SELECT slope, (sy - slope * sx) / n AS intercept FROM m)
         SELECT l_orderkey, l_linenumber, l_quantity,
           m2.intercept + l_quantity * m2.slope AS prediction
         FROM lineitem, m2 WHERE l_orderkey < 500
         ORDER BY l_orderkey, l_linenumber, l_quantity, prediction""",

    // Nearest-centroid mirror: exact-mean centroids per class, then the
    // SAME argmin fold as CentroidModel.predict — labels visited in sorted
    // order (A, then N, then R), strict < so ties keep the earlier label.
    "q109_classify_centroid" ->
      """WITH cen AS (
           SELECT l_returnflag AS lab, CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(FLOOR((l_quantity) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS s1,
             CAST(SUM(CAST(FLOOR((l_discount) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS s2
           FROM lineitem
           WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
             AND l_discount IS NOT NULL
           GROUP BY 1),
         mu AS (SELECT
             max(CASE WHEN lab = 'A' THEN s1 / n END) AS a1,
             max(CASE WHEN lab = 'A' THEN s2 / n END) AS a2,
             max(CASE WHEN lab = 'N' THEN s1 / n END) AS n1,
             max(CASE WHEN lab = 'N' THEN s2 / n END) AS n2,
             max(CASE WHEN lab = 'R' THEN s1 / n END) AS r1,
             max(CASE WHEN lab = 'R' THEN s2 / n END) AS r2
           FROM cen),
         scored AS (SELECT l.l_returnflag,
             (l.l_quantity - mu.a1) * (l.l_quantity - mu.a1)
               + (l.l_discount - mu.a2) * (l.l_discount - mu.a2) AS sa,
             (l.l_quantity - mu.n1) * (l.l_quantity - mu.n1)
               + (l.l_discount - mu.n2) * (l.l_discount - mu.n2) AS sn,
             (l.l_quantity - mu.r1) * (l.l_quantity - mu.r1)
               + (l.l_discount - mu.r2) * (l.l_discount - mu.r2) AS sr
           FROM lineitem l, mu),
         f1 AS (SELECT l_returnflag,
             CASE WHEN sn < sa THEN 'N' ELSE 'A' END AS bl,
             CASE WHEN sn < sa THEN sn ELSE sa END AS bs, sr
           FROM scored)
         SELECT l_returnflag AS actual,
           CASE WHEN sr < bs THEN 'R' ELSE bl END AS prediction,
           COUNT(*) AS n
         FROM f1 GROUP BY 1, 2 ORDER BY 1, 2""",

    // Full descriptive-stats mirror: per-column branch replaying the exact
    // raw-moment sums (x at 1e4, x² at the column's squareScale, x³ coarse
    // floor-div), the pinned skew sequence (Σ(x−μ)³ = sxxx − 3μ·sxx +
    // 2μ²·sx; G1 = n/((n−1)(n−2))·m3/s³), quantile_cont quartiles (proven
    // equal to the rank-selection interpolation by q65), min_by-equivalent
    // mode (ORDER BY n DESC, v ASC LIMIT 1), and arg_min/arg_max first/last
    // on the unique o_orderkey.
    "q106_descriptive_full" -> {
      def branch(c: String, dtype: String, sqP: Long, cubeDiv: Long): String =
        s"""SELECT '$c' AS "column", '$dtype' AS datatype, n_valid, n_missing,
             min, q1, mu AS mean, mode, median, q3, max, stddev,
             CASE WHEN n_valid < 3 OR ssamp = 0 THEN 0.0
                  ELSE (n / ((n - 1.0) * (n - 2.0)))
                       * ((sxxx - 3.0 * mu * sxx + 2.0 * mu * mu * sx)
                          / (ssamp * ssamp * ssamp)) END AS skew,
             n_distinct, first, last
           FROM (SELECT *, sx / n AS mu,
               sqrt(greatest((sxx - sx * sx / n) / n, 0.0)) AS stddev,
               sqrt(greatest((sxx - sx * sx / n) / (n - 1.0), 0.0)) AS ssamp
             FROM (SELECT COUNT($c) AS n_valid, CAST(COUNT($c) AS DOUBLE) AS n,
               CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
               CAST(min($c) AS DOUBLE) AS min, CAST(max($c) AS DOUBLE) AS max,
               quantile_cont($c, 0.25) AS q1, quantile_cont($c, 0.5) AS median,
               quantile_cont($c, 0.75) AS q3,
               COUNT(DISTINCT $c) AS n_distinct,
               CAST(arg_min($c, o_orderkey) AS DOUBLE) AS first,
               CAST(arg_max($c, o_orderkey) AS DOUBLE) AS last,
               CAST(SUM(CAST(FLOOR(($c) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS sx,
               CAST(SUM(CAST(FLOOR((CAST($c AS DOUBLE) * CAST($c AS DOUBLE)) * $sqP.0) AS DECIMAL(30,0))) AS DOUBLE) / $sqP.0 AS sxx,
               CAST(SUM(CAST(FLOOR((CAST($c AS DOUBLE) * CAST($c AS DOUBLE) * CAST($c AS DOUBLE)) / $cubeDiv.0) AS DECIMAL(30,0))) AS DOUBLE) * $cubeDiv.0 AS sxxx,
               (SELECT v FROM (SELECT CAST($c AS DOUBLE) AS v, COUNT(*) AS cnt
                  FROM orders WHERE $c IS NOT NULL GROUP BY 1)
                ORDER BY cnt DESC, v ASC LIMIT 1) AS mode
             FROM orders) t1) t2"""
      Seq(branch("o_totalprice", "double", 1L, 10000L),
        branch("o_custkey", "bigint", 100L, 100L))
        .mkString("SELECT * FROM (", " UNION ALL ", ") u ORDER BY \"column\"")
    },

    // xls round-trip mirror: the parquet originals are the oracle — any
    // value/type/date disturbed by the OLE2/BIFF8 write+read shows up here.
    "q107_xls" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS sum_price,
           CAST(min(CAST(o_orderdate AS DATE)) AS VARCHAR) AS first_date,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
         FROM orders WHERE o_orderkey % 16 = 0 AND o_orderkey < 1000000
         GROUP BY 1 ORDER BY 1""",

    // Promotional-inference mirror: expected narrowed type names hardcoded
    // per column; checksums recomputed from the parquet originals (the
    // boolean rung via the same relaxed-token truth table, the timestamp
    // rung via second-truncated epoch sums).
    "q108_csv_promote" ->
      """WITH e AS (SELECT * FROM events WHERE event_id < 10000)
         SELECT * FROM (
           SELECT 'big' AS "column", 'bigint' AS datatype, COUNT(*) AS n_valid,
             CAST(SUM(event_id + 3000000000) AS DOUBLE) AS checksum FROM e
           UNION ALL SELECT 'event_id', 'smallint', COUNT(*),
             CAST(SUM(event_id) AS DOUBLE) FROM e
           UNION ALL SELECT 'event_type', 'string', COUNT(*),
             CAST(COUNT(DISTINCT event_type) AS DOUBLE) FROM e
           UNION ALL SELECT 'flag', 'boolean', COUNT(*),
             CAST(COUNT(CASE WHEN event_id % 3 IN (0, 1) THEN 1 END) AS DOUBLE) FROM e
           UNION ALL SELECT 'mid', 'int', COUNT(*),
             CAST(SUM(event_id + 40000) AS DOUBLE) FROM e
           UNION ALL SELECT 'ts_s', 'timestamp', COUNT(*),
             CAST(SUM(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) AS DOUBLE) FROM e
           UNION ALL SELECT 'value', 'double', COUNT(*),
             CAST(SUM(CAST(FLOOR(value * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE) / 1000000.0 FROM e
         ) t ORDER BY "column"""",

    // Per-group regression + metrics mirror: the q105 formula per group,
    // plus sse = max(syy − b0·sy − b1·sxy, 0), sst = syy − sy²/n,
    // r2 = 1 − sse/sst, rmse = √(sse/n) — identical op order to
    // Ml.simpleRegressionFinish.
    "q110_linreg_groups" ->
      """WITH st AS (
           SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(FLOOR((l_quantity) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS sx,
             CAST(SUM(CAST(FLOOR((l_extendedprice) * 100.0) AS DECIMAL(30,0))) AS DOUBLE) / 100.0 AS sy,
             CAST(SUM(CAST(FLOOR((l_quantity * l_quantity) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS sxx,
             CAST(SUM(CAST(FLOOR((l_quantity * l_extendedprice) * 100.0) AS DECIMAL(30,0))) AS DOUBLE) / 100.0 AS sxy,
             CAST(SUM(CAST(FLOOR((l_extendedprice * l_extendedprice) * 100.0) AS DECIMAL(30,0))) AS DOUBLE) / 100.0 AS syy
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
           GROUP BY l_returnflag),
         m AS (SELECT *, CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
                   ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope
               FROM st),
         m2 AS (SELECT *, (sy - slope * sx) / n AS intercept FROM m),
         m3 AS (SELECT *, greatest(syy - intercept * sy - slope * sxy, 0.0) AS sse,
                  syy - sy * sy / n AS sst FROM m2)
         SELECT l_returnflag, n, slope, intercept,
           CASE WHEN sst = 0 THEN 0.0 ELSE 1.0 - sse / sst END AS r2,
           sqrt(sse / n) AS rmse
         FROM m3 ORDER BY l_returnflag""",

    // Language-classifier mirror (generated: 5 labels × 3 features): exact-
    // mean centroids per lang, the SAME left-to-right squared-distance sums,
    // and the SAME sorted-label argmin fold as CentroidModel.predict.
    "q111_lang_classifier" -> {
      val labels = Seq("de", "en", "es", "fr", "zh")
      val fexprs = Seq(
        "CAST(n_chars AS DOUBLE)",
        "CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)",
        "CAST(length(text) - length(replace(text, 'e', '')) AS DOUBLE)")
      val featSel = fexprs.zipWithIndex
        .map { case (e, i) => s"$e AS f${i + 1}" }.mkString(", ")
      val sums = fexprs.indices.map(i =>
        s"CAST(SUM(CAST(FLOOR((f${i + 1}) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS s${i + 1}")
        .mkString(", ")
      val mus = labels.flatMap(l => fexprs.indices.map(i =>
        s"max(CASE WHEN lang = '$l' THEN s${i + 1} / n END) AS ${l}_${i + 1}"))
        .mkString(", ")
      val dists = labels.map(l => fexprs.indices.map(i =>
        s"(f.f${i + 1} - mu.${l}_${i + 1}) * (f.f${i + 1} - mu.${l}_${i + 1})")
        .mkString(" + ") + s" AS s_$l").mkString(", ")
      // the pinned fold: labels visited in sorted order, strict < keeps ties
      val fold = labels.tail.zipWithIndex.map { case (l, k) =>
        val (pb, pbs) = if (k == 0) (s"'${labels.head}'", s"s_${labels.head}")
          else (s"bl$k", s"bs$k")
        s"""f$k AS (SELECT *,
              CASE WHEN s_$l < $pbs THEN '$l' ELSE $pb END AS bl${k + 1},
              CASE WHEN s_$l < $pbs THEN s_$l ELSE $pbs END AS bs${k + 1}
            FROM ${if (k == 0) "scored" else s"f${k - 1}"})"""
      }.mkString(",\n         ")
      s"""WITH f AS (SELECT lang, $featSel FROM documents),
         cen AS (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n, $sums
                 FROM f WHERE lang IS NOT NULL AND f1 IS NOT NULL
                   AND f2 IS NOT NULL AND f3 IS NOT NULL
                 GROUP BY 1),
         mu AS (SELECT $mus FROM cen),
         scored AS (SELECT f.lang, $dists FROM f, mu),
         $fold
         SELECT lang AS actual, bl${labels.size - 1} AS prediction,
           COUNT(*) AS n
         FROM f${labels.size - 2} GROUP BY 1, 2 ORDER BY 1, 2"""
    },

    // Categorical-stats mirror: per-column value counts, row_number ranking
    // with the same (count desc, value asc) tie-break, distinct totals.
    "q115_cat_stats" -> {
      def branch(c: String): String =
        s"""SELECT '$c' AS "column",
             CAST(row_number() OVER (ORDER BY n DESC, value ASC) AS INT) AS rank,
             value, n,
             (SELECT COUNT(DISTINCT $c) FROM orders WHERE $c IS NOT NULL) AS n_values
           FROM (SELECT CAST($c AS VARCHAR) AS value, COUNT(*) AS n
                 FROM orders WHERE $c IS NOT NULL GROUP BY 1) t
           QUALIFY rank <= 21"""
      Seq(branch("o_orderstatus"), branch("o_orderpriority"))
        .mkString("SELECT * FROM (", " UNION ALL ",
          """) u ORDER BY "column", rank""")
    },

    // Classification-metrics mirror: the q109 centroid/fold chain, then the
    // confusion matrix and the SAME pinned precision/recall/F1 arithmetic.
    "q114_classify_metrics" ->
      """WITH cen AS (
           SELECT l_returnflag AS lab, CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(FLOOR((l_quantity) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS s1,
             CAST(SUM(CAST(FLOOR((l_discount) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS s2
           FROM lineitem
           WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
             AND l_discount IS NOT NULL
           GROUP BY 1),
         mu AS (SELECT
             max(CASE WHEN lab = 'A' THEN s1 / n END) AS a1,
             max(CASE WHEN lab = 'A' THEN s2 / n END) AS a2,
             max(CASE WHEN lab = 'N' THEN s1 / n END) AS n1,
             max(CASE WHEN lab = 'N' THEN s2 / n END) AS n2,
             max(CASE WHEN lab = 'R' THEN s1 / n END) AS r1,
             max(CASE WHEN lab = 'R' THEN s2 / n END) AS r2
           FROM cen),
         scored AS (SELECT l.l_returnflag,
             (l.l_quantity - mu.a1) * (l.l_quantity - mu.a1)
               + (l.l_discount - mu.a2) * (l.l_discount - mu.a2) AS sa,
             (l.l_quantity - mu.n1) * (l.l_quantity - mu.n1)
               + (l.l_discount - mu.n2) * (l.l_discount - mu.n2) AS sn,
             (l.l_quantity - mu.r1) * (l.l_quantity - mu.r1)
               + (l.l_discount - mu.r2) * (l.l_discount - mu.r2) AS sr
           FROM lineitem l, mu),
         f1x AS (SELECT l_returnflag,
             CASE WHEN sn < sa THEN 'N' ELSE 'A' END AS bl,
             CASE WHEN sn < sa THEN sn ELSE sa END AS bs, sr
           FROM scored),
         conf AS (SELECT l_returnflag AS a,
             CASE WHEN sr < bs THEN 'R' ELSE bl END AS p, COUNT(*) AS n
           FROM f1x GROUP BY 1, 2),
         ag AS (SELECT a AS label, CAST(SUM(n) AS BIGINT) AS n_actual,
             CAST(SUM(CASE WHEN a = p THEN n ELSE 0 END) AS BIGINT) AS tp
           FROM conf GROUP BY 1),
         pg AS (SELECT p AS label, CAST(SUM(n) AS BIGINT) AS n_pred
           FROM conf GROUP BY 1),
         m AS (SELECT ag.label, n_actual, tp, COALESCE(n_pred, 0) AS n_pred
           FROM ag LEFT JOIN pg USING (label)),
         m2 AS (SELECT label, n_actual, tp,
             CASE WHEN n_pred = 0 THEN 0.0
                  ELSE CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE) END AS "precision",
             CASE WHEN n_actual = 0 THEN 0.0
                  ELSE CAST(tp AS DOUBLE) / CAST(n_actual AS DOUBLE) END AS recall
           FROM m)
         SELECT label, n_actual, tp, "precision", recall,
           CASE WHEN "precision" + recall = 0 THEN 0.0
                ELSE 2.0 * "precision" * recall / ("precision" + recall) END AS f1
         FROM m2 ORDER BY label""",

    // Multivariate per-group regression mirror: the same exact-sum moments
    // (x at 1e4, y-products at 1e2), then the identical first-row Cramer
    // cofactor expansion and metric formulas, per l_returnflag.
    "q112_mlr_groups" ->
      """WITH st AS (
           SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(FLOOR((l_quantity) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS s1,
             CAST(SUM(CAST(FLOOR((l_discount) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS s2,
             CAST(SUM(CAST(FLOOR((l_quantity * l_quantity) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS p11,
             CAST(SUM(CAST(FLOOR((l_quantity * l_discount) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS p12,
             CAST(SUM(CAST(FLOOR((l_discount * l_discount) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS p22,
             CAST(SUM(CAST(FLOOR((l_extendedprice) * 100.0) AS DECIMAL(30,0))) AS DOUBLE) / 100.0 AS sy,
             CAST(SUM(CAST(FLOOR((l_quantity * l_extendedprice) * 100.0) AS DECIMAL(30,0))) AS DOUBLE) / 100.0 AS q1,
             CAST(SUM(CAST(FLOOR((l_discount * l_extendedprice) * 100.0) AS DECIMAL(30,0))) AS DOUBLE) / 100.0 AS q2,
             CAST(SUM(CAST(FLOOR((l_extendedprice * l_extendedprice) * 100.0) AS DECIMAL(30,0))) AS DOUBLE) / 100.0 AS syy
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
             AND l_extendedprice IS NOT NULL
           GROUP BY 1),
         d AS (SELECT *,
             n * (p11 * p22 - p12 * p12) - s1 * (s1 * p22 - p12 * s2) + s2 * (s1 * p12 - p11 * s2) AS det,
             sy * (p11 * p22 - p12 * p12) - s1 * (q1 * p22 - p12 * q2) + s2 * (q1 * p12 - p11 * q2) AS det0,
             n * (q1 * p22 - p12 * q2) - sy * (s1 * p22 - p12 * s2) + s2 * (s1 * q2 - q1 * s2) AS det1,
             n * (p11 * q2 - q1 * p12) - s1 * (s1 * q2 - q1 * s2) + sy * (s1 * p12 - p11 * s2) AS det2
           FROM st),
         b AS (SELECT *,
             CASE WHEN det = 0 THEN sy / n ELSE det0 / det END AS intercept,
             CASE WHEN det = 0 THEN 0.0 ELSE det1 / det END AS slope1,
             CASE WHEN det = 0 THEN 0.0 ELSE det2 / det END AS slope2
           FROM d),
         m AS (SELECT *,
             greatest(syy - intercept * sy - slope1 * q1 - slope2 * q2, 0.0) AS sse,
             syy - sy * sy / n AS sst
           FROM b)
         SELECT l_returnflag, n, intercept, slope1, slope2,
           CASE WHEN sst = 0 THEN 0.0 ELSE 1.0 - sse / sst END AS r2,
           sqrt(sse / n) AS rmse
         FROM m ORDER BY l_returnflag""",

    // General-d (here d=3 + intercept) per-group regression mirror: the
    // same exact-sum moments (everything at the 1e4 default scale), then
    // the IDENTICAL pivot-free Cholesky sequence Ml.choleskySolve runs on
    // the executors — factor L, forward-solve Ly=b, back-solve Lᵀx=y —
    // with every subtraction in the same left-to-right order, so each
    // scalar replays bit-for-bit. greatest(pv,0) inside sqrt only guards
    // the (never-taken on this data) singular branch from a sqrt(<0)
    // error; when pv > 0 it is the identity. CTE chain because each L
    // entry feeds the next.
    "q116_mlr_groups_n" ->
      """WITH st AS (
           SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(FLOOR((l_quantity) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS s1,
             CAST(SUM(CAST(FLOOR((l_discount) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS s2,
             CAST(SUM(CAST(FLOOR((l_tax) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS s3,
             CAST(SUM(CAST(FLOOR((l_quantity * l_quantity) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS p11,
             CAST(SUM(CAST(FLOOR((l_quantity * l_discount) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS p12,
             CAST(SUM(CAST(FLOOR((l_quantity * l_tax) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS p13,
             CAST(SUM(CAST(FLOOR((l_discount * l_discount) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS p22,
             CAST(SUM(CAST(FLOOR((l_discount * l_tax) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS p23,
             CAST(SUM(CAST(FLOOR((l_tax * l_tax) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS p33,
             CAST(SUM(CAST(FLOOR((l_extendedprice) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS sy,
             CAST(SUM(CAST(FLOOR((l_quantity * l_extendedprice) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS q1,
             CAST(SUM(CAST(FLOOR((l_discount * l_extendedprice) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS q2,
             CAST(SUM(CAST(FLOOR((l_tax * l_extendedprice) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS q3
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
             AND l_tax IS NOT NULL AND l_extendedprice IS NOT NULL
           GROUP BY 1),
         c1 AS (SELECT *, sqrt(n) AS l00 FROM st),
         c2 AS (SELECT *, s1 / l00 AS l10, s2 / l00 AS l20, s3 / l00 AS l30 FROM c1),
         c3 AS (SELECT *, p11 - l10 * l10 AS pv1 FROM c2),
         c4 AS (SELECT *, sqrt(greatest(pv1, 0.0)) AS l11 FROM c3),
         c5 AS (SELECT *, (p12 - l20 * l10) / l11 AS l21,
                          (p13 - l30 * l10) / l11 AS l31 FROM c4),
         c6 AS (SELECT *, p22 - l20 * l20 - l21 * l21 AS pv2 FROM c5),
         c7 AS (SELECT *, sqrt(greatest(pv2, 0.0)) AS l22 FROM c6),
         c8 AS (SELECT *, (p23 - l30 * l20 - l31 * l21) / l22 AS l32 FROM c7),
         c9 AS (SELECT *, p33 - l30 * l30 - l31 * l31 - l32 * l32 AS pv3 FROM c8),
         c10 AS (SELECT *, sqrt(greatest(pv3, 0.0)) AS l33 FROM c9),
         f1 AS (SELECT *, sy / l00 AS fy0 FROM c10),
         f2 AS (SELECT *, (q1 - l10 * fy0) / l11 AS fy1 FROM f1),
         f3 AS (SELECT *, (q2 - l20 * fy0 - l21 * fy1) / l22 AS fy2 FROM f2),
         f4 AS (SELECT *, (q3 - l30 * fy0 - l31 * fy1 - l32 * fy2) / l33 AS fy3 FROM f3),
         b1_ AS (SELECT *, fy3 / l33 AS x3 FROM f4),
         b2_ AS (SELECT *, (fy2 - l32 * x3) / l22 AS x2 FROM b1_),
         b3_ AS (SELECT *, (fy1 - l21 * x2 - l31 * x3) / l11 AS x1 FROM b2_),
         b4_ AS (SELECT *, (fy0 - l10 * x1 - l20 * x2 - l30 * x3) / l00 AS x0,
                   (pv1 > p11 / 1073741824.0 AND pv2 > p22 / 1073741824.0
                    AND pv3 > p33 / 1073741824.0) AS ok FROM b3_)
         SELECT l_returnflag, n,
           CASE WHEN ok THEN x0 ELSE sy / n END AS intercept,
           CASE WHEN ok THEN x1 ELSE 0.0 END AS b1,
           CASE WHEN ok THEN x2 ELSE 0.0 END AS b2,
           CASE WHEN ok THEN x3 ELSE 0.0 END AS b3
         FROM b4_ ORDER BY l_returnflag""",

    // workbook round-trip: oracle on the original parquet
    "q118_workbook" ->
      """SELECT n_name, COUNT(*) AS n_suppliers,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(30,4))) AS DOUBLE) AS sum_bal
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         GROUP BY 1 ORDER BY n_name""",

    // snapshot round-trip: oracle on the original parquet — the EDN
    // document must carry values and dtypes losslessly for this to hash.
    "q117_snapshot_roundtrip" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS sum_price,
           MAX(o_orderkey) AS max_key,
           strftime(MIN(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS first_date
         FROM orders WHERE o_orderkey < 4000
         GROUP BY 1 ORDER BY o_orderstatus""",

    // q88's densify arithmetic over a GLOBAL (keyless) lead. NOTE: the
    // range(1, 4096) cross join caps inserted points per gap at 4095 —
    // ample for orderkey gaps at maxSpan 2.0 (≤ ~40 steps); revisit the
    // cap if the gap/maxSpan ratio ever approaches it.
    "q102_fill_range_keyless" ->
      """WITH base AS (
           SELECT CAST(o_orderkey AS DOUBLE) AS axis, o_totalprice
           FROM orders WHERE o_orderkey < 2000),
         g AS (SELECT axis, lead(axis) OVER (ORDER BY axis) AS nxt FROM base),
         st AS (SELECT axis, nxt,
                 CAST(ceil((nxt - axis) / 2.0) AS INT) AS steps
               FROM g WHERE nxt IS NOT NULL AND nxt - axis > 2.0),
         ins AS (SELECT axis + (nxt - axis) * k / CAST(steps AS DOUBLE) AS axis,
                        CAST(NULL AS DOUBLE) AS o_totalprice
                 FROM st CROSS JOIN range(1, 4096) t(k)
                 WHERE k <= steps - 1)
         SELECT axis, o_totalprice FROM base
         UNION ALL SELECT axis, o_totalprice FROM ins
         ORDER BY axis""",

    // relaxed-parse chain: TRY_CAST mirrors try_cast; the dropped all-null
    // column and the renames are visible through the output schema.
    "q100_column_repair" ->
      """WITH m AS (
           SELECT c_custkey,
                  CASE WHEN c_custkey % 7 = 0 THEN c_mktsegment
                       ELSE CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS VARCHAR)
                  END AS mixed
           FROM customer)
         SELECT c_custkey,
                TRY_CAST(mixed AS BIGINT) AS cents,
                (mixed IS NOT NULL AND TRY_CAST(mixed AS BIGINT) IS NULL) AS cents_unparsed,
                'x' AS flag
         FROM m ORDER BY c_custkey""",

    "q51_head_tail" ->
      """SELECT o_orderkey, o_totalprice, part FROM (
           (SELECT o_orderkey, o_totalprice, 'head' AS part FROM orders
            ORDER BY o_orderkey ASC LIMIT 10)
           UNION ALL
           (SELECT o_orderkey, o_totalprice, 'tail' AS part FROM orders
            ORDER BY o_orderkey DESC LIMIT 10)) t
         ORDER BY o_orderkey""",

    // content-level reservoir mirror: identical md5(seed#key#tiebreak)
    // rank, identical top-2-per-group row selection
    "q57_reservoir" ->
      """WITH r AS (
           SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY md5(concat_ws('#', '42',
                 CAST(o_custkey AS VARCHAR), CAST(o_orderkey AS VARCHAR))) ASC,
               o_orderkey ASC) AS rn
           FROM orders)
         SELECT o_custkey, o_orderkey FROM r WHERE rn <= 2
         ORDER BY o_custkey, o_orderkey""",

    // mirrors TextDedup.nearDupDedup end-to-end: MinHash-LSH candidates
    // (shared SQL with q29), est-Jaccard >= 0.5 edges, connected components
    // via recursive transitive closure (exact — the Spark side's pointer-
    // jumping min-label iteration converges to the same fixpoint).
    "q60_dedup_groups" ->
      s"""WITH RECURSIVE ${LlmQueries.minhashCandidateCtes(32)},
         cand AS (
           SELECT p.id_a, p.id_b FROM pairs0 p
           JOIN sig sa ON sa.id = p.id_a JOIN sig sb ON sb.id = p.id_b
           WHERE ${LlmQueries.estJaccardSql} >= 0.5),
         edges AS (SELECT id_a AS src, id_b AS dst FROM cand
                   UNION SELECT id_b, id_a FROM cand),
         reach AS (
           SELECT id, id AS r FROM d
           UNION
           SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
         labels AS (SELECT id, min(r) AS group_id FROM reach GROUP BY id)
         SELECT keep, COUNT(*) AS n, COUNT(DISTINCT group_id) AS n_groups
         FROM (SELECT id, group_id, id = group_id AS keep FROM labels) t
         GROUP BY 1 ORDER BY 1""",

    // mirrors Ml.withFold: md5-derived stable hash of the key's decimal string.
    "q49_kfold" ->
      """SELECT CAST(CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 5 AS INT) AS fold,
         COUNT(*) AS n
         FROM orders GROUP BY 1 ORDER BY 1""",

    // mirrors q50: KMV bottom-k estimate ((k−1)·2^60/h_k over md5-derived
    // 60-bit hashes, exact below k — same op order as functions/Kmv), exact
    // distinct, and rank-picked quantiles (smallest price whose cumulative
    // count reaches ceil(q·n)).
    "q50_sketches" ->
      """WITH hs AS (
           SELECT DISTINCT l_returnflag AS f,
             CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
           FROM lineitem),
         ranked AS (
           SELECT f, h, row_number() OVER (PARTITION BY f ORDER BY h) AS rn,
                  count(*) OVER (PARTITION BY f) AS cnt
           FROM hs),
         est AS (
           SELECT f,
             CASE WHEN max(cnt) < 1024 THEN CAST(max(cnt) AS DOUBLE)
                  ELSE 1023.0 * pow(2.0, 60) / CAST(max(CASE WHEN rn = 1024 THEN h END) AS DOUBLE)
             END AS kmv_parts
           FROM ranked WHERE rn <= 1024 GROUP BY f),
         counts AS (
           SELECT l_returnflag AS f, COUNT(DISTINCT l_partkey) AS exact_parts
           FROM lineitem GROUP BY 1),
         freq AS (
           SELECT l_returnflag AS f, l_extendedprice AS p, COUNT(*) AS c
           FROM lineitem GROUP BY 1, 2),
         cum AS (
           SELECT f, p, SUM(c) OVER (PARTITION BY f ORDER BY p) AS cumc,
                  SUM(c) OVER (PARTITION BY f) AS tot
           FROM freq),
         med AS (SELECT f, MIN(p) AS median_price FROM cum
                 WHERE cumc >= CEIL(tot * 0.5) GROUP BY f),
         p90 AS (SELECT f, MIN(p) AS p90_price FROM cum
                 WHERE cumc >= CEIL(tot * 0.9) GROUP BY f)
         SELECT c.f AS l_returnflag, e.kmv_parts, c.exact_parts,
                m.median_price, n.p90_price
         FROM counts c
         JOIN est e ON e.f = c.f
         JOIN med m ON m.f = c.f
         JOIN p90 n ON n.f = c.f
         ORDER BY 1""",

    // mirrors TableOps.hashSampleRows(10, orderkey#linenumber).
    "q52_sample" ->
      """SELECT l_returnflag, COUNT(*) AS n FROM lineitem
         WHERE CAST(concat('0x', substr(md5(concat_ws('#', l_orderkey, l_linenumber)), 1, 15)) AS BIGINT) % 100 < 10
         GROUP BY 1 ORDER BY 1""",

    "q58_rolling_clamp" ->
      """SELECT event_id, user_id,
         SUM(v) OVER w + (5 - COUNT(v) OVER w) * first_value(v) OVER wp AS clamp_sum,
         (SUM(v) OVER w + (5 - COUNT(v) OVER w) * first_value(v) OVER wp) / 5 AS clamp_mean
         FROM (SELECT event_id, user_id, ts, CAST(event_id % 97 AS DOUBLE) AS v
               FROM events) t
         WINDOW
           w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
           wp AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY event_id""",

    // mirrors Ml.probDistToLabel: first-max-wins argmax as ordered >=
    // comparisons (p_click == max ⇒ p_click; else p_view == max among the
    // rest ⇒ p_view; else p_purchase), identical double division both sides.
    "q69_prob_label" ->
      """WITH probs AS (
           SELECT event_id,
             CAST(event_id % 7 + 1 AS DOUBLE) / s AS p_click,
             CAST(event_id % 5 + 1 AS DOUBLE) / s AS p_view,
             CAST(event_id % 3 + 1 AS DOUBLE) / s AS p_purchase
           FROM (SELECT event_id,
                   (event_id % 7 + 1) + (event_id % 5 + 1) + (event_id % 3 + 1) AS s
                 FROM events) t)
         SELECT CASE WHEN p_click >= p_view AND p_click >= p_purchase THEN 'p_click'
                     WHEN p_view >= p_purchase THEN 'p_view'
                     ELSE 'p_purchase' END AS label,
                COUNT(*) AS n
         FROM probs GROUP BY 1 ORDER BY 1""",

    // the salt is layout-only: the plain join is the oracle
    "q70_salted_join" ->
      """SELECT o_orderpriority, SUM(l_quantity) AS sum_qty, COUNT(*) AS n
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY 1""",

    "q71_take_nth" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM (
           SELECT l_orderkey, l_linenumber, l_quantity,
                  row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_quantity) - 1 AS rn
           FROM lineitem) t
         WHERE rn % 97 = 0 ORDER BY l_orderkey, l_linenumber, l_quantity""",

    // mirrors fillAbbDeterministic: i-th-smallest observed value drawn by
    // md5(seed#event_id) mod n_observed
    // the null-row draw is joined as a plain equality (pre-filtered null
    // subset, draw index computed on the probe side) so the engine hash-
    // joins it — the former mixed ON-clause fell back to a nested loop
    // at sf1.0 (1M × 800k)
    "q72_abb" ->
      """WITH e AS (SELECT event_id,
             CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v
           FROM events),
         obs AS (SELECT v AS av, row_number() OVER (ORDER BY v) - 1 AS ai
                 FROM e WHERE v IS NOT NULL),
         n AS (SELECT COUNT(*) AS c FROM obs),
         nulls AS (SELECT e.event_id,
             CAST(concat('0x', substr(md5(concat_ws('#', 7, e.event_id)), 1, 15))
               AS BIGINT) % n.c AS ai
           FROM e CROSS JOIN n WHERE e.v IS NULL),
         filled AS (SELECT nu.event_id, o.av
           FROM nulls nu JOIN obs o USING (ai))
         SELECT e.event_id, COALESCE(e.v, f.av) AS v
         FROM e LEFT JOIN filled f USING (event_id)
         ORDER BY e.event_id""",

    // the files round-trip bit-exactly, so the parquet source is the oracle
    "q80_xlsx" ->
      """SELECT CAST(s_nationkey AS INT) AS s_nationkey, COUNT(*) AS n,
         CAST(SUM(CAST(s_acctbal AS DECIMAL(30,4))) AS DOUBLE) AS sum_bal, MIN(s_name) AS first_name
         FROM supplier GROUP BY 1 ORDER BY 1""",

    "q81_edn" ->
      """SELECT CAST(c_nationkey AS INT) AS c_nationkey, COUNT(*) AS n,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(30,4))) AS DOUBLE) AS sum_bal, MIN(c_name) AS first_name
         FROM customer GROUP BY 1 ORDER BY 1""",

    "q82_libsvm" ->
      """SELECT CAST(s_nationkey AS INT) AS s_nationkey, COUNT(*) AS n,
         CAST(SUM(CAST(s_acctbal AS DECIMAL(30,4))) AS DOUBLE) AS sum_bal,
         CAST(SUM(s_suppkey) AS BIGINT) AS sum_key
         FROM supplier GROUP BY 1 ORDER BY 1""",

    "q59_row_map" ->
      """SELECT l_orderkey, l_linenumber,
         l_extendedprice * (1 - l_discount) * (1 + l_tax) AS margin
         FROM lineitem ORDER BY l_orderkey, l_linenumber, margin""",

    "q64_token_kernel" ->
      """SELECT lang,
         CAST(SUM(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS BIGINT) AS total_tokens,
         CAST(MAX(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS INT) AS max_tokens,
         COUNT(*) AS n_docs
         FROM documents GROUP BY 1 ORDER BY 1""",

    "q65_brief" ->
      """SELECT "column", min, q1, median, q3, max FROM (
           SELECT 'l_quantity' AS "column", CAST(min(l_quantity) AS DOUBLE) AS min,
             quantile_cont(l_quantity, 0.25) AS q1, quantile_cont(l_quantity, 0.5) AS median,
             quantile_cont(l_quantity, 0.75) AS q3, CAST(max(l_quantity) AS DOUBLE) AS max
           FROM lineitem
           UNION ALL SELECT 'l_extendedprice', CAST(min(l_extendedprice) AS DOUBLE),
             quantile_cont(l_extendedprice, 0.25), quantile_cont(l_extendedprice, 0.5),
             quantile_cont(l_extendedprice, 0.75), CAST(max(l_extendedprice) AS DOUBLE)
           FROM lineitem
           UNION ALL SELECT 'l_discount', CAST(min(l_discount) AS DOUBLE),
             quantile_cont(l_discount, 0.25), quantile_cont(l_discount, 0.5),
             quantile_cont(l_discount, 0.75), CAST(max(l_discount) AS DOUBLE)
           FROM lineitem
           UNION ALL SELECT 'l_tax', CAST(min(l_tax) AS DOUBLE),
             quantile_cont(l_tax, 0.25), quantile_cont(l_tax, 0.5),
             quantile_cont(l_tax, 0.75), CAST(max(l_tax) AS DOUBLE)
           FROM lineitem) t
         ORDER BY "column"""",

    "q66_mode" ->
      """SELECT o_orderstatus, o_orderpriority AS mode, n AS mode_count FROM (
           SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
             row_number() OVER (PARTITION BY o_orderstatus
               ORDER BY COUNT(*) DESC, o_orderpriority ASC) AS rn
           FROM orders GROUP BY 1, 2) t
         WHERE rn = 1 ORDER BY o_orderstatus""",

    "q63_asof_nearest" ->
      """SELECT e.event_id, e.user_id,
         (SELECT p_event_id FROM (
            SELECT user_id, ts AS p_ts, max(event_id) AS p_event_id
            FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) p
          WHERE p.user_id = e.user_id
          ORDER BY abs(epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(CAST(p.p_ts AS TIMESTAMP))) ASC,
                   CASE WHEN p.p_ts > e.ts THEN 0 ELSE 1 END ASC
          LIMIT 1) AS p_event_id
         FROM events e ORDER BY e.event_id""",

    "q56_crosstab" ->
      """SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
         CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
         FROM events GROUP BY 1 ORDER BY 1""",

    // mirrors Missing.fillRange: lead over (grp, axis), steps =
    // ceil(gap/2), inserted = axis + (nxt-axis)*k/steps in the same IEEE
    // operation order (ceil is integral-valued, so the INT cast is exact).
    "q88_fill_range" ->
      """WITH base AS (
           SELECT CAST(o_orderkey AS DOUBLE) AS axis,
                  o_orderpriority AS grp, o_totalprice
           FROM orders WHERE o_orderkey < 2000),
         g AS (SELECT axis, grp,
                 lead(axis) OVER (PARTITION BY grp ORDER BY axis) AS nxt
               FROM base),
         st AS (SELECT axis, grp, nxt,
                 CAST(ceil((nxt - axis) / 2.0) AS INT) AS steps
               FROM g WHERE nxt IS NOT NULL AND nxt - axis > 2.0),
         ins AS (SELECT axis + (nxt - axis) * k / CAST(steps AS DOUBLE) AS axis,
                        grp, CAST(NULL AS DOUBLE) AS o_totalprice
                 FROM st CROSS JOIN range(1, 4096) t(k)
                 WHERE k <= steps - 1)
         SELECT axis, grp, o_totalprice FROM base
         UNION ALL SELECT axis, grp, o_totalprice FROM ins
         ORDER BY grp, axis""",

    // mirrors TextStats.redactPii/piiCount: same RE2 patterns, same
    // email → IPv4 → phone order, global replace.
    "q89_redact_pii" ->
      """WITH d AS (
           SELECT doc_id,
             concat_ws(' ', text,
               concat('mail', doc_id, '@ex', doc_id % 10, '.com'),
               concat('srv 10.0.', doc_id % 256, '.7'),
               concat('call +1 (555) 010-',
                      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))) AS raw
           FROM documents WHERE doc_id < 200),
         p AS (
           SELECT doc_id, raw,
             regexp_replace(raw,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS s1
           FROM d),
         p2 AS (
           SELECT doc_id, raw, s1,
             regexp_replace(s1,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS s2
           FROM p)
         SELECT doc_id,
           regexp_replace(s2, '\+?\d[\d\-() ]{6,}\d', '<PHONE>', 'g') AS redacted,
           CAST(len(regexp_extract_all(raw,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
              + len(regexp_extract_all(s1,
                  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
              + len(regexp_extract_all(s2,
                  '\+?\d[\d\-() ]{6,}\d')) AS BIGINT) AS n_pii
         FROM p2 ORDER BY doc_id""",

    // mirrors Reshape.extendWithEmpty over nation: 5 all-null rows
    // appended; all-null rows are identical so the sort is total.
    "q90_extend_empty" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
         UNION ALL
         SELECT CAST(NULL AS INT), CAST(NULL AS VARCHAR), CAST(NULL AS INT)
         FROM range(5)
         ORDER BY n_nationkey NULLS LAST""",

    // mirrors Reshape.columnLabeledMapseq: melt (n_chars, n_len) into
    // labeled rows; the Spark side round-trips through driver maps.
    "q91_labeled_mapseq" ->
      """WITH d AS (SELECT doc_id, n_chars,
                    CAST(length(text) AS BIGINT) AS n_len
                    FROM documents WHERE doc_id < 100)
         SELECT doc_id, 'n_chars' AS label, n_chars AS value FROM d
         UNION ALL
         SELECT doc_id, 'n_len' AS label, n_len AS value FROM d
         ORDER BY doc_id, label""",

    // mirrors the q92 round-trip target directly on the source table: the
    // round trip must be lossless, so the oracle is a plain aggregate.
    "q92_csv_roundtrip" ->
      """SELECT CAST(s_nationkey AS INT) AS s_nationkey, COUNT(*) AS n,
         CAST(SUM(CAST(s_acctbal AS DECIMAL(30,4))) AS DOUBLE) AS sum_bal,
         MIN(s_name) AS first_name
         FROM supplier GROUP BY 1 ORDER BY 1""",

    // mirrors the q93 round-trip: floor-scaled integer sums over the raw
    // embeddings — bit-identical floats or the sums diverge.
    "q93_arrow_roundtrip" ->
      """SELECT vec_id, CAST(len(embedding) AS INT) AS n_dim,
         CAST(SUM(CAST(FLOOR(CAST(embedding[i+1] AS DOUBLE) * 1000000.0) AS BIGINT)) AS BIGINT) AS ssum
         FROM embeddings CROSS JOIN range(0, 64) t(i)
         WHERE vec_id < 500
         GROUP BY vec_id, len(embedding) ORDER BY vec_id""",

    // mirrors the q94 zip round-trip target: lossless, so a plain aggregate.
    "q94_zip_csv" ->
      """SELECT CAST(n_regionkey AS INT) AS n_regionkey, COUNT(*) AS n,
         MIN(n_name) AS first_name, CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
         FROM nation GROUP BY 1 ORDER BY 1""",

    // mirrors q95: cents are integer-valued, so order-independent exact
    // sums on both sides.
    "q95_custom_reducer" ->
      """SELECT CAST(c_nationkey AS INT) AS c_nationkey,
         CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_cents
         FROM customer GROUP BY 1 ORDER BY 1""",

    // q96 streams through the same semantics as q38 — identical oracle.
    "q96_stream_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket, event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(FLOOR(value * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE) / 1000000.0 AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    // q137: one survivor per distinct fingerprint; event_type is a
    // component of the fingerprint, so per-type survivor counts are
    // COUNT(DISTINCT fp) grouped by type.
    "q137_stream_dedup" ->
      """SELECT event_type,
         COUNT(DISTINCT md5(concat_ws('#', CAST(user_id AS VARCHAR),
           event_type, props))) AS n_kept
         FROM events GROUP BY 1 ORDER BY 1""",

    // q138: the batch form of the attribution join — same pair set the
    // single-batch streaming run emits.
    "q138_stream_join" ->
      """WITH c AS (SELECT user_id AS cu, ts AS c_ts, event_id AS click_id
           FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id AS pu, ts AS p_ts, event_id AS purchase_id
           FROM events WHERE event_type = 'purchase')
         SELECT cu AS user_id, click_id, purchase_id,
           CAST(c_ts AS TIMESTAMP) AS c_ts, CAST(p_ts AS TIMESTAMP) AS p_ts
         FROM c JOIN p ON pu = cu AND p_ts >= c_ts
           AND p_ts <= c_ts + INTERVAL 60 MINUTE
         ORDER BY user_id, click_id, purchase_id""",

    // q97 streams through the same semantics as q39 — identical oracle.
    "q97_stream_sessionize" ->
      """WITH g AS (
           SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
                  THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT user_id,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
           FROM g),
         per_sess AS (
           SELECT user_id, sess_id, COUNT(*) AS n_events
           FROM sess GROUP BY 1, 2)
         SELECT user_id, COUNT(*) AS n_sessions, max(n_events) AS max_session_events
         FROM per_sess GROUP BY 1 ORDER BY 1""",

    // mirrors Stats.rocAuc: the q151 doubled-avg-rank build with a 0/1
    // label, then the integer rank-sum AUC identity — one division at
    // the very end.
    "q173_roc_auc" ->
      """WITH f AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             CAST(n_chars AS DOUBLE) AS x
           FROM documents WHERE n_chars IS NOT NULL),
         r AS (SELECT y,
             2 * rank() OVER (ORDER BY x)
               + COUNT(*) OVER (PARTITION BY x) - 1 AS dr
           FROM f),
         agg AS (SELECT
             CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np,
             CAST(SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nn,
             CAST(SUM(CASE WHEN y = 1 THEN dr ELSE 0 END) AS BIGINT) AS r1d
           FROM r)
         SELECT np AS n_pos, nn AS n_neg, r1d AS r_pos_doubled,
           CAST(r1d - np * (np + 1) AS DOUBLE)
             / (2.0 * CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)) AS auc
         FROM agg""",

    // mirrors Stats.welchTTest: identical scale-6 floor sums and the
    // same fixed variance/t/df double sequence.
    "q174_welch_t" ->
      """WITH f AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS x
           FROM events
           WHERE event_type IN ('click', 'purchase')
             AND value IS NOT NULL AND NOT isnan(value)),
         agg AS (SELECT
             CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN g = 'click'
               THEN CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0)) END) AS DOUBLE)
               / 1000000.0 AS sx1,
             CAST(SUM(CASE WHEN g = 'purchase'
               THEN CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0)) END) AS DOUBLE)
               / 1000000.0 AS sx2,
             CAST(SUM(CASE WHEN g = 'click'
               THEN CAST(FLOOR(x * x * 1000000.0) AS DECIMAL(38,0)) END) AS DOUBLE)
               / 1000000.0 AS sxx1,
             CAST(SUM(CASE WHEN g = 'purchase'
               THEN CAST(FLOOR(x * x * 1000000.0) AS DECIMAL(38,0)) END) AS DOUBLE)
               / 1000000.0 AS sxx2
           FROM f),
         s AS (SELECT n1, n2,
             sx1 / CAST(n1 AS DOUBLE) AS m1, sx2 / CAST(n2 AS DOUBLE) AS m2,
             (sxx1 - sx1 * sx1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) AS v1,
             (sxx2 - sx2 * sx2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0) AS v2
           FROM agg)
         SELECT n1, n2, m1 AS mean1, m2 AS mean2,
           (m1 - m2) / sqrt(v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE)) AS t,
           (v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE))
             * (v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE))
             / (v1 * v1 / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0))
                + v2 * v2 / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 1.0)))
           AS df
         FROM s""",

    // mirrors Stats.anovaOneWay: per-group scale-6 floor sums, the
    // between-terms re-floored at scale 9 and exact-summed, identical
    // final F sequence.
    "q175_anova" ->
      """WITH f AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS x
           FROM events
           WHERE event_type IS NOT NULL
             AND value IS NOT NULL AND NOT isnan(value)),
         pg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000.0 AS sx,
             CAST(SUM(CAST(FLOOR(x * x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000.0 AS sxx
           FROM f GROUP BY g),
         pg2 AS (SELECT *, sx * sx / CAST(n AS DOUBLE) AS bt FROM pg),
         agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(sx * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000.0 AS s,
             CAST(SUM(CAST(FLOOR(sxx * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000.0 AS sxx,
             CAST(SUM(CAST(FLOOR(bt * 1000000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000000.0 AS bt
           FROM pg2)
         SELECT k, n,
           bt - s * s / CAST(n AS DOUBLE) AS ssb,
           sxx - bt AS ssw,
           ((bt - s * s / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0))
             / ((sxx - bt) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))) AS f
         FROM agg""",

    // mirrors Stats.bhAdjust: the same md5-uniform p draw, row_number
    // rank over (p, id), q = p*m/rank, suffix cummin from the
    // descending-p side, clamp at 1.
    "q176_bh_fdr" ->
      """WITH tests AS (SELECT doc_id,
             CAST(CAST(concat('0x', substr(md5(concat_ws('#', doc_id)), 1, 15))
               AS BIGINT) % 1000000 AS DOUBLE) / 1000000.0 AS p_value
           FROM documents WHERE doc_id % 7 = 0),
         m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m FROM tests),
         r AS (SELECT doc_id, p_value,
             CAST(row_number() OVER (ORDER BY p_value, doc_id) AS BIGINT)
               AS bh_rank
           FROM tests),
         q AS (SELECT doc_id, p_value, bh_rank,
             p_value * m / CAST(bh_rank AS DOUBLE) AS qv
           FROM r, m),
         adj AS (SELECT doc_id, p_value, bh_rank,
             least(1.0, MIN(qv) OVER (ORDER BY bh_rank DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS p_adj
           FROM q)
         SELECT doc_id, p_value, bh_rank, p_adj
         FROM adj ORDER BY bh_rank""",

    // mirrors Quality.fkAudit: per-relation anti-join orphan counts over
    // key frames only.
    "q177_fk_audit" ->
      """WITH r1 AS (SELECT 'lineitem->orders' AS relation,
           CAST(COUNT(*) AS BIGINT) AS child_rows,
           CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_keys,
           CAST(COUNT(CASE WHEN l_orderkey IS NOT NULL
             AND l_orderkey NOT IN (SELECT o_orderkey FROM orders) THEN 1 END)
             AS BIGINT) AS orphan_rows,
           CAST(COUNT(DISTINCT CASE WHEN l_orderkey IS NOT NULL
             AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)
             THEN l_orderkey END) AS BIGINT) AS orphan_keys
           FROM lineitem),
         r2 AS (SELECT 'orders->customer',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(CASE WHEN o_custkey IS NOT NULL
             AND o_custkey NOT IN (SELECT c_custkey FROM customer) THEN 1 END)
             AS BIGINT),
           CAST(COUNT(DISTINCT CASE WHEN o_custkey IS NOT NULL
             AND o_custkey NOT IN (SELECT c_custkey FROM customer)
             THEN o_custkey END) AS BIGINT)
           FROM orders),
         r3 AS (SELECT 'lineitem->part',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(CASE WHEN l_partkey IS NOT NULL
             AND l_partkey NOT IN (SELECT p_partkey FROM part) THEN 1 END)
             AS BIGINT),
           CAST(COUNT(DISTINCT CASE WHEN l_partkey IS NOT NULL
             AND l_partkey NOT IN (SELECT p_partkey FROM part)
             THEN l_partkey END) AS BIGINT)
           FROM lineitem),
         r4 AS (SELECT 'events->customer',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(CASE WHEN user_id IS NOT NULL
             AND user_id NOT IN (SELECT c_custkey FROM customer) THEN 1 END)
             AS BIGINT),
           CAST(COUNT(DISTINCT CASE WHEN user_id IS NOT NULL
             AND user_id NOT IN (SELECT c_custkey FROM customer)
             THEN user_id END) AS BIGINT)
           FROM events)
         SELECT * FROM r1 UNION ALL SELECT * FROM r2
         UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4
         ORDER BY relation""",

    // mirrors Quality.checkExpectations over orders: same violation
    // semantics per rule (complete-case range/regex/set checks; unique =
    // rows − distinct key tuples).
    "q178_expectations" ->
      """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders)
         SELECT rule, violations, n_rows, violations = 0 AS pass FROM (
           SELECT 'status_not_null' AS rule,
             (SELECT CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) FROM orders) AS violations, n_rows FROM n
           UNION ALL
           SELECT 'status_domain',
             (SELECT CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                AND o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END)
                AS BIGINT) FROM orders), n_rows FROM n
           UNION ALL
           SELECT 'price_range',
             (SELECT CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
                AND NOT isnan(o_totalprice)
                AND (CAST(o_totalprice AS DOUBLE) < 1.0
                     OR CAST(o_totalprice AS DOUBLE) > 500000.0)
                THEN 1 ELSE 0 END) AS BIGINT) FROM orders), n_rows FROM n
           UNION ALL
           SELECT 'priority_format',
             (SELECT CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
                AND NOT regexp_full_match(o_orderpriority, '[1-5]-[A-Z]+')
                THEN 1 ELSE 0 END) AS BIGINT) FROM orders), n_rows FROM n
           UNION ALL
           SELECT 'pk_unique',
             (SELECT CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
              FROM orders), n_rows FROM n
           UNION ALL
           SELECT 'cust_status_unique',
             (SELECT CAST(COUNT(*) - COUNT(DISTINCT (o_custkey, o_orderstatus))
                AS BIGINT) FROM orders), n_rows FROM n
         ) t ORDER BY rule""",

    // mirrors Quality.benfordAudit: identical scale-12 fixed-point digit
    // extraction and the same shared Benford literals.
    "q179_benford" ->
      """WITH d AS (SELECT CAST(substr(regexp_replace(
             CAST(CAST(FLOOR(ABS(CAST(l_extendedprice AS DOUBLE)) * 1e12)
               AS BIGINT) AS VARCHAR), '^0+', ''), 1, 1) AS INTEGER) AS digit
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL
             AND NOT isnan(l_extendedprice)
             AND ABS(CAST(l_extendedprice AS DOUBLE)) > 0.0),
         c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d
           WHERE digit IS NOT NULL AND digit >= 1 GROUP BY digit),
         tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM c),
         bf AS (SELECT * FROM (VALUES
           (1, 3.0102999566398120e-1), (2, 1.7609125905568124e-1),
           (3, 1.2493873660829993e-1), (4, 9.691001300805642e-2),
           (5, 7.918124604762482e-2), (6, 6.694678963061322e-2),
           (7, 5.799194697768673e-2), (8, 5.115252244738129e-2),
           (9, 4.575749056067514e-2)) AS v(digit, benford_frac))
         SELECT bf.digit, COALESCE(c.n, 0) AS n,
           CAST(COALESCE(c.n, 0) AS DOUBLE) / CAST(t AS DOUBLE) AS frac,
           bf.benford_frac,
           ABS(CAST(COALESCE(c.n, 0) AS DOUBLE) / CAST(t AS DOUBLE)
             - bf.benford_frac) AS abs_dev
         FROM bf LEFT JOIN c ON bf.digit = c.digit CROSS JOIN tot
         ORDER BY bf.digit""",

    // mirrors linearRegressionByGroupN(ridgeLambda = 1e5): the q116
    // Cholesky CTE chain with p_kk + λ on the feature diagonal (the
    // intercept row is unpenalized) — including the relative pivot check
    // against the penalized diagonal.
    "q180_ridge_groups" ->
      """WITH st AS (
           SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(FLOOR((l_quantity) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS s1,
             CAST(SUM(CAST(FLOOR((l_discount) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS s2,
             CAST(SUM(CAST(FLOOR((l_tax) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS s3,
             CAST(SUM(CAST(FLOOR((l_quantity * l_quantity) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS p11,
             CAST(SUM(CAST(FLOOR((l_quantity * l_discount) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS p12,
             CAST(SUM(CAST(FLOOR((l_quantity * l_tax) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS p13,
             CAST(SUM(CAST(FLOOR((l_discount * l_discount) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS p22,
             CAST(SUM(CAST(FLOOR((l_discount * l_tax) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS p23,
             CAST(SUM(CAST(FLOOR((l_tax * l_tax) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS p33,
             CAST(SUM(CAST(FLOOR((l_extendedprice) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS sy,
             CAST(SUM(CAST(FLOOR((l_quantity * l_extendedprice) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS q1,
             CAST(SUM(CAST(FLOOR((l_discount * l_extendedprice) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS q2,
             CAST(SUM(CAST(FLOOR((l_tax * l_extendedprice) * 10000.0) AS DECIMAL(30,0))) AS DOUBLE) / 10000.0 AS q3
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
             AND l_tax IS NOT NULL AND l_extendedprice IS NOT NULL
           GROUP BY 1),
         rg AS (SELECT *, p11 + 100000.0 AS r11, p22 + 100000.0 AS r22,
                          p33 + 100000.0 AS r33 FROM st),
         c1 AS (SELECT *, sqrt(n) AS l00 FROM rg),
         c2 AS (SELECT *, s1 / l00 AS l10, s2 / l00 AS l20, s3 / l00 AS l30 FROM c1),
         c3 AS (SELECT *, r11 - l10 * l10 AS pv1 FROM c2),
         c4 AS (SELECT *, sqrt(greatest(pv1, 0.0)) AS l11 FROM c3),
         c5 AS (SELECT *, (p12 - l20 * l10) / l11 AS l21,
                          (p13 - l30 * l10) / l11 AS l31 FROM c4),
         c6 AS (SELECT *, r22 - l20 * l20 - l21 * l21 AS pv2 FROM c5),
         c7 AS (SELECT *, sqrt(greatest(pv2, 0.0)) AS l22 FROM c6),
         c8 AS (SELECT *, (p23 - l30 * l20 - l31 * l21) / l22 AS l32 FROM c7),
         c9 AS (SELECT *, r33 - l30 * l30 - l31 * l31 - l32 * l32 AS pv3 FROM c8),
         c10 AS (SELECT *, sqrt(greatest(pv3, 0.0)) AS l33 FROM c9),
         f1 AS (SELECT *, sy / l00 AS fy0 FROM c10),
         f2 AS (SELECT *, (q1 - l10 * fy0) / l11 AS fy1 FROM f1),
         f3 AS (SELECT *, (q2 - l20 * fy0 - l21 * fy1) / l22 AS fy2 FROM f2),
         f4 AS (SELECT *, (q3 - l30 * fy0 - l31 * fy1 - l32 * fy2) / l33 AS fy3 FROM f3),
         b1_ AS (SELECT *, fy3 / l33 AS x3 FROM f4),
         b2_ AS (SELECT *, (fy2 - l32 * x3) / l22 AS x2 FROM b1_),
         b3_ AS (SELECT *, (fy1 - l21 * x2 - l31 * x3) / l11 AS x1 FROM b2_),
         b4_ AS (SELECT *, (fy0 - l10 * x1 - l20 * x2 - l30 * x3) / l00 AS x0,
                   (pv1 > r11 / 1073741824.0 AND pv2 > r22 / 1073741824.0
                    AND pv3 > r33 / 1073741824.0) AS ok FROM b3_)
         SELECT l_returnflag, n,
           CASE WHEN ok THEN x0 ELSE sy / n END AS intercept,
           CASE WHEN ok THEN x1 ELSE 0.0 END AS b1,
           CASE WHEN ok THEN x2 ELSE 0.0 END AS b2,
           CASE WHEN ok THEN x3 ELSE 0.0 END AS b3
         FROM b4_ ORDER BY l_returnflag""",

    // mirrors Stats.theilSen: identical pair frame (a.x < b.x), DuckDB's
    // quantile_cont == the groupQuantiles rank-selection interpolation
    // (q165 precedent) for both medians.
    "q181_theil_sen" ->
      """WITH base AS (SELECT user_id AS g,
             CAST(epoch_us(ts) AS DOUBLE) AS x, CAST(value AS DOUBLE) AS y
           FROM events
           WHERE user_id < 20 AND ts IS NOT NULL
             AND value IS NOT NULL AND NOT isnan(value)),
         slopes AS (SELECT a.g, (b.y - a.y) / (b.x - a.x) AS s
           FROM base a JOIN base b ON a.g = b.g AND a.x < b.x),
         med AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             quantile_cont(s, 0.5) AS slope
           FROM slopes GROUP BY g),
         resid AS (SELECT base.g, y - slope * x AS r
           FROM base JOIN med ON base.g = med.g),
         ic AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             quantile_cont(r, 0.5) AS intercept
           FROM resid GROUP BY g)
         SELECT ic.g AS user_id, n, n_pairs, slope, intercept
         FROM ic JOIN med ON ic.g = med.g ORDER BY user_id""",

    // mirrors Stats.forecastAccuracy over the lag-4 seasonal-naive
    // forecast: identical keyed lags, scale-6/scale-9 floor sums, and
    // final metric op order.
    "q182_forecast_acc" ->
      """WITH l AS (SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS y,
             lag(CAST(value AS DOUBLE), 4) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS f
           FROM events),
         b AS (SELECT user_id, y,
             CASE WHEN f IS NOT NULL AND NOT isnan(f) THEN f END AS f2,
             lag(y) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ylag
           FROM l WHERE y IS NOT NULL AND NOT isnan(y)),
         agg AS (SELECT user_id,
             CAST(SUM(CASE WHEN f2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(ABS(f2 - y) * 1000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000.0 AS sae,
             CAST(SUM(CAST(FLOOR((f2 - y) * (f2 - y) * 1000000.0)
               AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sse,
             CAST(SUM(CAST(FLOOR((CASE WHEN ABS(f2) + ABS(y) > 0.0
                 THEN ABS(f2 - y) * 2.0 / (ABS(f2) + ABS(y)) ELSE 0.0 END)
                 * 1000000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000000.0 AS ssm,
             CAST(SUM(CASE WHEN ylag IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS nn,
             CAST(SUM(CAST(FLOOR(ABS(y - ylag) * 1000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000.0 AS sn
           FROM b GROUP BY user_id)
         SELECT user_id, n,
           sae / CAST(n AS DOUBLE) AS mae,
           sqrt(sse / CAST(n AS DOUBLE)) AS rmse,
           ssm / CAST(n AS DOUBLE) AS smape,
           CASE WHEN nn > 0 AND sn > 0.0
             THEN (sae / CAST(n AS DOUBLE)) / (sn / CAST(nn AS DOUBLE)) END
             AS mase
         FROM agg ORDER BY user_id""",

    // mirrors Graph.triangleCount over the above-average nation trade
    // graph: identical integer threshold, canonical a<b edges, the same
    // wedge-close joins and per-node membership counts.
    // MATERIALIZED: flows/und/tri are each referenced 2-3x; DuckDB
    // inlines CTE references, re-executing the 4-table base join per
    // reference (OOM'd the sf1.0 sweep before the fix)
    "q184_triangles" ->
      """WITH flows AS MATERIALIZED (SELECT c_nationkey AS src, s_nationkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS cnt
           FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON o_orderkey = l_orderkey
           JOIN supplier ON l_suppkey = s_suppkey
           GROUP BY 1, 2),
         tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS ts,
                        CAST(COUNT(*) AS BIGINT) AS np FROM flows),
         und AS MATERIALIZED (SELECT DISTINCT
             CAST(LEAST(src, dst) AS BIGINT) AS a,
             CAST(GREATEST(src, dst) AS BIGINT) AS b
           FROM flows, tot
           WHERE cnt * np > ts AND src <> dst),
         tri AS MATERIALIZED (SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM und e1
           JOIN und e2 ON e1.b = e2.a
           JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
         SELECT id, CAST(COUNT(*) AS BIGINT) AS triangles
         FROM (SELECT x AS id FROM tri
               UNION ALL SELECT y FROM tri
               UNION ALL SELECT z FROM tri) m
         GROUP BY 1 ORDER BY id""",

    // mirrors Rolling.rMedian: DuckDB's list() window + list_sort and
    // the identical (v[(m−1)÷2] + v[m÷2])/2 index pick (1-based both).
    "q185_rolling_median" ->
      """WITH l AS (SELECT event_id, user_id, value,
             list_sort(list(CAST(value AS DOUBLE)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS a
           FROM events)
         SELECT event_id, user_id, value,
           (a[(len(a) - 1) // 2 + 1] + a[len(a) // 2 + 1]) / 2.0 AS med5
         FROM l ORDER BY event_id""",

    // mirrors Rolling.timeWeightedAvg: identical integer lead-µs
    // durations and scale-4 floor-scaled weighted sum.
    "q186_twap" ->
      """WITH d AS (SELECT user_id, CAST(value AS DOUBLE) AS v,
             lead(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id)
               - epoch_us(ts) AS dus
           FROM events
           WHERE value IS NOT NULL AND NOT isnan(value) AND ts IS NOT NULL),
         agg AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COALESCE(SUM(dus), 0) AS BIGINT) AS span_us,
             CAST(SUM(CAST(FLOOR(v * CAST(dus AS DOUBLE) * 10000.0)
               AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS wsum
           FROM d GROUP BY user_id)
         SELECT user_id, n, span_us,
           CASE WHEN span_us > 0 THEN wsum / CAST(span_us AS DOUBLE) END
             AS twap
         FROM agg ORDER BY user_id""",

    // the batch mirror of the stream-static enrichment — identical join
    // + scale-6 exact value sums.
    "q187_stream_enrich" ->
      """SELECT c_nationkey, event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 1000000.0) AS DECIMAL(38,0)))
             AS DOUBLE) / 1000000.0 AS sum_value
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // mirrors Behavior.applyChanges: same union-tag + per-key
    // latest-wins pick with the base sentinel sorting last.
    "q188_cdc_merge" ->
      """WITH ch AS (SELECT c_custkey, c_name, c_nationkey,
             o_totalprice AS c_acctbal, c_mktsegment,
             o_orderkey AS version, (o_orderkey % 100 = 0) AS del
           FROM orders JOIN customer ON o_custkey = c_custkey
           WHERE o_orderkey % 10 = 0),
         uni AS (
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
             CAST(NULL AS BIGINT) AS version, FALSE AS del, 0 AS pri
           FROM customer
           UNION ALL
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
             version, del, 1 FROM ch),
         r AS (SELECT *, row_number() OVER (PARTITION BY c_custkey
             ORDER BY pri DESC, version DESC NULLS LAST) AS rn
           FROM uni)
         SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
         FROM r WHERE rn = 1 AND NOT del ORDER BY c_custkey""",

    // mirrors Graph.jaccardLinks on the q184 strong-trade edges: integer
    // common/degree counts, existing edges anti-joined away, one final
    // division.
    // MATERIALIZED for the same CTE-inlining reason as q184 (deg/und are
    // referenced up to 7x here)
    "q189_jaccard_links" ->
      """WITH flows AS MATERIALIZED (SELECT c_nationkey AS src, s_nationkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS cnt
           FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON o_orderkey = l_orderkey
           JOIN supplier ON l_suppkey = s_suppkey
           GROUP BY 1, 2),
         tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS ts,
                        CAST(COUNT(*) AS BIGINT) AS np FROM flows),
         und AS MATERIALIZED (SELECT DISTINCT
             CAST(LEAST(src, dst) AS BIGINT) AS a,
             CAST(GREATEST(src, dst) AS BIGINT) AS b
           FROM flows, tot
           WHERE cnt * np > ts AND src <> dst),
         nbrs AS MATERIALIZED (SELECT a AS id, b AS nbr FROM und
                  UNION ALL SELECT b, a FROM und),
         deg AS MATERIALIZED (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg
                 FROM nbrs GROUP BY 1),
         cand AS MATERIALIZED (SELECT x.id AS a, y.id AS b,
             CAST(COUNT(*) AS BIGINT) AS common
           FROM nbrs x JOIN nbrs y ON x.nbr = y.nbr AND x.id < y.id
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         non AS (SELECT cand.* FROM cand
           LEFT JOIN und ON und.a = cand.a AND und.b = cand.b
           WHERE und.a IS NULL)
         SELECT non.a, non.b, common,
           da.deg AS deg_a, db.deg AS deg_b,
           CAST(common AS DOUBLE)
             / CAST(da.deg + db.deg - common AS DOUBLE) AS score
         FROM non
         JOIN deg da ON da.id = non.a
         JOIN deg db ON db.id = non.b
         ORDER BY non.a, non.b""",

    // mirrors Graph.kCore(k=5, rounds=6) on the strong-trade graph: the
    // peel rounds unrolled as CTEs (degree → keep → filtered edges).
    "q190_kcore" -> kcoreOracle(8, 6),

    // ORC round-trip: oracle on the original parquet (q80 aggregation).
    "q191_orc_roundtrip" ->
      """SELECT CAST(s_nationkey AS INTEGER) AS s_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(30,4))) AS DOUBLE) AS sum_bal,
           MIN(s_name) AS first_name
         FROM supplier GROUP BY 1 ORDER BY 1""",

    // mirrors Stats.ccf: the q150 co-moment machinery with y = the click
    // indicator, lags 0..3 (lag 0 contemporaneous).
    "q192_ccf" ->
      """WITH b AS (SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS x,
             CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END AS yv
           FROM events),
         l AS (SELECT x, yv AS y0, lag(yv, 1) OVER w AS y1,
                 lag(yv, 2) OVER w AS y2, lag(yv, 3) OVER w AS y3
               FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         p AS (SELECT 0 AS lag_k, x, y0 AS y FROM l
               UNION ALL SELECT 1, x, y1 FROM l
               UNION ALL SELECT 2, x, y2 FROM l
               UNION ALL SELECT 3, x, y3 FROM l),
         f AS (SELECT lag_k, x, y FROM p
               WHERE x IS NOT NULL AND y IS NOT NULL
                 AND NOT isnan(x) AND NOT isnan(y)),
         s AS (SELECT lag_k, CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(FLOOR(x * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE) / 1000000.0 AS sx,
           CAST(SUM(CAST(FLOOR(y * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE) / 1000000.0 AS sy,
           CAST(SUM(CAST(FLOOR(x * x * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE) / 1000000.0 AS sxx,
           CAST(SUM(CAST(FLOOR(y * y * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE) / 1000000.0 AS syy,
           CAST(SUM(CAST(FLOOR(x * y * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE) / 1000000.0 AS sxy
           FROM f GROUP BY 1)
         SELECT lag_k, CAST(n AS BIGINT) AS n,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN (n * sxy - sx * sy)
                  / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
           END AS ccf
         FROM s ORDER BY lag_k""",

    // mirrors Reductions.histogramEqWidth: identical min/max fit, width,
    // floor-assignment with the last-bin clamp, and the full bin shell.
    "q193_histogram" ->
      """WITH b AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)),
         mm AS (SELECT MIN(x) AS mn, MAX(x) AS mx FROM b),
         c AS (SELECT LEAST(CAST(FLOOR((x - mn) / ((mx - mn) / 12.0)) AS INTEGER),
                 11) AS bin
           FROM b, mm),
         n AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n FROM c GROUP BY 1),
         shell AS (SELECT CAST(i AS INTEGER) AS bin FROM range(0, 12) t(i))
         SELECT shell.bin,
           mn + CAST(shell.bin AS DOUBLE) * ((mx - mn) / 12.0) AS lo,
           mn + CAST(shell.bin + 1 AS DOUBLE) * ((mx - mn) / 12.0) AS hi,
           COALESCE(n.n, 0) AS n
         FROM shell LEFT JOIN n ON shell.bin = n.bin CROSS JOIN mm
         ORDER BY shell.bin""",

    // mirrors Advanced.assocRules: distinct (basket, brand), basket-keyed
    // pair frame a<b, integer support gate, same final divisions.
    "q194_assoc_rules" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b,
             CAST(p_brand AS VARCHAR) AS i
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE l_orderkey IS NOT NULL AND p_brand IS NOT NULL),
         nb AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n FROM bi),
         ic AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS ni FROM bi GROUP BY 1),
         pr AS (SELECT x.i AS item_a, y.i AS item_b,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
           FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
           GROUP BY 1, 2),
         f AS (SELECT pr.* FROM pr, nb WHERE n_pairs * 100 >= 2 * nb.n)
         SELECT item_a, item_b, n_pairs,
           ia.ni AS n_a, ib.ni AS n_b,
           CAST(n_pairs AS DOUBLE) / CAST(ia.ni AS DOUBLE) AS conf_ab,
           CAST(n_pairs AS DOUBLE) / CAST(ib.ni AS DOUBLE) AS conf_ba,
           CAST(n_pairs AS DOUBLE) * CAST(nb.n AS DOUBLE)
             / (CAST(ia.ni AS DOUBLE) * CAST(ib.ni AS DOUBLE)) AS lift
         FROM f
         JOIN ic ia ON ia.i = f.item_a
         JOIN ic ib ON ib.i = f.item_b
         CROSS JOIN nb
         ORDER BY item_a, item_b""",

    // mirrors Reductions.abcClassification: exact integer value sums,
    // cumulative over (v DESC, k ASC), integer cross-multiplied class
    // thresholds on the BEFORE-cumulative.
    "q195_abc" ->
      """WITH a AS (SELECT CAST(l_partkey AS VARCHAR) AS k,
             CAST(SUM(CAST(FLOOR(CAST(l_extendedprice AS DOUBLE) * 10000.0)
               AS DECIMAL(38,0))) AS BIGINT) AS v
           FROM lineitem
           WHERE l_partkey IS NOT NULL AND l_extendedprice IS NOT NULL
             AND NOT isnan(l_extendedprice)
           GROUP BY 1),
         t AS (SELECT CAST(SUM(v) AS BIGINT) AS total FROM a),
         c AS (SELECT k, v, CAST(SUM(v) OVER (ORDER BY v DESC, k ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum
           FROM a)
         SELECT k AS l_partkey, v AS value, cum,
           CASE WHEN (cum - v) * 100 < 80 * total THEN 'A'
                WHEN (cum - v) * 100 < 95 * total THEN 'B'
                ELSE 'C' END AS abc_class
         FROM c, t ORDER BY cum""",

    // mirrors Stats.kaplanMeier: same duration derivation, suffix risk
    // counts, and the recursive left-fold product (multiplying by
    // exactly 1.0 at censor-only times is the identity, so the fold can
    // run at every row and filter d>0 after).
    "q196_kaplan_meier" ->
      """WITH RECURSIVE per AS (SELECT user_id, MIN(ts) AS f, MAX(ts) AS l,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS p
           FROM events GROUP BY 1),
         dr AS (SELECT CASE WHEN p IS NOT NULL
                 THEN date_diff('day', CAST(f AS DATE), CAST(p AS DATE))
                 ELSE date_diff('day', CAST(f AS DATE), CAST(l AS DATE)) END
                 AS t,
               CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END AS e
           FROM per),
         g AS (SELECT CAST(t AS BIGINT) AS t, CAST(SUM(e) AS BIGINT) AS d,
             CAST(SUM(1 - e) AS BIGINT) AS c
           FROM dr GROUP BY 1),
         ord AS (SELECT t, d, c,
             CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS rn,
             (SELECT SUM(d + c) FROM g)
               - COALESCE(SUM(d + c) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
           FROM g),
         rec AS (
           SELECT rn, t, CAST(n_risk AS BIGINT) AS n_risk, d,
             (1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)) AS s
           FROM ord WHERE rn = 1
           UNION ALL
           SELECT o.rn, o.t, CAST(o.n_risk AS BIGINT), o.d,
             r.s * (1.0 - CAST(o.d AS DOUBLE) / CAST(o.n_risk AS DOUBLE))
           FROM ord o JOIN rec r ON o.rn = r.rn + 1)
         SELECT t, n_risk, d AS d_events, s AS survival
         FROM rec WHERE d > 0 ORDER BY t""",

    // mirrors Quality.skewReport keyed on user_id.
    "q197_skew_report" ->
      """WITH c AS (SELECT concat_ws('#', user_id) AS key,
             CAST(COUNT(*) AS BIGINT) AS key_rows
           FROM events GROUP BY 1),
         t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                      CAST(SUM(key_rows) AS BIGINT) AS n_rows FROM c),
         top AS (SELECT * FROM c ORDER BY key_rows DESC, key ASC LIMIT 5)
         SELECT CAST(row_number() OVER (ORDER BY key_rows DESC, key ASC)
             AS INTEGER) AS key_rank,
           key, key_rows, n_keys, n_rows,
           CAST(key_rows AS DOUBLE) * CAST(n_keys AS DOUBLE)
             / CAST(n_rows AS DOUBLE) AS skew_factor
         FROM top, t ORDER BY key_rank""",

    // mirrors Advanced.seasonalDecompose(period=5): identical centered
    // window exact mean, phase assignment, per-phase exact means and the
    // re-centering, same final arithmetic.
    "q199_seasonal_decompose" ->
      """WITH b AS (SELECT event_id, user_id, ts,
             CAST(value AS DOUBLE) AS x,
             CAST((row_number() OVER wk - 1) % 5 AS INTEGER) AS phase,
             CASE WHEN COUNT(x) OVER w5 = 5 THEN
               CAST(SUM(CAST(FLOOR(x * 1000000.0) AS BIGINT)) OVER w5
                 AS DOUBLE) / 1000000.0 / 5 END AS trend
           FROM events
           WINDOW wk AS (PARTITION BY user_id ORDER BY ts, event_id),
             w5 AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)),
         det AS (SELECT *, x - trend AS d FROM b),
         pm AS (SELECT user_id, phase,
             CAST(SUM(CAST(FLOOR(d * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000.0 / COUNT(*) AS pmean
           FROM det WHERE d IS NOT NULL AND NOT isnan(d)
           GROUP BY 1, 2),
         ctr AS (SELECT user_id,
             CAST(SUM(CAST(FLOOR(pmean * 1000000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000000.0 / COUNT(*) AS pc
           FROM pm GROUP BY 1)
         SELECT det.event_id, det.user_id, det.phase, det.trend,
           pm.pmean - ctr.pc AS seasonal,
           CASE WHEN det.trend IS NOT NULL
             THEN det.x - det.trend - (pm.pmean - ctr.pc) END AS resid
         FROM det
         LEFT JOIN pm ON pm.user_id = det.user_id AND pm.phase = det.phase
         LEFT JOIN ctr ON ctr.user_id = det.user_id
         ORDER BY det.event_id""",

    // mirrors Reductions.globalPercentRank against DuckDB's NATIVE
    // percent_rank — an independent implementation, not a replay.
    "q200_percent_rank" ->
      """SELECT o_orderkey, o_totalprice,
           percent_rank() OVER (ORDER BY CAST(o_totalprice AS DOUBLE))
             AS pct_rank
         FROM orders ORDER BY o_orderkey""",

    // batch mirror of the 2h/1h sliding windows: every event duplicated
    // into its two hour-aligned window starts.
    "q201_stream_sliding" ->
      """WITH x AS (
           SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
             event_type, value FROM events
           UNION ALL
           SELECT CAST(date_trunc('hour', ts) - INTERVAL 1 HOUR AS TIMESTAMP),
             event_type, value FROM events)
         SELECT bucket, event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 1000000.0) AS DECIMAL(38,0)))
             AS DOUBLE) / 1000000.0 AS sum_value
         FROM x GROUP BY 1, 2 ORDER BY 1, 2""",

    // mirrors Stats.chiSquareCells: q153's margins with per-cell
    // expected/contribution/adjusted-residual arithmetic.
    "q214_chi_cells" ->
      """WITH cells AS (SELECT lang AS a, source AS b,
             CAST(COUNT(*) AS BIGINT) AS observed
           FROM documents
           WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
         rt AS (SELECT a, CAST(SUM(observed) AS BIGINT) AS rtot
           FROM cells GROUP BY 1),
         ct AS (SELECT b, CAST(SUM(observed) AS BIGINT) AS ctot
           FROM cells GROUP BY 1),
         nt AS (SELECT CAST(SUM(observed) AS BIGINT) AS n FROM cells)
         SELECT a, b, observed,
           CAST(rtot AS DOUBLE) * CAST(ctot AS DOUBLE) / CAST(n AS DOUBLE)
             AS expected,
           (CAST(observed AS DOUBLE)
             - CAST(rtot AS DOUBLE) * CAST(ctot AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(observed AS DOUBLE)
             - CAST(rtot AS DOUBLE) * CAST(ctot AS DOUBLE) / CAST(n AS DOUBLE))
           / (CAST(rtot AS DOUBLE) * CAST(ctot AS DOUBLE) / CAST(n AS DOUBLE))
             AS contribution,
           (CAST(observed AS DOUBLE)
             - CAST(rtot AS DOUBLE) * CAST(ctot AS DOUBLE) / CAST(n AS DOUBLE))
           / sqrt(CAST(rtot AS DOUBLE) * CAST(ctot AS DOUBLE) / CAST(n AS DOUBLE)
               * (1.0 - CAST(rtot AS DOUBLE) / CAST(n AS DOUBLE))
               * (1.0 - CAST(ctot AS DOUBLE) / CAST(n AS DOUBLE)))
             AS std_residual
         FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN nt
         ORDER BY a, b""",

    // mirrors Advanced.clampedRunningSumKeyed: per-key recursion with
    // the identical clamp and lost-amount arithmetic.
    "q224_clamped_balance" ->
      """WITH RECURSIVE seq AS (
           SELECT event_id, user_id,
             CASE WHEN event_type = 'purchase' THEN CAST(value AS DOUBLE)
                  WHEN event_type = 'click' THEN -CAST(value AS DOUBLE)
                  ELSE 0.0 END AS x,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS rn
           FROM events),
         rec AS (
           SELECT event_id, user_id, x, rn,
             GREATEST(0.0, 0.0 + x) AS s,
             GREATEST(0.0, 0.0 + x) - (0.0 + x) AS lost
           FROM seq WHERE rn = 1
           UNION ALL
           SELECT e.event_id, e.user_id, e.x, e.rn,
             GREATEST(0.0, r.s + e.x),
             GREATEST(0.0, r.s + e.x) - (r.s + e.x)
           FROM rec r JOIN seq e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
         SELECT event_id, user_id, s AS balance, lost AS balance_lost
         FROM rec ORDER BY event_id""",

    // mirrors Behavior.intervalUnionCoverage: running-max-of-previous-
    // ends window, clamped contributions, integer sums.
    "q225_interval_union" ->
      """WITH iv AS (SELECT user_id, epoch_us(ts) AS s_us,
             epoch_us(ts) + 1800000000 AS e_us
           FROM events WHERE ts IS NOT NULL),
         c AS (SELECT user_id,
             GREATEST(0, e_us - GREATEST(s_us,
               COALESCE(MAX(e_us) OVER (PARTITION BY user_id
                 ORDER BY s_us, e_us
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), s_us)))
               AS contrib
           FROM iv WHERE e_us > s_us)
         SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(contrib) AS BIGINT) AS covered_us
         FROM c GROUP BY 1 ORDER BY user_id""",

    // bucketed join: oracle on the original parquet — bucketing must not
    // disturb values.
    "q222_bucketed_join" ->
      """SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
             AS sum_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1""",

    // mirrors groupQuantiles == quantile_cont per hour bucket.
    "q223_hourly_percentiles" ->
      """WITH f AS (SELECT CAST(hour(ts) AS INTEGER) AS hour,
             CAST(value AS DOUBLE) AS x
           FROM events
           WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value))
         SELECT hour, CAST(COUNT(*) AS BIGINT) AS n,
           quantile_cont(x, 0.5) AS p50,
           quantile_cont(x, 0.9) AS p90,
           quantile_cont(x, 0.99) AS p99
         FROM f GROUP BY 1 ORDER BY hour""",

    // mirrors Behavior.funnelDurations: the q156 stage-join chain with
    // carried previous times, micro-second diffs, quantile_cont
    // quartiles.
    "q219_funnel_durations" ->
      """WITH r1 AS (SELECT user_id AS u, MIN(epoch_us(ts)) AS cur
           FROM events WHERE event_type = 'view' GROUP BY 1),
         n2 AS (SELECT e.user_id AS u, r1.cur AS prev,
             MIN(epoch_us(e.ts)) AS cur
           FROM events e JOIN r1 ON e.user_id = r1.u
           WHERE e.event_type = 'click' AND epoch_us(e.ts) > r1.cur
           GROUP BY 1, 2),
         n3 AS (SELECT e.user_id AS u, n2.cur AS prev,
             MIN(epoch_us(e.ts)) AS cur
           FROM events e JOIN n2 ON e.user_id = n2.u
           WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > n2.cur
           GROUP BY 1, 2),
         durs AS (
           SELECT 1 AS stage_idx, 'view' AS from_stage, 'click' AS to_stage,
             CAST(cur - prev AS DOUBLE) / 1000000.0 AS d FROM n2
           UNION ALL
           SELECT 2, 'click', 'purchase',
             CAST(cur - prev AS DOUBLE) / 1000000.0 FROM n3)
         SELECT stage_idx, from_stage, to_stage,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           quantile_cont(d, 0.25) AS p25_s,
           quantile_cont(d, 0.5) AS median_s,
           quantile_cont(d, 0.75) AS p75_s
         FROM durs GROUP BY 1, 2, 3 ORDER BY stage_idx""",

    // mirrors Stats.robustOutliers: q166's median/MAD machinery per
    // returnflag + the same flag rule and robust z.
    "q220_robust_outliers" ->
      """WITH m1 AS (SELECT l_returnflag AS g,
             quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS med
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)
           GROUP BY 1),
         m2 AS (SELECT g, quantile_cont(ad, 0.5) AS mad FROM (
             SELECT m1.g,
               ABS(CAST(l_extendedprice AS DOUBLE) - med) AS ad
             FROM lineitem JOIN m1 ON l_returnflag = m1.g
             WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice))
           z GROUP BY 1)
         SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
           med AS median, mad,
           (CAST(l_extendedprice AS DOUBLE) - med) / mad AS robust_z
         FROM lineitem
         JOIN m1 ON l_returnflag = m1.g
         JOIN m2 ON m2.g = m1.g
         WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)
           AND mad > 0.0
           AND ABS(CAST(l_extendedprice AS DOUBLE) - med) > 2.0 * mad
         ORDER BY l_orderkey, l_linenumber, l_extendedprice""",

    // mirrors Behavior.transitionMatrix: keyed lead pairs, row totals,
    // one division.
    "q221_transitions" ->
      """WITH l AS (SELECT user_id, event_type AS from_state,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS to_state
           FROM events),
         c AS (SELECT from_state, to_state, CAST(COUNT(*) AS BIGINT) AS n
           FROM l WHERE to_state IS NOT NULL AND from_state IS NOT NULL
           GROUP BY 1, 2),
         r AS (SELECT from_state, CAST(SUM(n) AS BIGINT) AS tot
           FROM c GROUP BY 1)
         SELECT c.from_state, c.to_state, c.n,
           CAST(c.n AS DOUBLE) / CAST(r.tot AS DOUBLE) AS p
         FROM c JOIN r ON r.from_state = c.from_state
         ORDER BY c.from_state, c.to_state""",

    // mirrors Stats.poissonRateTest: same four integers, same scalar z.
    "q215_rate_test" ->
      """WITH f AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'even'
               ELSE 'odd' END AS c, user_id
           FROM events),
         agg AS (SELECT
             CAST(SUM(CASE WHEN c = 'even' THEN 1 ELSE 0 END) AS BIGINT) AS x1,
             CAST(COUNT(DISTINCT CASE WHEN c = 'even' THEN user_id END)
               AS BIGINT) AS t1,
             CAST(SUM(CASE WHEN c = 'odd' THEN 1 ELSE 0 END) AS BIGINT) AS x2,
             CAST(COUNT(DISTINCT CASE WHEN c = 'odd' THEN user_id END)
               AS BIGINT) AS t2
           FROM f)
         SELECT x1, t1, x2, t2,
           CAST(x1 AS DOUBLE) / CAST(t1 AS DOUBLE) AS rate1,
           CAST(x2 AS DOUBLE) / CAST(t2 AS DOUBLE) AS rate2,
           (CAST(x1 AS DOUBLE) / CAST(t1 AS DOUBLE)
             - CAST(x2 AS DOUBLE) / CAST(t2 AS DOUBLE))
           / sqrt(CAST(x1 AS DOUBLE) / (CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE))
               + CAST(x2 AS DOUBLE) / (CAST(t2 AS DOUBLE) * CAST(t2 AS DOUBLE)))
             AS z
         FROM agg""",

    // mirrors Stats.spearmanByGroup: keyed doubled-avg-rank windows and
    // the exact-decimal Pearson sequence.
    "q216_group_spearman" ->
      """WITH f AS (SELECT l_returnflag AS g,
             CAST(l_quantity AS DOUBLE) AS x,
             CAST(l_extendedprice AS DOUBLE) AS y
           FROM lineitem
           WHERE l_returnflag IS NOT NULL
             AND l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
             AND NOT isnan(l_quantity) AND NOT isnan(l_extendedprice)),
         r AS (SELECT g,
             2 * rank() OVER (PARTITION BY g ORDER BY x)
               + COUNT(*) OVER (PARTITION BY g, x) - 1 AS dx,
             2 * rank() OVER (PARTITION BY g ORDER BY y)
               + COUNT(*) OVER (PARTITION BY g, y) - 1 AS dy
           FROM f),
         agg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(dx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(dy AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(dx * dx AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(dy * dy AS DECIMAL(38,0))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(dx * dy AS DECIMAL(38,0))) AS DOUBLE) AS sxy
           FROM r GROUP BY 1)
         SELECT g AS l_returnflag, n,
           CASE WHEN (CAST(n AS DOUBLE) * sxx - sx * sx) > 0
                 AND (CAST(n AS DOUBLE) * syy - sy * sy) > 0
             THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
               / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                  * sqrt(CAST(n AS DOUBLE) * syy - sy * sy))
           END AS rho
         FROM agg ORDER BY l_returnflag""",

    // mirrors the user-growth cumulate (DATE emitted as text — q157
    // policy).
    "q217_user_growth" ->
      """WITH f AS (SELECT user_id, CAST(MIN(CAST(ts AS DATE)) AS DATE)
             AS day
           FROM events GROUP BY 1),
         d AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users
           FROM f GROUP BY 1)
         SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
         FROM d ORDER BY day""",

    // mirrors Missing.fillModeByGroup: same (count DESC, value ASC) mode
    // pick and coalesce.
    "q211_impute_mode" ->
      """WITH m AS (SELECT c_custkey, c_nationkey,
             CASE WHEN c_custkey % 7 = 0 THEN NULL
                  ELSE c_mktsegment END AS segment
           FROM customer),
         cnt AS (SELECT c_nationkey, segment, COUNT(*) AS c
           FROM m WHERE segment IS NOT NULL GROUP BY 1, 2),
         md AS (SELECT c_nationkey, segment AS mode FROM (
             SELECT *, row_number() OVER (PARTITION BY c_nationkey
               ORDER BY c DESC, segment ASC) AS rn FROM cnt) z
           WHERE rn = 1)
         SELECT m.c_custkey, m.c_nationkey,
           COALESCE(m.segment, md.mode) AS segment
         FROM m LEFT JOIN md USING (c_nationkey)
         ORDER BY m.c_custkey""",

    // mirrors Ml.weightedRegressionByGroup: identical scale-4 weighted
    // moment floors and the closed-form op sequence.
    "q212_wls_groups" ->
      """WITH b AS (SELECT l_returnflag AS g,
             CAST(l_quantity AS DOUBLE) AS x,
             CAST(l_extendedprice AS DOUBLE) AS y,
             CAST(1.0 + l_discount AS DOUBLE) AS w
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
             AND l_discount IS NOT NULL),
         agg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(w * 10000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 10000.0 AS sw,
             CAST(SUM(CAST(FLOOR(w * x * 10000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 10000.0 AS swx,
             CAST(SUM(CAST(FLOOR(w * y * 10000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 10000.0 AS swy,
             CAST(SUM(CAST(FLOOR(w * x * x * 10000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 10000.0 AS swxx,
             CAST(SUM(CAST(FLOOR(w * x * y * 10000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 10000.0 AS swxy
           FROM b GROUP BY 1)
         SELECT g AS l_returnflag, n, sw,
           CASE WHEN sw > 0 AND (sw * swxx - swx * swx) > 0
             THEN (sw * swxy - swx * swy) / (sw * swxx - swx * swx)
             ELSE 0.0 END AS slope,
           CASE WHEN sw > 0 THEN
             (swy - (CASE WHEN sw > 0 AND (sw * swxx - swx * swx) > 0
               THEN (sw * swxy - swx * swy) / (sw * swxx - swx * swx)
               ELSE 0.0 END) * swx) / sw END AS intercept
         FROM agg ORDER BY l_returnflag""",

    // mirrors Reductions.groupQuantiles == quantile_cont (q165
    // precedent), nine deciles per event type.
    "q213_qq_table" ->
      ("""WITH f AS (SELECT event_type, CAST(value AS DOUBLE) AS x
           FROM events
           WHERE event_type IN ('click', 'purchase')
             AND value IS NOT NULL AND NOT isnan(value))
         SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, """ +
        (1 to 9).map(i => s"quantile_cont(x, 0.$i) AS q$i").mkString(", ") +
        """ FROM f GROUP BY 1 ORDER BY event_type"""),

    // mirrors Advanced.ewmVarKeyed: the same coupled mean/variance
    // recursion replayed per key (d uses the PREVIOUS mean).
    "q210_ewm_var" ->
      """WITH RECURSIVE seq AS (
           SELECT event_id, user_id, CAST(value AS DOUBLE) AS x,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS rn
           FROM events),
         rec AS (
           SELECT event_id, user_id, x, rn, x AS m, CAST(0.0 AS DOUBLE) AS v
           FROM seq WHERE rn = 1
           UNION ALL
           SELECT e.event_id, e.user_id, e.x, e.rn,
             (1.0 - 0.3) * r.m + 0.3 * e.x AS m,
             (1.0 - 0.3) * (r.v + 0.3 * (e.x - r.m) * (e.x - r.m)) AS v
           FROM rec r JOIN seq e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
         SELECT event_id, user_id, m AS ewm_mean, v AS ewm_var,
           sqrt(v) AS ewm_std
         FROM rec ORDER BY event_id""",

    // mirrors the NATIVE session_window semantics: diff >= gap starts a
    // new session (one notch off the q97 strict-> rule), session end =
    // last event + gap.
    "q208_session_window" ->
      """WITH g AS (
           SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                     >= 30*60*1000000
                  THEN 1 ELSE 0 END AS ns
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT user_id, ts, value,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM g),
         per AS (SELECT user_id,
           CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 1000000.0) AS DECIMAL(38,0)))
             AS DOUBLE) / 1000000.0 AS sum_value
         FROM s GROUP BY user_id, sid)
         SELECT user_id, session_start, session_end, n, sum_value
         FROM per
         WHERE session_end <= (SELECT CAST(MAX(ts) AS TIMESTAMP) FROM events)
         ORDER BY user_id, session_start""",

    // mirrors Quality.driftReport: reference-fitted decile cuts
    // (quantile_cont == the rank-selection binner), same CASE-chain bin
    // assignment on both sides, identical exact-sum TVD/chi2 arithmetic.
    "q209_drift_report" ->
      s"""WITH ref AS (SELECT CAST(value AS DOUBLE) AS x FROM events
           WHERE event_type = 'click' AND value IS NOT NULL
             AND NOT isnan(value)),
         cur AS (SELECT CAST(value AS DOUBLE) AS x FROM events
           WHERE event_type = 'purchase' AND value IS NOT NULL
             AND NOT isnan(value)),
         c AS (SELECT ${(1 to 9).map(i =>
             s"quantile_cont(x, 0.$i) AS c$i").mkString(", ")} FROM ref),
         rb AS (SELECT 1 ${(1 to 9).map(i =>
             s"+ (CASE WHEN x > c$i THEN 1 ELSE 0 END)").mkString(" ")}
             AS bin FROM ref, c),
         cb AS (SELECT 1 ${(1 to 9).map(i =>
             s"+ (CASE WHEN x > c$i THEN 1 ELSE 0 END)").mkString(" ")}
             AS bin FROM cur, c),
         rc AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS nr FROM rb GROUP BY 1),
         cc AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS nc FROM cb GROUP BY 1),
         shell AS (SELECT CAST(i AS INTEGER) AS bin FROM range(1, 11) t(i)),
         bb AS (SELECT shell.bin, COALESCE(rc.nr, 0) AS nr,
             COALESCE(cc.nc, 0) AS nc
           FROM shell LEFT JOIN rc ON rc.bin = shell.bin
           LEFT JOIN cc ON cc.bin = shell.bin),
         tot AS (SELECT CAST(SUM(nr) AS BIGINT) AS tr,
                        CAST(SUM(nc) AS BIGINT) AS tc FROM bb),
         terms AS (SELECT
             ABS(CAST(nr AS DOUBLE) / CAST(tr AS DOUBLE)
               - CAST(nc AS DOUBLE) / CAST(tc AS DOUBLE)) AS ad,
             CASE WHEN CAST(nr AS DOUBLE) / CAST(tr AS DOUBLE) > 0.0
               THEN (CAST(nc AS DOUBLE) / CAST(tc AS DOUBLE)
                     - CAST(nr AS DOUBLE) / CAST(tr AS DOUBLE))
                  * (CAST(nc AS DOUBLE) / CAST(tc AS DOUBLE)
                     - CAST(nr AS DOUBLE) / CAST(tr AS DOUBLE))
                  / (CAST(nr AS DOUBLE) / CAST(tr AS DOUBLE))
               ELSE 0.0 END AS chi
           FROM bb, tot)
         SELECT CAST(10 AS INTEGER) AS bins,
           (SELECT tr FROM tot) AS n_ref, (SELECT tc FROM tot) AS n_cur,
           CAST(SUM(CAST(FLOOR(ad * 1000000000000.0) AS DECIMAL(38,0)))
             AS DOUBLE) / 1000000000000.0 * 0.5 AS tvd,
           CAST((SELECT tc FROM tot) AS DOUBLE)
             * (CAST(SUM(CAST(FLOOR(chi * 1000000000.0) AS DECIMAL(38,0)))
                AS DOUBLE) / 1000000000.0) AS chi2_drift
         FROM terms""",

    // mirrors asofJoinTolerance: DuckDB native ASOF with the same
    // cast-to-seconds tolerance nulling.
    "q207_asof_tolerance" ->
      """SELECT event_id, user_id,
           CASE WHEN p_ts IS NOT NULL
                AND abs(epoch(ts) - epoch(p_ts)) <= 3600.0
             THEN p_event_id END AS p_event_id
         FROM (
           SELECT e.event_id, e.user_id, e.ts, p.p_ts, p.p_event_id
           FROM events e ASOF LEFT JOIN (
             SELECT user_id, ts AS p_ts, max(event_id) AS p_event_id
             FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts) p
           ON e.user_id = p.user_id AND e.ts > p.p_ts) j
         ORDER BY event_id""",

    // avro round-trip: oracle on the original parquet — values, types,
    // and the timestamp logical type must survive the container.
    "q206_avro_roundtrip" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
             AS sum_price,
           MAX(o_orderkey) AS max_key,
           strftime(MIN(CAST(o_orderdate AS TIMESTAMP)),
             '%Y-%m-%d %H:%M:%S') AS first_date
         FROM orders GROUP BY 1 ORDER BY 1""",

    // the oracle for incremental aggregation IS the single-pass
    // aggregation — the partial/merge path must land on it exactly.
    "q203_incremental_agg" ->
      """SELECT o_orderstatus, CAST(COUNT(o_totalprice) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             AS sum_price
         FROM orders GROUP BY 1 ORDER BY 1""",

    // mirrors Stats.kruskalWallis: q151's doubled-avg-rank build over all
    // groups, per-group exact rank sums, each group's s-term pre-divided
    // by N(N+1) then floor-scale-summed (the same 10⁶ fixed point the
    // Spark side uses), tie correction from pooled per-value counts.
    "q226_kruskal_wallis" ->
      """WITH f AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS x
           FROM events
           WHERE event_type IS NOT NULL
             AND value IS NOT NULL AND NOT isnan(value)),
         r AS (SELECT g,
             2 * rank() OVER (ORDER BY x)
               + COUNT(*) OVER (PARTITION BY x) - 1 AS dr
           FROM f),
         pg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(SUM(dr) AS BIGINT) AS r2d
           FROM r GROUP BY g),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(ng) AS BIGINT) AS n FROM pg),
         s AS (SELECT k, n,
             CAST(SUM(CAST(FLOOR(
               3.0 * CAST(r2d AS DOUBLE) * CAST(r2d AS DOUBLE)
               / (CAST(ng AS DOUBLE) * CAST(n AS DOUBLE)
                  * (CAST(n AS DOUBLE) + 1.0)) * 1000000.0)
               AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS s
           FROM pg, tot GROUP BY 1, 2),
         tie AS (SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tie_tt
           FROM (SELECT COUNT(*) AS t FROM f GROUP BY x) z)
         SELECT k, n, tie_tt, s,
           CASE WHEN n > 1 AND 1.0 - CAST(tie_tt AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                  - CAST(n AS DOUBLE)) > 0.0
             THEN (s - 3.0 * (CAST(n AS DOUBLE) + 1.0))
               / (1.0 - CAST(tie_tt AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                     - CAST(n AS DOUBLE)))
           END AS h
         FROM s, tie""",

    // mirrors Reductions.weightedQuantilesByGroup: per-(group,value)
    // integer weight sums, per-group cumulative weights, pick by exact
    // integer cross-multiplication den·cum ≥ num·W (the lower-weighted-
    // rank rule) — the picked values are actual data values.
    "q227_weighted_median" ->
      """WITH f AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS x,
             CAST(user_id % 10 + 1 AS BIGINT) AS w
           FROM events
           WHERE event_type IS NOT NULL
             AND value IS NOT NULL AND NOT isnan(value)),
         pv AS (SELECT g, x, CAST(SUM(w) AS BIGINT) AS w
           FROM f GROUP BY 1, 2),
         c AS (SELECT g, x, w,
             CAST(SUM(w) OVER (PARTITION BY g ORDER BY x) AS BIGINT) AS cin,
             CAST(SUM(w) OVER (PARTITION BY g) AS BIGINT) AS tw
           FROM pv)
         SELECT g AS event_type, MAX(tw) AS total_w,
           MAX(CASE WHEN 2 * cin >= tw AND 2 * (cin - w) < tw
             THEN x END) AS wp50,
           MAX(CASE WHEN 10 * cin >= 9 * tw AND 10 * (cin - w) < 9 * tw
             THEN x END) AS wp90
         FROM c GROUP BY 1 ORDER BY 1""",

    // mirrors Stats.brownForsythe: quantile_cont group medians (the q165
    // rank-pick/interpolation equivalence), then q175's exact-sum ANOVA
    // over z = |x − med|.
    "q228_brown_forsythe" ->
      """WITH raw AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS x
           FROM events
           WHERE event_type IS NOT NULL
             AND value IS NOT NULL AND NOT isnan(value)),
         med AS (SELECT g, quantile_cont(x, 0.5) AS m FROM raw GROUP BY g),
         f AS (SELECT raw.g, ABS(raw.x - med.m) AS x
           FROM raw JOIN med ON raw.g = med.g),
         pg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000.0 AS sx,
             CAST(SUM(CAST(FLOOR(x * x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000.0 AS sxx
           FROM f GROUP BY g),
         pg2 AS (SELECT *, sx * sx / CAST(n AS DOUBLE) AS bt FROM pg),
         agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(sx * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000.0 AS s,
             CAST(SUM(CAST(FLOOR(sxx * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000.0 AS sxx,
             CAST(SUM(CAST(FLOOR(bt * 1000000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000000.0 AS bt
           FROM pg2)
         SELECT k, n,
           bt - s * s / CAST(n AS DOUBLE) AS ssb,
           sxx - bt AS ssw,
           ((bt - s * s / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0))
             / ((sxx - bt) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))) AS f
         FROM agg""",

    // mirrors Stats.logRank: the q196 duration/event build + cohort, the
    // complete (time × group) grid, keyed prefix at-risk counts, then
    // floor-scaled exact sums of the identical E/V term sequences.
    "q229_log_rank" ->
      """WITH per AS (SELECT user_id, MIN(ts) AS f, MAX(ts) AS l,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS p
           FROM events GROUP BY 1),
         dr AS (SELECT
             CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS g,
             CASE WHEN p IS NOT NULL
                 THEN date_diff('day', CAST(f AS DATE), CAST(p AS DATE))
                 ELSE date_diff('day', CAST(f AS DATE), CAST(l AS DATE)) END
               AS t,
             CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END AS e
           FROM per),
         ptg AS (SELECT CAST(t AS BIGINT) AS t, g,
             CAST(SUM(e) AS BIGINT) AS d, CAST(SUM(1 - e) AS BIGINT) AS c
           FROM dr GROUP BY 1, 2),
         times AS (SELECT DISTINCT t FROM ptg),
         gtot AS (SELECT g, SUM(d + c) AS tot FROM ptg GROUP BY 1),
         grid AS (SELECT times.t, gtot.g, gtot.tot,
             COALESCE(ptg.d, 0) AS d, COALESCE(ptg.c, 0) AS c
           FROM times CROSS JOIN gtot
           LEFT JOIN ptg ON ptg.t = times.t AND ptg.g = gtot.g),
         risk AS (SELECT t, g, d,
             tot - COALESCE(SUM(d + c) OVER (PARTITION BY g ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n
           FROM grid),
         byt AS (SELECT t,
             SUM(CASE WHEN g = 'even' THEN n END) AS n1,
             SUM(CASE WHEN g = 'even' THEN d END) AS d1,
             SUM(CASE WHEN g = 'odd' THEN n END) AS n2,
             SUM(CASE WHEN g = 'odd' THEN d END) AS d2
           FROM risk GROUP BY 1),
         ft AS (SELECT *, n1 + n2 AS nt, d1 + d2 AS dt FROM byt
           WHERE d1 + d2 > 0 AND n1 + n2 > 1),
         terms AS (SELECT d1,
             CAST(dt AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE)
               AS et,
             CAST(dt AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE))
               * (CAST(n2 AS DOUBLE) / CAST(nt AS DOUBLE))
               * (CAST(nt AS DOUBLE) - CAST(dt AS DOUBLE))
               / (CAST(nt AS DOUBLE) - 1.0) AS vt
           FROM ft),
         agg AS (SELECT CAST(SUM(d1) AS BIGINT) AS o1,
             CAST(SUM(CAST(FLOOR(et * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000.0 AS e1,
             CAST(SUM(CAST(FLOOR(vt * 1000000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000000.0 AS v
           FROM terms)
         SELECT o1, e1, v,
           CASE WHEN v > 0.0 THEN (CAST(o1 AS DOUBLE) - e1)
             * (CAST(o1 AS DOUBLE) - e1) / v END AS chi2
         FROM agg""",

    // mirrors Stats.nelsonAalen: q196's duration build, prefix at-risk
    // counts over the O(times) frame, floor-scaled (10⁹) hazard
    // increments cumulated by the same window.
    "q230_nelson_aalen" ->
      """WITH per AS (SELECT user_id, MIN(ts) AS f, MAX(ts) AS l,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS p
           FROM events GROUP BY 1),
         dr AS (SELECT CASE WHEN p IS NOT NULL
                 THEN date_diff('day', CAST(f AS DATE), CAST(p AS DATE))
                 ELSE date_diff('day', CAST(f AS DATE), CAST(l AS DATE)) END
                 AS t,
               CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END AS e
           FROM per),
         g AS (SELECT CAST(t AS BIGINT) AS t, CAST(SUM(e) AS BIGINT) AS d,
             CAST(SUM(1 - e) AS BIGINT) AS c
           FROM dr GROUP BY 1),
         tot AS (SELECT SUM(d + c) AS al FROM g),
         risk AS (SELECT t, d,
             al - COALESCE(SUM(d + c) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n
           FROM g CROSS JOIN tot),
         inc AS (SELECT t, d, n,
             (d * 1000000000) // n AS i
           FROM risk),
         cum AS (SELECT t, d, n,
             SUM(i) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS hs
           FROM inc)
         SELECT t, CAST(n AS BIGINT) AS n_risk, d AS d_events,
           CAST(hs AS DOUBLE) / 1000000000.0 AS h
         FROM cum WHERE d > 0 ORDER BY t""",

    // mirrors Stats.entropyMi: joint/marginal counts, per-cell fixed
    // IEEE term sequences floor-scaled at 10⁹ and summed exactly.
    "q231_entropy_mi" ->
      """WITH c AS (SELECT c_mktsegment AS a, c_nationkey AS b
           FROM customer
           WHERE c_mktsegment IS NOT NULL AND c_nationkey IS NOT NULL),
         j AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS nij
           FROM c GROUP BY 1, 2),
         ma AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS ni FROM c GROUP BY 1),
         mb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nj FROM c GROUP BY 1),
         tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c),
         mi AS (SELECT n,
             CAST(SUM(CAST(FLOOR((CAST(nij AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(nij AS DOUBLE) * CAST(n AS DOUBLE)
                 / (CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE)))
               * 1000000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000000.0 AS mi
           FROM j JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tt
           GROUP BY n),
         ha AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS k_a,
             CAST(SUM(CAST(FLOOR((-(CAST(ni AS DOUBLE) / CAST(n AS DOUBLE)))
               * ln(CAST(ni AS DOUBLE) / CAST(n AS DOUBLE))
               * 1000000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000000.0 AS h_a
           FROM ma CROSS JOIN tt GROUP BY n),
         hb AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS k_b,
             CAST(SUM(CAST(FLOOR((-(CAST(nj AS DOUBLE) / CAST(n AS DOUBLE)))
               * ln(CAST(nj AS DOUBLE) / CAST(n AS DOUBLE))
               * 1000000000.0) AS DECIMAL(38,0))) AS DOUBLE)
               / 1000000000.0 AS h_b
           FROM mb CROSS JOIN tt GROUP BY n)
         SELECT mi.n AS n, k_a, k_b, h_a, h_b, mi,
           CASE WHEN h_a > 0.0 AND h_b > 0.0
             THEN mi / sqrt(h_a * h_b) END AS nmi
         FROM mi JOIN ha USING (n) JOIN hb USING (n)""",

    // mirrors Stats.ljungBox: the q150 ACF build extended to lags 1-5,
    // then the floor-scaled Q-term sum over the O(lags) frame.
    "q232_ljung_box" ->
      """WITH b AS (SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS x
           FROM events),
         l AS (SELECT x, lag(x, 1) OVER w AS y1, lag(x, 2) OVER w AS y2,
                 lag(x, 3) OVER w AS y3, lag(x, 4) OVER w AS y4,
                 lag(x, 5) OVER w AS y5
               FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         p AS (SELECT 1 AS lag_k, x, y1 AS y FROM l
               UNION ALL SELECT 2, x, y2 FROM l
               UNION ALL SELECT 3, x, y3 FROM l
               UNION ALL SELECT 4, x, y4 FROM l
               UNION ALL SELECT 5, x, y5 FROM l),
         f AS (SELECT lag_k, x, y FROM p
               WHERE x IS NOT NULL AND y IS NOT NULL
                 AND NOT isnan(x) AND NOT isnan(y)),
         s AS (SELECT lag_k, CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(FLOOR(x * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE) / 1000000.0 AS sx,
           CAST(SUM(CAST(FLOOR(y * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE) / 1000000.0 AS sy,
           CAST(SUM(CAST(FLOOR(x * x * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE) / 1000000.0 AS sxx,
           CAST(SUM(CAST(FLOOR(y * y * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE) / 1000000.0 AS syy,
           CAST(SUM(CAST(FLOOR(x * y * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE) / 1000000.0 AS sxy
           FROM f GROUP BY 1),
         r AS (SELECT lag_k, n,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN (n * sxy - sx * sy)
                  / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
           END AS acf
           FROM s),
         tq AS (SELECT n * (n + 2.0) * acf * acf
               / (n - CAST(lag_k AS DOUBLE)) AS term
           FROM r WHERE acf IS NOT NULL AND n > CAST(lag_k AS DOUBLE))
         SELECT CAST(COUNT(*) AS BIGINT) AS h_lags,
           CAST(SUM(CAST(FLOOR(term * 1000000.0) AS DECIMAL(38,0)))
             AS DOUBLE) / 1000000.0 AS q_stat
         FROM tq""",

    // mirrors Rolling.rSkew/rKurt: identical floor-scaled window sums of
    // x..x⁴ over the same 10-row keyed frame and the identical central-
    // moment closed forms.
    "q233_rolling_moments" ->
      """WITH b AS (SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS x
           FROM events
           WHERE value IS NOT NULL AND NOT isnan(value)),
         w AS (SELECT event_id, user_id,
             CAST(COUNT(*) OVER win AS DOUBLE) AS n,
             CAST(SUM(CAST(FLOOR(x * 1000000.0) AS BIGINT)) OVER win
               AS DOUBLE) / 1000000.0 AS s1,
             CAST(SUM(CAST(FLOOR(x * x * 1000000.0) AS BIGINT)) OVER win
               AS DOUBLE) / 1000000.0 AS s2,
             CAST(SUM(CAST(FLOOR(x * x * x * 10000.0) AS BIGINT)) OVER win
               AS DOUBLE) / 10000.0 AS s3,
             CAST(SUM(CAST(FLOOR(x * x * x * x * 100.0) AS BIGINT)) OVER win
               AS DOUBLE) / 100.0 AS s4
           FROM b WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)),
         m AS (SELECT event_id, user_id, n, s1 / n AS mean, s2, s3, s4
           FROM w),
         mm AS (SELECT event_id, user_id, n, mean, s2, s3, s4,
             s2 / n - mean * mean AS m2
           FROM m),
         mo AS (SELECT event_id, user_id, n, m2,
             s3 / n - 3.0 * mean * (s2 / n) + 2.0 * mean * mean * mean AS m3,
             s4 / n - 4.0 * mean * (s3 / n)
               + 6.0 * mean * mean * (s2 / n)
               - 3.0 * mean * mean * mean * mean AS m4
           FROM mm)
         SELECT event_id, user_id,
           CASE WHEN n > 2 AND m2 > 0.0
             THEN m3 / sqrt(m2 * m2 * m2) END AS r_skew,
           CASE WHEN n > 3 AND m2 > 0.0
             THEN m4 / (m2 * m2) - 3.0 END AS r_kurt
         FROM mo ORDER BY event_id""",

    // mirrors Behavior.rfm: recency/frequency/monetary per customer,
    // percent_rank quintile scores (the q200-equivalent SQL windows),
    // segment roll-up.
    "q234_rfm" ->
      """WITH ref AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS r FROM orders),
         per AS (SELECT o_custkey,
             MIN(date_diff('day', CAST(o_orderdate AS DATE), r)) AS rec,
             CAST(COUNT(*) AS DOUBLE) AS freq,
             SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS mon
           FROM orders CROSS JOIN ref GROUP BY o_custkey, r),
         sc AS (SELECT o_custkey, mon,
             LEAST(5, CAST(FLOOR(percent_rank() OVER
               (ORDER BY -CAST(rec AS DOUBLE)) * 5.0) AS INTEGER) + 1)
               AS r_score,
             LEAST(5, CAST(FLOOR(percent_rank() OVER
               (ORDER BY freq) * 5.0) AS INTEGER) + 1) AS f_score,
             LEAST(5, CAST(FLOOR(percent_rank() OVER
               (ORDER BY CAST(mon AS DOUBLE)) * 5.0) AS INTEGER) + 1)
               AS m_score
           FROM per)
         SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(mon) AS DOUBLE) / COUNT(*) AS avg_monetary
         FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",

    // mirrors Behavior.cuped: exact-decimal per-user pre/post sums, the
    // pooled floor-scaled moments, identical theta / adjusted-mean
    // closed forms.
    "q235_cuped" ->
      """WITH per AS (SELECT user_id,
             CAST(COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
               THEN CAST(value AS DECIMAL(38,2)) END), 0) AS DOUBLE) AS x,
             CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
               THEN CAST(value AS DECIMAL(38,2)) END), 0) AS DOUBLE) AS y,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS g
           FROM events GROUP BY 1),
         pool AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sx,
             CAST(SUM(CAST(FLOOR(y * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sy,
             CAST(SUM(CAST(FLOOR(x * x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sxx,
             CAST(SUM(CAST(FLOOR(x * y * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sxy,
             CAST(SUM(CAST(FLOOR(y * y * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS syy
           FROM per),
         fit AS (SELECT n, sx,
             CASE WHEN n * sxx - sx * sx > 0.0
               THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
               ELSE 0.0 END AS theta,
             CASE WHEN n * sxx - sx * sx > 0.0 AND n * syy - sy * sy > 0.0
               THEN 1.0 - ((n * sxy - sx * sy) / sqrt(n * sxx - sx * sx))
                 * ((n * sxy - sx * sy) / sqrt(n * sxx - sx * sx))
                 / (n * syy - sy * sy) END AS var_reduction
           FROM pool),
         pg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(SUM(CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS gx,
             CAST(SUM(CAST(FLOOR(y * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS gy
           FROM per GROUP BY 1)
         SELECT g AS cohort, ng AS n,
           gx / ng AS mean_x, gy / ng AS mean_y,
           gy / ng - theta * (gx / ng - sx / fit.n) AS mean_y_cuped,
           theta, var_reduction
         FROM pg CROSS JOIN fit ORDER BY cohort""",

    // mirrors Stats.mcnemar over the two returns rules: null-propagating
    // boolean equality, integer discordant counts, one final division.
    "q236_mcnemar" ->
      """WITH f AS (SELECT
             ((l_quantity > 25) = (l_returnflag = 'R')) AS a,
             ((l_extendedprice > 30000) = (l_returnflag = 'R')) AS b
           FROM lineitem),
         g AS (SELECT a, b FROM f WHERE a IS NOT NULL AND b IS NOT NULL),
         c AS (SELECT
             CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00,
             CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
             CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
             CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11
           FROM g)
         SELECT n00, n01, n10, n11,
           CASE WHEN n01 + n10 > 0
             THEN CAST(n01 - n10 AS DOUBLE) * CAST(n01 - n10 AS DOUBLE)
               / CAST(n01 + n10 AS DOUBLE) END AS chi2
         FROM c""",

    // mirrors Behavior.lorenz: integer cents per customer, percent_rank
    // decile bands, exact integer shares with the O(buckets) cumulate.
    "q237_lorenz" ->
      """WITH per AS (SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) * 100 AS BIGINT)
               AS cents
           FROM orders GROUP BY 1),
         sc AS (SELECT cents,
             LEAST(10, CAST(FLOOR(percent_rank() OVER
               (ORDER BY CAST(cents AS DOUBLE)) * 10) AS INTEGER) + 1)
               AS bucket
           FROM per),
         byb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_units,
             CAST(SUM(cents) AS BIGINT) AS amount_cents
           FROM sc GROUP BY 1),
         tot AS (SELECT SUM(amount_cents) AS t FROM byb),
         cum AS (SELECT bucket, n_units, amount_cents,
             SUM(amount_cents) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
           FROM byb)
         SELECT bucket, n_units, amount_cents,
           CAST(amount_cents AS DOUBLE) / CAST(t AS DOUBLE) AS share,
           CAST(c AS DOUBLE) / CAST(t AS DOUBLE) AS cum_share
         FROM cum CROSS JOIN tot ORDER BY bucket""",

    // the q239 partition-pruned read-back equals a plain filtered
    // aggregate over the source table.
    "q239_partitioned_sink" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
             AS sum_price
         FROM orders WHERE month(o_orderdate) = 1
         GROUP BY 1 ORDER BY 1""",

    // mirrors Layout.zorderStats: identical min-max 16-bit cells, the
    // mask-shift Morton spread, prefix-bucket grouping — pure integer
    // arithmetic end to end.
    "q240_zorder" ->
      """WITH f AS (SELECT user_id, CAST(value AS DOUBLE) AS v FROM events
           WHERE value IS NOT NULL AND NOT isnan(value)),
         fit AS (SELECT MIN(user_id) AS xmn, MAX(user_id) AS xmx,
             MIN(v) AS ymn, MAX(v) AS ymx FROM f),
         cells AS (SELECT
             CASE WHEN CAST(xmx AS DOUBLE) - CAST(xmn AS DOUBLE) > 0.0
               THEN CAST(FLOOR((CAST(user_id AS DOUBLE)
                 - CAST(xmn AS DOUBLE))
                 / (CAST(xmx AS DOUBLE) - CAST(xmn AS DOUBLE)) * 65535.0)
                 AS BIGINT)
               ELSE 0 END AS xc,
             CASE WHEN ymx - ymn > 0.0
               THEN CAST(FLOOR((v - ymn) / (ymx - ymn) * 65535.0) AS BIGINT)
               ELSE 0 END AS yc
           FROM f CROSS JOIN fit),
         sx AS (SELECT xc, yc,
             (((xc | (xc << 8)) & 16711935)) AS a1,
             (((yc | (yc << 8)) & 16711935)) AS b1
           FROM cells),
         s2 AS (SELECT xc, yc,
             ((a1 | (a1 << 4)) & 252645135) AS a2,
             ((b1 | (b1 << 4)) & 252645135) AS b2
           FROM sx),
         s3 AS (SELECT xc, yc,
             ((a2 | (a2 << 2)) & 858993459) AS a3,
             ((b2 | (b2 << 2)) & 858993459) AS b3
           FROM s2),
         s4 AS (SELECT xc, yc,
             ((a3 | (a3 << 1)) & 1431655765) AS a4,
             ((b3 | (b3 << 1)) & 1431655765) AS b4
           FROM s3),
         z AS (SELECT xc, yc, (a4 | (b4 << 1)) AS zv FROM s4)
         SELECT (zv >> 26) AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(xc) AS x_min, MAX(xc) AS x_max,
           MIN(yc) AS y_min, MAX(yc) AS y_max
         FROM z GROUP BY 1 ORDER BY 1""",

    // the merged-schema read-back equals the per-branch audit computed
    // from the source table directly.
    "q241_schema_evolution" ->
      """WITH u AS (
           SELECT c_custkey, c_acctbal, NULL AS c_mktsegment, 1 AS src
             FROM customer WHERE c_custkey % 2 = 0
           UNION ALL
           SELECT c_custkey, NULL, c_mktsegment, 2 AS src
             FROM customer WHERE c_custkey % 2 = 1)
         SELECT src, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(c_acctbal) AS BIGINT) AS n_bal,
           CAST(COUNT(c_mktsegment) AS BIGINT) AS n_seg,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(30,4))) AS DOUBLE) AS sum_bal
         FROM u GROUP BY 1 ORDER BY 1""",

    // compaction must not change a single value: the round-tripped
    // aggregate equals the direct one.
    "q242_compaction" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
         FROM events GROUP BY 1 ORDER BY 1""",

    // the DPP-pruned fact join equals a plain Q1-months filter.
    "q243_dpp" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
             AS sum_price
         FROM orders WHERE month(o_orderdate) IN (1, 2, 3)
         GROUP BY 1 ORDER BY 1""",

    // mirrors Ml.isotonicCalibration: the q168 decile table, then PAV by
    // the minimax closed form — segment rates from exact prefix-sum
    // diffs, MIN/MAX over identical doubles.
    "q244_isotonic" -> {
      val cutDefs = (1 to 9).map(i =>
        s"quantile_cont(CAST(n_chars AS DOUBLE), 0.$i) AS c$i")
        .mkString(",\n           ")
      val binExpr = (1 to 9).map(i =>
        s"(CASE WHEN CAST(n_chars AS DOUBLE) > c$i THEN 1 ELSE 0 END)")
        .mkString("\n             + ")
      s"""WITH c AS (SELECT
           $cutDefs
         FROM documents),
         b AS (SELECT CAST(n_chars AS DOUBLE) AS x,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
           1 + $binExpr AS bin
         FROM documents, c),
         t AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(x * 1000000.0) AS DECIMAL(30,0))) AS DOUBLE)
             / 1000000.0 / COUNT(*) AS mean_score,
           CAST(SUM(label) AS BIGINT) AS n_pos,
           CAST(SUM(label) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS frac_pos
         FROM b GROUP BY 1),
         pre AS (SELECT bin, n, n_pos,
             SUM(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS cn,
             SUM(n_pos) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS cp
           FROM t),
         segs AS (SELECT j.bin AS jb, q.bin AS kb,
             CAST(q.cp - (j.cp - j.n_pos) AS DOUBLE)
               / CAST(q.cn - (j.cn - j.n) AS DOUBLE) AS a
           FROM pre j JOIN pre q ON j.bin <= q.bin),
         mn AS (SELECT i.bin AS i, s.jb, MIN(s.a) AS mn
           FROM pre i JOIN segs s ON s.jb <= i.bin AND i.bin <= s.kb
           GROUP BY 1, 2),
         iso AS (SELECT i, MAX(mn) AS iso_prob FROM mn GROUP BY 1)
         SELECT t.bin, t.n, t.mean_score, t.frac_pos, iso.iso_prob
         FROM t JOIN iso ON iso.i = t.bin ORDER BY t.bin"""
    },

    // mirrors Stats.mannKendall over monthly integer cents: exact sign
    // sums over the bounded pair frame, tie-corrected variance, the
    // identical continuity-corrected z.
    "q245_mann_kendall" ->
      """WITH m AS (SELECT date_trunc('month', o_orderdate) AS mt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) * 100 AS BIGINT)
               AS cents
           FROM orders GROUP BY 1),
         sg AS (SELECT CAST(COALESCE(SUM(CASE WHEN b.cents > a.cents THEN 1
               WHEN b.cents < a.cents THEN -1 ELSE 0 END), 0) AS BIGINT) AS s
           FROM m a JOIN m b ON a.mt < b.mt),
         nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM m),
         tt AS (SELECT COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS tt
           FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM m
             GROUP BY cents)),
         f AS (SELECT n, s,
             (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
               * (2.0 * CAST(n AS DOUBLE) + 5.0) - CAST(tt AS DOUBLE))
               / 18.0 AS var_s
           FROM nn CROSS JOIN sg CROSS JOIN tt)
         SELECT n, s, var_s,
           CASE WHEN var_s > 0.0 THEN
             CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) / sqrt(var_s)
                  WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0) / sqrt(var_s)
                  ELSE 0.0 END
           END AS z
         FROM f""",

    // mirrors Stats.cmh: per-stratum integer margins, identical E/V
    // term sequences floor-scaled and summed exactly.
    "q246_cmh" ->
      """WITH per AS (SELECT o_orderpriority AS s,
             CAST(SUM(CASE WHEN o_custkey % 2 = 0 AND o_orderstatus = 'F'
               THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS r1,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
               AS BIGINT) AS c1,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY 1),
         f AS (SELECT * FROM per WHERE n > 1),
         terms AS (SELECT
             CAST(a AS DOUBLE)
               - CAST(r1 AS DOUBLE) * CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE)
               AS et,
             CAST(r1 AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(r1 AS DOUBLE))
               * CAST(c1 AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(c1 AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                 * (CAST(n AS DOUBLE) - 1.0)) AS vt
           FROM f),
         agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_strata,
             CAST(SUM(CAST(FLOOR(et * 1000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000.0 AS o_minus_e,
             CAST(SUM(CAST(FLOOR(vt * 1000000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000000.0 AS v
           FROM terms)
         SELECT k_strata, o_minus_e, v,
           CASE WHEN v > 0.0 THEN o_minus_e * o_minus_e / v END AS chi2
         FROM agg""",

    // mirrors q247's persisted-sketch merge: per-day bottom-k (the q62
    // portable KMV), distinct union re-bottom-k, identical estimate.
    "q247_sketch_persist" ->
      """WITH hs AS (SELECT DISTINCT CAST(ts AS DATE) AS day,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
               AS BIGINT) AS h
           FROM events),
         ranked AS (SELECT day, h,
             row_number() OVER (PARTITION BY day ORDER BY h) AS rn
           FROM hs),
         kept AS (SELECT day, h FROM ranked WHERE rn <= 256),
         days AS (SELECT CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days
           FROM kept),
         uh AS (SELECT DISTINCT h FROM kept),
         ur AS (SELECT h, row_number() OVER (ORDER BY h) AS rn,
             COUNT(*) OVER () AS cnt
           FROM uh),
         est AS (SELECT CASE WHEN max(cnt) < 256
             THEN CAST(max(cnt) AS DOUBLE)
             ELSE 255.0 * pow(2.0, 60)
               / CAST(max(CASE WHEN rn = 256 THEN h END) AS DOUBLE) END
               AS est_users
           FROM ur WHERE rn <= 256),
         ex AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT)
             AS exact_users FROM events)
         SELECT n_days, est_users, exact_users
         FROM days CROSS JOIN est CROSS JOIN ex""",

    // mirrors Stats.hillTailIndex over the order-count degrees.
    "q249_power_law" ->
      """WITH d AS (SELECT CAST(COUNT(*) AS DOUBLE) AS x FROM orders
           GROUP BY o_custkey),
         t AS (SELECT x FROM d
           WHERE x IS NOT NULL AND NOT isnan(x) AND x >= 3.0),
         agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tail,
             CAST(SUM(CAST(FLOOR(ln(x / 3.0) * 1000000000.0)
               AS DECIMAL(38,0))) AS DOUBLE) / 1000000000.0 AS s
           FROM t)
         SELECT n_tail, CAST(3 AS BIGINT) AS x_min,
           CASE WHEN s > 0.0
             THEN 1.0 + CAST(n_tail AS DOUBLE) / s END AS alpha
         FROM agg""",

    // mirrors q250 with DuckDB's native ASOF join over the identical
    // per-(customer, day) latest-order frame (arg_max on the unique
    // order key = the struct-max pick).
    "q250_pit_features" ->
      """WITH od AS (SELECT o_custkey, o_orderdate,
             arg_max(o_orderkey, o_orderkey) AS last_orderkey,
             arg_max(o_totalprice, o_orderkey) AS last_total
           FROM orders GROUP BY 1, 2)
         SELECT e.event_id, e.user_id, od.last_orderkey,
           CAST(date_diff('day', CAST(od.o_orderdate AS DATE),
             CAST(e.ts AS DATE)) AS BIGINT) AS days_since,
           od.last_total
         FROM events e ASOF LEFT JOIN od
           ON e.user_id = od.o_custkey AND e.ts >= od.o_orderdate
         ORDER BY e.event_id""",

    // mirrors Ml.crossValidateSimpleRegression: md5 fold ids, per-fold
    // exact decimal moment partials, train = totals − fold partial,
    // identical closed forms and floor-scaled error sums.
    "q256_cv_scores" ->
      """WITH base AS (SELECT
             CAST(CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR)),
               1, 15)) AS BIGINT) % 5 AS INT) AS fold,
             CAST(l_quantity AS DOUBLE) AS x,
             CAST(l_extendedprice AS DOUBLE) AS y
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
             AND NOT isnan(CAST(l_quantity AS DOUBLE))
             AND NOT isnan(CAST(l_extendedprice AS DOUBLE))),
         pf AS (SELECT fold, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(FLOOR(x * 10000.0) AS DECIMAL(38,0))) AS sx,
             SUM(CAST(FLOOR(y * 100.0) AS DECIMAL(38,0))) AS sy,
             SUM(CAST(FLOOR(x * x * 10000.0) AS DECIMAL(38,0))) AS sxx,
             SUM(CAST(FLOOR(x * y * 100.0) AS DECIMAL(38,0))) AS sxy
           FROM base GROUP BY 1),
         tt AS (SELECT SUM(n) AS tn, SUM(sx) AS tsx, SUM(sy) AS tsy,
             SUM(sxx) AS tsxx, SUM(sxy) AS tsxy FROM pf),
         mdl0 AS (SELECT fold,
             CAST(tn - n AS BIGINT) AS n_train, n AS n_test,
             CAST(tn - n AS DOUBLE) AS ntd,
             CAST(tsx - sx AS DOUBLE) / 10000.0 AS msx,
             CAST(tsy - sy AS DOUBLE) / 100.0 AS msy,
             CAST(tsxx - sxx AS DOUBLE) / 10000.0 AS msxx,
             CAST(tsxy - sxy AS DOUBLE) / 100.0 AS msxy
           FROM pf CROSS JOIN tt),
         mdl AS (SELECT fold, n_train, n_test,
             CASE WHEN ntd * msxx - msx * msx > 0.0
               THEN (ntd * msxy - msx * msy) / (ntd * msxx - msx * msx)
             END AS slope,
             CASE WHEN ntd * msxx - msx * msx > 0.0
               THEN (msy - (ntd * msxy - msx * msy)
                 / (ntd * msxx - msx * msx) * msx) / ntd
             END AS intercept
           FROM mdl0),
         sc AS (SELECT b.fold, m.n_train, m.n_test, m.slope, m.intercept,
             b.y - (m.intercept + m.slope * b.x) AS e
           FROM base b JOIN mdl m USING (fold)),
         agg AS (SELECT fold, n_train, n_test, slope, intercept,
             CAST(SUM(CAST(FLOOR(e * e * 1000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000.0 AS sse
           FROM sc GROUP BY 1, 2, 3, 4, 5)
         SELECT fold, n_train, n_test, slope, intercept,
           sqrt(sse / CAST(n_test AS DOUBLE)) AS rmse
         FROM agg ORDER BY fold""",

    // mirrors q257: exact decimal segment sums, identical LOO division.
    "q257_target_encode" ->
      """WITH a AS (SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(c_acctbal AS DECIMAL(38,2))) AS s
           FROM customer GROUP BY 1)
         SELECT c.c_custkey, c.c_mktsegment,
           CASE WHEN a.n > 1 THEN (CAST(a.s AS DOUBLE) - c_acctbal)
             / CAST(a.n - 1 AS DOUBLE) END AS loo_mean_bal
         FROM customer c JOIN a USING (c_mktsegment)
         ORDER BY c.c_custkey""",

    // mirrors q258: identical md5 bucket + sign-bit arithmetic.
    "q258_feature_hash" ->
      """WITH f AS (SELECT unnest([concat('seg=', c_mktsegment),
             concat('nation=', CAST(c_nationkey AS VARCHAR))]) AS feat
           FROM customer),
         h AS (SELECT CAST(concat('0x', substr(md5(feat), 1, 15)) AS BIGINT)
             AS hv FROM f),
         b AS (SELECT hv % 64 AS bucket,
             CASE WHEN (hv >> 6) & 1 = 0 THEN 1 ELSE -1 END AS sign
           FROM h)
         SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_feats,
           CAST(SUM(sign) AS BIGINT) AS signed_sum
         FROM b GROUP BY 1 ORDER BY 1""",

    // mirrors q259: four exact-sum cell means, the DiD arithmetic.
    "q259_did" ->
      """WITH ev AS (SELECT user_id % 2 = 0 AS treated,
             ts >= TIMESTAMP '2024-01-16' AS post, value FROM events),
         cells AS (SELECT treated, post,
             CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) / COUNT(*)
               AS mean_value
           FROM ev GROUP BY 1, 2),
         p AS (SELECT
             MAX(CASE WHEN treated AND NOT post THEN mean_value END)
               AS treat_pre,
             MAX(CASE WHEN treated AND post THEN mean_value END)
               AS treat_post,
             MAX(CASE WHEN NOT treated AND NOT post THEN mean_value END)
               AS ctrl_pre,
             MAX(CASE WHEN NOT treated AND post THEN mean_value END)
               AS ctrl_post
           FROM cells)
         SELECT treat_pre, treat_post, ctrl_pre, ctrl_post,
           (treat_post - treat_pre) - (ctrl_post - ctrl_pre) AS did
         FROM p""",

    // row_number top-3 per nation, identical tiebreak.
    "q252_topk_per_group" ->
      """WITH r AS (SELECT c_nationkey, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey
               ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk
           FROM customer)
         SELECT c_nationkey, CAST(rnk AS BIGINT) AS rnk, c_custkey,
           c_acctbal
         FROM r WHERE rnk <= 3 ORDER BY c_nationkey, rnk""",

    // mirrors Reductions.cmsFrequency: identical md5-derived cells,
    // min-over-depths estimate, exact counts side by side.
    "q253_cms_freq" ->
      """WITH k AS (SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem
           WHERE l_partkey IS NOT NULL),
         dd AS (SELECT * FROM range(0, 4) t(d)),
         tab AS (SELECT d,
             CAST(concat('0x', substr(md5(concat(CAST(d AS VARCHAR), '|', k)),
               1, 15)) AS BIGINT) % 256 AS b,
             CAST(COUNT(*) AS BIGINT) AS c
           FROM k CROSS JOIN dd GROUP BY 1, 2),
         p AS (SELECT CAST(x AS VARCHAR) AS key FROM range(1, 11) t(x)),
         pd AS (SELECT key, d,
             CAST(concat('0x', substr(md5(concat(CAST(d AS VARCHAR), '|',
               key)), 1, 15)) AS BIGINT) % 256 AS b
           FROM p CROSS JOIN dd),
         est AS (SELECT key, MIN(COALESCE(tab.c, 0)) AS est
           FROM pd LEFT JOIN tab ON tab.d = pd.d AND tab.b = pd.b
           GROUP BY 1),
         ex AS (SELECT k AS key, CAST(COUNT(*) AS BIGINT) AS exact
           FROM k GROUP BY 1)
         SELECT est.key, CAST(est AS BIGINT) AS est,
           COALESCE(ex.exact, 0) AS exact
         FROM est LEFT JOIN ex USING (key) ORDER BY est.key""",

    // mirrors q254: quantile_cont cutoffs (== groupQuantiles, the q165
    // pin), conditional exact-decimal mean.
    "q254_trimmed_mean" ->
      """WITH c AS (SELECT l_returnflag,
             quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.1) AS lo,
             quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9) AS hi
           FROM lineitem GROUP BY 1),
         f AS (SELECT l.l_returnflag, l_extendedprice
           FROM lineitem l JOIN c USING (l_returnflag)
           WHERE l_extendedprice >= lo AND l_extendedprice <= hi)
         SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(*) AS trimmed_mean
         FROM f GROUP BY 1 ORDER BY 1""",

    // batch replay of q264: daily windows, rank, top 2 (Complete-mode
    // sink emits every window, so no watermark cutoff applies).
    "q264_stream_topn" ->
      """WITH c AS (SELECT date_trunc('day', ts) AS day, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         r AS (SELECT day, event_type, n,
             row_number() OVER (PARTITION BY day
               ORDER BY n DESC, event_type ASC) AS rnk
           FROM c)
         SELECT strftime(day, '%Y-%m-%d') AS day, CAST(rnk AS BIGINT)
             AS rnk, event_type, n
         FROM r WHERE rnk <= 2 ORDER BY day, rnk""",

    // batch replay of q265: latest-wins per user over the full log ==
    // argmax over the source events (the appended batch ids are
    // metadata, not state).
    "q265_stream_changelog" ->
      """WITH m AS (SELECT user_id,
             MAX(struct_pack(ts := ts, event_id := event_id,
               event_type := event_type, value := value)) AS s
           FROM events GROUP BY 1)
         SELECT user_id, s.event_id AS last_event_id,
           s.event_type AS last_type, s.value AS last_value
         FROM m ORDER BY user_id""",

    // mirrors Stats.twoWayAnova: cell moment sums, margin re-floors,
    // the identical between-term/correction sequence (q228's pattern
    // with two factors).
    "q275_two_way_anova" ->
      """WITH c0 AS (SELECT event_type AS a,
             CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS b,
             CAST(value AS DOUBLE) AS x
           FROM events
           WHERE event_type IS NOT NULL AND value IS NOT NULL
             AND NOT isnan(value)),
         cells AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS s,
             CAST(SUM(CAST(FLOOR(x * x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS ss
           FROM c0 GROUP BY 1, 2),
         tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(s * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS s,
             CAST(SUM(CAST(FLOOR(ss * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS ss
           FROM cells),
         ma AS (SELECT a, CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(s * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS s
           FROM cells GROUP BY 1),
         mb AS (SELECT b, CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(s * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS s
           FROM cells GROUP BY 1),
         bta AS (SELECT CAST(COUNT(*) AS BIGINT) AS ka,
             CAST(SUM(CAST(FLOOR(s * s / CAST(n AS DOUBLE) * 1000000000.0)
               AS DECIMAL(38,0))) AS DOUBLE) / 1000000000.0 AS bt
           FROM ma),
         btb AS (SELECT CAST(COUNT(*) AS BIGINT) AS kb,
             CAST(SUM(CAST(FLOOR(s * s / CAST(n AS DOUBLE) * 1000000000.0)
               AS DECIMAL(38,0))) AS DOUBLE) / 1000000000.0 AS bt
           FROM mb),
         btc AS (SELECT CAST(COUNT(*) AS BIGINT) AS kc,
             CAST(SUM(CAST(FLOOR(s * s / CAST(n AS DOUBLE) * 1000000000.0)
               AS DECIMAL(38,0))) AS DOUBLE) / 1000000000.0 AS bt
           FROM cells),
         fin AS (SELECT tot.n, ka, kb, kc,
             bta.bt - tot.s * tot.s / CAST(tot.n AS DOUBLE) AS ss_a,
             btb.bt - tot.s * tot.s / CAST(tot.n AS DOUBLE) AS ss_b,
             btc.bt - (bta.bt - tot.s * tot.s / CAST(tot.n AS DOUBLE))
               - (btb.bt - tot.s * tot.s / CAST(tot.n AS DOUBLE))
               - tot.s * tot.s / CAST(tot.n AS DOUBLE) AS ss_int,
             tot.ss - btc.bt AS ss_within
           FROM tot CROSS JOIN bta CROSS JOIN btb CROSS JOIN btc)
         SELECT n, ka, kb, ss_a, ss_b, ss_int, ss_within,
           CASE WHEN CAST(n AS DOUBLE) - CAST(kc AS DOUBLE) > 0.0
                 AND ss_within / (CAST(n AS DOUBLE) - CAST(kc AS DOUBLE))
                   > 0.0 AND ka > 1
             THEN (ss_a / (CAST(ka AS DOUBLE) - 1.0))
               / (ss_within / (CAST(n AS DOUBLE) - CAST(kc AS DOUBLE)))
           END AS f_a,
           CASE WHEN CAST(n AS DOUBLE) - CAST(kc AS DOUBLE) > 0.0
                 AND ss_within / (CAST(n AS DOUBLE) - CAST(kc AS DOUBLE))
                   > 0.0 AND kb > 1
             THEN (ss_b / (CAST(kb AS DOUBLE) - 1.0))
               / (ss_within / (CAST(n AS DOUBLE) - CAST(kc AS DOUBLE)))
           END AS f_b
         FROM fin""",

    // mirrors Stats.friedman: complete blocks, doubled avg ranks inside
    // each block, the folded 3·ΣR2²/(bk(k+1)) sequence.
    "q276_friedman" ->
      """WITH base AS (SELECT user_id AS blk, event_type AS t,
             CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) / COUNT(*)
               AS x
           FROM events GROUP BY 1, 2),
         kk AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS k FROM base),
         comp AS (SELECT blk FROM base GROUP BY blk
           HAVING COUNT(DISTINCT t) = (SELECT k FROM kk)),
         kept AS (SELECT base.* FROM base JOIN comp USING (blk)),
         bb AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM comp),
         rk AS (SELECT t,
             2 * rank() OVER (PARTITION BY blk ORDER BY x)
               + COUNT(*) OVER (PARTITION BY blk, x) - 1 AS dr
           FROM kept),
         pt AS (SELECT t, CAST(SUM(dr) AS BIGINT) AS r2 FROM rk
           GROUP BY 1),
         agg AS (SELECT MAX(b) AS b, MAX(k) AS k,
             CAST(SUM(CAST(FLOOR(3.0 * CAST(r2 AS DOUBLE)
               * CAST(r2 AS DOUBLE) / (CAST(b AS DOUBLE)
                 * CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0))
               * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS s
           FROM pt CROSS JOIN bb CROSS JOIN kk)
         SELECT b, k,
           s - 3.0 * CAST(b AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0)
             AS chi2_f
         FROM agg""",

    // mirrors Stats.runsTest on the mean-split daily revenue series.
    // mirrors Reductions.descriptiveStatsDatetime: exact HUGEINT
    // epoch-micros sums, one integer division, make_timestamp back.
    "q282_datetime_stats" ->
      """WITH b AS (SELECT ts, CAST(ts AS DATE) AS day FROM events),
         s AS (
           SELECT 'day' AS "column",
             CAST(COUNT(day) AS BIGINT) AS n_valid,
             CAST(SUM(CASE WHEN day IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_missing,
             make_timestamp(MIN(epoch_us(CAST(day AS TIMESTAMP)))) AS min,
             make_timestamp(CAST(
               SUM(CAST(epoch_us(CAST(day AS TIMESTAMP)) AS HUGEINT))
               // COUNT(day) AS BIGINT)) AS mean,
             make_timestamp(MAX(epoch_us(CAST(day AS TIMESTAMP)))) AS max
           FROM b
           UNION ALL
           SELECT 'ts',
             CAST(COUNT(ts) AS BIGINT),
             CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             make_timestamp(MIN(epoch_us(ts))),
             make_timestamp(CAST(SUM(CAST(epoch_us(ts) AS HUGEINT))
               // COUNT(ts) AS BIGINT)),
             make_timestamp(MAX(epoch_us(ts)))
           FROM b)
         SELECT * FROM s ORDER BY "column"""",

    // mirrors q285: uuid canonicalization is lower() on the valid shape,
    // parse failure is NULL; %7 uppercase normalizes back to the original
    // lowercase md5-derived form, %13 (minus 91-multiples) goes missing.
    "q285_uuid_tags" ->
      """WITH raw AS (
           SELECT o_orderkey,
             concat_ws('-', substr(md5(CAST(o_orderkey AS VARCHAR)),1,8),
               substr(md5(CAST(o_orderkey AS VARCHAR)),9,4),
               substr(md5(CAST(o_orderkey AS VARCHAR)),13,4),
               substr(md5(CAST(o_orderkey AS VARCHAR)),17,4),
               substr(md5(CAST(o_orderkey AS VARCHAR)),21,12)) AS u0
           FROM orders WHERE o_orderkey < 4000)
         SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN u0
                WHEN o_orderkey % 13 = 0 THEN NULL
                ELSE u0 END AS u,
           CASE WHEN o_orderkey % 7 = 0 THEN TRUE
                WHEN o_orderkey % 13 = 0 THEN FALSE
                ELSE TRUE END AS is_valid
         FROM raw ORDER BY o_orderkey""",

    // mirrors Rolling.rollingRangeCalendar: DuckDB's calendar-interval
    // range frame IS the semantics being matched (clamped month-end
    // subtraction, inclusive lower bound, peers included).
    "q284_calendar_rolling" ->
      """SELECT o_orderkey, o_custkey,
         COUNT(o_orderkey) OVER w AS n_3m,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS DECIMAL(30,0))) OVER w
           AS DOUBLE) / 100 AS sum_3m
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                      RANGE BETWEEN INTERVAL 3 MONTHS PRECEDING
                        AND CURRENT ROW)
         ORDER BY o_orderkey""",

    "q277_runs_test" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) * 100
               AS BIGINT) AS cents
           FROM orders GROUP BY 1),
         m AS (SELECT CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS mn
           FROM daily),
         s AS (SELECT d, CAST(cents AS DOUBLE) AS x, mn
           FROM daily CROSS JOIN m WHERE CAST(cents AS DOUBLE) <> mn),
         u AS (SELECT d, CASE WHEN x > mn THEN 1 ELSE 0 END AS up FROM s),
         l AS (SELECT up, lag(up) OVER (ORDER BY d) AS prev FROM u),
         agg AS (SELECT CAST(SUM(up) AS BIGINT) AS n1,
             CAST(SUM(1 - up) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN prev IS NULL OR prev <> up THEN 1
               ELSE 0 END) AS BIGINT) AS runs
           FROM l)
         SELECT n1, n2, runs,
           CASE WHEN 2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
               * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                 - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))
               / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                 * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                 * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0)) > 0.0
             THEN (CAST(runs AS DOUBLE) - (1.0 + 2.0 * CAST(n1 AS DOUBLE)
                 * CAST(n2 AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))))
               / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                 * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                   - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))
                 / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                   * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                   * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0)))
           END AS z
         FROM agg""",

    // mirrors Stats.partialCorr: one co-moment aggregation, identical
    // Pearson and partialling sequences.
    "q271_partial_corr" ->
      """WITH f AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
             CAST(l_extendedprice AS DOUBLE) AS y,
             CAST(l_tax AS DOUBLE) AS z
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
             AND l_tax IS NOT NULL
             AND NOT isnan(CAST(l_quantity AS DOUBLE))
             AND NOT isnan(CAST(l_extendedprice AS DOUBLE))
             AND NOT isnan(CAST(l_tax AS DOUBLE))),
         a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sx,
             CAST(SUM(CAST(FLOOR(y * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sy,
             CAST(SUM(CAST(FLOOR(z * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sz,
             CAST(SUM(CAST(FLOOR(x * x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sxx,
             CAST(SUM(CAST(FLOOR(y * y * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS syy,
             CAST(SUM(CAST(FLOOR(z * z * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS szz,
             CAST(SUM(CAST(FLOOR(x * y * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sxy,
             CAST(SUM(CAST(FLOOR(x * z * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sxz,
             CAST(SUM(CAST(FLOOR(y * z * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS syz
           FROM f),
         rr AS (SELECT n, CAST(n AS DOUBLE) AS nd, sx, sy, sz,
             sxx, syy, szz, sxy, sxz, syz FROM a),
         rs AS (SELECT n,
             CASE WHEN (nd * sxx - sx * sx) > 0.0
                   AND (nd * syy - sy * sy) > 0.0
               THEN (nd * sxy - sx * sy)
                 / (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy))
             END AS r_xy,
             CASE WHEN (nd * sxx - sx * sx) > 0.0
                   AND (nd * szz - sz * sz) > 0.0
               THEN (nd * sxz - sx * sz)
                 / (sqrt(nd * sxx - sx * sx) * sqrt(nd * szz - sz * sz))
             END AS r_xz,
             CASE WHEN (nd * syy - sy * sy) > 0.0
                   AND (nd * szz - sz * sz) > 0.0
               THEN (nd * syz - sy * sz)
                 / (sqrt(nd * syy - sy * sy) * sqrt(nd * szz - sz * sz))
             END AS r_yz
           FROM rr)
         SELECT n, r_xy, r_xz, r_yz,
           CASE WHEN r_xy IS NOT NULL AND r_xz IS NOT NULL
                 AND r_yz IS NOT NULL
                 AND (1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz) > 0.0
             THEN (r_xy - r_xz * r_yz)
               / sqrt((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz))
           END AS r_xy_z
         FROM rs""",

    // mirrors Stats.cronbachAlpha over the three derived items.
    "q272_cronbach" ->
      """WITH f AS (SELECT CAST(l_quantity AS DOUBLE) AS i1,
             l_discount * 100.0 AS i2, l_tax * 100.0 AS i3
           FROM lineitem
           WHERE CAST(l_quantity AS DOUBLE) IS NOT NULL
             AND NOT isnan(CAST(l_quantity AS DOUBLE))
             AND l_discount * 100.0 IS NOT NULL
             AND NOT isnan(l_discount * 100.0)
             AND l_tax * 100.0 IS NOT NULL AND NOT isnan(l_tax * 100.0)),
         g AS (SELECT i1, i2, i3, i1 + i2 + i3 AS tot FROM f),
         a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(i1 * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS s0,
             CAST(SUM(CAST(FLOOR(i1 * i1 * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS ss0,
             CAST(SUM(CAST(FLOOR(i2 * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS s1,
             CAST(SUM(CAST(FLOOR(i2 * i2 * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS ss1,
             CAST(SUM(CAST(FLOOR(i3 * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS s2,
             CAST(SUM(CAST(FLOOR(i3 * i3 * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS ss2,
             CAST(SUM(CAST(FLOOR(tot * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS st,
             CAST(SUM(CAST(FLOOR(tot * tot * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sst
           FROM g),
         v AS (SELECT n,
             (ss0 - s0 * s0 / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
               + (ss1 - s1 * s1 / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
               + (ss2 - s2 * s2 / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
               AS sum_item_var,
             (sst - st * st / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
               AS total_var
           FROM a)
         SELECT n, 3 AS k, sum_item_var, total_var,
           CASE WHEN total_var > 0.0
             THEN 1.5 * (1.0 - sum_item_var / total_var) END AS alpha
         FROM v""",

    // mirrors Reductions.medianWithCI: row_number rank build (value-at-
    // rank is tie-invariant), identical rank-bound and interpolation
    // formulas (1.96 CAST to DOUBLE — the q268 literal rule).
    "q273_median_ci" ->
      """WITH f AS (SELECT l_returnflag AS g,
             CAST(l_extendedprice AS DOUBLE) AS x
           FROM lineitem
           WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
             AND NOT isnan(CAST(l_extendedprice AS DOUBLE))),
         r AS (SELECT g, x,
             row_number() OVER (PARTITION BY g ORDER BY x) AS r,
             COUNT(*) OVER (PARTITION BY g) AS n
           FROM f),
         b AS (SELECT g, x, r, n,
             GREATEST(1, CAST(CEIL((CAST(n AS DOUBLE)
               - CAST(1.96 AS DOUBLE) * sqrt(CAST(n AS DOUBLE))) / 2.0)
               AS BIGINT)) AS lo,
             LEAST(n, CAST(CEIL((CAST(n AS DOUBLE)
               + CAST(1.96 AS DOUBLE) * sqrt(CAST(n AS DOUBLE))) / 2.0)
               AS BIGINT) + 1) AS hi,
             0.5 * CAST(n - 1 AS DOUBLE) AS pm
           FROM r),
         p AS (SELECT g, MAX(n) AS n,
             MAX(CASE WHEN r - 1 = CAST(FLOOR(pm) AS BIGINT) THEN x END)
               AS mlo,
             MAX(CASE WHEN r - 1 = CAST(CEIL(pm) AS BIGINT) THEN x END)
               AS mhi,
             MAX(CASE WHEN r = lo THEN x END) AS ci_lo,
             MAX(CASE WHEN r = hi THEN x END) AS ci_hi
           FROM b GROUP BY g)
         SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
           CASE WHEN CEIL(0.5 * CAST(n - 1 AS DOUBLE))
               = FLOOR(0.5 * CAST(n - 1 AS DOUBLE)) THEN mlo
             ELSE (CEIL(0.5 * CAST(n - 1 AS DOUBLE))
                 - 0.5 * CAST(n - 1 AS DOUBLE)) * mlo
               + (0.5 * CAST(n - 1 AS DOUBLE)
                 - FLOOR(0.5 * CAST(n - 1 AS DOUBLE))) * mhi END AS median,
           ci_lo, ci_hi
         FROM p ORDER BY g""",

    // mirrors q274: integer monthly cents, first-value rebase.
    "q274_index_series" ->
      """WITH m AS (SELECT date_trunc('month', o_orderdate) AS mt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) * 100 AS BIGINT)
               AS cents
           FROM orders GROUP BY 1),
         w AS (SELECT mt, cents,
             first_value(cents) OVER (ORDER BY mt ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS f
           FROM m)
         SELECT strftime(mt, '%Y-%m-%d') AS month, cents,
           100.0 * CAST(cents AS DOUBLE) / CAST(f AS DOUBLE) AS idx
         FROM w ORDER BY month""",

    // mirrors q267: four integer cells, identical po/pe/kappa sequence.
    "q267_cohens_kappa" ->
      """WITH f AS (SELECT (l_quantity > 25) AS a,
             (l_extendedprice > 30000) AS b
           FROM lineitem
           WHERE (l_quantity > 25) IS NOT NULL
             AND (l_extendedprice > 30000) IS NOT NULL),
         c AS (SELECT
             CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00,
             CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
             CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
             CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11
           FROM f),
         k AS (SELECT n00, n01, n10, n11,
             CAST(n00 + n11 AS DOUBLE)
               / CAST(n00 + n01 + n10 + n11 AS DOUBLE) AS po,
             (CAST(n10 + n11 AS DOUBLE) * CAST(n01 + n11 AS DOUBLE)
               + CAST(n00 + n01 AS DOUBLE) * CAST(n00 + n10 AS DOUBLE))
               / (CAST(n00 + n01 + n10 + n11 AS DOUBLE)
                 * CAST(n00 + n01 + n10 + n11 AS DOUBLE)) AS pe
           FROM c)
         SELECT n00, n01, n10, n11, po, pe,
           CASE WHEN pe < 1.0 THEN (po - pe) / (1.0 - pe) END AS kappa
         FROM k""",

    // mirrors q268: integer counts, the identical Wilson sequence with
    // the 1.96 literal.
    "q268_wilson_ci" ->
      """WITH per AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN value > 90.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS x
           FROM events GROUP BY 1),
         c AS (SELECT event_type, n, x,
             CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p,
             1.0 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / CAST(n AS DOUBLE) AS denom
           FROM per)
         SELECT event_type, n, x, p AS p_hat,
           (p + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (2.0 * CAST(n AS DOUBLE))) / denom
             - CAST(1.96 AS DOUBLE) * sqrt(p * (1.0 - p) / CAST(n AS DOUBLE)
               + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (4.0 * CAST(n AS DOUBLE)
                 * CAST(n AS DOUBLE))) / denom AS ci_lo,
           (p + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (2.0 * CAST(n AS DOUBLE))) / denom
             + CAST(1.96 AS DOUBLE) * sqrt(p * (1.0 - p) / CAST(n AS DOUBLE)
               + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (4.0 * CAST(n AS DOUBLE)
                 * CAST(n AS DOUBLE))) / denom AS ci_hi
         FROM c ORDER BY event_type""",

    // mirrors q269: exact per-cohort moments, pooled-SD d, Hedges' g.
    "q269_effect_size" ->
      """WITH ev AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'even'
               ELSE 'odd' END AS g, CAST(value AS DOUBLE) AS x
           FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         per AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS s,
             CAST(SUM(CAST(FLOOR(x * x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS ss
           FROM ev GROUP BY 1),
         wide AS (SELECT
             MAX(CASE WHEN g = 'even' THEN n END) AS n1,
             MAX(CASE WHEN g = 'even' THEN s END) AS s1,
             MAX(CASE WHEN g = 'even' THEN ss END) AS ss1,
             MAX(CASE WHEN g = 'odd' THEN n END) AS n2,
             MAX(CASE WHEN g = 'odd' THEN s END) AS s2,
             MAX(CASE WHEN g = 'odd' THEN ss END) AS ss2
           FROM per),
         mm AS (SELECT n1, n2,
             s1 / CAST(n1 AS DOUBLE) AS m1, s2 / CAST(n2 AS DOUBLE) AS m2,
             (ss1 - s1 * s1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) AS v1,
             (ss2 - s2 * s2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0) AS v2
           FROM wide),
         dd AS (SELECT n1, n2, m1, m2,
             (m1 - m2) / sqrt(((CAST(n1 AS DOUBLE) - 1.0) * v1
               + (CAST(n2 AS DOUBLE) - 1.0) * v2)
               / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0)) AS d
           FROM mm)
         SELECT n1, n2, m1 AS mean1, m2 AS mean2, d AS cohens_d,
           d * (1.0 - 3.0 / (4.0 * (CAST(n1 AS DOUBLE)
             + CAST(n2 AS DOUBLE)) - 9.0)) AS hedges_g
         FROM dd""",

    // the flagship star join replayed directly.
    "q270_star_join" ->
      """SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount)
             * 10000.0) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
         GROUP BY 1 ORDER BY 1""",

    // mirrors Stats.boxCoxLadder: the identical libm-free transform
    // grid, floor-scaled moment sums, fixed LL sequence.
    "q260_boxcox" -> {
      val zs = Seq(
        ("-1.0", "(1.0 / x - 1.0) / (-1.0)"),
        ("0.0", "ln(x)"),
        ("0.5", "(sqrt(x) - 1.0) / 0.5"),
        ("1.0", "x - 1.0"),
        ("2.0", "(x * x - 1.0) / 2.0"))
      val aggCols = zs.zipWithIndex.map { case ((_, z), i) =>
        s"""CAST(SUM(CAST(FLOOR(($z) * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS s$i,
           CAST(SUM(CAST(FLOOR(($z) * ($z) * 100.0) AS DECIMAL(38,0))) AS DOUBLE) / 100.0 AS ss$i"""
      }.mkString(",\n           ")
      val rowSel = zs.zipWithIndex.map { case ((l, _), i) =>
        s"""SELECT $l AS lambda, n,
             (ss$i - s$i * s$i / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
               AS var_z, slnx FROM agg"""
      }.mkString("\n           UNION ALL ")
      s"""WITH c AS (SELECT CAST(value AS DOUBLE) AS x FROM events
           WHERE value IS NOT NULL AND NOT isnan(value) AND value > 0.0),
         agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(ln(x) * 1000000.0) AS DECIMAL(38,0)))
             AS DOUBLE) / 1000000.0 AS slnx,
           $aggCols
           FROM c),
         rows_ AS ($rowSel),
         ll AS (SELECT lambda, n, var_z,
             CASE WHEN var_z > 0.0 THEN (-0.5) * CAST(n AS DOUBLE)
               * ln(var_z) + (lambda - 1.0) * slnx END AS loglik
           FROM rows_)
         SELECT lambda, n, var_z, loglik,
           row_number() OVER (ORDER BY loglik DESC NULLS LAST,
             lambda ASC) = 1 AS is_best
         FROM ll ORDER BY lambda"""
    },

    // mirrors Stats.woeTable: integer counts, identical ln/IV sequence.
    "q261_woe" ->
      """WITH per AS (SELECT source AS category,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS goods,
             CAST(SUM(CASE WHEN NOT (lang = 'en') THEN 1 ELSE 0 END)
               AS BIGINT) AS bads
           FROM documents
           WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1),
         tot AS (SELECT SUM(goods) AS g, SUM(bads) AS b FROM per),
         base AS (SELECT category, n, goods, bads,
             CASE WHEN goods > 0 AND bads > 0
               THEN ln((CAST(goods AS DOUBLE) / CAST(g AS DOUBLE))
                 / (CAST(bads AS DOUBLE) / CAST(b AS DOUBLE))) END AS woe,
             CASE WHEN goods > 0 AND bads > 0
               THEN (CAST(goods AS DOUBLE) / CAST(g AS DOUBLE)
                 - CAST(bads AS DOUBLE) / CAST(b AS DOUBLE))
                 * ln((CAST(goods AS DOUBLE) / CAST(g AS DOUBLE))
                   / (CAST(bads AS DOUBLE) / CAST(b AS DOUBLE)))
               ELSE 0.0 END AS term
           FROM per CROSS JOIN tot),
         iv AS (SELECT CAST(SUM(CAST(FLOOR(term * 1000000000.0)
             AS DECIMAL(38,0))) AS DOUBLE) / 1000000000.0 AS iv
           FROM base)
         SELECT category, n, goods, bads,
           CAST(CAST(FLOOR(woe * 1000000000.0) AS BIGINT) AS DOUBLE)
             / 1000000000.0 AS woe,
           iv
         FROM base CROSS JOIN iv ORDER BY category""",

    // mirrors Reductions.giniCoefficient: the tie-invariant sorted-sum
    // numerator in exact HUGEINT, one final double division.
    "q262_gini_coeff" ->
      """WITH per AS (SELECT
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) * 100 AS BIGINT)
               AS cents
           FROM orders GROUP BY o_custkey),
         f AS (SELECT cents FROM per
           WHERE cents IS NOT NULL AND cents >= 0),
         r AS (SELECT cents,
             row_number() OVER (ORDER BY cents) AS i,
             COUNT(*) OVER () AS n, SUM(cents) OVER () AS s
           FROM f),
         num AS (SELECT
             CAST(SUM(CAST(2 * i - n - 1 AS HUGEINT)
               * CAST(cents AS HUGEINT)) AS DECIMAL(38,0)) AS num,
             MAX(n) AS n, MAX(s) AS s
           FROM r)
         SELECT CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS total,
           CASE WHEN n > 0 AND s > 0
             THEN CAST((CAST(num AS HUGEINT) * 1000000000)
               // (CAST(n AS HUGEINT) * CAST(s AS HUGEINT)) AS DOUBLE)
               / 1000000000.0 END AS gini
         FROM num""",

    // mirrors q263: keyed lead gaps in integer microseconds, identical
    // /1e6 seconds, quantile_cont per type (the groupQuantiles pin).
    "q263_interarrival" ->
      """WITH g AS (SELECT event_type,
             CAST(lead(epoch_us(ts)) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) - epoch_us(ts) AS BIGINT) AS gap_us
           FROM events),
         f AS (SELECT event_type,
             CAST(gap_us AS DOUBLE) / 1000000.0 AS x
           FROM g WHERE gap_us IS NOT NULL AND event_type IS NOT NULL)
         SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           quantile_cont(x, 0.5) AS p50, quantile_cont(x, 0.9) AS p90
         FROM f GROUP BY 1 ORDER BY 1""",

    // mirrors q255: the same islands grouping; the struct max is the
    // (len DESC, start DESC) row_number pick.
    "q255_streaks" ->
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
           FROM events),
         g AS (SELECT user_id, day,
             date_diff('day', DATE '2024-01-01', day)
               - row_number() OVER (PARTITION BY user_id ORDER BY day)
               AS grp
           FROM days),
         st AS (SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len,
             MIN(day) AS start_day
           FROM g GROUP BY 1, 2),
         rk AS (SELECT user_id, len, start_day,
             row_number() OVER (PARTITION BY user_id
               ORDER BY len DESC, start_day DESC) AS rn
           FROM st)
         SELECT user_id, len AS longest_streak,
           strftime(start_day, '%Y-%m-%d') AS streak_start
         FROM rk WHERE rn = 1 ORDER BY user_id""",

    // mirrors Stats.jarqueBera: raw floor-scaled power sums (x at 1e6,
    // x² 1e6, x³ 1e4, x⁴ 1e2), then the identical pinned moment/JB
    // arithmetic sequence.
    "q361_jarque_bera" ->
      """WITH a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR((value) * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS s1,
             CAST(SUM(CAST(FLOOR((value * value) * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS s2,
             CAST(SUM(CAST(FLOOR((value * value * value) * 10000.0) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS s3,
             CAST(SUM(CAST(FLOOR((value * value * value * value) * 100.0) AS DECIMAL(38,0))) AS DOUBLE) / 100.0 AS s4
           FROM events
           WHERE event_type IS NOT NULL AND value IS NOT NULL
             AND NOT isnan(value)
           GROUP BY 1),
         m AS (SELECT *, CAST(n AS DOUBLE) AS nd,
             s1 / CAST(n AS DOUBLE) AS mu FROM a),
         c AS (SELECT *, s2 / nd - mu * mu AS m2,
             s3 / nd - 3.0 * mu * (s2 / nd) + 2.0 * mu * mu * mu AS m3,
             s4 / nd - 4.0 * mu * (s3 / nd) + 6.0 * mu * mu * (s2 / nd)
               - 3.0 * mu * mu * mu * mu AS m4
           FROM m),
         k AS (SELECT *, m3 / (m2 * sqrt(m2)) AS sk,
             m4 / (m2 * m2) AS ku FROM c)
         SELECT event_type, n,
           CASE WHEN m2 > 0.0 THEN sk END AS skewness,
           CASE WHEN m2 > 0.0 THEN ku END AS kurtosis,
           CASE WHEN m2 > 0.0 THEN (nd / 6.0) * (sk * sk
             + (ku - 3.0) * (ku - 3.0) / 4.0) END AS jb
         FROM k ORDER BY event_type""",

    // mirrors Stats.tukeyHsd: per-group exact moments, the anova-style
    // re-floored cross-group SSW (bt at 1e9, sxx at 1e6), then the
    // Tukey-Kramer q over the a<b pair frame. g2 is referenced three
    // times -> MATERIALIZED (the sf1.0 CTE-inlining lesson).
    "q362_tukey_hsd" ->
      """WITH g2 AS MATERIALIZED (
           SELECT CAST(event_type AS VARCHAR) AS g,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR((value) * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sx,
             CAST(SUM(CAST(FLOOR((value * value) * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sxx
           FROM events
           WHERE event_type IS NOT NULL AND value IS NOT NULL
             AND NOT isnan(value)
           GROUP BY 1),
         g3 AS (SELECT *, sx * sx / CAST(n AS DOUBLE) AS bt FROM g2),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, SUM(n) AS nn,
             CAST(SUM(CAST(FLOOR(sxx * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sxxall,
             CAST(SUM(CAST(FLOOR(bt * 1000000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000.0 AS btall
           FROM g3),
         msw AS (SELECT k, nn, CASE WHEN nn > k
             THEN (sxxall - btall) / CAST(nn - k AS DOUBLE) END AS msw
           FROM tot)
         SELECT a.g AS group_a, b.g AS group_b, a.n AS n_a, b.n AS n_b,
           a.sx / CAST(a.n AS DOUBLE) AS mean_a,
           b.sx / CAST(b.n AS DOUBLE) AS mean_b,
           CASE WHEN m.msw > 0.0 THEN
             abs(a.sx / CAST(a.n AS DOUBLE) - b.sx / CAST(b.n AS DOUBLE))
               / sqrt((m.msw / 2.0) * (1.0 / CAST(a.n AS DOUBLE)
                 + 1.0 / CAST(b.n AS DOUBLE))) END AS q_stat
         FROM g2 a JOIN g2 b ON a.g < b.g CROSS JOIN msw m
         ORDER BY group_a, group_b""",

    // mirrors Stats.pageHinkley (delta 0.1, lambda 200.0): hourly exact
    // means, then the floor-scaled-long cumulates — running mean from the
    // 1e6 cumsum, terms at 1e6, cumulative min floored at the initial 0 —
    // replayed as sequential window cumulates.
    "q363_page_hinkley" ->
      """WITH h AS MATERIALIZED (SELECT date_trunc('hour', ts) AS h,
             (CAST(SUM(CAST(FLOOR((value) * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0) / COUNT(*) AS m
           FROM events
           WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
           GROUP BY 1),
         s1 AS (SELECT h, m, ROW_NUMBER() OVER (ORDER BY h) AS t,
             SUM(CAST(FLOOR(m * 1000000.0) AS BIGINT))
               OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS cumx
           FROM h),
         s2 AS (SELECT h, t,
             CAST(FLOOR((m - (CAST(cumx AS DOUBLE) / 1000000.0)
               / CAST(t AS DOUBLE) - 0.1) * 1000000.0) AS BIGINT) AS tv
           FROM s1),
         s3 AS (SELECT h, SUM(tv)
             OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS mt FROM s2),
         s4 AS (SELECT h, mt,
             mt - LEAST(CAST(0 AS BIGINT),
               MIN(mt) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING)) AS pht
           FROM s3)
         SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM h) AS n_points,
           CAST(COALESCE(MAX(pht), 0) AS DOUBLE) / 1000000.0 AS ph_max,
           COALESCE(MAX(CAST(pht AS DOUBLE) / 1000000.0 > 200.0), FALSE)
             AS alarm,
           MIN(CASE WHEN CAST(pht AS DOUBLE) / 1000000.0 > 200.0
             THEN h END) AS alarm_ts
         FROM s4""",

    // mirrors Stats.grangerLag1 (y=click, x=view): integer hourly count
    // moments after a lag-1 shift, restricted OLS + the q112 3x3 Cramer
    // sequence, F in the pinned order.
    "q364_granger" ->
      """WITH h AS (SELECT date_trunc('hour', ts) AS h,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS y,
             SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x
           FROM events WHERE ts IS NOT NULL GROUP BY 1),
         l AS (SELECT y, x, LAG(y, 1) OVER (ORDER BY h) AS y1,
             LAG(x, 1) OVER (ORDER BY h) AS x1 FROM h),
         f AS (SELECT * FROM l WHERE y1 IS NOT NULL AND x1 IS NOT NULL),
         a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS DOUBLE) AS sy, CAST(SUM(y * y) AS DOUBLE) AS syy,
             CAST(SUM(y1) AS DOUBLE) AS s1, CAST(SUM(y1 * y1) AS DOUBLE) AS p11,
             CAST(SUM(x1) AS DOUBLE) AS s2, CAST(SUM(x1 * x1) AS DOUBLE) AS p22,
             CAST(SUM(y1 * x1) AS DOUBLE) AS p12,
             CAST(SUM(y * y1) AS DOUBLE) AS q1,
             CAST(SUM(y * x1) AS DOUBLE) AS q2
           FROM f),
         b AS (SELECT *, CAST(n AS DOUBLE) AS nd FROM a),
         c AS (SELECT *,
             nd * p11 - s1 * s1 AS s1c,
             nd * q1 - s1 * sy AS sxyc,
             nd * syy - sy * sy AS syyc,
             nd * (p11 * p22 - p12 * p12) - s1 * (s1 * p22 - p12 * s2)
               + s2 * (s1 * p12 - p11 * s2) AS det,
             sy * (p11 * p22 - p12 * p12) - s1 * (q1 * p22 - p12 * q2)
               + s2 * (q1 * p12 - p11 * q2) AS det0,
             nd * (q1 * p22 - p12 * q2) - sy * (s1 * p22 - p12 * s2)
               + s2 * (s1 * q2 - q1 * s2) AS det1,
             nd * (p11 * q2 - q1 * p12) - s1 * (s1 * q2 - q1 * s2)
               + sy * (s1 * p12 - p11 * s2) AS det2
           FROM b),
         e AS (SELECT *,
             CASE WHEN s1c > 0.0
               THEN (syyc - sxyc * sxyc / s1c) / nd END AS rss_r,
             CASE WHEN det <> 0.0
               THEN syy - (det0 / det) * sy - (det1 / det) * q1
                 - (det2 / det) * q2 END AS rss_f
           FROM c)
         SELECT n, rss_r, rss_f,
           CASE WHEN n > 3 AND rss_f > 0.0
             THEN (rss_r - rss_f) / (rss_f / (nd - 3.0)) END AS f_stat
         FROM e""",

    // mirrors Graph.ssspWeighted on the symmetric trading graph (weight =
    // cheapest quantity per relationship): 3 unrolled Bellman-Ford
    // rounds, integer min/+ relaxations, multiply-referenced frames
    // MATERIALIZED.
    "q365_sssp" ->
      """WITH j AS (SELECT o_custkey * 2 AS cnode, l_suppkey * 2 + 1 AS snode,
             CAST(FLOOR(l_quantity) AS BIGINT) AS w
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         e AS MATERIALIZED (SELECT src, dst, MIN(w) AS w FROM (
             SELECT cnode AS src, snode AS dst, w FROM j
             UNION ALL SELECT snode, cnode, w FROM j) u
           GROUP BY 1, 2),
         d0 AS MATERIALIZED (SELECT (SELECT MIN(src) FROM e) AS id,
             CAST(0 AS BIGINT) AS dist),
         r1 AS (SELECT e.dst AS id, d.dist + e.w AS dist
           FROM e JOIN d0 d ON e.src = d.id),
         d1 AS MATERIALIZED (SELECT id, MIN(dist) AS dist FROM (
             SELECT * FROM d0 UNION ALL SELECT * FROM r1) u GROUP BY 1),
         r2 AS (SELECT e.dst AS id, d.dist + e.w AS dist
           FROM e JOIN d1 d ON e.src = d.id),
         d2 AS MATERIALIZED (SELECT id, MIN(dist) AS dist FROM (
             SELECT * FROM d1 UNION ALL SELECT * FROM r2) u GROUP BY 1),
         r3 AS (SELECT e.dst AS id, d.dist + e.w AS dist
           FROM e JOIN d2 d ON e.src = d.id),
         d3 AS (SELECT id, MIN(dist) AS dist FROM (
             SELECT * FROM d2 UNION ALL SELECT * FROM r3) u GROUP BY 1)
         SELECT id, dist FROM d3 ORDER BY id""",

    // mirrors Stats.bradleyTerry on the within-order brand price duels:
    // 5 unrolled MM rounds, denominators and normalizers floor-scaled to
    // BIGINT at 1e9 (order-free), every multiply-referenced CTE
    // MATERIALIZED.
    "q366_bradley_terry" -> {
      val rounds = (1 to 5).map { r =>
        val prev = if (r == 1) "p0" else s"p${r - 1}"
        s"""d$r AS (SELECT m.i AS item,
               SUM(CAST(FLOOR(m.n / (pi.p + pj.p) * 1000000000.0)
                 AS BIGINT)) AS d
             FROM pm m JOIN $prev pi ON m.i = pi.item
               JOIN $prev pj ON m.j = pj.item
             GROUP BY 1),
           raw$r AS MATERIALIZED (SELECT t.item,
               CASE WHEN d.d > 0
                 THEN CAST(COALESCE(w.n, 0) AS DOUBLE)
                   / (CAST(d.d AS DOUBLE) / 1000000000.0)
                 ELSE pp.p END AS p
             FROM it t LEFT JOIN d$r d ON t.item = d.item
               LEFT JOIN wins w ON t.item = w.item
               JOIN $prev pp ON t.item = pp.item),
           s$r AS (SELECT SUM(CAST(FLOOR(p * 1000000000.0) AS BIGINT)) AS s
             FROM raw$r),
           p$r AS MATERIALIZED (SELECT item,
               p / (CAST((SELECT s FROM s$r) AS DOUBLE) / 1000000000.0) AS p
             FROM raw$r)"""
      }.mkString(",\n         ")
      s"""WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey,
             l_extendedprice, p_brand
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         cmp AS MATERIALIZED (SELECT
             CASE WHEN a.l_extendedprice > b.l_extendedprice
               THEN a.p_brand ELSE b.p_brand END AS w,
             CASE WHEN a.l_extendedprice > b.l_extendedprice
               THEN b.p_brand ELSE a.p_brand END AS l
           FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
             AND (a.l_linenumber, a.l_partkey, a.l_extendedprice)
               < (b.l_linenumber, b.l_partkey, b.l_extendedprice)
           WHERE a.p_brand <> b.p_brand
             AND a.l_extendedprice <> b.l_extendedprice),
         wins AS MATERIALIZED (SELECT w AS item,
             CAST(COUNT(*) AS BIGINT) AS n FROM cmp GROUP BY 1),
         pm0 AS MATERIALIZED (SELECT LEAST(w, l) AS i, GREATEST(w, l) AS j,
             CAST(COUNT(*) AS BIGINT) AS n FROM cmp GROUP BY 1, 2),
         pm AS MATERIALIZED (SELECT i, j, n FROM pm0
           UNION ALL SELECT j, i, n FROM pm0),
         it AS MATERIALIZED (SELECT DISTINCT i AS item FROM pm),
         p0 AS MATERIALIZED (SELECT item,
             1.0 / CAST((SELECT COUNT(*) FROM it) AS DOUBLE) AS p FROM it),
         $rounds
         SELECT t.item, CAST(COALESCE(w.n, 0) AS BIGINT) AS n_wins,
           CAST(COALESCE(nc.n, 0) AS BIGINT) AS n_comparisons,
           p5.p AS strength
         FROM it t LEFT JOIN wins w ON t.item = w.item
           LEFT JOIN (SELECT i AS item, SUM(n) AS n FROM pm GROUP BY 1) nc
             ON t.item = nc.item
           JOIN p5 ON t.item = p5.item
         ORDER BY t.item"""
    },

    // mirrors Ml.logisticSimpleByGroup (cohort = user_id % 4, y = click):
    // 4 unrolled IRLS rounds — per round the sigmoid projection, then the
    // floor-scaled weighted normal-equation sums (w 1e9, wx 1e6, wx² 1e4,
    // u = w·eta + (y−p) at 1e6, ux 1e4) and the closed 2x2 solve in the
    // pinned order.
    "q367_logistic" -> {
      def fsql(e: String, p: String): String =
        s"CAST(SUM(CAST(FLOOR(($e) * $p) AS DECIMAL(38,0))) AS DOUBLE) / $p"
      val rounds = (1 to 4).map { r =>
        val prev = s"b${r - 1}"
        s"""e$r AS (SELECT f.g, f.x, f.y, b.b0 + b.b1 * f.x AS eta,
               1.0 / (1.0 + exp(-(b.b0 + b.b1 * f.x))) AS p
             FROM f JOIN $prev b USING (g)),
           w$r AS (SELECT g, x, y, p * (1.0 - p) AS w,
               (p * (1.0 - p)) * eta + (y - p) AS u
             FROM e$r),
           a$r AS (SELECT g,
               ${fsql("w", "1000000000.0")} AS sw,
               ${fsql("w * x", "1000000.0")} AS swx,
               ${fsql("w * x * x", "10000.0")} AS swxx,
               ${fsql("u", "1000000.0")} AS su,
               ${fsql("u * x", "10000.0")} AS sux
             FROM w$r GROUP BY 1),
           b$r AS MATERIALIZED (SELECT b.g,
               CASE WHEN a.sw * a.swxx - a.swx * a.swx > 0.0
                 THEN (a.swxx * a.su - a.swx * a.sux)
                   / (a.sw * a.swxx - a.swx * a.swx)
                 ELSE b.b0 END AS b0,
               CASE WHEN a.sw * a.swxx - a.swx * a.swx > 0.0
                 THEN (a.sw * a.sux - a.swx * a.su)
                   / (a.sw * a.swxx - a.swx * a.swx)
                 ELSE b.b1 END AS b1
             FROM $prev b LEFT JOIN a$r a USING (g))"""
      }.mkString(",\n         ")
      s"""WITH f AS MATERIALIZED (SELECT user_id % 4 AS g,
             CAST(value AS DOUBLE) AS x,
             CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END AS y
           FROM events
           WHERE user_id IS NOT NULL AND value IS NOT NULL
             AND NOT isnan(CAST(value AS DOUBLE))),
         nf AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS n_pos
           FROM f GROUP BY 1),
         b0 AS (SELECT g, 0.0 AS b0, 0.0 AS b1 FROM nf),
         $rounds
         SELECT nf.g AS cohort, nf.n, nf.n_pos,
           b4.b0 AS intercept, b4.b1 AS slope
         FROM nf JOIN b4 USING (g) ORDER BY cohort"""
    },

    // mirrors Stats.dtwHourlyProfile: the same two-level exact-mean
    // profiles, then the kernel's 24x24 L1 DTW recurrence replayed cell
    // by cell as DuckDB lateral column aliases (pure abs/min/+ on doubles
    // in a fixed order — bit-exact without floor scaling).
    "q369_dtw_profile" -> {
      val fs6 = (e: String) =>
        s"CAST(SUM(CAST(FLOOR(($e) * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0"
      def prof(alias: String) = (0 until 24).map(h =>
        s"COALESCE(MAX(CASE WHEN h = $h THEN m END), 0.0) AS $alias$h")
        .mkString(",\n             ")
      // One MATERIALIZED CTE per DP row: within a row the lateral aliases
      // form a LINEAR chain (each cell referenced once by its right
      // neighbor), while cross-row references hit materialized columns —
      // a single flat SELECT of all 576 cells made DuckDB's alias
      // inlining expand the 3-way recurrence exponentially (15 GB / no
      // convergence; the CTE-inlining failure class from the sf1.0
      // sweep, in lateral-alias form).
      val carry = ((0 until 24).map(h => s"x$h") ++
        (0 until 24).map(h => s"t$h")).mkString(", ")
      def rowName(i: Int, j: Int) = if (i % 2 == 0) s"a$j" else s"b$j"
      val rowCtes = (0 until 24).map { i =>
        val cells = (0 until 24).map { j =>
          val c = s"abs(x$i - t$j)"
          val me = rowName(i, j)
          if (i == 0 && j == 0) s"$c AS $me"
          else if (i == 0) s"${rowName(0, j - 1)} + $c AS $me"
          else if (j == 0) s"${rowName(i - 1, 0)} + $c AS $me"
          else s"$c + least(${rowName(i - 1, j)}, ${rowName(i - 1, j - 1)}, " +
            s"${rowName(i, j - 1)}) AS $me"
        }.mkString(",\n             ")
        val src = if (i == 0) "pr CROSS JOIN tpl" else s"r${i - 1}"
        s"""r$i AS MATERIALIZED (SELECT user_id, n_obs, $carry,
             $cells
           FROM $src)"""
      }.mkString(",\n         ")
      s"""WITH base AS (SELECT user_id, EXTRACT(hour FROM ts) AS h,
             CAST(value AS DOUBLE) AS x
           FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL
             AND value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
         tm AS (SELECT h, ${fs6("x")} / COUNT(*) AS m
           FROM base GROUP BY 1),
         tpl AS (SELECT
             ${prof("t")}
           FROM tm),
         ph AS (SELECT user_id, h, CAST(COUNT(*) AS BIGINT) AS n,
             ${fs6("x")} / COUNT(*) AS m
           FROM base GROUP BY 1, 2),
         pr AS (SELECT user_id, SUM(n) AS n_obs,
             ${prof("x")}
           FROM ph GROUP BY 1),
         $rowCtes
         SELECT user_id, CAST(n_obs AS BIGINT) AS n_obs,
           ${rowName(23, 23)} AS dtw
         FROM r23 ORDER BY user_id"""
    },

    // mirrors Stats.wasserstein1: per-value cumulative counts + LEAD gap
    // as window cumulates, each term's double product in the pinned order
    // and floor-scaled at 1e9 before summation.
    "q370_wasserstein" ->
      """WITH f AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS x
           FROM events
           WHERE event_type IN ('click', 'view')
             AND value IS NOT NULL AND NOT isnan(value)),
         g AS (SELECT x,
             SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS c2
           FROM f GROUP BY 1),
         s AS (SELECT x,
             SUM(c1) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cc1,
             SUM(c2) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cc2,
             LEAD(x) OVER (ORDER BY x) AS nx
           FROM g),
         tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(SUM(c2) AS BIGINT) AS n2 FROM g),
         terms AS (SELECT
             CAST(FLOOR((CAST(abs(cc1 * t.n2 - cc2 * t.n1) AS DOUBLE)
               * (nx - x)) / (CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE))
               * 1000000000.0) AS BIGINT) AS tv
           FROM s CROSS JOIN tot t WHERE nx IS NOT NULL)
         SELECT t.n1, t.n2,
           CASE WHEN t.n1 > 0 AND t.n2 > 0 THEN
             CAST((SELECT COALESCE(SUM(tv), 0) FROM terms) AS DOUBLE)
               / 1000000000.0 END AS w1
         FROM tot t""",

    // mirrors Stats.cliffsDelta: q151's doubled-rank CTEs, delta =
    // (2U1 - n1*n2)/(n1*n2) integer-exactly, Romano magnitude labels.
    "q371_cliffs_delta" ->
      """WITH f AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS x
           FROM events
           WHERE event_type IN ('click', 'purchase')
             AND value IS NOT NULL AND NOT isnan(value)),
         r AS (SELECT g,
             2 * rank() OVER (ORDER BY x)
               + COUNT(*) OVER (PARTITION BY x) - 1 AS dr
           FROM f),
         agg AS (SELECT
             CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN g = 'click' THEN dr ELSE 0 END) AS BIGINT) AS r1d
           FROM r),
         d AS (SELECT n1, n2,
             CASE WHEN n1 > 0 AND n2 > 0 THEN
               CAST(r1d - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) END AS delta
           FROM agg)
         SELECT n1, n2, delta,
           CASE WHEN delta IS NULL THEN NULL
                WHEN abs(delta) < 0.147 THEN 'negligible'
                WHEN abs(delta) < 0.33 THEN 'small'
                WHEN abs(delta) < 0.474 THEN 'medium'
                ELSE 'large' END AS magnitude
         FROM d""",

    // mirrors Stats.energyDistance: the q370 cumulate with the three
    // closed-form integrands (cross F1(1-F2)+F2(1-F1); within 2F(1-F)),
    // each term floor-scaled at 1e9 in the pinned product order.
    "q372_energy_distance" ->
      """WITH f AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS x
           FROM events
           WHERE event_type IN ('click', 'view')
             AND value IS NOT NULL AND NOT isnan(value)),
         g AS (SELECT x,
             SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS c2
           FROM f GROUP BY 1),
         s AS (SELECT x,
             SUM(c1) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cc1,
             SUM(c2) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cc2,
             LEAD(x) OVER (ORDER BY x) AS nx
           FROM g),
         tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(SUM(c2) AS BIGINT) AS n2 FROM g),
         terms AS (SELECT
             CAST(FLOOR((CAST(cc1 * (t.n2 - cc2) + cc2 * (t.n1 - cc1) AS DOUBLE)
               * (nx - x)) / (CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE))
               * 1000000000.0) AS BIGINT) AS txy,
             CAST(FLOOR((CAST(2 * cc1 * (t.n1 - cc1) AS DOUBLE)
               * (nx - x)) / (CAST(t.n1 AS DOUBLE) * CAST(t.n1 AS DOUBLE))
               * 1000000000.0) AS BIGINT) AS txx,
             CAST(FLOOR((CAST(2 * cc2 * (t.n2 - cc2) AS DOUBLE)
               * (nx - x)) / (CAST(t.n2 AS DOUBLE) * CAST(t.n2 AS DOUBLE))
               * 1000000000.0) AS BIGINT) AS tyy
           FROM s CROSS JOIN tot t WHERE nx IS NOT NULL),
         e AS (SELECT
             CAST(COALESCE(SUM(txy), 0) AS DOUBLE) / 1000000000.0 AS e_xy,
             CAST(COALESCE(SUM(txx), 0) AS DOUBLE) / 1000000000.0 AS e_xx,
             CAST(COALESCE(SUM(tyy), 0) AS DOUBLE) / 1000000000.0 AS e_yy
           FROM terms)
         SELECT t.n1, t.n2,
           CASE WHEN t.n1 > 0 AND t.n2 > 0 THEN e.e_xy END AS e_xy,
           CASE WHEN t.n1 > 0 AND t.n2 > 0 THEN e.e_xx END AS e_xx,
           CASE WHEN t.n1 > 0 AND t.n2 > 0 THEN e.e_yy END AS e_yy,
           CASE WHEN t.n1 > 0 AND t.n2 > 0 THEN
             2.0 * e.e_xy - e.e_xx - e.e_yy END AS energy
         FROM tot t CROSS JOIN e""",

    // mirrors Stats.adfTest (lag-0 ADF with constant on the hourly click
    // counts): integer moments after one lag shift, the granger-style
    // nested closed forms, degenerate gates to NULL.
    "q374_adf" ->
      """WITH h AS (SELECT date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS y
           FROM events WHERE ts IS NOT NULL AND event_type = 'click'
           GROUP BY 1),
         l AS (SELECT y, LAG(y, 1) OVER (ORDER BY h) AS y1 FROM h),
         f AS (SELECT y1, y - y1 AS d FROM l WHERE y1 IS NOT NULL),
         a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y1) AS DOUBLE) AS sx,
             CAST(SUM(y1 * y1) AS DOUBLE) AS sxx,
             CAST(SUM(d) AS DOUBLE) AS sd,
             CAST(SUM(d * d) AS DOUBLE) AS sdd,
             CAST(SUM(y1 * d) AS DOUBLE) AS sxd FROM f),
         b AS (SELECT *, CAST(n AS DOUBLE) AS nd FROM a),
         c AS (SELECT *,
             nd * sxx - sx * sx AS sxxc,
             nd * sxd - sx * sd AS sxdc,
             nd * sdd - sd * sd AS sddc FROM b),
         e AS (SELECT *,
             CASE WHEN sxxc > 0.0 THEN sxdc / sxxc END AS gamma,
             (sddc - sxdc * sxdc / sxxc) / nd AS rss FROM c),
         g AS (SELECT *,
             CASE WHEN sxxc > 0.0 AND rss > 0.0 AND n > 2
               THEN sqrt((rss / (nd - 2.0)) / (sxxc / nd)) END AS se
           FROM e)
         SELECT n, gamma, se AS se_gamma, gamma / se AS df_stat,
           CASE WHEN gamma / se IS NOT NULL
             THEN CAST(gamma / se < -2.86 AS INT) END AS stationary_5pct
         FROM g""",

    // mirrors Stats.cochranArmitage: ordinal priority scores 0..4,
    // success = finished; exact BIGINT score moments, one Z sequence.
    "q375_trend_test" ->
      """WITH b AS (SELECT
             CASE o_orderpriority WHEN '1-URGENT' THEN 0 WHEN '2-HIGH' THEN 1
               WHEN '3-MEDIUM' THEN 2 WHEN '4-NOT SPECIFIED' THEN 3
               WHEN '5-LOW' THEN 4 END AS s,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
           FROM orders),
         g AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS r
           FROM b WHERE s IS NOT NULL GROUP BY 1),
         a AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total,
             CAST(SUM(r) AS BIGINT) AS n_success,
             CAST(SUM(s * r) AS BIGINT) AS sr,
             CAST(SUM(s * n) AS BIGINT) AS sn,
             CAST(SUM(s * s * n) AS BIGINT) AS ssn FROM g),
         c AS (SELECT *, CAST(n_total AS DOUBLE) AS nd,
             CAST(n_success AS DOUBLE) / CAST(n_total AS DOUBLE) AS p
           FROM a),
         e AS (SELECT *,
             CAST(sr AS DOUBLE) - CAST(sn AS DOUBLE) * p AS t,
             p * (1.0 - p) * (CAST(ssn AS DOUBLE)
               - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE) / nd) AS v
           FROM c)
         SELECT n_total, n_success,
           CASE WHEN v > 0.0 THEN t / sqrt(v) END AS z_trend
         FROM e""",

    // mirrors Stats.benfordTest on l_extendedprice: string first-digit
    // extraction off the DECIMAL(38,6) rendering, the interpolated
    // log10(1+1/d) literals, chi2 floor-scaled at 10^6.
    "q376_benford" -> {
      // STRING-cast each literal: DuckDB routes a bare numeric literal
      // through DECIMAL (re-rounds the last ulp) but parses a quoted
      // string straight to the IEEE double — the only path that
      // round-trips the JVM's log10 exactly (JVM vs libm log10 already
      // differ in the final ulp for d = 3)
      val caseExp = (1 to 9).map(dg =>
        s"WHEN $dg THEN CAST('${math.log10(1.0 + 1.0 / dg)}' AS DOUBLE)")
        .mkString(" ")
      s"""WITH v AS (SELECT regexp_replace(
             CAST(CAST(l_extendedprice AS DECIMAL(38,6)) AS VARCHAR),
             '[^1-9]', '', 'g') AS ds
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_extendedprice > 0),
         o AS (SELECT CAST(substr(ds, 1, 1) AS INT) AS digit,
             CAST(COUNT(*) AS BIGINT) AS n_obs
           FROM v WHERE length(ds) > 0 GROUP BY 1),
         dg AS (SELECT CAST(range + 1 AS INT) AS digit FROM range(0, 9)),
         full_t AS (SELECT d.digit, COALESCE(o.n_obs, 0) AS n_obs,
             CASE d.digit $caseExp END AS expected_share
           FROM dg d LEFT JOIN o ON d.digit = o.digit),
         tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS nn FROM full_t),
         term AS (SELECT f.digit, f.n_obs, f.expected_share, t.nn,
             CAST(FLOOR((CAST(f.n_obs AS DOUBLE)
                 - CAST(t.nn AS DOUBLE) * f.expected_share)
               * (CAST(f.n_obs AS DOUBLE)
                 - CAST(t.nn AS DOUBLE) * f.expected_share)
               / (CAST(t.nn AS DOUBLE) * f.expected_share)
               * 1000000.0) AS DECIMAL(38,0)) AS tv
           FROM full_t f CROSS JOIN tot t),
         chi AS (SELECT CAST(SUM(tv) AS DOUBLE) / 1000000.0 AS chi2
           FROM term)
         SELECT m.digit, m.n_obs,
           CAST(m.n_obs AS DOUBLE) / CAST(m.nn AS DOUBLE) AS share,
           m.expected_share, c.chi2
         FROM term m CROSS JOIN chi c ORDER BY m.digit"""
    },

    // mirrors Stats.demingRegression (lambda = 1 TLS of price/1000 on
    // quantity): floor-scaled 10^6 co-moments, the centered closed form
    // in the pinned order, OLS slope alongside.
    "q377_deming" ->
      """WITH b AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
             CAST(l_extendedprice AS DOUBLE) / 1000.0 AS y
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
         a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sx,
             CAST(SUM(CAST(FLOOR(y * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sy,
             CAST(SUM(CAST(FLOOR(x * x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sxx,
             CAST(SUM(CAST(FLOOR(y * y * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS syy,
             CAST(SUM(CAST(FLOOR(x * y * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sxy
           FROM b),
         c AS (SELECT *, CAST(n AS DOUBLE) AS nd,
             sxx - sx * sx / CAST(n AS DOUBLE) AS sxxc,
             syy - sy * sy / CAST(n AS DOUBLE) AS syyc,
             sxy - sx * sy / CAST(n AS DOUBLE) AS sxyc FROM a),
         e AS (SELECT *,
             CASE WHEN abs(sxyc) > 0.0 THEN
               (syyc - sxxc + sqrt((syyc - sxxc) * (syyc - sxxc)
                 + 4.0 * sxyc * sxyc)) / (2.0 * sxyc) END AS slope
           FROM c)
         SELECT n, slope,
           CASE WHEN slope IS NOT NULL
             THEN sy / nd - slope * (sx / nd) END AS intercept,
           CASE WHEN sxxc > 0.0 THEN sxyc / sxxc END AS slope_ols
         FROM e""",

    // mirrors Indicators.obv: integer cents/micro-units, signed by the
    // keyed lag's delta, exact running BIGINT cumulate.
    "q378_obv" ->
      """WITH b AS (SELECT event_id, event_type, ts,
             CAST(FLOOR(CAST(value AS DOUBLE) * 100.0) AS BIGINT) AS pc,
             CAST(FLOOR(CAST(event_id % 100 + 1 AS DOUBLE) * 1000000.0)
               AS BIGINT) AS vu
           FROM events),
         l AS (SELECT *, LAG(pc, 1) OVER
             (PARTITION BY event_type ORDER BY ts, event_id) AS pp FROM b),
         s AS (SELECT *, CASE WHEN pc IS NULL OR pp IS NULL OR pc = pp
               THEN 0
             WHEN pc > pp THEN vu ELSE -vu END AS sg FROM l)
         SELECT event_id, event_type,
           CAST(SUM(sg) OVER (PARTITION BY event_type ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1000000.0 AS obv
         FROM s ORDER BY event_id""",

    // mirrors Graph.localClustering over the q184 trade-flow graph:
    // undirected dedup, wedge join, per-node triangle counts, the
    // pinned 2t/(d(d-1)) division.
    "q380_local_clustering" ->
      """WITH flows AS (SELECT c_nationkey AS src, s_nationkey AS dst
           FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON o_orderkey = l_orderkey
           JOIN supplier ON l_suppkey = s_suppkey),
         und AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a,
             GREATEST(src, dst) AS b FROM flows WHERE src <> dst),
         deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
             SELECT a AS id FROM und UNION ALL SELECT b FROM und) u
           GROUP BY 1),
         w AS (SELECT u1.a AS x, u1.b AS y, u2.b AS z
           FROM und u1 JOIN und u2 ON u1.b = u2.a),
         tr AS (SELECT w.x, w.y, w.z FROM w
           JOIN und u3 ON w.x = u3.a AND w.z = u3.b),
         tn AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
             SELECT x AS id FROM tr UNION ALL SELECT y FROM tr
             UNION ALL SELECT z FROM tr) u GROUP BY 1)
         SELECT d.id, d.degree, COALESCE(tn.triangles, 0) AS triangles,
           CASE WHEN d.degree >= 2 THEN
             2.0 * CAST(COALESCE(tn.triangles, 0) AS DOUBLE)
               / CAST(d.degree * (d.degree - 1) AS DOUBLE) END AS coefficient
         FROM deg d LEFT JOIN tn ON d.id = tn.id ORDER BY d.id""",

    // mirrors Graph.harmonicCentralityKmv (radius 2, k = 16) over the
    // trading graph: per-round min-16 md5-hash ball merges and the
    // (k-1)*2^60/h_k KMV estimator, replayed round by round.
    "q381_harmonic_centrality" -> {
      def round(r: Int): String = {
        val prev = s"b${r - 1}"
        s"""x$r AS (SELECT e.src AS id, unnest(b.ball) AS h
             FROM e JOIN $prev b ON e.dst = b.id
           UNION ALL SELECT id, unnest(ball) FROM $prev),
         d$r AS (SELECT DISTINCT id, h FROM x$r),
         r$r AS (SELECT id, h,
             ROW_NUMBER() OVER (PARTITION BY id ORDER BY h) AS rk FROM d$r),
         m$r AS MATERIALIZED (SELECT id, list(h ORDER BY h) AS ball
           FROM r$r WHERE rk <= 16 GROUP BY 1),
         b$r AS MATERIALIZED (SELECT m.id, m.ball,
             CASE WHEN len(m.ball) < 16 THEN CAST(len(m.ball) AS DOUBLE)
               ELSE 15.0 * 1.152921504606846976e18
                 / CAST(m.ball[16] AS DOUBLE) END AS est,
             p.harmonic + (CASE WHEN len(m.ball) < 16
                 THEN CAST(len(m.ball) AS DOUBLE)
                 ELSE 15.0 * 1.152921504606846976e18
                   / CAST(m.ball[16] AS DOUBLE) END - p.est) / $r.0
               AS harmonic
           FROM m$r m JOIN $prev p ON m.id = p.id)"""
      }
      s"""WITH pairs AS (SELECT DISTINCT o_custkey * 2 AS cnode,
             l_suppkey * 2 + 1 AS snode
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         e AS MATERIALIZED (SELECT cnode AS src, snode AS dst FROM pairs
           UNION ALL SELECT snode, cnode FROM pairs),
         n0 AS (SELECT DISTINCT src AS id FROM e
           UNION SELECT DISTINCT dst FROM e),
         b0 AS MATERIALIZED (SELECT id,
             [CAST(concat('0x', substr(md5(CAST(id AS VARCHAR)), 1, 15))
               AS BIGINT)] AS ball,
             1.0 AS est, 0.0 AS harmonic FROM n0),
         ${round(1)},
         ${round(2)}
         SELECT id, est AS ball_size, harmonic FROM b2 ORDER BY id"""
    },

    // mirrors Stats.gumbelFit: daily maxima, floor-scaled exact moments,
    // the beta/mu closed form with the interpolated Euler-Mascheroni and
    // ln(-ln p) literals (string-cast, the q376 DuckDB-literal lesson).
    "q385_gumbel" -> {
      val lnln = math.log(-math.log(0.99))
      s"""WITH b AS (SELECT CAST(ts AS DATE) AS d,
             MAX(CAST(value AS DOUBLE)) AS m
           FROM events
           WHERE ts IS NOT NULL AND value IS NOT NULL
             AND NOT isnan(CAST(value AS DOUBLE))
           GROUP BY 1),
         a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
             CAST(SUM(CAST(FLOOR(m * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sx,
             CAST(SUM(CAST(FLOOR(m * m * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sxx
           FROM b),
         c AS (SELECT *, CAST(n_blocks AS DOUBLE) AS nd,
             sx / CAST(n_blocks AS DOUBLE) AS mean_max FROM a),
         e AS (SELECT *,
             (sxx - sx * sx / nd) / (nd - 1.0) AS vars FROM c),
         f AS (SELECT *, sqrt(vars) AS sd,
             sqrt(vars) * CAST('${math.sqrt(6.0)}' AS DOUBLE)
               / CAST('${math.Pi}' AS DOUBLE) AS beta FROM e),
         g AS (SELECT *,
             mean_max - CAST('0.5772156649015329' AS DOUBLE) * beta AS mu
           FROM f)
         SELECT n_blocks, mean_max,
           CASE WHEN n_blocks > 1 AND vars > 0.0 THEN sd END AS sd_max,
           CASE WHEN n_blocks > 1 AND vars > 0.0 THEN mu END AS mu,
           CASE WHEN n_blocks > 1 AND vars > 0.0 THEN beta END AS beta,
           CASE WHEN n_blocks > 1 AND vars > 0.0 THEN
             mu - beta * CAST('$lnln' AS DOUBLE) END AS q99
         FROM g"""
    },

    // mirrors Stats.atkinsonIndex on o_totalprice: positive-domain
    // filter, floor-scaled exact sums of x (10^6) and ln x (10^9).
    "q386_atkinson" ->
      """WITH b AS (SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
           WHERE o_totalprice IS NOT NULL),
         a AS (SELECT
             CAST(COUNT(*) FILTER (WHERE x > 0.0) AS BIGINT) AS n,
             CAST(COUNT(*) FILTER (WHERE x <= 0.0) AS BIGINT) AS n_excluded,
             CAST(SUM(CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0)))
               FILTER (WHERE x > 0.0) AS DOUBLE) / 1000000.0 AS sx,
             CAST(SUM(CAST(FLOOR(ln(x) * 1000000000.0) AS DECIMAL(38,0)))
               FILTER (WHERE x > 0.0) AS DOUBLE) / 1000000000.0 AS sl
           FROM b),
         c AS (SELECT *, sx / CAST(n AS DOUBLE) AS mean,
             exp(sl / CAST(n AS DOUBLE)) AS geomean FROM a)
         SELECT n, n_excluded,
           CASE WHEN n > 0 THEN mean END AS mean,
           CASE WHEN n > 0 THEN geomean END AS geomean,
           CASE WHEN n > 0 AND mean > 0.0
             THEN 1.0 - geomean / mean END AS atkinson
         FROM c""",

    // mirrors Stats.trimmedMean: double-ended value ranks per type,
    // floor(alpha*n) trimmed from each side, exact-sum mean of the rest.
    "q387_trimmed_mean" ->
      """WITH b AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS x
           FROM events
           WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
             AND event_type IS NOT NULL),
         r AS (SELECT g, x,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY x ASC) AS ra,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY x DESC) AS rd,
             COUNT(*) OVER (PARTITION BY g) AS n FROM b),
         k AS (SELECT *, CAST(FLOOR(n * 0.1) AS BIGINT) AS kk FROM r)
         SELECT g AS "group", MAX(n) AS n, MAX(kk) AS n_trimmed_each,
           CAST(SUM(CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE)
             / 1000000.0 / CAST(COUNT(*) AS DOUBLE) AS trimmed_mean
         FROM k WHERE ra > kk AND rd > kk
         GROUP BY g ORDER BY g""",

    // mirrors Stats.burstDetect: identical floor-scaled Poisson-NLL
    // costs, the augmented integer Viterbi as ONE forward recursive CTE
    // (each state carries its best path's burst statistics; ties prefer
    // base / base-entry), best-final-state readout.
    "q389_burst_detect" ->
      """WITH RECURSIVE
         ev AS (SELECT ts, event_type FROM events
           UNION ALL
           SELECT e.ts, e.event_type
           FROM events e CROSS JOIN range(4) t(r)
           WHERE e.event_type = 'purchase'
             AND date_part('day', e.ts) = 15),
         hh AS (SELECT date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS k
           FROM ev WHERE ts IS NOT NULL AND event_type = 'purchase'
           GROUP BY 1),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(k) AS BIGINT) AS sk FROM hh),
         lam AS (SELECT n,
             CAST(sk AS DOUBLE) / CAST(n AS DOUBLE) AS l0,
             2.0 * (CAST(sk AS DOUBLE) / CAST(n AS DOUBLE)) AS l1
           FROM tot),
         idx AS (SELECT ROW_NUMBER() OVER (ORDER BY h) - 1 AS i,
             CAST(FLOOR((l.l0 - CAST(k AS DOUBLE) * ln(l.l0))
               * 1000000.0) AS BIGINT) AS c0,
             CAST(FLOOR((l.l1 - CAST(k AS DOUBLE) * ln(l.l1))
               * 1000000.0) AS BIGINT) AS c1
           FROM hh CROSS JOIN lam l),
         gp AS (SELECT CAST(FLOOR(1.0 * ln(CAST(n AS DOUBLE))
             * 1000000.0) AS BIGINT) AS g FROM lam),
         v AS (
           SELECT CAST(0 AS BIGINT) AS i,
             x.c0 AS d0, CAST(0 AS BIGINT) AS bh0, CAST(0 AS BIGINT) AS nb0,
             CAST(0 AS BIGINT) AS cur0, CAST(0 AS BIGINT) AS mx0,
             CAST(-1 AS BIGINT) AS f0,
             gp.g + x.c1 AS d1, CAST(1 AS BIGINT) AS bh1,
             CAST(1 AS BIGINT) AS nb1, CAST(1 AS BIGINT) AS cur1,
             CAST(1 AS BIGINT) AS mx1, CAST(0 AS BIGINT) AS f1
           FROM idx x CROSS JOIN gp WHERE x.i = 0
           UNION ALL
           SELECT x.i,
             (CASE WHEN v.d0 <= v.d1 THEN v.d0 ELSE v.d1 END) + x.c0,
             CASE WHEN v.d0 <= v.d1 THEN v.bh0 ELSE v.bh1 END,
             CASE WHEN v.d0 <= v.d1 THEN v.nb0 ELSE v.nb1 END,
             CAST(0 AS BIGINT),
             CASE WHEN v.d0 <= v.d1 THEN v.mx0 ELSE v.mx1 END,
             CASE WHEN v.d0 <= v.d1 THEN v.f0 ELSE v.f1 END,
             (CASE WHEN v.d0 + gp.g <= v.d1 THEN v.d0 + gp.g
                ELSE v.d1 END) + x.c1,
             (CASE WHEN v.d0 + gp.g <= v.d1 THEN v.bh0 ELSE v.bh1 END) + 1,
             CASE WHEN v.d0 + gp.g <= v.d1 THEN v.nb0 + 1 ELSE v.nb1 END,
             CASE WHEN v.d0 + gp.g <= v.d1 THEN CAST(1 AS BIGINT)
               ELSE v.cur1 + 1 END,
             greatest(
               CASE WHEN v.d0 + gp.g <= v.d1 THEN v.mx0 ELSE v.mx1 END,
               CASE WHEN v.d0 + gp.g <= v.d1 THEN CAST(1 AS BIGINT)
                 ELSE v.cur1 + 1 END),
             CASE WHEN v.d0 + gp.g <= v.d1 THEN
               CASE WHEN v.f0 < 0 THEN v.i + 1 ELSE v.f0 END
               ELSE v.f1 END
           FROM v JOIN idx x ON x.i = v.i + 1 CROSS JOIN gp),
         fin AS (SELECT * FROM v CROSS JOIN tot t WHERE v.i = t.n - 1)
         SELECT t.n AS n_hours, l.l0 AS lambda0,
           CASE WHEN f.d0 <= f.d1 THEN f.bh0 ELSE f.bh1 END AS n_burst_hours,
           CASE WHEN f.d0 <= f.d1 THEN f.nb0 ELSE f.nb1 END AS n_bursts,
           CASE WHEN f.d0 <= f.d1 THEN f.mx0 ELSE f.mx1 END AS max_burst_len,
           CASE WHEN (CASE WHEN f.d0 <= f.d1 THEN f.f0 ELSE f.f1 END) < 0
             THEN NULL
             ELSE (CASE WHEN f.d0 <= f.d1 THEN f.f0 ELSE f.f1 END) END
             AS first_burst_idx
         FROM fin f CROSS JOIN tot t CROSS JOIN lam l""",

    // mirrors selectRows with mixed positive/negative indices: 0-based
    // row number over the total order, from-end indices resolved
    // against the row count.
    "q391_negative_row_select" ->
      """WITH r AS (SELECT s_suppkey, s_name,
             ROW_NUMBER() OVER (ORDER BY s_suppkey) - 1 AS row_idx,
             COUNT(*) OVER () AS n
           FROM supplier)
         SELECT row_idx, s_suppkey, s_name FROM r
         WHERE row_idx IN (0, 2) OR row_idx - n IN (-1, -3)
         ORDER BY row_idx""",

    // mirrors Graph.neighborhoodFunction (radius 2, k = 16) over the
    // trading graph: the q381 per-round min-16 ball CTEs, per-round
    // exact decimal sums of FLOOR(est·10⁶), coverage vs N(2), and the
    // exact-integer 90% effective-diameter flag.
    "q392_neighborhood_function" -> {
      def round(r: Int): String = {
        val prev = s"b${r - 1}"
        s"""x$r AS (SELECT e.src AS id, unnest(b.ball) AS h
             FROM e JOIN $prev b ON e.dst = b.id
           UNION ALL SELECT id, unnest(ball) FROM $prev),
         d$r AS (SELECT DISTINCT id, h FROM x$r),
         r$r AS (SELECT id, h,
             ROW_NUMBER() OVER (PARTITION BY id ORDER BY h) AS rk FROM d$r),
         m$r AS MATERIALIZED (SELECT id, list(h ORDER BY h) AS ball
           FROM r$r WHERE rk <= 16 GROUP BY 1),
         b$r AS MATERIALIZED (SELECT id, ball,
             CASE WHEN len(ball) < 16 THEN CAST(len(ball) AS DOUBLE)
               ELSE 15.0 * 1.152921504606846976e18
                 / CAST(ball[16] AS DOUBLE) END AS est
           FROM m$r),
         s$r AS (SELECT $r AS r, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(FLOOR(est * 1000000.0) AS DECIMAL(38,0))) AS s
           FROM b$r)"""
      }
      s"""WITH pairs AS (SELECT DISTINCT o_custkey * 2 AS cnode,
             l_suppkey * 2 + 1 AS snode
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         e AS MATERIALIZED (SELECT cnode AS src, snode AS dst FROM pairs
           UNION ALL SELECT snode, cnode FROM pairs),
         n0 AS (SELECT DISTINCT src AS id FROM e
           UNION SELECT DISTINCT dst FROM e),
         b0 AS MATERIALIZED (SELECT id,
             [CAST(concat('0x', substr(md5(CAST(id AS VARCHAR)), 1, 15))
               AS BIGINT)] AS ball,
             1.0 AS est FROM n0),
         s0 AS (SELECT 0 AS r, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(FLOOR(est * 1000000.0) AS DECIMAL(38,0))) AS s
           FROM b0),
         ${round(1)},
         ${round(2)},
         u AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1
           UNION ALL SELECT * FROM s2),
         mx AS (SELECT s AS smax FROM s2)
         SELECT u.r, u.n AS n_nodes,
           CAST(u.s AS DOUBLE) / 1000000.0 AS sum_ball,
           CAST(u.s AS DOUBLE) / CAST(mx.smax AS DOUBLE) AS coverage,
           (10 * u.s >= 9 * mx.smax) AS reaches_90pct
         FROM u CROSS JOIN mx ORDER BY u.r"""
    },

    // mirrors Stats.mannKendall over hourly click counts: exact
    // integer S, tie-corrected Var(S), continuity-corrected z, and the
    // LOWER-median Sen slope (rank ceil(m/2) selection — no
    // interpolation average).
    "q393_mann_kendall" ->
      """WITH h AS (SELECT date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS y
           FROM events WHERE ts IS NOT NULL AND event_type = 'click'
           GROUP BY 1),
         ix AS (SELECT y, ROW_NUMBER() OVER (ORDER BY h) - 1 AS i FROM h),
         p AS (SELECT a.i AS i, b.i AS j, a.y AS xi, b.y AS xj
           FROM ix a JOIN ix b ON b.i > a.i),
         sl AS (SELECT CASE WHEN xj > xi THEN 1
               WHEN xj < xi THEN -1 ELSE 0 END AS sg,
             CAST(xj - xi AS DOUBLE) / CAST(j - i AS DOUBLE) AS sl FROM p),
         sen AS (SELECT sl AS sen_slope FROM (
             SELECT sl, ROW_NUMBER() OVER (ORDER BY sl) AS rn,
               COUNT(*) OVER () AS m FROM sl) q
           WHERE rn = CAST(CEIL(CAST(m AS DOUBLE) / 2.0) AS BIGINT)),
         sa AS (SELECT CAST(SUM(sg) AS BIGINT) AS s_stat FROM sl),
         ta AS (SELECT CAST(SUM(t) AS BIGINT) AS n_hours,
             COALESCE(CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT), 0)
               AS tsum
           FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM ix GROUP BY y) g),
         v AS (SELECT *,
             CAST(n_hours * (n_hours - 1) * (2 * n_hours + 5) - tsum
               AS DOUBLE) / 18.0 AS var_s
           FROM ta CROSS JOIN sa)
         SELECT n_hours, s_stat, var_s,
           CASE WHEN var_s > 0 THEN
             CASE WHEN s_stat > 0
                 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
               WHEN s_stat < 0
                 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
               ELSE 0.0 END END AS z,
           sen.sen_slope
         FROM v CROSS JOIN sen""",

    // mirrors Stats.cramersV: exact BIGINT contingency over the full
    // r×c grid (zero cells via the marginal cross join), each (o−e)²/e
    // term in the same pinned double order, floor-scaled Σ at 1e6.
    "q394_cramers_v" ->
      """WITH b AS (SELECT CAST(l_returnflag AS VARCHAR) AS x,
             CAST(l_linestatus AS VARCHAR) AS y
           FROM lineitem
           WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL),
         cells AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS o
           FROM b GROUP BY 1, 2),
         xs AS (SELECT x, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
         ys AS (SELECT y, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
         g AS (SELECT xs.x, ys.y, rt, ct, COALESCE(o, 0) AS o
           FROM xs CROSS JOIN ys
           LEFT JOIN cells ON cells.x = xs.x AND cells.y = ys.y),
         a AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT x) AS BIGINT) AS r,
             CAST(COUNT(DISTINCT y) AS BIGINT) AS c
           FROM g),
         chi AS (SELECT CAST(SUM(CAST(FLOOR(
               (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                  / CAST(n AS DOUBLE))
               * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                  / CAST(n AS DOUBLE))
               / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
             * 1000000.0) AS HUGEINT)) AS DOUBLE) / 1000000.0 AS chi2
           FROM g CROSS JOIN a)
         SELECT n, r, c, (r - 1) * (c - 1) AS dof, chi2,
           CASE WHEN n > 0 AND LEAST(r, c) > 1
             THEN sqrt(chi2 / (CAST(n AS DOUBLE)
               * CAST(LEAST(r, c) - 1 AS DOUBLE))) END AS cramers_v
         FROM a CROSS JOIN chi""",

    // mirrors Stats.kpssTest: the exact BIGINT C_t = cum(n·y − Σy)
    // partial sums, ΣC² in HUGEINT, the identical pinned η division.
    "q395_kpss" ->
      """WITH h AS (SELECT date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS y
           FROM events WHERE ts IS NOT NULL AND event_type = 'click'
           GROUP BY 1),
         ix AS (SELECT y, CAST(COUNT(*) OVER () AS BIGINT) AS n,
             CAST(SUM(y) OVER () AS BIGINT) AS sy,
             CAST(SUM(y * y) OVER () AS BIGINT) AS syy,
             h
           FROM h),
         cc AS (SELECT *, CAST(SUM(n * y - sy) OVER (ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS c
           FROM ix),
         a AS (SELECT MAX(n) AS n_hours, MAX(sy) AS syv, MAX(syy) AS syyv,
             SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS sc2
           FROM cc),
         v AS (SELECT *,
             CAST(n_hours AS DOUBLE) * CAST(syyv AS DOUBLE)
               - CAST(syv AS DOUBLE) * CAST(syv AS DOUBLE) AS vt,
             CAST(sc2 AS DOUBLE)
               / (CAST(n_hours AS DOUBLE) * CAST(n_hours AS DOUBLE)
                  * (CAST(n_hours AS DOUBLE) * CAST(syyv AS DOUBLE)
                     - CAST(syv AS DOUBLE) * CAST(syv AS DOUBLE))) AS eta
           FROM a)
         SELECT n_hours,
           CASE WHEN vt > 0 THEN eta END AS eta,
           CASE WHEN vt > 0 THEN
             CASE WHEN eta <= 0.463 THEN 1 ELSE 0 END END AS stationary_5pct
         FROM v""",

    // mirrors Stats.chatterjeeXi: hourly two-type counts, y-rank via the
    // ≤-count (RANGE frame), ties via the =-count, x-order lag with the
    // hour tiebreak — all exact integers, one final double division.
    "q396_chatterjee_xi" ->
      """WITH h AS (SELECT date_trunc('hour', ts) AS h,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS BIGINT) AS xc,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS yc
           FROM events
           WHERE ts IS NOT NULL AND event_type IN ('view', 'click')
           GROUP BY 1),
         rk AS (SELECT *,
             CAST(COUNT(*) OVER (ORDER BY yc
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS r,
             CAST(COUNT(*) OVER (PARTITION BY yc) AS BIGINT) AS t,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
           FROM h),
         lr AS (SELECT *, n - r + t AS l,
             ABS(r - LAG(r, 1) OVER (ORDER BY xc, h)) AS dr
           FROM rk),
         a AS (SELECT MAX(n) AS n_hours,
             COALESCE(CAST(SUM(dr) AS BIGINT), 0) AS sum_abs_dr,
             CAST(SUM(l * (n - l)) AS BIGINT) AS sl
           FROM lr)
         SELECT n_hours, sum_abs_dr, 2 * sl AS denom,
           CASE WHEN 2 * sl > 0 THEN
             1.0 - CAST(n_hours * sum_abs_dr AS DOUBLE)
               / CAST(2 * sl AS DOUBLE) END AS xi
         FROM a""",

    // mirrors TextStats.yuleK: the q343 token-hash type counts grouped
    // by language, exact BIGINT Σc²/N, one pinned K expression.
    "q397_yule_k" ->
      s"""WITH d AS (SELECT lang AS grp, string_split(
             lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS w
           FROM documents WHERE lang IS NOT NULL),
         tk AS (SELECT grp, unnest(w) AS tok FROM d),
         th AS (SELECT grp, CAST(concat('0x', substr(md5(tok), 1, 15))
             AS BIGINT) AS h FROM tk),
         tc AS (SELECT grp, h, CAST(COUNT(*) AS BIGINT) AS c
           FROM th GROUP BY 1, 2)
         SELECT grp AS "group",
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS v_types,
           CAST(SUM(c * c) AS BIGINT) AS sum_c2,
           CASE WHEN SUM(c) > 0 THEN
             10000.0 * CAST(SUM(c * c) - SUM(c) AS DOUBLE)
               / (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE)) END
             AS yule_k
         FROM tc GROUP BY 1 ORDER BY 1""",

    // mirrors Stats.chowTest: exact BIGINT segment moments in one
    // conditional-aggregate pass, the identical pinned double RSS
    // closed forms, the same n>=3 / det>0 / RSS1+RSS2>0 gates.
    "q398_chow_test" ->
      """WITH h AS (SELECT date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS y
           FROM events WHERE ts IS NOT NULL AND event_type = 'view'
           GROUP BY 1),
         ix AS (SELECT y,
             CAST(ROW_NUMBER() OVER (ORDER BY h) - 1 AS BIGINT) AS t,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
           FROM h),
         bx AS (SELECT *,
             CAST(FLOOR(CAST(n AS DOUBLE) / 2.0) AS BIGINT) AS b FROM ix),
         a AS (SELECT
             CAST(COUNT(*) AS BIGINT) AS np,
             CAST(SUM(t) AS BIGINT) AS stp,
             CAST(SUM(t * t) AS BIGINT) AS sttp,
             CAST(SUM(y) AS BIGINT) AS syp,
             CAST(SUM(t * y) AS BIGINT) AS styp,
             CAST(SUM(y * y) AS BIGINT) AS syyp,
             CAST(COALESCE(SUM(CASE WHEN t < b THEN 1 END), 0) AS BIGINT) AS n1,
             CAST(COALESCE(SUM(CASE WHEN t < b THEN t END), 0) AS BIGINT) AS st1,
             CAST(COALESCE(SUM(CASE WHEN t < b THEN t * t END), 0) AS BIGINT) AS stt1,
             CAST(COALESCE(SUM(CASE WHEN t < b THEN y END), 0) AS BIGINT) AS sy1,
             CAST(COALESCE(SUM(CASE WHEN t < b THEN t * y END), 0) AS BIGINT) AS sty1,
             CAST(COALESCE(SUM(CASE WHEN t < b THEN y * y END), 0) AS BIGINT) AS syy1,
             CAST(COALESCE(SUM(CASE WHEN t >= b THEN 1 END), 0) AS BIGINT) AS n2,
             CAST(COALESCE(SUM(CASE WHEN t >= b THEN t END), 0) AS BIGINT) AS st2,
             CAST(COALESCE(SUM(CASE WHEN t >= b THEN t * t END), 0) AS BIGINT) AS stt2,
             CAST(COALESCE(SUM(CASE WHEN t >= b THEN y END), 0) AS BIGINT) AS sy2,
             CAST(COALESCE(SUM(CASE WHEN t >= b THEN t * y END), 0) AS BIGINT) AS sty2,
             CAST(COALESCE(SUM(CASE WHEN t >= b THEN y * y END), 0) AS BIGINT) AS syy2,
             MAX(b) AS break_idx
           FROM bx),
         dets AS (SELECT *,
             CAST(np AS DOUBLE) * CAST(sttp AS DOUBLE)
               - CAST(stp AS DOUBLE) * CAST(stp AS DOUBLE) AS detp,
             CAST(n1 AS DOUBLE) * CAST(stt1 AS DOUBLE)
               - CAST(st1 AS DOUBLE) * CAST(st1 AS DOUBLE) AS det1,
             CAST(n2 AS DOUBLE) * CAST(stt2 AS DOUBLE)
               - CAST(st2 AS DOUBLE) * CAST(st2 AS DOUBLE) AS det2
           FROM a),
         bs AS (SELECT *,
             (CAST(np AS DOUBLE) * CAST(styp AS DOUBLE)
               - CAST(stp AS DOUBLE) * CAST(syp AS DOUBLE)) / detp AS bp,
             (CAST(n1 AS DOUBLE) * CAST(sty1 AS DOUBLE)
               - CAST(st1 AS DOUBLE) * CAST(sy1 AS DOUBLE)) / det1 AS b1,
             (CAST(n2 AS DOUBLE) * CAST(sty2 AS DOUBLE)
               - CAST(st2 AS DOUBLE) * CAST(sy2 AS DOUBLE)) / det2 AS b2
           FROM dets),
         rs AS (SELECT *,
             CASE WHEN np >= 3 AND detp > 0 THEN
               CAST(syyp AS DOUBLE)
                 - ((CAST(syp AS DOUBLE) - bp * CAST(stp AS DOUBLE))
                    / CAST(np AS DOUBLE)) * CAST(syp AS DOUBLE)
                 - bp * CAST(styp AS DOUBLE) END AS rssp,
             CASE WHEN n1 >= 3 AND det1 > 0 THEN
               CAST(syy1 AS DOUBLE)
                 - ((CAST(sy1 AS DOUBLE) - b1 * CAST(st1 AS DOUBLE))
                    / CAST(n1 AS DOUBLE)) * CAST(sy1 AS DOUBLE)
                 - b1 * CAST(sty1 AS DOUBLE) END AS rss1,
             CASE WHEN n2 >= 3 AND det2 > 0 THEN
               CAST(syy2 AS DOUBLE)
                 - ((CAST(sy2 AS DOUBLE) - b2 * CAST(st2 AS DOUBLE))
                    / CAST(n2 AS DOUBLE)) * CAST(sy2 AS DOUBLE)
                 - b2 * CAST(sty2 AS DOUBLE) END AS rss2
           FROM bs)
         SELECT np AS n_hours, break_idx,
           rssp AS rss_pooled, rss1 AS rss_1, rss2 AS rss_2,
           CASE WHEN np >= 3 AND detp > 0 AND n1 >= 3 AND det1 > 0
               AND n2 >= 3 AND det2 > 0 AND (rss1 + rss2) > 0 THEN
             ((rssp - rss1 - rss2) / 2.0)
               / ((rss1 + rss2) / (CAST(np AS DOUBLE) - 4.0)) END AS f_stat
         FROM rs""",

    // mirrors Stats.varianceRatio: exact BIGINT difference sums, the
    // identical left-associated pinned double closed forms (q = 4).
    "q399_variance_ratio" ->
      """WITH h AS (SELECT date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS y
           FROM events WHERE ts IS NOT NULL AND event_type = 'click'
           GROUP BY 1),
         ix AS (SELECT y,
             y - LAG(y, 1) OVER (ORDER BY h) AS d1,
             y - LAG(y, 4) OVER (ORDER BY h) AS dq,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
           FROM h),
         a AS (SELECT MAX(n) AS n_hours,
             CAST(COALESCE(SUM(CASE WHEN d1 IS NOT NULL THEN 1 END), 0)
               AS BIGINT) AS m1,
             CAST(COALESCE(SUM(d1), 0) AS BIGINT) AS sd,
             CAST(COALESCE(SUM(d1 * d1), 0) AS BIGINT) AS sdd,
             CAST(COALESCE(SUM(CASE WHEN dq IS NOT NULL THEN 1 END), 0)
               AS BIGINT) AS mq,
             CAST(COALESCE(SUM(dq), 0) AS BIGINT) AS sq,
             CAST(COALESCE(SUM(dq * dq), 0) AS BIGINT) AS sqq
           FROM ix),
         v AS (SELECT *,
             CAST(sd AS DOUBLE) / CAST(m1 AS DOUBLE) AS mu FROM a),
         v2 AS (SELECT *,
             (CAST(sdd AS DOUBLE) - 2.0 * mu * CAST(sd AS DOUBLE)
               + CAST(m1 AS DOUBLE) * mu * mu) / CAST(m1 AS DOUBLE) AS var1,
             (CAST(sqq AS DOUBLE) - 2.0 * 4.0 * mu * CAST(sq AS DOUBLE)
               + CAST(mq AS DOUBLE) * 4.0 * mu * 4.0 * mu)
               / (4.0 * CAST(mq AS DOUBLE)) AS varq
           FROM v)
         SELECT n_hours, 4 AS q,
           CASE WHEN m1 > 0 THEN mu END AS mu,
           CASE WHEN m1 > 0 THEN var1 END AS var_1,
           CASE WHEN mq > 0 AND m1 > 0 THEN varq END AS var_q,
           CASE WHEN mq > 0 AND m1 > 0 AND var1 > 0
             THEN varq / var1 END AS vr
         FROM v2""",

    // mirrors Stats.cooksDistance: one floor-scaled moment pass, the
    // identical pinned per-row residual/leverage/D expressions, top-15
    // by D desc with the id+value tiebreak.
    "q400_cooks_distance" ->
      """WITH b AS (SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS DOUBLE) AS x,
             CAST(l_extendedprice AS DOUBLE) AS y
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND NOT isnan(CAST(l_quantity AS DOUBLE))
             AND l_extendedprice IS NOT NULL
             AND NOT isnan(CAST(l_extendedprice AS DOUBLE))),
         m AS (SELECT CAST(COUNT(*) AS BIGINT) AS fn,
             CAST(SUM(CAST(FLOOR(x * 1000000.0) AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS fsx,
             CAST(SUM(CAST(FLOOR(y * 1000000.0) AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS fsy,
             CAST(SUM(CAST(FLOOR(x * x * 1000000.0) AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS fsxx,
             CAST(SUM(CAST(FLOOR(x * y * 1000000.0) AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS fsxy,
             CAST(SUM(CAST(FLOOR(y * y * 1000000.0) AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS fsyy
           FROM b),
         m2 AS (SELECT *, CAST(fn AS DOUBLE) AS nd FROM m),
         m3 AS (SELECT *, fsx / nd AS mx,
             fsxx - fsx * fsx / nd AS sxxc,
             (nd * fsxy - fsx * fsy) / (nd * fsxx - fsx * fsx) AS bb
           FROM m2),
         m4 AS (SELECT *, (fsy - bb * fsx) / nd AS aa FROM m3),
         m5 AS (SELECT *,
             (fsyy - aa * fsy - bb * fsxy) / (nd - 2.0) AS s2 FROM m4),
         j AS (SELECT l_orderkey, l_linenumber, x, y,
             y - aa - bb * x AS residual,
             1.0 / nd + (x - mx) * (x - mx) / sxxc AS leverage,
             fn, sxxc, s2, aa, bb, nd
           FROM b CROSS JOIN m5),
         c AS (SELECT l_orderkey, l_linenumber, x, y, residual, leverage,
             CASE WHEN fn > 2 AND sxxc > 0 AND s2 > 0 THEN
               residual * residual * leverage
                 / (2.0 * s2 * (1.0 - leverage) * (1.0 - leverage)) END
               AS cooks_d
           FROM j)
         SELECT * FROM c
         ORDER BY cooks_d DESC NULLS LAST, l_orderkey, l_linenumber, x, y
         LIMIT 15""",

    // mirrors Stats.spectralEntropy: the q357 portable trig kernel at
    // K = 8 over the purchase series, floor-scaled total power (1e6)
    // and entropy terms (1e9), the same zero-power p·ln p limit.
    "q401_spectral_entropy" -> {
      def hornerSql(coeffs: Seq[Double]): String =
        coeffs.reverse.tail.foldLeft(coeffs.last.toString)(
          (acc, a) => s"($a + w * $acc)")
      val cosH = hornerSql(graft.ops.Stats.CosCoef)
      val sinH = hornerSql(graft.ops.Stats.SinCoef)
      val perK = (1 to 8).map { k =>
        s"""pk$k AS (SELECT x,
             CAST(($k * t) % n AS DOUBLE) / CAST(n AS DOUBLE) AS p FROM b),
         qk$k AS (SELECT x, p, CAST(FLOOR(p * 4.0) AS BIGINT) AS q FROM pk$k),
         zk$k AS (SELECT x, q,
             6.283185307179586 * (p - CAST(q AS DOUBLE) / 4.0) AS z
           FROM qk$k),
         wk$k AS (SELECT x, q, z, z * z AS w FROM zk$k),
         ek$k AS (SELECT x, q, (1.0 + w * $cosH) AS cp,
             z * (1.0 + w * $sinH) AS sp FROM wk$k),
         vk$k AS (SELECT x,
             CASE WHEN q = 0 THEN cp WHEN q = 1 THEN -sp
                  WHEN q = 2 THEN -cp ELSE sp END AS cv,
             CASE WHEN q = 0 THEN sp WHEN q = 1 THEN cp
                  WHEN q = 2 THEN -sp ELSE -cp END AS sv
           FROM ek$k),
         ak$k AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(x * cv * 1000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000.0 AS c,
             CAST(SUM(CAST(FLOOR(x * sv * 1000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000.0 AS s
           FROM vk$k)"""
      }.mkString(",\n         ")
      val rows = (1 to 8).map { k =>
        s"SELECT $k AS k, n, c * c + s * s AS power FROM ak$k"
      }.mkString("\n           UNION ALL ")
      s"""WITH s AS (SELECT date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
           FROM events
           WHERE ts IS NOT NULL AND event_type = 'purchase' GROUP BY 1),
         b AS (SELECT CAST(row_number() OVER (ORDER BY h) - 1 AS BIGINT) AS t,
             CAST(c AS DOUBLE) AS x,
             (SELECT COUNT(*) FROM s) AS n
           FROM s),
         $perK,
         u AS ($rows),
         tot AS (SELECT MAX(n) AS n,
             CAST(SUM(CAST(FLOOR(power * 1000000.0) AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS total_power
           FROM u),
         ent AS (SELECT CAST(SUM(CAST(FLOOR(
               CASE WHEN power > 0 AND tp > 0 THEN
                 (-(power / tp)) * ln(power / tp) END
             * 1000000000.0) AS HUGEINT)) AS DOUBLE) / 1000000000.0 AS hh
           FROM u CROSS JOIN (SELECT total_power AS tp FROM tot) tp0)
         SELECT n, 8 AS k_max, total_power,
           CASE WHEN total_power > 0 THEN hh END AS spectral_entropy,
           CASE WHEN total_power > 0 THEN hh / ${math.log(8.0)} END AS h_norm
         FROM tot CROSS JOIN ent"""
    },

    // mirrors Graph.adamicAdar over q189's strong trade graph: per-via
    // 1/ln(deg) floor-scaled at 1e9 summed per candidate pair, existing
    // edges anti-joined, top-20 by (score desc, a, b).
    "q402_adamic_adar" ->
      """WITH flows AS MATERIALIZED (SELECT c_nationkey AS src,
             s_nationkey AS dst, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON o_orderkey = l_orderkey
           JOIN supplier ON l_suppkey = s_suppkey
           GROUP BY 1, 2),
         tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS ts,
                        CAST(COUNT(*) AS BIGINT) AS np FROM flows),
         und AS MATERIALIZED (SELECT DISTINCT
             CAST(LEAST(src, dst) AS BIGINT) AS a,
             CAST(GREATEST(src, dst) AS BIGINT) AS b
           FROM flows, tot
           WHERE cnt * np > ts AND src <> dst),
         nbrs AS MATERIALIZED (SELECT a AS id, b AS nbr FROM und
                  UNION ALL SELECT b, a FROM und),
         deg AS MATERIALIZED (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg
                 FROM nbrs GROUP BY 1),
         cand AS MATERIALIZED (SELECT x.id AS a, y.id AS b,
             CAST(COUNT(*) AS BIGINT) AS common,
             CAST(SUM(CAST(FLOOR(
               1.0 / ln(CAST(dv.deg AS DOUBLE)) * 1000000000.0)
               AS HUGEINT)) AS DOUBLE) / 1000000000.0 AS aa_score
           FROM nbrs x
           JOIN nbrs y ON x.nbr = y.nbr AND x.id < y.id
           JOIN deg dv ON dv.id = x.nbr
           GROUP BY 1, 2 HAVING COUNT(*) >= 1),
         non AS (SELECT cand.* FROM cand
           LEFT JOIN und ON und.a = cand.a AND und.b = cand.b
           WHERE und.a IS NULL)
         SELECT non.a, non.b, common,
           da.deg AS deg_a, db.deg AS deg_b, aa_score
         FROM non
         JOIN deg da ON da.id = non.a
         JOIN deg db ON db.id = non.b
         ORDER BY aa_score DESC, non.a, non.b LIMIT 20""",

    // mirrors Ml.decisionStump: per-distinct-value exact counts,
    // cumulative window splits, the identical pinned Gini expressions,
    // argmin by (gini asc, threshold asc).
    "q403_decision_stump" ->
      """WITH pv AS (SELECT CAST(l_quantity AS DOUBLE) AS v,
             CAST(COUNT(*) AS BIGINT) AS c,
             CAST(COALESCE(SUM(CASE WHEN l_returnflag = 'R' THEN 1 END), 0)
               AS BIGINT) AS p
           FROM lineitem
           WHERE l_quantity IS NOT NULL
             AND NOT isnan(CAST(l_quantity AS DOUBLE))
           GROUP BY 1),
         cum AS (SELECT v,
             CAST(SUM(c) OVER () AS BIGINT) AS n,
             CAST(SUM(p) OVER () AS BIGINT) AS np,
             CAST(SUM(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS nl,
             CAST(SUM(p) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS pl
           FROM pv),
         s AS (SELECT v, n, np, nl, pl, n - nl AS nr, np - pl AS pr
           FROM cum WHERE nl < n),
         g AS (SELECT v AS threshold, n, np AS n_pos, nl AS n_left,
             pl AS pos_left, nr AS n_right, pr AS pos_right,
             1.0 - (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))
                 * (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))
               - ((CAST(nl AS DOUBLE) - CAST(pl AS DOUBLE))
                  / CAST(nl AS DOUBLE))
                 * ((CAST(nl AS DOUBLE) - CAST(pl AS DOUBLE))
                  / CAST(nl AS DOUBLE)) AS gini_left,
             1.0 - (CAST(pr AS DOUBLE) / CAST(nr AS DOUBLE))
                 * (CAST(pr AS DOUBLE) / CAST(nr AS DOUBLE))
               - ((CAST(nr AS DOUBLE) - CAST(pr AS DOUBLE))
                  / CAST(nr AS DOUBLE))
                 * ((CAST(nr AS DOUBLE) - CAST(pr AS DOUBLE))
                  / CAST(nr AS DOUBLE)) AS gini_right,
             1.0 - (CAST(np AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(np AS DOUBLE) / CAST(n AS DOUBLE))
               - ((CAST(n AS DOUBLE) - CAST(np AS DOUBLE))
                  / CAST(n AS DOUBLE))
                 * ((CAST(n AS DOUBLE) - CAST(np AS DOUBLE))
                  / CAST(n AS DOUBLE)) AS gini_root
           FROM s),
         sc AS (SELECT threshold, n, n_pos, n_left, pos_left, n_right,
             pos_right, gini_left, gini_right,
             CAST(n_left AS DOUBLE) / CAST(n AS DOUBLE) * gini_left
               + CAST(n_right AS DOUBLE) / CAST(n AS DOUBLE) * gini_right
               AS gini_split,
             gini_root
           FROM g)
         SELECT threshold, n, n_pos, n_left, pos_left, n_right, pos_right,
           gini_left, gini_right, gini_split,
           gini_root - gini_split AS gini_gain
         FROM sc ORDER BY gini_split ASC, threshold ASC LIMIT 1""",

    // mirrors TextStats.jsDivergence: per-source token counts (q343
    // hashing), each directed half over its own support with the q->0
    // coalesce limit, floor-scaled ln terms at 1e9, halves averaged.
    "q404_js_divergence" ->
      s"""WITH d0 AS (SELECT source AS s, string_split(
             lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS w
           FROM documents WHERE source IS NOT NULL),
         tk0 AS (SELECT s, unnest(w) AS tok FROM d0),
         tk AS (SELECT s, CAST(concat('0x', substr(md5(tok), 1, 15))
             AS BIGINT) AS h FROM tk0),
         tc AS MATERIALIZED (SELECT s, h, CAST(COUNT(*) AS BIGINT) AS c
           FROM tk GROUP BY 1, 2),
         tt AS (SELECT s, CAST(SUM(c) AS BIGINT) AS tot FROM tc GROUP BY 1),
         pt AS (SELECT t1.s AS a, o.s AS b,
             CAST(t1.c AS DOUBLE) / CAST(tt1.tot AS DOUBLE) AS p,
             CAST(COALESCE(t2.c, 0) AS DOUBLE) / CAST(o.tot AS DOUBLE) AS q
           FROM tc t1
           JOIN tt tt1 ON tt1.s = t1.s
           JOIN tt o ON o.s <> t1.s
           LEFT JOIN tc t2 ON t2.s = o.s AND t2.h = t1.h),
         ha AS (SELECT a, b, CAST(SUM(CAST(FLOOR(
               p * ln(2.0 * p / (p + q)) * 1000000000.0)
               AS HUGEINT)) AS DOUBLE) / 1000000000.0 AS half
           FROM pt GROUP BY 1, 2)
         SELECT x.a AS source_a, x.b AS source_b,
           0.5 * x.half + 0.5 * y.half AS js_nats,
           (0.5 * x.half + 0.5 * y.half) / ${math.log(2.0)} AS js_norm
         FROM ha x JOIN ha y ON y.a = x.b AND y.b = x.a
         WHERE x.a < x.b
         ORDER BY 1, 2""",

    // mirrors Graph.personalizedPageRank (trading graph, no dangling):
    // the q149 integer rounds with the teleport term CASE-gated to the
    // seed set and r0 = Scale // |S| on seeds / 0 elsewhere.
    "q405_personalized_pagerank" -> {
      val iters = (1 to 5).map { k =>
        s"""r$k AS (SELECT n.id,
             (CASE WHEN sd.id IS NOT NULL
                THEN (SELECT (15 * (1000000000000 // c)) // 100 FROM ns)
                ELSE 0 END)
             + (85 * COALESCE(cb.s, 0)) // 100 AS r
           FROM allnodes n
           LEFT JOIN (SELECT e.dst AS id, SUM(r.r // d.outdeg) AS s
             FROM e JOIN r${k - 1} r ON e.src = r.id
             JOIN deg d ON d.src = e.src
             GROUP BY 1) cb ON cb.id = n.id
           LEFT JOIN seeds sd ON sd.id = n.id)"""
      }.mkString(",\n         ")
      s"""WITH pairs AS (
           SELECT DISTINCT o_custkey * 2 AS cnode, l_suppkey * 2 + 1 AS snode
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         e AS (SELECT cnode AS src, snode AS dst FROM pairs
               UNION ALL SELECT snode, cnode FROM pairs),
         deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
           FROM e GROUP BY 1),
         allnodes AS (SELECT DISTINCT src AS id FROM e),
         seeds AS (SELECT DISTINCT cnode AS id FROM pairs WHERE cnode <= 10),
         ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM seeds),
         r0 AS (SELECT n.id,
             CASE WHEN sd.id IS NOT NULL
               THEN (SELECT 1000000000000 // c FROM ns) ELSE 0 END AS r
           FROM allnodes n LEFT JOIN seeds sd ON sd.id = n.id),
         $iters
         SELECT id, CAST(r AS BIGINT) AS r FROM r5
         ORDER BY r DESC, id LIMIT 20"""
    },

    // mirrors Stats.turningPointTest: strict local extrema off one
    // lag/lead pass, pinned E/Var/z expressions of n.
    "q406_turning_points" ->
      """WITH h AS (SELECT date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS y
           FROM events WHERE ts IS NOT NULL AND event_type = 'view'
           GROUP BY 1),
         ix AS (SELECT y, LAG(y, 1) OVER (ORDER BY h) AS p,
             LEAD(y, 1) OVER (ORDER BY h) AS f,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
           FROM h),
         a AS (SELECT MAX(n) AS n_hours,
             CAST(COALESCE(SUM(CASE WHEN p IS NOT NULL AND f IS NOT NULL
               AND ((y > p AND y > f) OR (y < p AND y < f))
               THEN 1 END), 0) AS BIGINT) AS n_turning
           FROM ix),
         v AS (SELECT *,
             2.0 * (CAST(n_hours AS DOUBLE) - 2.0) / 3.0 AS e,
             (16.0 * CAST(n_hours AS DOUBLE) - 29.0) / 90.0 AS vv
           FROM a)
         SELECT n_hours, n_turning,
           CASE WHEN n_hours >= 3 THEN e END AS expected,
           CASE WHEN n_hours >= 3 AND vv > 0 THEN
             (CAST(n_turning AS DOUBLE) - e) / sqrt(vv) END AS z
         FROM v""",

    // mirrors Stats.sampleEntropy (m = 2, rTol = 2): exact Chebyshev
    // template-pair counts over the bounded O(h^2) frame, one -ln.
    "q407_sample_entropy" ->
      """WITH h AS (SELECT date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS y
           FROM events WHERE ts IS NOT NULL AND event_type = 'purchase'
           GROUP BY 1),
         ix AS (SELECT y,
             LEAD(y, 1) OVER (ORDER BY h) AS y1,
             LEAD(y, 2) OVER (ORDER BY h) AS y2,
             CAST(ROW_NUMBER() OVER (ORDER BY h) - 1 AS BIGINT) AS t,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
           FROM h),
         tpl AS (SELECT t, y AS a0, y1 AS a1, y2 AS a2, n FROM ix
           WHERE y2 IS NOT NULL),
         pr AS (SELECT x.n, GREATEST(ABS(x.a0 - z.a0), ABS(x.a1 - z.a1))
               <= 2 AS mm,
             GREATEST(ABS(x.a0 - z.a0), ABS(x.a1 - z.a1)) <= 2
               AND ABS(x.a2 - z.a2) <= 2 AS m1
           FROM tpl x JOIN tpl z ON z.t > x.t),
         a AS (SELECT MAX(n) AS n_hours,
             CAST(COALESCE(SUM(CASE WHEN mm THEN 1 END), 0) AS BIGINT)
               AS b_count,
             CAST(COALESCE(SUM(CASE WHEN m1 THEN 1 END), 0) AS BIGINT)
               AS a_count
           FROM pr)
         SELECT n_hours, CAST(2 AS BIGINT) AS r_tol, b_count, a_count,
           CASE WHEN a_count > 0 AND b_count > 0 THEN
             -ln(CAST(a_count AS DOUBLE) / CAST(b_count AS DOUBLE)) END
             AS sampen
         FROM a""",

    // mirrors Stats.oddsRatio: four exact conditional counts, the
    // identical pinned OR/RR/Wald-CI expressions, zero-cell gates.
    "q408_odds_ratio" ->
      """WITH t AS (SELECT
           CAST(COALESCE(SUM(CASE WHEN o_orderpriority = '1-URGENT'
               AND o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS a,
           CAST(COALESCE(SUM(CASE WHEN o_orderpriority = '1-URGENT'
               AND NOT (o_orderstatus = 'F') THEN 1 END), 0) AS BIGINT) AS b,
           CAST(COALESCE(SUM(CASE WHEN NOT (o_orderpriority = '1-URGENT')
               AND o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS c,
           CAST(COALESCE(SUM(CASE WHEN NOT (o_orderpriority = '1-URGENT')
               AND NOT (o_orderstatus = 'F') THEN 1 END), 0) AS BIGINT) AS d
         FROM orders),
         v AS (SELECT *,
           CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
             / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) AS orr,
           sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
             + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(d AS DOUBLE)) AS seor,
           (CAST(a AS DOUBLE) / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)))
             / (CAST(c AS DOUBLE) / (CAST(c AS DOUBLE) + CAST(d AS DOUBLE)))
             AS rr,
           sqrt(1.0 / CAST(a AS DOUBLE)
             - 1.0 / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
             + 1.0 / CAST(c AS DOUBLE)
             - 1.0 / (CAST(c AS DOUBLE) + CAST(d AS DOUBLE))) AS serr
         FROM t)
         SELECT a, b, c, d,
           CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN orr END
             AS odds_ratio,
           CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
             THEN exp(ln(orr) - 1.96 * seor) END AS or_ci_lo,
           CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
             THEN exp(ln(orr) + 1.96 * seor) END AS or_ci_hi,
           CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN rr END
             AS rel_risk,
           CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
             THEN exp(ln(rr) - 1.96 * serr) END AS rr_ci_lo,
           CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
             THEN exp(ln(rr) + 1.96 * serr) END AS rr_ci_hi
         FROM v""",

    // mirrors Graph.kTruss (k = 4, 3 rounds) over the strong trade
    // graph: per-round wedge/triangle-close/support/filter, unrolled.
    "q409_k_truss" -> {
      val rounds = (1 to 3).map { r =>
        val p = s"u${r - 1}"
        s"""w$r AS (SELECT u1.a AS x, u1.b AS y, u2.b AS z
             FROM $p u1 JOIN $p u2 ON u1.b = u2.a),
         t$r AS (SELECT w.x, w.y, w.z FROM w$r w
           JOIN $p u3 ON w.x = u3.a AND w.z = u3.b),
         s$r AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS support FROM (
             SELECT x AS a, y AS b FROM t$r
             UNION ALL SELECT y, z FROM t$r
             UNION ALL SELECT x, z FROM t$r) e GROUP BY 1, 2),
         u$r AS (SELECT u.a, u.b, COALESCE(s.support, 0) AS support
           FROM $p u LEFT JOIN s$r s ON s.a = u.a AND s.b = u.b
           WHERE COALESCE(s.support, 0) >= 2)"""
      }.mkString(",\n         ")
      s"""WITH flows AS MATERIALIZED (SELECT c_nationkey AS src,
             s_nationkey AS dst, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON o_orderkey = l_orderkey
           JOIN supplier ON l_suppkey = s_suppkey
           GROUP BY 1, 2),
         tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS ts,
                        CAST(COUNT(*) AS BIGINT) AS np FROM flows),
         u0 AS MATERIALIZED (SELECT DISTINCT
             CAST(LEAST(src, dst) AS BIGINT) AS a,
             CAST(GREATEST(src, dst) AS BIGINT) AS b
           FROM flows, tot
           WHERE cnt * np > ts AND src <> dst),
         $rounds
         SELECT a, b, support FROM u3 ORDER BY a, b"""
    },

    // mirrors Stats.moodMedianTest: lower grand median by integer rank
    // selection on the distinct-value grid, strict-above k×2 cells, the
    // cramersV grid arithmetic with the degenerate-margin gate.
    "q410_mood_median" ->
      """WITH b AS (SELECT CAST(l_returnflag AS VARCHAR) AS g,
             CAST(l_quantity AS DOUBLE) AS x
           FROM lineitem
           WHERE l_quantity IS NOT NULL
             AND NOT isnan(CAST(l_quantity AS DOUBLE))
             AND l_returnflag IS NOT NULL),
         grid AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS c
           FROM b GROUP BY 1),
         cum AS (SELECT x,
             CAST(SUM(c) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cm,
             CAST(SUM(c) OVER () AS BIGINT) AS n
           FROM grid),
         med AS (SELECT MIN(x) AS med FROM cum WHERE 2 * cm >= n),
         cells AS (SELECT g,
             CAST(COALESCE(SUM(CASE WHEN x > med THEN 1 END), 0)
               AS BIGINT) AS above,
             CAST(COALESCE(SUM(CASE WHEN x <= med THEN 1 END), 0)
               AS BIGINT) AS notabove
           FROM b CROSS JOIN med GROUP BY 1),
         wt AS (SELECT *, above + notabove AS rt,
             CAST(SUM(above) OVER () AS BIGINT) AS ca,
             CAST(SUM(notabove) OVER () AS BIGINT) AS cn
           FROM cells),
         w2 AS (SELECT *, ca + cn AS nn FROM wt),
         agg AS (SELECT MAX(nn) AS n2,
             CAST(COUNT(*) AS BIGINT) AS k_groups,
             CAST(SUM(CAST(FLOOR(CASE WHEN ca > 0 AND cn > 0 THEN
               (CAST(above AS DOUBLE)
                 - CAST(rt AS DOUBLE) * CAST(ca AS DOUBLE)
                   / CAST(nn AS DOUBLE))
               * (CAST(above AS DOUBLE)
                 - CAST(rt AS DOUBLE) * CAST(ca AS DOUBLE)
                   / CAST(nn AS DOUBLE))
               / (CAST(rt AS DOUBLE) * CAST(ca AS DOUBLE)
                   / CAST(nn AS DOUBLE))
               + (CAST(notabove AS DOUBLE)
                 - CAST(rt AS DOUBLE) * CAST(cn AS DOUBLE)
                   / CAST(nn AS DOUBLE))
               * (CAST(notabove AS DOUBLE)
                 - CAST(rt AS DOUBLE) * CAST(cn AS DOUBLE)
                   / CAST(nn AS DOUBLE))
               / (CAST(rt AS DOUBLE) * CAST(cn AS DOUBLE)
                   / CAST(nn AS DOUBLE))
             END * 1000000.0) AS HUGEINT)) AS DOUBLE) / 1000000.0 AS chi2
           FROM w2)
         SELECT med AS median, n2 AS n, k_groups, k_groups - 1 AS dof,
           chi2
         FROM agg CROSS JOIN med""",

    // mirrors Stats.grubbs: one floor-scaled moment pass, the
    // identical pinned mean/sd/deviation expressions, max-side ties.
    "q411_grubbs" ->
      """WITH b AS (SELECT CAST(value AS DOUBLE) AS x FROM events
           WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
         a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(x * 1000000.0) AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS sx,
             CAST(SUM(CAST(FLOOR(x * x * 1000000.0) AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS sxx,
             MAX(x) AS mx, MIN(x) AS mn
           FROM b),
         v AS (SELECT *, sx / CAST(n AS DOUBLE) AS mean,
             (sxx - sx * sx / CAST(n AS DOUBLE))
               / (CAST(n AS DOUBLE) - 1.0) AS vr
           FROM a),
         w AS (SELECT *, mx - mean AS hi, mean - mn AS lo FROM v)
         SELECT n,
           CASE WHEN n > 0 THEN mean END AS mean,
           CASE WHEN n >= 3 AND vr > 0 THEN sqrt(vr) END AS sd,
           CASE WHEN n >= 3 AND vr > 0 THEN
             (CASE WHEN hi >= lo THEN hi ELSE lo END) / sqrt(vr) END
             AS g_stat,
           CASE WHEN n >= 3 AND vr > 0 THEN
             CASE WHEN hi >= lo THEN mx ELSE mn END END AS suspect
         FROM w""",

    // mirrors Stats.andersonDarling2: distinct-value cumulate, the
    // identical pinned per-term division floored to the integer grid
    // (HUGEINT sum), the same B < N exclusion and final division.
    "q412_anderson_darling" ->
      """WITH f AS (SELECT CAST(event_type AS VARCHAR) AS g,
             CAST(value AS DOUBLE) AS x
           FROM events
           WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
             AND NOT isnan(CAST(value AS DOUBLE))),
         gr AS (SELECT x,
             CAST(SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT)
               AS c1,
             CAST(SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS c2
           FROM f GROUP BY 1),
         cu AS (SELECT x, c1, c2,
             CAST(SUM(c1) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS m,
             CAST(SUM(c1 + c2) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS bc,
             CAST(SUM(c1) OVER () AS BIGINT) AS n1,
             CAST(SUM(c2) OVER () AS BIGINT) AS n2
           FROM gr),
         t AS (SELECT MAX(n1) AS n1, MAX(n2) AS n2,
             CAST(COALESCE(SUM(CAST(FLOOR(
               CAST((n1 + n2) * m - n1 * bc AS DOUBLE)
                 * CAST((n1 + n2) * m - n1 * bc AS DOUBLE)
                 * CAST(c1 + c2 AS DOUBLE)
                 / (CAST(bc AS DOUBLE) * CAST((n1 + n2) - bc AS DOUBLE))
             ) AS HUGEINT)), 0) AS DOUBLE) AS acc
           FROM cu WHERE bc < n1 + n2)
         SELECT n1, n2,
           CASE WHEN n1 > 0 AND n2 > 0 THEN
             acc / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
               * CAST(n1 + n2 AS DOUBLE)) END AS a2_stat
         FROM t""",

    // mirrors Stats.jonckheereTerpstra: zero-filled value x group grid,
    // per-group cumulative-below windows, exact 2J over ordered pairs,
    // the no-ties-correction mu/sigma closed forms.
    "q413_jonckheere" ->
      """WITH b AS (SELECT CAST(o_orderpriority AS VARCHAR) AS g,
             CAST(l_quantity AS DOUBLE) AS x
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_quantity IS NOT NULL
             AND NOT isnan(CAST(l_quantity AS DOUBLE))
             AND o_orderpriority IS NOT NULL),
         c AS (SELECT g, x, CAST(COUNT(*) AS BIGINT) AS c
           FROM b GROUP BY 1, 2),
         vals AS (SELECT DISTINCT x FROM c),
         gs AS (SELECT DISTINCT g FROM c),
         grid AS (SELECT gs.g, vals.x, COALESCE(c.c, 0) AS c
           FROM vals CROSS JOIN gs
           LEFT JOIN c ON c.g = gs.g AND c.x = vals.x),
         gb AS (SELECT *, CAST(COALESCE(SUM(c) OVER (PARTITION BY g
               ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) AS below
           FROM grid),
         p AS (SELECT i.g AS gi, j.g AS gj, j.c AS cj, i.c AS ci,
             i.below AS bi
           FROM gb i JOIN gb j ON j.x = i.x AND i.g < j.g),
         ja AS (SELECT CAST(COALESCE(SUM(cj * (2 * bi + ci)), 0)
             AS BIGINT) AS j2 FROM p),
         sz AS (SELECT CAST(SUM(ni) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k_groups,
             CAST(SUM(ni * ni) AS BIGINT) AS sn2,
             SUM(CAST(ni AS HUGEINT) * CAST(ni AS HUGEINT)
               * (2 * ni + 3)) AS sn23
           FROM (SELECT g, CAST(SUM(c) AS BIGINT) AS ni
             FROM c GROUP BY 1) q),
         v AS (SELECT *,
             CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
               - CAST(sn2 AS DOUBLE) AS mu4,
             CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
               * (2.0 * CAST(n AS DOUBLE) + 3.0)
               - CAST(sn23 AS DOUBLE) AS var72
           FROM sz CROSS JOIN ja)
         SELECT n, k_groups, CAST(j2 AS DOUBLE) / 2.0 AS j_stat,
           CASE WHEN var72 > 0 THEN
             (CAST(j2 AS DOUBLE) / 2.0 - mu4 / 4.0)
               / sqrt(var72 / 72.0) END AS z
         FROM v""",

    // mirrors Stats.averagePrecision: distinct-score DESC cumulate,
    // the identical pinned pos*(tp/(tp+fp)) terms floored at 1e6 and
    // HUGEINT-summed, the same /P final division.
    "q414_average_precision" ->
      """WITH b AS (SELECT CAST(value AS DOUBLE) AS x,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
           FROM events
           WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
         g AS (SELECT x, CAST(SUM(y) AS BIGINT) AS p,
             CAST(SUM(1 - y) AS BIGINT) AS q
           FROM b GROUP BY 1),
         cu AS (SELECT p,
             CAST(SUM(p) OVER wd AS BIGINT) AS tp,
             CAST(SUM(q) OVER wd AS BIGINT) AS fp,
             CAST(SUM(p) OVER () AS BIGINT) AS np,
             CAST(SUM(q) OVER () AS BIGINT) AS nn
           FROM g WINDOW wd AS (ORDER BY x DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         t AS (SELECT MAX(np) AS np, MAX(nn) AS nn,
             CAST(COALESCE(SUM(CASE WHEN p > 0 THEN
               CAST(FLOOR(CAST(p AS DOUBLE)
                 * (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE))
                 * 1000000.0) AS HUGEINT) END), 0) AS DOUBLE) AS acc
           FROM cu)
         SELECT np AS n_pos, nn AS n_neg,
           CASE WHEN np > 0 THEN
             acc / 1000000.0 / CAST(np AS DOUBLE) END
             AS average_precision
         FROM t""",

    // mirrors Advanced.seasonalStrength over the daily per-type series:
    // the q199 decomposition replay (period 7, keyed by event_type),
    // then floor-scaled variance moments and the pinned strengths.
    "q415_seasonal_strength" ->
      """WITH s0 AS (SELECT event_type AS k,
             CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
         b AS (SELECT k, d, CAST(c AS DOUBLE) AS x,
             CAST((row_number() OVER wk - 1) % 7 AS INTEGER) AS phase,
             CASE WHEN COUNT(c) OVER w7 = 7 THEN
               CAST(SUM(CAST(FLOOR(CAST(c AS DOUBLE) * 1000000.0)
                 AS BIGINT)) OVER w7 AS DOUBLE) / 1000000.0 / 7 END
               AS trend
           FROM s0
           WINDOW wk AS (PARTITION BY k ORDER BY d),
             w7 AS (PARTITION BY k ORDER BY d
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         det AS (SELECT *, x - trend AS dd FROM b),
         pm AS (SELECT k, phase,
             CAST(SUM(CAST(FLOOR(dd * 1000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000.0 / COUNT(*) AS pmean
           FROM det WHERE dd IS NOT NULL AND NOT isnan(dd)
           GROUP BY 1, 2),
         ctr AS (SELECT k,
             CAST(SUM(CAST(FLOOR(pmean * 1000000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000000.0 / COUNT(*) AS pc
           FROM pm GROUP BY 1),
         fin AS (SELECT det.k, det.x, det.trend,
             pm.pmean - ctr.pc AS seasonal,
             CASE WHEN det.trend IS NOT NULL
               THEN det.x - det.trend - (pm.pmean - ctr.pc) END AS resid
           FROM det
           LEFT JOIN pm ON pm.k = det.k AND pm.phase = det.phase
           LEFT JOIN ctr ON ctr.k = det.k),
         fr AS (SELECT k, resid, seasonal + resid AS sr,
             trend + resid AS tr
           FROM fin WHERE resid IS NOT NULL AND NOT isnan(resid)),
         mn AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_est,
             CAST(SUM(CAST(FLOOR(resid * 1000000.0) AS HUGEINT))
               AS DOUBLE) / 1000000.0 / COUNT(*) AS mr,
             CAST(SUM(CAST(FLOOR(sr * 1000000.0) AS HUGEINT))
               AS DOUBLE) / 1000000.0 / COUNT(*) AS ms,
             CAST(SUM(CAST(FLOOR(tr * 1000000.0) AS HUGEINT))
               AS DOUBLE) / 1000000.0 / COUNT(*) AS mt
           FROM fr GROUP BY 1),
         jn AS (SELECT fr.k, resid, sr, tr, mr, ms, mt, n_est
           FROM fr JOIN mn ON mn.k = fr.k),
         v AS (SELECT k, MAX(n_est) AS n_est,
             CAST(SUM(CAST(FLOOR((resid - mr) * (resid - mr) * 1000000.0)
               AS HUGEINT)) AS DOUBLE) / 1000000.0 AS vr,
             CAST(SUM(CAST(FLOOR((sr - ms) * (sr - ms) * 1000000.0)
               AS HUGEINT)) AS DOUBLE) / 1000000.0 AS vs,
             CAST(SUM(CAST(FLOOR((tr - mt) * (tr - mt) * 1000000.0)
               AS HUGEINT)) AS DOUBLE) / 1000000.0 AS vt
           FROM jn GROUP BY 1)
         SELECT k AS event_type, n_est,
           CASE WHEN vs > 0 THEN GREATEST(0.0, 1.0 - vr / vs) END
             AS seasonal_strength,
           CASE WHEN vt > 0 THEN GREATEST(0.0, 1.0 - vr / vt) END
             AS trend_strength
         FROM v ORDER BY 1""",

    // mirrors Graph.bipartiteProjection: distinct two-mode edges, one
    // left-key self-join, exact weights + pinned cosine, top-30.
    "q416_bipartite_projection" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS l, l_suppkey AS r
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         deg AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS deg
           FROM e GROUP BY 1),
         p AS (SELECT x.r AS a, y.r AS b, CAST(COUNT(*) AS BIGINT)
             AS weight
           FROM e x JOIN e y ON y.l = x.l AND x.r < y.r GROUP BY 1, 2)
         SELECT p.a, p.b, weight, da.deg AS deg_a, db.deg AS deg_b,
           CAST(weight AS DOUBLE)
             / sqrt(CAST(da.deg AS DOUBLE) * CAST(db.deg AS DOUBLE))
             AS cosine
         FROM p
         JOIN deg da ON da.r = p.a
         JOIN deg db ON db.r = p.b
         ORDER BY weight DESC, a, b LIMIT 30""",

    // mirrors Ml.neymanAllocation: floor-scaled stratum moments, the
    // pinned sample-sd, the floor-scaled weight normalizer window, the
    // same floor(budget*share) allocation.
    "q419_neyman_allocation" ->
      """WITH b AS (SELECT CAST(l_returnflag AS VARCHAR) AS s,
             CAST(l_extendedprice AS DOUBLE) AS x
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL
             AND NOT isnan(CAST(l_extendedprice AS DOUBLE))
             AND l_returnflag IS NOT NULL),
         per AS (SELECT s AS stratum, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(FLOOR(x * 1000000.0) AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS sx,
             CAST(SUM(CAST(FLOOR(x * x * 1000000.0) AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS sxx
           FROM b GROUP BY 1),
         v AS (SELECT *,
             (sxx - sx * sx / CAST(n_rows AS DOUBLE))
               / (CAST(n_rows AS DOUBLE) - 1.0) AS vr
           FROM per),
         w AS (SELECT stratum, n_rows,
             CASE WHEN n_rows >= 2 AND vr > 0 THEN sqrt(vr)
               ELSE 0.0 END AS sd
           FROM v),
         w2 AS (SELECT *, CAST(n_rows AS DOUBLE) * sd AS wgt FROM w),
         w3 AS (SELECT *,
             CAST(SUM(CAST(FLOOR(wgt * 1000000.0) AS DECIMAL(30,0)))
               OVER () AS DOUBLE) / 1000000.0 AS tot
           FROM w2)
         SELECT stratum, n_rows, sd,
           CASE WHEN tot > 0 THEN wgt / tot ELSE 0.0 END AS neyman_share,
           CAST(FLOOR(1000.0 * (CASE WHEN tot > 0 THEN wgt / tot
             ELSE 0.0 END)) AS BIGINT) AS n_alloc
         FROM w3 ORDER BY stratum""",

    // mirrors Stats.theilDecomposition: positive-domain filter, the same
    // floor-scaled Σx / Σx·ln x moments per group and globally, the same
    // pinned T expressions, the floor-scaled decomposition window sums.
    "q420_theil_decomposition" ->
      """WITH b AS (SELECT CAST(event_type AS VARCHAR) AS grp,
             CAST(value AS DOUBLE) AS x
           FROM events
           WHERE event_type IS NOT NULL AND value IS NOT NULL
             AND NOT isnan(CAST(value AS DOUBLE))
             AND CAST(value AS DOUBLE) > 0.0),
         g AS (SELECT CAST(COUNT(*) AS BIGINT) AS gn,
             CAST(SUM(CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000.0 AS gsx,
             CAST(SUM(CAST(FLOOR(x * ln(x) * 1000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000.0 AS gsxl
           FROM b),
         per AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000.0 AS sxg,
             CAST(SUM(CAST(FLOOR(x * ln(x) * 1000000.0) AS DECIMAL(38,0)))
               AS DOUBLE) / 1000000.0 AS sxlg
           FROM b GROUP BY 1),
         j AS (SELECT per.*, g.gn, g.gsx, g.gsxl,
             g.gsx / CAST(g.gn AS DOUBLE) AS mu,
             sxg / CAST(n AS DOUBLE) AS mug,
             sxg / g.gsx AS share
           FROM per, g),
         f0 AS (SELECT *,
             FLOOR((sxlg / (CAST(n AS DOUBLE) * mug) - ln(mug))
               * 1000000000.0) / 1000000000.0 AS tg,
             FLOOR((gsxl / (CAST(gn AS DOUBLE) * mu) - ln(mu))
               * 1000000000.0) / 1000000000.0 AS tt
           FROM j),
         f AS (SELECT grp, n, mug AS mean, share,
             tg AS theil_g, tt AS theil_total,
             share * ln(mug / mu) AS bt,
             share * tg AS wt
           FROM f0)
         SELECT grp, n, mean, share, theil_g, theil_total,
           CAST(SUM(CAST(FLOOR(bt * 1000000000.0) AS DECIMAL(38,0)))
             OVER () AS DOUBLE) / 1000000000.0 AS theil_between,
           CAST(SUM(CAST(FLOOR(wt * 1000000000.0) AS DECIMAL(38,0)))
             OVER () AS DOUBLE) / 1000000000.0 AS theil_within
         FROM f ORDER BY grp""",

    // mirrors Stats.youdenThreshold: per-distinct-score class counts,
    // descending cumulate, the exact-integer HUGEINT argmax with the
    // (j DESC, threshold DESC) tie pin, one final pinned division.
    "q421_youden_threshold" ->
      """WITH b AS (SELECT CAST(value AS DOUBLE) AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
           FROM events
           WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
         g AS (SELECT v, CAST(SUM(y) AS BIGINT) AS p,
             CAST(SUM(1 - y) AS BIGINT) AS q
           FROM b GROUP BY v),
         t AS (SELECT CAST(SUM(p) AS BIGINT) AS np,
             CAST(SUM(q) AS BIGINT) AS nq FROM g),
         c AS (SELECT v,
             CAST(SUM(p) OVER (ORDER BY v DESC) AS BIGINT) AS tp,
             CAST(SUM(q) OVER (ORDER BY v DESC) AS BIGINT) AS fp
           FROM g),
         s AS (SELECT c.v, c.tp, c.fp, t.np, t.nq,
             CAST(c.tp AS HUGEINT) * t.nq - CAST(c.fp AS HUGEINT) * t.np
               AS j
           FROM c, t)
         SELECT np AS n_pos, nq AS n_neg, v AS threshold, tp, fp,
           np - tp AS fn, nq - fp AS tn,
           CAST(tp AS DOUBLE) / CAST(np AS DOUBLE) AS sensitivity,
           CAST(nq - fp AS DOUBLE) / CAST(nq AS DOUBLE) AS specificity,
           CAST(j AS DOUBLE) / (CAST(np AS DOUBLE) * CAST(nq AS DOUBLE))
             AS youden_j
         FROM s ORDER BY j DESC, v DESC LIMIT 1""",

    // mirrors Ml.targetEncode: per-brand floor-scaled exact price sums,
    // the 1-row global moment frame, the same (s + m*mu)/(n + m) pin.
    "q422_target_encode" ->
      """WITH b AS (SELECT CAST(p_brand AS VARCHAR) AS category,
             CAST(l_extendedprice AS DOUBLE) AS y
           FROM part JOIN lineitem ON p_partkey = l_partkey
           WHERE p_brand IS NOT NULL AND l_extendedprice IS NOT NULL
             AND NOT isnan(CAST(l_extendedprice AS DOUBLE))),
         g AS (SELECT CAST(COUNT(*) AS BIGINT) AS gn,
             CAST(SUM(CAST(FLOOR(y * 1000000.0) AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS gs
           FROM b),
         per AS (SELECT category, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(y * 1000000.0) AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS s
           FROM b GROUP BY 1)
         SELECT category, n, s / CAST(n AS DOUBLE) AS cat_mean,
           (s + 100.0 * (gs / CAST(gn AS DOUBLE)))
             / (CAST(n AS DOUBLE) + 100.0) AS encoded
         FROM per, g ORDER BY category""",

    // mirrors Stats.dagostinoK2: q361's floor-scaled power sums, then the
    // D'Agostino/Anscombe-Glynn transforms transcribed op-for-op (n cast
    // to DOUBLE before any product; cube root pinned as
    // sign(t)*exp(ln(|t|)/3) exactly as the engine).
    "q423_dagostino_k2" ->
      """WITH a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR((value) * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS s1,
             CAST(SUM(CAST(FLOOR((value * value) * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS s2,
             CAST(SUM(CAST(FLOOR((value * value * value) * 10000.0) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS s3,
             CAST(SUM(CAST(FLOOR((value * value * value * value) * 100.0) AS DECIMAL(38,0))) AS DOUBLE) / 100.0 AS s4
           FROM events
           WHERE event_type IS NOT NULL AND value IS NOT NULL
             AND NOT isnan(value)
           GROUP BY 1),
         m AS (SELECT *, CAST(n AS DOUBLE) AS nd,
             s1 / CAST(n AS DOUBLE) AS mu FROM a),
         c AS (SELECT *, s2 / nd - mu * mu AS m2,
             s3 / nd - 3.0 * mu * (s2 / nd) + 2.0 * mu * mu * mu AS m3,
             s4 / nd - 4.0 * mu * (s3 / nd) + 6.0 * mu * mu * (s2 / nd)
               - 3.0 * mu * mu * mu * mu AS m4
           FROM m),
         k AS (SELECT *, m3 / (m2 * sqrt(m2)) AS sk,
             m4 / (m2 * m2) AS b2 FROM c),
         sk1 AS (SELECT *,
             sk * sqrt((nd + 1.0) * (nd + 3.0) / (6.0 * (nd - 2.0))) AS ys,
             3.0 * (nd * nd + 27.0 * nd - 70.0) * (nd + 1.0) * (nd + 3.0)
               / ((nd - 2.0) * (nd + 5.0) * (nd + 7.0) * (nd + 9.0))
               AS beta2
           FROM k),
         sk2 AS (SELECT *, sqrt(2.0 * (beta2 - 1.0)) - 1.0 AS w2
           FROM sk1),
         sk3 AS (SELECT *, 1.0 / sqrt(ln(sqrt(w2))) AS deltas,
             ys / sqrt(2.0 / (w2 - 1.0)) AS ya
           FROM sk2),
         zs AS (SELECT *,
             deltas * ln(ya + sqrt(ya * ya + 1.0)) AS z_skew
           FROM sk3),
         ku1 AS (SELECT *, 3.0 * (nd - 1.0) / (nd + 1.0) AS eb2,
             24.0 * nd * (nd - 2.0) * (nd - 3.0)
               / ((nd + 1.0) * (nd + 1.0) * (nd + 3.0) * (nd + 5.0))
               AS vb2,
             6.0 * (nd * nd - 5.0 * nd + 2.0)
               / ((nd + 7.0) * (nd + 9.0))
               * sqrt(6.0 * (nd + 3.0) * (nd + 5.0)
                 / (nd * (nd - 2.0) * (nd - 3.0))) AS sqb1
           FROM zs),
         ku2 AS (SELECT *, (b2 - eb2) / sqrt(vb2) AS xstd,
             6.0 + 8.0 / sqb1 * (2.0 / sqb1
               + sqrt(1.0 + 4.0 / (sqb1 * sqb1))) AS ag
           FROM ku1),
         ku3 AS (SELECT *, (1.0 - 2.0 / ag)
               / (1.0 + xstd * sqrt(2.0 / (ag - 4.0))) AS tcb
           FROM ku2),
         ku4 AS (SELECT *, CASE WHEN tcb = 0.0 THEN 0.0
               ELSE (CASE WHEN tcb < 0.0 THEN -1.0
                 WHEN tcb > 0.0 THEN 1.0 ELSE 0.0 END)
                 * exp(ln(abs(tcb)) / 3.0) END AS cb
           FROM ku3),
         zk AS (SELECT *, ((1.0 - 2.0 / (9.0 * ag)) - cb)
               / sqrt(2.0 / (9.0 * ag)) AS z_kurt_r
           FROM ku4),
         zp AS (SELECT *,
             FLOOR(z_skew * 1000000000.0) / 1000000000.0 AS zs,
             FLOOR(z_kurt_r * 1000000000.0) / 1000000000.0 AS zku
           FROM zk)
         SELECT event_type, n,
           CASE WHEN n >= 20 AND m2 > 0 THEN sk END AS skewness,
           CASE WHEN n >= 20 AND m2 > 0 THEN b2 END AS kurtosis,
           CASE WHEN n >= 20 AND m2 > 0 THEN zs END AS z_skew,
           CASE WHEN n >= 20 AND m2 > 0 THEN zku END AS z_kurt,
           CASE WHEN n >= 20 AND m2 > 0
             THEN zs * zs + zku * zku END AS k2
         FROM zp ORDER BY event_type"""
  )
}
