package graft

import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Enforced plan invariants for the scale-critical distributed defaults:
  * a plan dump only shows a shape when someone reads it, so the shapes
  * that matter at scale are asserted here. For each guarded query the EXECUTED
  * (post-AQE) plan must route data-sized row counts around single-partition
  * chokepoints: any unpartitioned Window or SinglePartition shuffle may
  * only carry O(P) bucket-boundary frames / O(1) fit readouts — asserted
  * via the runtime numOutputRows metric, so a silent regression to a
  * global row-level window (the classic "works on the laptop, dies at
  * 100 TB" shape) fails the suite, not a code read. */
class PlanGuardSpec extends SparkSuite {
  init()

  /** Expand AQE stages / reused exchanges / cached relations to the full
    * executed tree (operators that persist internally park their real
    * plan inside an InMemoryRelation — descend into it). */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
    case q: QueryStageExec => p +: flatten(q.plan)
    case r: ReusedExchangeExec => p +: flatten(r.child)
    case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      p +: flatten(s.relation.cachedPlan)
    case _ => p +: p.children.flatMap(flatten)
  }

  /** Rows flowing through a node: its own numOutputRows when exposed, the
    * shuffle write-records metric for exchanges, else the max over its
    * (AQE-expanded) children — Window/Sort nodes expose no row metric, but
    * they are row-preserving, so the feeding exchange/scan count is the
    * right answer. */
  private def outputRows(p: SparkPlan): Long = {
    def direct(n: SparkPlan): Option[Long] =
      n.metrics.get("numOutputRows").map(_.value)
        .orElse(n.metrics.get("shuffleRecordsWritten").map(_.value))
    direct(p).getOrElse {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case _ => p.children
      }
      if (kids.isEmpty) -1L
      else kids.map(outputRows).max
    }
  }

  /** Run a registered query and assert every single-partition chokepoint
    * (unpartitioned Window, SinglePartition shuffle) emitted ≤ `bound`
    * rows — i.e. it processed boundary/summary frames, not the data. */
  private def guard(name: String, bound: Long): Unit = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    val total = df.collect().length.toLong // executes the df's OWN plan
    val nodes = flatten(df.queryExecution.executedPlan)
    val offenders = Seq.newBuilder[String]
    nodes.foreach {
      case w: WindowExec if w.partitionSpec.isEmpty =>
        val n = outputRows(w)
        if (n > bound)
          offenders += s"unpartitioned Window emitted $n rows (> $bound)"
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
        val n = outputRows(e)
        if (n > bound)
          offenders += s"SinglePartition exchange carried $n rows (> $bound)"
      case _ =>
    }
    val bad = offenders.result()
    assert(bad.isEmpty,
      s"$name (total output $total rows): ${bad.mkString("; ")}")
  }

  // sf0.001: lineitem ≈ 6k rows, orders ≈ 1.5k — a data-sized chokepoint
  // would blow far past this bound, while the intended O(P)/O(k) frames
  // (the 4 test partitions' boundaries, model moments) stay orders below.
  // (q67 spearman is deliberately absent: its ≤1M-distinct gate routes a
  // DISTINCT-VALUE table through one task, and for continuous columns
  // distinct ≈ rows at test SF — no sharp numeric invariant exists below
  // the gate; the gate itself is spec'd in AdvancedSpec.)
  private val Bound = 500L

  test("q101 keyless asof: boundary-frame windows only")(
    guard("q101_keyless_asof", Bound))

  // indicator tier: every window is keyed; the only SinglePartition
  // traffic allowed is the one-row aggregate frames
  test("q316 rsi: keyed windows only")(guard("q316_rsi", Bound))
  test("q318 macd: keyed fold, no global chokepoint")(
    guard("q318_macd", Bound))
  test("q321 varEs: per-key rank selection, no global sort")(
    guard("q321_var_es", Bound))

  // association tier: cell/margin frames only through any chokepoint
  test("q324 ordinal association: cell frames only")(
    guard("q324_ordinal_assoc", Bound))
  test("q331 fisher exact: k-range/lf frames only")(
    guard("q331_fisher_exact", Bound))
  test("q338 markov stationary: keyed transitions + O(states) rounds")(
    guard("q338_markov_stationary", Bound))
  test("q342 heaps: growth points confined to the O(docs) frame")(
    guard("q342_heaps", Bound))
  test("q349 levene: stratified-rank medians, keyed ANOVA only")(
    guard("q349_levene", Bound))
  test("q351 bfs: keyed frontier joins, no global funnel")(
    guard("q351_bfs", Bound))
  // the fixture's time range spans 531 distinct hours vs 1000 events —
  // the series frame legitimately exceeds the generic bound while still
  // sitting clearly below the data size a broken plan would funnel
  test("q357 periodogram: trig sums ride the O(hours) series frame")(
    guard("q357_periodogram", 700L))
  test("q358 trigram patterns: keyed lead windows + bounded top-k")(
    guard("q358_trigram_patterns", Bound))
  test("q332 hits: keyed join-aggregates + 1-row maxima only")(
    guard("q332_hits", Bound))

  test("q102 keyless fill-range: boundary-frame windows only")(
    guard("q102_fill_range_keyless", Bound))

  test("q391 negative row select: broadcast count, no global funnel")(
    guard("q391_negative_row_select", Bound))

  // q392 neighborhood function: keyed kmv_sketch rounds; the only
  // SinglePartition traffic is the per-round 1-row exact-sum readouts
  test("q392 neighborhood function: keyed rounds + 1-row readouts only")(
    guard("q392_neighborhood_function", Bound))

  // (q393 mann-kendall is deliberately absent: its slope-rank window IS
  // a global sort of the O(hours²) pair frame — bounded by construction
  // via the in-plan seriesBound guard at 4096 hours and FLAT in SF (the
  // r19 bench row measures 0.8× on 10× data), so there is no sharp
  // row-count invariant below that contract; the contract itself is
  // enforced by seriesBound + StatsTier19Spec.)

  test("q71 take-nth: distributed row index, no global funnel")(
    guard("q71_take_nth", Bound))

  test("q75 sequence packing: O(P) prefix sums only")(
    guard("q75_seq_pack", Bound))

  test("q57 deterministic reservoir: fully keyed windows")(
    guard("q57_reservoir", Bound))

  test("q127 perplexity buckets: stratified rank, no per-language funnel")(
    guard("q127_perplexity_buckets", Bound))

  test("q129 stratified split: O(strata) offset frame only")(
    guard("q129_stratified_split", Bound))

  test("q131 embedding outliers: aggregation+broadcast only, no window")(
    guard("q131_embedding_outliers", Bound))

  test("q132 semdedup: pair frame confined to cells, no global funnel")(
    guard("q132_semdedup", Bound))

  test("q133 line dedup: key-bucketed aggregations only")(
    guard("q133_line_dedup", Bound))

  test("q134 fuzzy join: band-key candidates, no cross-table funnel")(
    guard("q134_fuzzy_join", Bound))

  test("q135 keep-best dedup: struct-max aggregation, no global window")(
    guard("q135_dedup_keep_best", Bound))

  test("q136 dsir resample: broadcast model, shuffles carry (id,bucket)")(
    guard("q136_dsir_resample", Bound))

  test("q140 bpe tokenize: vocab broadcast join, no funnel")(
    guard("q140_bpe_tokenize", Bound))

  test("q149 pagerank: iteration joins + keyed aggs, no global funnel")(
    guard("q149_pagerank", Bound))

  test("q152 ks test: range-partitioned cumulate, no single-task sort")(
    guard("q152_ks_test", Bound))

  test("q229 log-rank: at-risk windows ride the O(times) frame")(
    guard("q229_log_rank", Bound))

  test("q230 nelson-aalen: hazard cumulate over the O(times) frame")(
    guard("q230_nelson_aalen", Bound))

  test("q234 rfm: percent-rank tables, no global score window")(
    guard("q234_rfm", Bound))

  test("q237 lorenz: O(buckets) cumulate only")(
    guard("q237_lorenz", Bound))

  test("q278 temperature sample: O(domains) rate frame, map-side epochs")(
    guard("q278_temperature_sample", Bound))

  test("q279 cdc chunks: boundary hashing map-side, keyed aggregation only")(
    guard("q279_cdc_chunks", Bound))

  test("q280 export manifest: O(shards) aggregation only")(
    guard("q280_export_manifest", Bound))

  test("q238 zipf: OLS confined to the top-N frame")(
    guard("q238_zipf", Bound))

  test("q270 star join: dims broadcast, no cartesian product") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec}
    val df = SparkEntry.queries("q270_star_join")(spark, sfDir)
    df.collect()
    val nodes = flatten(df.queryExecution.executedPlan)
    val bhj = nodes.count(_.isInstanceOf[BroadcastHashJoinExec])
    assert(bhj >= 2,
      s"nation/region (at least) must ride broadcast joins, saw $bhj")
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]),
      "a star join must never degrade to a cartesian product")
  }

  test("pushdown: filter and projection reach the parquet scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.col
    val df = Tables.t(spark, sfDir, "lineitem")
      .filter(col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    df.collect()
    val scan = flatten(df.queryExecution.executedPlan)
      .collectFirst { case f: FileSourceScanExec => f }.get
    assert(scan.dataFilters.nonEmpty,
      "the l_quantity predicate must reach the scan (PushedFilters), " +
        "not evaluate post-scan only")
    val readCols = scan.requiredSchema.fieldNames.toSet
    assert(readCols == Set("l_orderkey", "l_quantity"),
      s"ReadSchema must prune to the projected columns, read $readCols")
  }

  test("q292 quantile normalize: keyed ECDF, O(strata) offsets only")(
    guard("q292_quantile_normalize", Bound))

  test("q293 AR fit: keyed lag windows, no global funnel")(
    guard("q293_ar_fit", Bound))

  test("q294 changepoint: keyed prefix sums + struct-max argmax only")(
    guard("q294_changepoint", Bound))

  test("q295 psi: O(bins) term frame only")(
    guard("q295_psi", Bound))

  test("q300 sequence support: per-user pair frame, O(pairs) rollup")(
    guard("q300_seq_support", Bound))

  test("q301 binned MI: O(bins^2) cell frames only")(
    guard("q301_binned_mi", Bound))

  test("q303 dwell times: keyed lead pass, O(states) rollup")(
    guard("q303_dwell", Bound))

  test("q306 jaccard join: vocab rank via boundary frames, keyed prefix " +
       "windows")(
    guard("q306_jaccard_join", Bound))

  test("q309 mahalanobis: one-row moment broadcast, map-side filter")(
    guard("q309_mahalanobis", Bound))

  test("q299 weighted sample: TakeOrderedAndProject, no global sort") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import graft.ops.TableOps._
    val df = graft.Tables.t(spark, sfDir, "documents")
      .hashSampleTopKWeighted("n_chars", 50, Seq("doc_id"))
    df.collect()
    val nodes = flatten(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      "the k-winner race must plan as per-partition top-k heaps " +
        "(TakeOrderedAndProject), not a global sort + limit")
  }

  test("q308 cluster terms: WindowGroupLimit prunes the per-cluster rank") {
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    val df = graft.llm.TextStats.clusterTerms(
      graft.Tables.t(spark, sfDir, "documents"), "source", "text", topK = 5)
    val nodes = flatten(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[WindowGroupLimitExec]),
      "rank <= topK must rewrite to a per-partition group-limit heap")
  }

  test("q252 top-k per group: WindowGroupLimit prunes before the shuffle") {
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    val df = SparkEntry.queries("q252_topk_per_group")(spark, sfDir)
    df.collect()
    val nodes = flatten(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[WindowGroupLimitExec]),
      "rank <= 3 must rewrite to a per-partition top-k heap " +
        "(WindowGroupLimit), not a full per-group sort")
  }

  test("compact: exact file count and disjoint sort-key ranges") {
    import org.apache.spark.sql.functions.{col, max, min}
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val ev = Tables.t(spark, sfDir, "events").select("event_id", "user_id")
    ev.repartition(20).write.parquet(s"$tmp/small")
    graft.ops.Layout.compact(spark.read.parquet(s"$tmp/small"), 3,
      Seq("user_id", "event_id")).write.parquet(s"$tmp/out")
    val files = new java.io.File(s"$tmp/out").listFiles
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 3, s"expected 3 compacted files, got ${files.length}")
    // each file covers a contiguous user_id range — that's what makes
    // min/max file stats prunable after compaction
    val ranges = files.toSeq.map { f =>
      val r = spark.read.parquet(f.getPath)
        .agg(min(col("user_id")), max(col("user_id"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) =>
        assert(hi <= lo, s"file ranges overlap: $ranges")
      case _ =>
    }
  }

  test("q243 dpp: runtime partition pruning reaches the fact scan") {
    val df = SparkEntry.queries("q243_dpp")(spark, sfDir)
    df.collect()
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.toLowerCase.contains("dynamicpruning"),
      "expected a dynamicpruningexpression partition filter on the " +
        "month-partitioned scan (DPP off = full 12-partition read)")
  }

  test("q239 partitioned sink: read-back prunes to the filtered partition") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = SparkEntry.queries("q239_partitioned_sink")(spark, sfDir)
    df.collect()
    val scans = flatten(df.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
    val part = scans.filter(_.relation.partitionSchema.nonEmpty)
    assert(part.nonEmpty, "expected a scan over the hive-partitioned sink")
    assert(part.forall(_.partitionFilters.nonEmpty),
      "o_month = 1 must reach the scan as a PARTITION filter " +
        "(directory pruning), not a row filter")
  }

  test("q164 scd2: keyed windows only")(
    guard("q164_scd2", Bound))

  test("q165 group quantiles: stratified rank + O(groups) offsets only")(
    guard("q165_group_quantiles", Bound))

  test("q176 BH-FDR: range-partitioned suffix-min, no global window")(
    guard("q176_bh_fdr", Bound))

  test("q182 forecast accuracy: keyed lag windows only")(
    guard("q182_forecast_acc", Bound))

  test("q185 rolling median: keyed bounded frames only")(
    guard("q185_rolling_median", Bound))

  test("q188 cdc merge: one key shuffle, per-key pick only")(
    guard("q188_cdc_merge", Bound))

  test("q190 kcore: per-round keyed degree counts + semi joins only")(
    guard("q190_kcore", Bound))

  test("q195 abc: range-partitioned prefix sum, no global window")(
    guard("q195_abc", Bound))

  test("q196 kaplan-meier: one duration groupBy; risk table is O(days)")(
    guard("q196_kaplan_meier", Bound))

  test("q199 seasonal decompose: keyed windows + tiny phase frames")(
    guard("q199_seasonal_decompose", Bound))

  test("q200 percent rank: per-value offsets, no single-task window")(
    guard("q200_percent_rank", Bound))

  // (q151 Mann-Whitney is deliberately absent for the q67 reason: its
  // ≤1M-distinct gate routes the DISTINCT-VALUE table through one task,
  // and for continuous columns distinct ≈ rows at test SF. q159 RRF and
  // q161 MMR run bounded-by-contract candidate lists — their unpartitioned
  // windows are the documented design, not a regression.)

  test("q14/q63/q207: keyed as-of queries plan the Catalyst merge exec") {
    // round-14 routing: the composed union+window plan remains only for
    // KEYLESS as-of; every keyed query must carry AsofJoinExec (one
    // SMJ-style shuffle+sort per side, O(n+m) sweep) and no WindowExec
    // carry pass
    Seq("q14_asof_join", "q63_asof_nearest", "q207_asof_tolerance")
      .foreach { name =>
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.collect()
        val nodes = flatten(df.queryExecution.executedPlan)
        assert(nodes.exists(_.isInstanceOf[graft.plans.AsofJoinExec]),
          s"$name must plan AsofJoinExec")
        assert(!nodes.exists {
          case w: WindowExec => w.output.exists(_.name == "__pc")
          case _ => false
        }, s"$name must not run the composed union+window carry")
      }
  }

  test("bounded-series operators enforce their contract IN-PLAN") {
    // the Bounded doctrine applied to global-window inputs: a stated
    // O(time-range) bound is an enforced bound — feeding more rows than
    // the bound must fail loudly naming the operator, not silently
    // single-task the engine
    import spark.implicits._
    val series = (1 to 10).map(i => (i, i.toDouble)).toDF("t", "v")
    val e1 = intercept[Exception] {
      graft.ops.Stats.periodogram(series, Seq("t"), "v",
        maxSeriesRows = 5L).collect()
    }
    assert(e1.getMessage.contains("periodogram"), e1.getMessage)
    val e2 = intercept[Exception] {
      graft.ops.Stats.runsTest(series, "t", "v",
        org.apache.spark.sql.functions.expr("median(v)"),
        maxSeriesRows = 5L).collect()
    }
    assert(e2.getMessage.contains("runsTest"), e2.getMessage)
    // within the bound the guard is the identity
    assert(graft.ops.Stats.periodogram(series, Seq("t"), "v")
      .collect().length == 6)
  }

  /** Every line of `src/main/scala`'s sources: (file, line number, text). */
  private def mainSourceLines(): List[(java.nio.file.Path, Int, String)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"spec must run from the repo root (cwd=${System.getProperty("user.dir")})")
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .split("\n").zipWithIndex.map { case (l, i) => (p, i + 1, l) }
      }.toList
  }

  test("no raw .collect() in src/main — everything routes through collectBounded") {
    // graft.ops.Bounded is the only sanctioned driver-side
    // materialization (plan-level limit cap + loud bound assertion), and
    // Bounded.scala itself the only file allowed a raw collect
    val offenders = mainSourceLines()
      .filterNot { case (p, _, _) => p.toString.endsWith("ops/Bounded.scala") }
      // .head()/.first() (paren forms — unambiguous Dataset actions;
      // bare .head on Scala collections stays allowed) are raw 1-row
      // driver readouts outside the fence unless the line routes
      // through collectBounded (r18: two BFS/SSSP source readouts
      // and three 1-row aggregate readouts were outside it)
      .filter { case (_, _, l) =>
        (l.contains(".collect()") || l.contains(".head()") ||
          l.contains(".first()")) && !l.contains("collectBounded") }
      .map { case (p, i, l) => s"$p:$i: ${l.trim}" }
    assert(offenders.isEmpty,
      "raw .collect()/.head()/.first() outside Bounded:\n" +
        offenders.mkString("\n"))
  }

  test("graph replays collect packed LONG columns, not Row lists") {
    // the edge, seed and label lists the graph replays fold are
    // driver-limit-sized: they go through Bounded.collectLongs (one
    // Array[Long] per column). A Row collect of them — collectBounded at
    // a driverRowBound, or a Row → tuple copy after a collectBounded —
    // holds ≈10× the payload on the driver.
    val rowCollect = ("""collectBounded\(\s*(?:Bounded\.)?driverRowBound|""" +
      """collectBounded\((?:[^()]|\([^()]*\))*\)\s*\.map\(\s*""" +
      """(?:\w+\s*=>\s*\(?\s*\w+|_)\.getLong\(""").r
    val files = mainSourceLines()
      .filter { case (p, _, _) =>
        p.getParent.endsWith("ops") &&
          p.getFileName.toString.matches("Graph.*\\.scala") }
      .groupBy(_._1)
    assert(files.size >= 2, s"Graph*.scala not found: ${files.keys}")
    val offenders = files.toSeq.flatMap { case (p, ls) =>
      val text = ls.sortBy(_._2).map(_._3).mkString("\n")
      rowCollect.findAllMatchIn(text).map { m =>
        s"$p:${text.take(m.start).count(_ == '\n') + 1}: " +
          m.matched.replaceAll("\\s+", " ")
      }
    }
    assert(offenders.isEmpty,
      "Row collects of graph lists in ops/Graph*.scala:\n" +
        offenders.mkString("\n"))
  }

  test("one driver-size knob: src/main reads only spark.graft.driverRowLimit") {
    // every "small enough for the driver?" gate goes through
    // Bounded.fitsDriver; per-operator limits, per-call thresholds and
    // env switches must not creep back in
    val key = "spark\\.graft\\.[A-Za-z0-9_.]*[A-Za-z0-9_]".r
    val hits = mainSourceLines()
    val otherKeys = hits.flatMap { case (p, i, l) =>
      key.findAllIn(l).filter(_ != "spark.graft.driverRowLimit")
        .map(k => s"$p:$i: $k")
    }
    assert(otherKeys.isEmpty,
      "spark.graft.* keys besides driverRowLimit:\n" + otherKeys.mkString("\n"))
    val keyFiles = hits.collect {
      case (p, _, l) if l.contains("\"spark.graft.") => p.getFileName.toString
    }.toSet
    assert(keyFiles == Set("Bounded.scala"), s"key literal outside Bounded: $keyFiles")
    val banned = Seq("localEdgeThreshold", "GRAFT_DEDUP_FORCE_DISTRIBUTED")
    val offenders = hits.collect {
      case (p, i, l) if banned.exists(l.contains) => s"$p:$i: ${l.trim}"
    }
    assert(offenders.isEmpty, "retired gate knobs:\n" + offenders.mkString("\n"))
    // the engine reads no environment: only the harness mains do
    val engine = Set("ops", "llm", "functions", "plans", "sources",
      "streaming", "japi")
    val envReads = hits.collect {
      case (p, i, l) if engine.exists(d => p.toString.contains(s"/graft/$d/")) &&
        (l.contains("sys.env") || l.contains("System.getenv")) =>
        s"$p:$i: ${l.trim}"
    }
    assert(envReads.isEmpty, "env reads in the engine:\n" + envReads.mkString("\n"))
  }

  test("streamed folds: one kernel per shape") {
    // the keyed fold's key-run loop and the two-class cumulate's count
    // frame live in graft.ops.Folds only; operators call the kernels
    val hits = mainSourceLines()
    for (pattern <- Seq("var curKey", ".as[(Double, Long, Long)]")) {
      val at = hits.collect {
        case (p, i, l) if l.contains(pattern) => s"${p.getFileName}:$i"
      }
      assert(at.size == 1 && at.head.startsWith("Folds.scala:"),
        s"'$pattern' outside its kernel: ${at.mkString(", ")}")
    }
  }

  test("graph loops: one rank loop, one KMV ball loop, one edge intake") {
    // pageRank and personalizedPageRank run one distributed rank loop,
    // harmonicCentralityKmv and neighborhoodFunction one ball loop, and
    // the gated graph operators collect their edges in one intake helper
    val code = mainCodeLines()
    for (pattern <- Seq("r div outdeg", "kmv_sketch_arr(")) {
      val at = code.collect {
        case (p, i, l) if l.contains(pattern) => s"${p.getFileName}:$i"
      }
      assert(at.size == 1 && at.head.startsWith("Graph.scala:"),
        s"'$pattern' outside its loop: ${at.mkString(", ")}")
    }
    val graph = code.filter(_._1.endsWith("ops/Graph.scala"))
    val intake = graphMember(graph, "private def intake(")
    val collects = graph.collect {
      case (_, i, l) if l.contains("GraphLocal.collectEdges(") ||
        l.contains("GraphLocal.collectColumns(") => i
    }
    val outside = collects.filterNot(intake.contains)
    assert(collects.nonEmpty && outside.isEmpty,
      s"edge collects outside the intake at Graph.scala:${outside.mkString(", ")}")
  }

  test("vertex loops: no repartition( or explode( feeds vertexLoop") {
    // the operators hand vertexLoop their un-mirrored rows, and its intake
    // mirrors and routes them on the map side into one block shuffle
    val code = mainCodeLines()
    val graph = code.filter(_._1.endsWith("ops/Graph.scala"))
    val loop = graphMember(graph, "private def vertexLoop[")
    val callers = graph.collect {
      case (_, i, l) if l.contains("vertexLoop(") && !loop.contains(i) => i
    }
    val members = (loop +: callers.map(i => graphMember(graph,
      graph.filter(_._2 <= i).findLast(_._3.matches("  (private )?def .*")).get._3
        .trim))).distinct
    val intake = graphMember(code.filter(_._1.endsWith("ops/GraphLocal.scala")),
      "def packByKey[")
    val feeds = (graph.filter(l => members.exists(_.contains(l._2))) ++
      code.filter(l => l._1.endsWith("ops/GraphLocal.scala") && intake.contains(l._2)))
      .collect { case (p, i, l) if l.contains("repartition(") ||
        l.contains("explode(") => s"${p.getFileName}:$i" }
    assert(callers.size == 2 && feeds.isEmpty,
      s"callers at Graph.scala:${callers.mkString(", ")}; feeds: ${feeds.mkString(", ")}")
  }

  /** The lines of src/main without comment lines. */
  private def mainCodeLines() = mainSourceLines().filterNot { case (_, _, l) =>
    val t = l.trim
    t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
  }

  /** The line numbers of the member of object Graph declared by `decl`:
    * its body ends where the next member starts. */
  private def graphMember(graph: List[(java.nio.file.Path, Int, String)],
                          decl: String): Range = {
    val start = graph.collectFirst { case (_, i, l) if l.contains(decl) => i }
    assert(start.isDefined, s"no '$decl' in ops/Graph.scala")
    val end = graph.collect {
      case (_, i, l) if i > start.get && l.matches("  (private )?def .*") => i
    }.minOption.getOrElse(Int.MaxValue)
    start.get until end
  }

  test("vertex loops: no broadcast in rankLoop, one per-round broadcast " +
    "and runJob dispatch") {
    // the rank family's sort-merge loop broadcasts no node frame (the
    // driver and hybrid legs hold that frame on the driver), and every
    // vertex loop's per-round broadcast + runJob goes through one dispatch
    val code = mainCodeLines()
    val graph = code.filter(_._1.endsWith("ops/Graph.scala"))
    val rankLoop = graphMember(graph, "private def rankLoop(")
    val bcast = graph.collect {
      case (_, i, l) if rankLoop.contains(i) && l.contains("broadcast(") => i
    }
    assert(bcast.isEmpty, s"broadcast in rankLoop at Graph.scala:${bcast.mkString(", ")}")
    val jobs = code.collect { case (p, i, l) if l.contains("runJob(") => (p, i) }
    val dispatch = jobs.filter { case (p, i) =>
      code.exists { case (q, j, l) => q == p && j >= i - 2 && j <= i &&
        l.contains("broadcast(") }
    }
    assert(dispatch.size == 1 && dispatch.head._1.endsWith("ops/GraphLocal.scala"),
      s"per-round broadcast + runJob at ${dispatch.mkString(", ")}")
    val elsewhere = jobs.filterNot { case (p, _) =>
      p.toString.endsWith("ops/Bounded.scala") ||
        p.toString.endsWith("ops/GraphLocal.scala") }
    assert(elsewhere.isEmpty, s"runJob outside Bounded and GraphLocal: $elsewhere")
  }

  test("funnel: executed stages grow LINEARLY in stage count " +
       "(survivor chain is checkpointed, no O(k²) recompute)") {
    // Without the per-stage localCheckpoint, stage i's count() re-executes
    // stages 1..i−1 (fresh RDDs per action — no shuffle reuse across the
    // rebuilt chains), so executed Spark stages grow quadratically in the
    // funnel depth. Measure actual stage completions via a listener. The
    // linear budget is DERIVED from a measured k=1 baseline, not a
    // hardcoded per-stage constant (which shifts across Spark versions):
    // with stages(k) = a + c·k (a,c ≥ 0), k·(a+c) + slack always covers
    // the linear shape, while quadratic growth (a + c·k(k+1)/2) blows
    // through it by ~k/2×.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    import java.util.concurrent.atomic.AtomicInteger
    import spark.implicits._
    def measuredStages(k: Int): Int = {
      val stages = new AtomicInteger(0)
      val listener = new SparkListener {
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
          stages.incrementAndGet()
      }
      val types = (0 until k).map(i => s"st$i")
      val ev = (0L until 500L).flatMap { u =>
        types.zipWithIndex.map { case (t, i) =>
          (u, t, java.sql.Timestamp.valueOf(f"2024-01-01 00:${i}%02d:00"))
        }
      }.toDF("user_id", "event_type", "ts")
      spark.sparkContext.addSparkListener(listener)
      try {
        val out = graft.ops.Behavior.funnel(ev, "user_id", "event_type",
          "ts", types).collect()
        assert(out.length == k && out.forall(_.getAs[Long]("n_users") == 500L))
      } finally {
        // stage events are delivered asynchronously and the draining API
        // (listenerBus.waitUntilEmpty) is private[spark]: poll until the
        // counter has been stable for 500 ms (deadline 20 s) instead of a
        // fixed sleep that a loaded box can outrun
        val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
        var last = stages.get()
        var stableSince = System.nanoTime()
        while (System.nanoTime() < deadline &&
               System.nanoTime() - stableSince < 500L * 1000 * 1000) {
          Thread.sleep(50)
          val cur = stages.get()
          if (cur != last) { last = cur; stableSince = System.nanoTime() }
        }
        spark.sparkContext.removeSparkListener(listener)
      }
      stages.get()
    }
    val k = 8
    val baseline = measuredStages(1) // a + c for this Spark version/box
    val n = measuredStages(k)
    val budget = k * baseline + 8
    assert(n <= budget,
      s"funnel($k stages) executed $n Spark stages — expected O(k) " +
        s"(≤ $budget = $k × measured 1-stage baseline $baseline + slack); " +
        "the survivor chain is re-executing per stage")
  }

  test("detector self-test: a global row-level window IS flagged") {
    // prove the guard can fire — a data-sized unpartitioned Window must
    // trip the same detection path the real guards rely on. The window's
    // output feeds an aggregate (NOT a rank<=k filter: Spark's
    // WindowGroupLimit would legitimately prune that to a scale-safe
    // top-k-per-partition plan — the first draft of this test was
    // "caught" by the optimizer doing the right thing)
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number, sum}
    val df = Tables.t(spark, sfDir, "lineitem")
      .withColumn("rn", row_number().over(
        Window.orderBy(col("l_orderkey"), col("l_linenumber"))))
      .agg(sum(col("rn")).as("s"))
    df.collect()
    val nodes = flatten(df.queryExecution.executedPlan)
    val hit = nodes.exists {
      case w: WindowExec if w.partitionSpec.isEmpty => outputRows(w) > Bound
      case e: ShuffleExchangeExec
        if e.outputPartitioning == SinglePartition => outputRows(e) > Bound
      case _ => false
    }
    assert(hit, "global window over 6k rows was not detected — guard is blind")
  }

  // round-17 second wave: moment tests are pure keyed aggregations; the
  // iterative fits keep O(groups)/O(items²) driver frames; SSSP's rounds
  // are keyed joins + keyed mins; incremental dedup is band-keyed
  test("q361 jarque-bera: one keyed moment pass, no funnel")(
    guard("q361_jarque_bera", Bound))
  test("q362 tukey hsd: keyed moments + O(k²) pair frame")(
    guard("q362_tukey_hsd", Bound))
  // granger's lag window rides the O(hours) series frame (the q357
  // periodogram precedent: 531 distinct hours at sf0.001)
  test("q364 granger: lag window confined to the hourly frame")(
    guard("q364_granger", 700L))
  test("q365 sssp: keyed relaxation joins, no global funnel")(
    guard("q365_sssp", Bound))
  test("q366 bradley-terry: pair-matrix readout, no data-sized funnel")(
    guard("q366_bradley_terry", Bound))
  test("q367 logistic: broadcast β frame + keyed IRLS aggregations")(
    guard("q367_logistic", Bound))
  test("q368 incremental dedup: band-keyed candidates only")(
    guard("q368_incremental_dedup", Bound))

  // round-19 closing wave: contingency/marginal frames, bounded hourly
  // series (531 distinct hours at sf0.001 — the periodogram/granger
  // 700 bound), candidate grids, fit readouts
  test("q394 cramers v: marginal + grid frames only")(
    guard("q394_cramers_v", Bound))
  test("q395 kpss: partial sums ride the O(hours) series frame")(
    guard("q395_kpss", 700L))
  test("q396 chatterjee xi: rank windows on the O(hours) frame")(
    guard("q396_chatterjee_xi", 700L))
  test("q397 yule k: keyed type counts, no global funnel")(
    guard("q397_yule_k", Bound))
  test("q398 chow test: segment moments on the O(hours) frame")(
    guard("q398_chow_test", 700L))
  test("q399 variance ratio: lag windows on the O(hours) frame")(
    guard("q399_variance_ratio", 700L))
  test("q400 cooks distance: 1-row moment frame + top-k only")(
    guard("q400_cooks_distance", Bound))
  test("q401 spectral entropy: trig sums on the O(hours) frame")(
    guard("q401_spectral_entropy", 700L))
  test("q402 adamic-adar: keyed wedges + bounded top-k")(
    guard("q402_adamic_adar", Bound))
  test("q403 decision stump: candidate-grid windows only")(
    guard("q403_decision_stump", Bound))
  test("q404 js divergence: keyed token counts + O(sources) guard frame")(
    guard("q404_js_divergence", Bound))
  test("q405 personalized pagerank: keyed rounds, no global funnel")(
    guard("q405_personalized_pagerank", Bound))
  test("q406 turning points: lag/lead on the O(hours) frame")(
    guard("q406_turning_points", 700L))
  test("q407 sample entropy: template leads on the O(hours) frame")(
    guard("q407_sample_entropy", 700L))
  test("q408 odds ratio: one 4-count aggregate row only")(
    guard("q408_odds_ratio", Bound))
  test("q409 k-truss: keyed wedge/support rounds, no global funnel")(
    guard("q409_k_truss", Bound))
  test("q410 mood median: distinct-value grid + O(k) cell frame only")(
    guard("q410_mood_median", Bound))
  test("q411 grubbs: one moment row only")(guard("q411_grubbs", Bound))
  // (q412 anderson-darling is deliberately absent: its cumulate is the
  // Folds.twoClass kernel's RDD range-partition scan — no Window/
  // SinglePartition node exists to guard; the no-single-task-sort
  // property is structural.)
  test("q413 jonckheere: value-grid windows + O(grid·k) pair frame")(
    guard("q413_jonckheere", Bound))
  // (q414 average precision is deliberately absent: like q412, its
  // cumulate is the Folds.twoClass kernel's RDD scan — structural.)
  test("q415 seasonal strength: keyed decompose + broadcast mean frame")(
    guard("q415_seasonal_strength", Bound))
  test("q416 bipartite projection: keyed wedge join + bounded top-k")(
    guard("q416_bipartite_projection", Bound))
  test("q417 script profile: zero-shuffle per-row counts")(
    guard("q417_script_profile", Bound))
  test("q418 minhash calibration: band-keyed pairs + one moment row")(
    guard("q418_minhash_calibration", Bound))
  test("q419 neyman allocation: O(strata) design frame only")(
    guard("q419_neyman_allocation", Bound))
  test("q420 theil decomposition: O(groups) frame through the window")(
    guard("q420_theil_decomposition", Bound))
  // (q421 youden threshold is deliberately absent: like q412/q414, its
  // cumulate is the Folds.twoClass kernel's RDD scan — structural.)
  test("q422 target encode: keyed moments + 1-row broadcast global")(
    guard("q422_target_encode", Bound))
  test("q423 dagostino k2: one keyed moment pass only")(
    guard("q423_dagostino_k2", Bound))

  /** SSSP plan depth must not grow with rounds — each round reads the
    * previous round's CHECKPOINT, not its plan (the pageRank doctrine;
    * an unchecked loop re-analyzes an exponentially nested tree). */
  test("q365 sssp: plan depth constant per round") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val e = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (4L, 5L, 1L))
      .toDF("src", "dst", "w")
    def depth(rounds: Int): Int = {
      val d = graft.ops.Graph.ssspWeighted(e, "src", "dst", "w", Seq(1L), rounds)
      d.queryExecution.optimizedPlan.collect { case p => p }.size
    }
    val d2 = depth(2); val d4 = depth(4)
    assert(d4 <= d2 + 2,
      s"plan grew with rounds: $d2 nodes at 2 rounds vs $d4 at 4")
  }
}
