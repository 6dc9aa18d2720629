package graft

import org.apache.spark.sql.functions._

import graft.ops.{Behavior, Graph, Ml, Reductions, Stats}
import graft.ops.TableOps._

/** Specs for the round-14 stats / graph / behavior operators. The DuckDB
  * oracles (q149-q158) pin cross-engine exactness; these pin the
  * closed-form math on small frames where the expected values are
  * hand-computable, plus the partition-invariance contracts. */
class StatsGraphSpec extends SparkSuite {
  init()
  import spark.implicits._

  test("labelPropagation: two triangles + bridge settle into two communities") {
    // triangles {1,2,3} and {4,5,6} joined by bridge 3-4; one direction
    // given — the op symmetrizes. With min-label ties, each triangle
    // floods to its own minimum; the bridge can't overturn in-triangle
    // majorities.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, "src", "dst", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).map(got).distinct.size == 1, s"left: $got")
    assert(Seq(5L, 6L).map(got).distinct.size == 1, s"right: $got")
    assert(got(1L) != got(5L), s"communities merged: $got")
  }

  test("labelPropagation: equals a sequential synchronous simulation, " +
    "partition-invariant") {
    val rnd = new scala.util.Random(31)
    val pairs = (0 until 120).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)).filter(p => p._1 != p._2)
    val sym = (pairs ++ pairs.map(_.swap)).distinct
    val nbrs = sym.groupBy(_._1).map { case (a, es) => a -> es.map(_._2) }
    var lbl: Map[Long, Long] = nbrs.keys.map(k => k -> k).toMap
    for (_ <- 1 to 3) {
      lbl = nbrs.map { case (a, ns) =>
        val counts = ns.groupBy(lbl).map { case (l, xs) => (l, xs.size) }
        a -> counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
      }
    }
    for (parts <- Seq(1, 7)) {
      val got = Graph.labelPropagation(
          pairs.toDF("src", "dst").repartition(parts), "src", "dst", iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == lbl, s"parts=$parts")
    }
  }

  test("labelPropagation: assumeSymmetric on a pre-symmetrized frame " +
    "equals the default path exactly") {
    val rnd = new scala.util.Random(77)
    val pairs = (0 until 150).map(_ =>
      (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong)).filter(p => p._1 != p._2)
    val sym = (pairs ++ pairs.map(_.swap)).distinct
    val viaDefault = Graph.labelPropagation(
        pairs.toDF("src", "dst"), "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaSym = Graph.labelPropagation(
        sym.toDF("src", "dst"), "src", "dst", iters = 3,
        assumeSymmetric = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSym == viaDefault)
  }

  test("pageRank: two-node symmetric graph converges to equal ranks") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = Graph.pageRank(edges, "src", "dst", iters = 5, damp = 85)
      .orderBy("id").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // symmetric graph → identical ranks, and mass ≈ Scale (minus
    // truncation dust)
    assert(r(0).getLong(1) == r(1).getLong(1))
    val total = r.map(_.getLong(1)).sum
    assert(total > Graph.Scale * 9 / 10 && total <= Graph.Scale)
  }

  test("pageRank: a hub node outranks leaves and ranks are partition-invariant") {
    // star graph: hub 0 ↔ leaves 1..4
    val pairs = (1L to 4L).flatMap(l => Seq((0L, l), (l, 0L)))
    val edges = pairs.toDF("src", "dst")
    val byId = Graph.pageRank(edges, "src", "dst").orderBy("id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(0L) > byId(1L), s"hub ${byId(0L)} should beat leaf ${byId(1L)}")
    assert((1L to 4L).map(byId).distinct.size == 1, "leaves must tie")
    val repartitioned = Graph.pageRank(edges.repartition(7), "src", "dst")
      .orderBy("id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId == repartitioned, "integer ranks must not depend on layout")
  }

  test("mannWhitneyU: hand-computed small sample with ties") {
    // A = {1, 2, 2}, B = {2, 3}: pooled avg ranks 1→1, 2→3 (ranks 2,3,4),
    // 3→5, so doubled ranks are 2, 6, 10
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 2.0), ("b", 2.0), ("b", 3.0))
      .toDF("g", "x")
    val r = Stats.mannWhitneyU(df, "x", "g", "a", "b").collect()(0)
    assert(r.getAs[Long]("n1") == 3 && r.getAs[Long]("n2") == 2)
    assert(r.getAs[Long]("r1_doubled") == 2 + 6 + 6)
    // U1 = R1 − n1(n1+1)/2 = 7 − 6 = 1
    assert(r.getAs[Double]("u1") == 1.0)
  }

  test("ksTest: disjoint supports give D = 1, identical samples D = 0") {
    val disjoint = Seq(("a", 1.0), ("a", 2.0), ("b", 5.0), ("b", 6.0))
      .toDF("g", "x")
    val r1 = Stats.ksTest(disjoint, "x", "g", "a", "b").collect()(0)
    assert(r1.getAs[Double]("d") == 1.0)
    val same = Seq(("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0)).toDF("g", "x")
    val r2 = Stats.ksTest(same, "x", "g", "a", "b").collect()(0)
    assert(r2.getAs[Double]("d") == 0.0)
  }

  test("chiSquare: independent 2x2 gives chi2 = 0, dof = 1") {
    // perfectly proportional counts → observed == expected
    val rows = Seq.fill(10)(("x", "u")) ++ Seq.fill(20)(("x", "v")) ++
      Seq.fill(30)(("y", "u")) ++ Seq.fill(60)(("y", "v"))
    val r = Stats.chiSquareIndependence(rows.toDF("a", "b"), "a", "b")
      .collect()(0)
    assert(r.getAs[Long]("n_cells") == 4)
    assert(r.getAs[Long]("dof") == 1)
    assert(math.abs(r.getAs[Double]("chi2")) < 1e-8)
  }

  test("acf: a constant-increment series has lag-k pairs but NaN-free output") {
    // x_t = t per key: perfectly linear → acf = 1 at every lag
    val df = (1 to 50).map(i => (1L, i, i.toDouble)).toDF("k", "o", "x")
    val out = Stats.acf(df, Seq("k"), Seq("o"), "x", Seq(1, 2)).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(math.abs(r.getAs[Double]("acf") - 1.0) < 1e-9,
        s"linear series must have acf 1, got $r")
    }
  }

  test("fitQuantileBinner: bins are ≈ equal frequency and cover all rows") {
    val df = (1 to 1000).map(i => i.toDouble).toDF("x")
    val m = Ml.fitQuantileBinner(df, Seq("x"), 4)
    val counts = m.transform(df).groupBy("x_bin").count()
      .orderBy("x_bin").collect()
    assert(counts.map(_.getAs[Int]("x_bin")).toSeq == Seq(1, 2, 3, 4))
    counts.foreach(r => assert(math.abs(r.getAs[Long]("count") - 250L) <= 1))
    // null passes through
    val withNull = m.transform(Seq(Some(5.0), None).toDF("x"))
    assert(withNull.filter(col("x").isNull && col("x_bin").isNull).count() == 1)
  }

  test("funnel: ordering is enforced (stage events before prior stage don't count)") {
    val ev = Seq(
      (1L, "view", 10L), (1L, "click", 20L), (1L, "buy", 30L), // full path
      (2L, "view", 10L), (2L, "click", 5L),                    // click too early
      (3L, "click", 10L), (3L, "buy", 20L)                     // never viewed
    ).toDF("u", "t", "s").withColumn("s", timestamp_seconds(col("s")))
    val out = Behavior.funnel(ev, "u", "t", "s", Seq("view", "click", "buy"))
      .orderBy("stage_idx").collect()
    assert(out.map(_.getAs[Long]("n_users")).toSeq == Seq(2L, 1L, 1L))
  }

  test("cohortRetention: offsets count weeks since first-activity week") {
    val ev = Seq(
      (1L, "2024-01-01 10:00:00"), // Monday week 0
      (1L, "2024-01-10 10:00:00"), // week 1
      (2L, "2024-01-03 10:00:00"), // same cohort week
      (2L, "2024-01-17 10:00:00")  // week 2
    ).toDF("u", "s").withColumn("s", to_timestamp(col("s")))
    val out = Behavior.cohortRetention(ev, "u", "s").collect()
      .map(r => (r.getAs[java.sql.Date]("cohort_week").toString,
        r.getAs[Int]("week_offset"), r.getAs[Long]("n_users"))).toSeq
    assert(out == Seq(("2024-01-01", 0, 2), ("2024-01-01", 1, 1),
      ("2024-01-01", 2, 1)))
  }

  test("hashSampleRowsWeighted: max-weight rows always kept, zero-weight never") {
    val df = (1 to 500).map(i => (i.toLong, if (i % 2 == 0) 100L else 0L))
      .toDF("id", "w")
    val kept = df.hashSampleRowsWeighted("w", Seq("id"))
    assert(kept.filter(col("w") === 0L).count() == 0)
    assert(kept.count() == 250) // P(keep) = w/maxW = 1 for every even row
  }

  test("cusumKeyed: detects an upward shift and resets per key") {
    // key 1: flat at target → both sides clamp to 0; then a +20 shift
    // (slack 2) accumulates 18 per step
    val ev = (1 to 5).map(i => (1L, i, 10.0)) ++
      (6 to 8).map(i => (1L, i, 30.0)) ++ Seq((2L, 1, 10.0))
    val out = graft.ops.Advanced.cusumKeyed(ev.toDF("k", "o", "x"),
      Seq("k"), Seq("o"), "x", target = 10.0, slack = 2.0, threshold = 30.0)
    val k1 = out.filter(col("k") === 1L).orderBy("o")
      .select("cusum_pos", "alarm").collect()
    assert(k1.take(5).forall(r => r.getDouble(0) == 0.0 && !r.getBoolean(1)))
    assert(k1.drop(5).map(_.getDouble(0)).toSeq == Seq(18.0, 36.0, 54.0))
    assert(k1.drop(5).map(_.getBoolean(1)).toSeq == Seq(false, true, true))
    // key 2 starts fresh
    assert(out.filter(col("k") === 2L).select("cusum_pos")
      .collect()(0).getDouble(0) == 0.0)
  }

  test("rrfFuse: hand-computed two-list fusion with a missing id") {
    val l1 = Seq((10L, 5.0), (20L, 3.0)).toDF("id", "score") // ranks 1, 2
    val l2 = Seq((20L, 9.0), (30L, 1.0)).toDF("id", "score") // ranks 1, 2
    val out = graft.llm.Similarity.rrfFuse(Seq(l1, l2), "id", "score", 60)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(10L) == 1.0 / 61 + 0.0)
    assert(out(20L) == 1.0 / 62 + 1.0 / 61)
    assert(out(30L) == 0.0 + 1.0 / 62)
  }

  test("mmrSelect: skips the redundant near-duplicate of the top pick") {
    // a and its copy b are identical; c is orthogonal with lower rel —
    // MMR must pick a then c (b's similarity penalty sinks it)
    val cand = Seq(
      (1L, Array(1.0f, 0.0f), 0.9),  // a
      (2L, Array(1.0f, 0.0f), 0.89), // b = duplicate of a
      (3L, Array(0.0f, 1.0f), 0.5)   // c orthogonal
    ).toDF("id", "embedding", "rel")
    val picks = graft.llm.Similarity.mmrSelect(cand, "id", "embedding",
      "rel", 2, 0.7).orderBy("pick_idx").collect().map(_.getLong(1)).toSeq
    assert(picks == Seq(1L, 3L))
  }

  test("giniImpurity: pure group 0, uniform k-label group 1-1/k") {
    val df = (Seq.fill(10)(("pure", "a")) ++
      Seq(("mixed", "a"), ("mixed", "b"), ("mixed", "c"), ("mixed", "d")))
      .toDF("g", "l")
    val out = Stats.giniImpurity(df, Seq("g"), "l").orderBy("g").collect()
      .map(r => r.getString(0) -> r.getAs[Double]("gini")).toMap
    assert(out("pure") == 0.0)
    assert(math.abs(out("mixed") - 0.75) < 1e-12)
  }

  test("diffDatasets: added/removed/changed/unchanged with null-safe flags") {
    val a = Seq((1L, Some("x"), 1.0), (2L, Some("y"), 2.0),
      (3L, None: Option[String], 3.0)).toDF("k", "s", "v")
    val b = Seq((2L, Some("y"), 2.5), (3L, Some("z"), 3.0), (4L, Some("w"), 4.0))
      .toDF("k", "s", "v")
    val out = Behavior.diffDatasets(a, b, Seq("k")).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(out == Seq(
      (1L, "removed", ""),
      (2L, "changed", "v"),
      (3L, "changed", "s"), // null → "z" counts as a change
      (4L, "added", "")))
  }

  test("scd2History: runs collapse, validity chains, last run is current") {
    val rows = Seq(
      (1L, 1, "A", "2024-01-01"), (1L, 2, "A", "2024-02-01"), // same run
      (1L, 3, "B", "2024-03-01"),                             // change
      (1L, 4, "A", "2024-04-01"),                             // change back
      (2L, 5, "C", "2024-01-15")
    ).toDF("k", "o", "st", "d").withColumn("d", to_date(col("d")))
    val out = Behavior.scd2History(rows, Seq("k"), Seq("d", "o"), Seq("st"),
      "d").orderBy("k", "valid_from").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getAs[java.sql.Date]("valid_from").toString,
        Option(r.getAs[java.sql.Date]("valid_to")).map(_.toString),
        r.getBoolean(r.fieldIndex("is_current")))).toSeq
    assert(out == Seq(
      (1L, "A", "2024-01-01", Some("2024-03-01"), false),
      (1L, "B", "2024-03-01", Some("2024-04-01"), false),
      (1L, "A", "2024-04-01", None, true),
      (2L, "C", "2024-01-15", None, true)))
  }

  test("groupQuantiles: matches percentile interpolation, per group") {
    // group a: 1..5 → p50 = 3, p25 = 2; group b: 10, 20 → p50 = 15
    val df = ((1 to 5).map(i => ("a", i.toDouble)) ++
      Seq(("b", 10.0), ("b", 20.0))).toDF("g", "x")
    val out = graft.ops.Reductions.groupQuantiles(df, "g", "x",
      Seq("p25" -> 0.25, "p50" -> 0.5)).orderBy("g").collect()
    assert(out(0).getAs[Double]("p25") == 2.0)
    assert(out(0).getAs[Double]("p50") == 3.0)
    assert(out(1).getAs[Double]("p50") == 15.0)
    assert(out(1).getAs[Double]("p25") == 12.5)
    // cross-check vs Spark's exact percentile on a bigger frame
    val ev = Tables.t(spark, sfDir, "events")
      .filter(col("value").isNotNull && !isnan(col("value")))
    val mine = graft.ops.Reductions.groupQuantiles(ev, "event_type", "value",
      Seq("p50" -> 0.5, "p90" -> 0.9)).orderBy("event_type").collect()
    val ref = ev.groupBy("event_type")
      .agg(percentile(col("value"), lit(0.5)).as("p50"),
        percentile(col("value"), lit(0.9)).as("p90"))
      .orderBy("event_type").collect()
    mine.zip(ref).foreach { case (m, r) =>
      assert(m.getAs[Double]("p50") == r.getAs[Double]("p50"))
      assert(m.getAs[Double]("p90") == r.getAs[Double]("p90"))
    }
  }

  test("madByGroup: hand-computed median and MAD") {
    // {1, 2, 3, 4, 100}: median 3, |dev| = {2, 1, 0, 1, 97} → mad 1
    val df = Seq(1.0, 2.0, 3.0, 4.0, 100.0).map(("g", _)).toDF("g", "x")
    val r = Stats.madByGroup(df, "g", "x").collect()(0)
    assert(r.getAs[Double]("median") == 3.0)
    assert(r.getAs[Double]("mad") == 1.0)
    assert(r.getAs[Long]("n") == 5)
  }

  test("holtWintersKeyed: learns a pure period-4 pattern, forecast converges") {
    // x_t cycles 10, 20, 30, 40 — after enough periods the one-step
    // forecast should be close to the next value
    val xs = (0 until 80).map(i => (1L, i, Seq(10.0, 20.0, 30.0, 40.0)(i % 4)))
    val out = graft.ops.Advanced.holtWintersKeyed(xs.toDF("k", "o", "x"),
      Seq("k"), Seq("o"), "x", 0.3, 0.1, 0.2, 4)
      .orderBy("o").select("forecast").collect().map(_.getDouble(0))
    val expectedNext = (0 until 80).map(i => Seq(10.0, 20.0, 30.0, 40.0)((i + 1) % 4))
    // late forecasts within 15% of the true next value
    out.zip(expectedNext).drop(60).foreach { case (f, e) =>
      assert(math.abs(f - e) < 0.15 * e, s"forecast $f vs next $e")
    }
    // state resets per key: a second key's first seasonal is 0
    val two = graft.ops.Advanced.holtWintersKeyed(
      (xs ++ Seq((2L, 0, 99.0))).toDF("k", "o", "x"),
      Seq("k"), Seq("o"), "x", 0.3, 0.1, 0.2, 4)
    val k2 = two.filter(col("k") === 2L).collect()(0)
    assert(k2.getAs[Double]("seasonal") == 0.0 &&
      k2.getAs[Double]("level") == 99.0)
  }

  test("proportionZTest: equal rates give z = 0, disjoint rates large |z|") {
    val even = Seq.fill(50)(("a", 1L)) ++ Seq.fill(50)(("a", 0L)) ++
      Seq.fill(50)(("b", 1L)) ++ Seq.fill(50)(("b", 0L))
    val r0 = Stats.proportionZTest(even.toDF("g", "s"), "g", "a", "b", "s")
      .collect()(0)
    assert(r0.getAs[Double]("z") == 0.0)
    val skew = Seq.fill(90)(("a", 1L)) ++ Seq.fill(10)(("a", 0L)) ++
      Seq.fill(10)(("b", 1L)) ++ Seq.fill(90)(("b", 0L))
    val r1 = Stats.proportionZTest(skew.toDF("g", "s"), "g", "a", "b", "s")
      .collect()(0)
    assert(r1.getAs[Double]("p1") == 0.9 && r1.getAs[Double]("p2") == 0.1)
    assert(r1.getAs[Double]("z") > 10.0)
  }

  test("winsorizeByGroup: per-group cutoffs clip independently") {
    // group a spans 1..100, group b spans 1001..1100 — a global clip
    // would crush group a entirely; per-group clips keep both shapes
    val df = ((1 to 100).map(i => ("a", i.toDouble)) ++
      (1001 to 1100).map(i => ("b", i.toDouble))).toDF("g", "x")
    val out = graft.ops.Ml.winsorizeByGroup(df, "g", "x", 0.1, 0.9)
      .groupBy("g").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy("g").collect()
    assert(out(0).getDouble(1) > 1.0 && out(0).getDouble(2) < 100.0)
    assert(out(1).getDouble(1) > 1001.0 && out(1).getDouble(2) < 1100.0)
  }

  test("jaroWinkler kernel: DuckDB-pinned values, byte semantics, edges") {
    import graft.functions.StringSim.jaroWinkler
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    // classic pairs — values are DuckDB jaro_winkler_similarity outputs
    assert(jaroWinkler(u("MARTHA"), u("MARHTA")) == 0.96111111111111114)
    assert(jaroWinkler(u("DWAYNE"), u("DUANE")) == 0.84000000000000008)
    assert(jaroWinkler(u("DIXON"), u("DICKSONX")) == 0.81333333333333324)
    // no boost at jaro ≤ 0.7 even with a shared prefix
    assert(jaroWinkler(u("ab"), u("ac")) == 0.66666666666666663)
    // byte-level (not codepoint) comparison on multibyte text
    assert(jaroWinkler(u("straße"), u("strasse")) == 0.88571428571428579)
    assert(jaroWinkler(u("日本語テスト"), u("日本語テフト")) == 0.94305555555555554)
    // empty edges: DuckDB returns 0 even for "" vs ""
    assert(jaroWinkler(u(""), u("")) == 0.0)
    assert(jaroWinkler(u(""), u("abc")) == 0.0)
    assert(jaroWinkler(u("abc"), u("abc")) == 1.0)
    // the expression stays in whole-stage codegen (no CodegenFallback) —
    // the input derives from range(id) so constant folding can't swallow it
    graft.functions.StringSim.register(spark)
    val out = spark.range(1)
      .selectExpr("concat('MARTHA', repeat('x', int(id))) AS a",
        "concat('MARHTA', repeat('x', int(id))) AS b")
      .selectExpr("graft_jaro_winkler(a, b) AS jw")
    assert(out.collect()(0).getDouble(0) == 0.96111111111111114)
    val hasWsc = out.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty
    assert(hasWsc, s"expected WholeStageCodegen in:\n${out.queryExecution.executedPlan}")
  }

  test("levenshteinVerifiedPairs: near-identical docs pass, dissimilar filtered") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away " * 3
    val docs = Seq(
      (1L, base), (2L, base + " extra"),
      (3L, "completely different content about database engines and queries " * 3)
    ).toDF("id", "text")
    val pairs = graft.llm.TextDedup.levenshteinVerifiedPairs(
      docs, "id", "text", minEstJaccard = 0.2, prefixLen = 100, maxDist = 20)
      .collect()
    assert(pairs.exists(r => r.getAs[Long]("id_a") == 1L &&
      r.getAs[Long]("id_b") == 2L))
    assert(!pairs.exists(r => r.getAs[Long]("id_b") == 3L ||
      r.getAs[Long]("id_a") == 3L))
  }

  test("rocAuc: perfect separation → 1.0; random labels on equal scores → 0.5") {
    val perfect = Seq((1.0, 0L), (2.0, 0L), (3.0, 1L), (4.0, 1L))
      .toDF("score", "label")
    val r1 = Stats.rocAuc(perfect, "score", "label").collect()(0)
    assert(r1.getAs[Double]("auc") == 1.0)
    // all scores tied → every pair contributes 1/2 → AUC exactly 0.5
    val tied = Seq((5.0, 0L), (5.0, 1L), (5.0, 0L), (5.0, 1L))
      .toDF("score", "label")
    val r2 = Stats.rocAuc(tied, "score", "label").collect()(0)
    assert(r2.getAs[Double]("auc") == 0.5)
  }

  test("rocAuc: hand-computed with ties matches the rank-sum identity") {
    // scores: neg {1, 2}, pos {2, 3}. avg ranks: 1→1, 2→2.5, 3→4.
    // R+ = 2.5 + 4 = 6.5, AUC = (6.5 − 2·3/2) / (2·2) = 3.5/4 = 0.875
    val df = Seq((1.0, 0L), (2.0, 0L), (2.0, 1L), (3.0, 1L))
      .toDF("score", "label")
    val r = Stats.rocAuc(df, "score", "label").collect()(0)
    assert(r.getAs[Long]("r_pos_doubled") == 13L)
    assert(r.getAs[Double]("auc") == 0.875)
  }

  test("welchTTest: equal samples → t = 0; known asymmetric case") {
    val eq = Seq(("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0))
      .toDF("g", "x")
    val r = Stats.welchTTest(eq, "x", "g", "a", "b").collect()(0)
    assert(r.getAs[Double]("t") == 0.0)
    // a = {1,2,3} (mean 2, var 1), b = {2,4,6} (mean 4, var 4)
    // se² = 1/3 + 4/3 = 5/3, t = −2/√(5/3)
    val df2 = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 2.0), ("b", 4.0), ("b", 6.0)).toDF("g", "x")
    val r2 = Stats.welchTTest(df2, "x", "g", "a", "b").collect()(0)
    assert(math.abs(r2.getAs[Double]("t") - (-2.0 / math.sqrt(5.0 / 3.0))) < 1e-12)
    assert(r2.getAs[Double]("mean1") == 2.0 && r2.getAs[Double]("mean2") == 4.0)
  }

  test("anovaOneWay: identical groups → F = 0; separated groups → large F") {
    val same = Seq(("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0))
      .toDF("g", "x")
    val r = Stats.anovaOneWay(same, "x", "g").collect()(0)
    assert(math.abs(r.getAs[Double]("ssb")) < 1e-9)
    // textbook: groups {1,2,3}, {4,5,6}, {7,8,9} → SSB = 54, SSW = 6,
    // F = (54/2)/(6/6) = 27
    val sep = Seq("a" -> 1.0, "a" -> 2.0, "a" -> 3.0, "b" -> 4.0, "b" -> 5.0,
      "b" -> 6.0, "c" -> 7.0, "c" -> 8.0, "c" -> 9.0).toDF("g", "x")
    val r2 = Stats.anovaOneWay(sep, "x", "g").collect()(0)
    assert(math.abs(r2.getAs[Double]("ssb") - 54.0) < 1e-9)
    assert(math.abs(r2.getAs[Double]("ssw") - 6.0) < 1e-9)
    assert(math.abs(r2.getAs[Double]("f") - 27.0) < 1e-9)
  }

  test("bhAdjust: hand-computed adjustment with the monotonicity clamp") {
    // p = (0.01, 0.04, 0.03, 0.05) over ids 1..4, m = 4:
    // sorted (0.01,1) (0.03,3) (0.04,2) (0.05,4)
    // q = 0.04, 0.06, 0.0533.., 0.05 → suffix-min: 0.04, 0.05, 0.05, 0.05
    val df = Seq((1L, 0.01), (2L, 0.04), (3L, 0.03), (4L, 0.05))
      .toDF("id", "p")
    val r = Stats.bhAdjust(df, "id", "p").orderBy("bh_rank").collect()
    assert(r.map(_.getAs[Long]("id")).toSeq == Seq(1L, 3L, 2L, 4L))
    assert(r.map(_.getAs[Long]("bh_rank")).toSeq == Seq(1L, 2L, 3L, 4L))
    val adj = r.map(_.getAs[Double]("p_adj"))
    assert(math.abs(adj(0) - 0.04) < 1e-12)
    assert(math.abs(adj(1) - 0.05) < 1e-12)
    assert(math.abs(adj(2) - 0.05) < 1e-12)
    assert(math.abs(adj(3) - 0.05) < 1e-12)
    // adjusted p's are monotone along the rank order
    assert(adj.sliding(2).forall(w => w(0) <= w(1) + 1e-15))
  }

  test("triangleCount: K4 gives every node 3 triangles; direction collapses") {
    // K4 with edges given in mixed directions and duplicates
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (4L, 1L), (2L, 3L),
      (2L, 4L), (3L, 4L), (3L, 3L)).toDF("src", "dst")
    val r = graft.ops.Graph.triangleCount(edges, "src", "dst")
      .orderBy("id").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(r.forall(_.getLong(1) == 3L), "each K4 node is in 3 triangles")
  }

  test("triangleCount: a triangle-free path graph returns no rows") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(graft.ops.Graph.triangleCount(path, "src", "dst").count() == 0L)
  }

  test("spearmanByGroup: monotone → 1, anti-monotone → −1, ties handled") {
    val df = ((1 to 20).map(i => ("up", i.toDouble, (i * i).toDouble)) ++
      (1 to 20).map(i => ("dn", i.toDouble, (21 - i).toDouble)) ++
      Seq(("tie", 1.0, 5.0), ("tie", 1.0, 5.0), ("tie", 2.0, 7.0)))
      .toDF("g", "x", "y")
    val r = Stats.spearmanByGroup(df, "g", "x", "y")
      .collect().map(x => x.getString(0) -> x.getAs[Double]("rho")).toMap
    assert(r("up") == 1.0, "any monotone map is rank-perfect")
    assert(r("dn") == -1.0)
    // with ties the closed form can exceed 1 by an ulp (deterministically
    // — the oracle reproduces the same bits)
    assert(r("tie") > 0.8 && r("tie") <= 1.0 + 1e-12)
  }

  test("poissonRateTest: equal rates → z = 0") {
    val df = (1 to 100).map(i =>
      (if (i % 2 == 0) "even" else "odd", (i % 10).toLong)).toDF("c", "u")
    val r = Stats.poissonRateTest(df, "c", "even", "odd", "u").collect()(0)
    assert(r.getAs[Long]("x1") == 50L && r.getAs[Long]("x2") == 50L)
    assert(r.getAs[Double]("z") == 0.0)
  }

  test("chiSquareCells: independent table → ~0 residuals; loaded cell flags") {
    // 2x2 heavily dependent: (a,x)=90, (a,y)=10, (b,x)=10, (b,y)=90
    val rows = Seq.fill(90)(("a", "x")) ++ Seq.fill(10)(("a", "y")) ++
      Seq.fill(10)(("b", "x")) ++ Seq.fill(90)(("b", "y"))
    val r = Stats.chiSquareCells(rows.toDF("u", "v"), "u", "v")
      .orderBy("a", "b").collect()
    assert(r.length == 4)
    val ax = r.find(x => x.getString(0) == "a" && x.getString(1) == "x").get
    assert(ax.getAs[Double]("expected") == 50.0)
    assert(ax.getAs[Double]("std_residual") > 2.0, "loaded cell flagged")
    // contributions sum to the chi2 statistic of q153's op
    val chi2 = Stats.chiSquareIndependence(rows.toDF("u", "v"), "u", "v")
      .collect()(0).getAs[Double]("chi2")
    val sumContrib = r.map(_.getAs[Double]("contribution")).sum
    assert(math.abs(sumContrib - chi2) < 1e-6)
  }

  test("collocations: a glued phrase beats independent fillers on lift") {
    import graft.llm.TextStats
    // "new york" always together; "the" is everywhere
    val docs = (1 to 20).map(i =>
      (i.toLong, s"the city of new york is the place $i")).toDF("id", "text")
    val r = TextStats.collocations(docs, "text", 5L).collect()
    val ny = r.find(x => x.getString(0) == "new" && x.getString(1) == "york")
    assert(ny.isDefined)
    val cityOf = r.find(x => x.getString(0) == "of" && x.getString(1) == "new")
    assert(ny.get.getAs[Double]("lift") >= cityOf.get.getAs[Double]("lift"))
    assert(ny.get.getAs[Long]("n_pair") == 20L)
  }

  test("fillModeByGroup: mode fills nulls, ties go low, all-null stays null") {
    val df = Seq(
      ("g1", Some("b")), ("g1", Some("b")), ("g1", Some("a")), ("g1", None),
      ("g2", Some("x")), ("g2", Some("y")), ("g2", None),  // tie → "x"
      ("g3", None: Option[String])
    ).toDF("g", "v")
    val out = graft.ops.Missing.fillModeByGroup(df, "g", "v")
      .collect().map(r => (r.getString(0), Option(r.getString(1))))
    assert(out.count(_ == ("g1", Some("b"))) == 3)  // null filled with mode b
    assert(out.contains(("g2", Some("x"))), "tie broken to lowest value")
    assert(out.contains(("g3", None)), "all-null group stays null")
  }

  test("weightedRegressionByGroup: weights steer the fit; negatives refuse") {
    // two populations: w emphasizes the y=2x points over the y=0 points
    val pts = (1 to 10).map(i => ("g", i.toDouble, 2.0 * i, 10.0)) ++
      (1 to 10).map(i => ("g", i.toDouble, 0.0, 0.0001))
    val r = Ml.weightedRegressionByGroup(pts.toDF("g", "x", "y", "w"),
      Seq("g"), "x", "y", "w").collect()(0)
    assert(math.abs(r.getAs[Double]("slope") - 2.0) < 0.01,
      s"heavy weights dominate: ${r.getAs[Double]("slope")}")
    val neg = Seq(("g", 1.0, 1.0, -1.0)).toDF("g", "x", "y", "w")
    val e = intercept[Exception] {
      Ml.weightedRegressionByGroup(neg, Seq("g"), "x", "y", "w").collect()
    }
    assert(e.getMessage.contains("negative") ||
      e.getCause != null && e.getCause.getMessage.contains("negative"))
  }

  test("fleschKincaid: hand-computed grade; empty text is null") {
    import graft.llm.TextStats
    // "The cat sat. It ran!" → w=5, sentences=2, vowel groups:
    // e,a,a,i,a → 5 → fk = 0.39·2.5 + 11.8·1.0 − 15.59
    val df = Seq("The cat sat. It ran!", "   ").toDF("t")
      .withColumn("fk", TextStats.fleschKincaid(col("t")))
    val r = df.collect()
    assert(math.abs(r(0).getAs[Double]("fk") -
      (0.39 * 2.5 + 11.8 * 1.0 - 15.59)) < 1e-12)
    assert(r(1).isNullAt(1), "blank doc has no grade")
  }

  test("aggPartials merge equals the single-pass aggregation exactly") {
    val df = Seq(("a", 1.25), ("a", 2.5), ("b", 10.0), ("b", 0.0001),
      ("a", 3.75)).toDF("k", "v")
    val p1 = Reductions.aggPartials(df.filter(col("v") < 3.0), Seq("k"), "v")
    val p2 = Reductions.aggPartials(df.filter(col("v") >= 3.0), Seq("k"), "v")
    val merged = Reductions.mergeAggPartials(Seq(p1, p2), Seq("k"))
      .orderBy("k").collect()
    val direct = df.groupBy(col("k"))
      .agg(count(col("v")).as("n"),
        sum(col("v").cast(org.apache.spark.sql.types.DecimalType(38, 4)))
          .cast("double").as("sum"))
      .orderBy("k").collect()
    assert(merged.map(_.toSeq).toSeq == direct.map(_.toSeq).toSeq)
  }

  test("seasonalDecompose: recovers a pure period pattern on a flat base") {
    // x = base 10 + seasonal pattern (period 5, mean 0): trend ≈ 10,
    // seasonal ≈ the pattern, resid ≈ 0 on interior rows
    val pat = Seq(2.0, -1.0, 0.0, 1.0, -2.0)
    val rows = (0 until 30).map(i => ("k", i, 10.0 + pat(i % 5)))
    val out = graft.ops.Advanced.seasonalDecompose(
      rows.toDF("k", "i", "x"), Seq("k"), Seq("i"), "x", 5)
      .orderBy("i").collect()
    assert(out(0).isNullAt(out(0).fieldIndex("trend")), "edge has no trend")
    val mid = out(10)
    assert(math.abs(mid.getAs[Double]("trend") - 10.0) < 1e-6)
    assert(math.abs(mid.getAs[Double]("seasonal") - pat(10 % 5)) < 1e-6)
    assert(math.abs(mid.getAs[Double]("resid")) < 1e-6)
  }

  test("globalPercentRank: matches the closed form, ties share min rank") {
    val df = Seq((1L, 10.0), (2L, 20.0), (3L, 20.0), (4L, 30.0), (5L, 40.0))
      .toDF("id", "v")
    val r = Reductions.globalPercentRank(df, "v").orderBy("id").collect()
      .map(x => x.getLong(0) -> x.getAs[Double]("pct_rank")).toMap
    assert(r(1L) == 0.0)
    assert(r(2L) == 0.25 && r(3L) == 0.25, "ties share the min rank")
    assert(r(4L) == 0.75 && r(5L) == 1.0)
  }

  test("kaplanMeier: textbook small sample with censoring") {
    // durations: 1(event) 2(censor) 3(event) 3(event) 4(censor)
    // t=1: n=5, d=1 → S = 4/5 = 0.8
    // t=3: n=3, d=2 → S = 0.8·(1/3)
    val df = Seq((1L, 1L), (2L, 0L), (3L, 1L), (3L, 1L), (4L, 0L))
      .toDF("dur", "ev")
    val r = Stats.kaplanMeier(df, "dur", "ev").orderBy("t").collect()
    assert(r.length == 2)
    assert(r(0).getAs[Long]("t") == 1L && r(0).getAs[Long]("n_risk") == 5L)
    assert(r(0).getAs[Double]("survival") == 0.8)
    assert(r(1).getAs[Long]("t") == 3L && r(1).getAs[Long]("n_risk") == 3L)
    assert(r(1).getAs[Long]("d_events") == 2L)
    assert(math.abs(r(1).getAs[Double]("survival") -
      0.8 * (1.0 - 2.0 / 3.0)) < 1e-15)
  }

  test("skewReport: a hot key dominates and the factor says by how much") {
    val rows = (Seq.fill(60)(("hot", 1)) ++
      (1 to 4).flatMap(i => Seq.fill(10)((s"k$i", 1)))).toDF("k", "v")
    val r = graft.ops.Quality.skewReport(rows, Seq("k"), topK = 3)
      .orderBy("key_rank").collect()
    assert(r.length == 3)
    assert(r(0).getAs[String]("key") == "hot")
    assert(r(0).getAs[Long]("key_rows") == 60L)
    assert(r(0).getAs[Long]("n_keys") == 5L && r(0).getAs[Long]("n_rows") == 100L)
    assert(r(0).getAs[Double]("skew_factor") == 3.0) // 60·5/100
  }

  test("histogramEqWidth: edges, clamp, and empty bins") {
    val df = Seq(0.0, 1.0, 2.5, 5.0, 5.0, 10.0).toDF("v")
    val r = Reductions.histogramEqWidth(df, "v", 4).collect()
    assert(r.length == 4)
    // width 2.5: bins [0,2.5) [2.5,5) [5,7.5) [7.5,10]; max clamps to last
    assert(r.map(_.getAs[Long]("n")).toSeq == Seq(2L, 1L, 2L, 1L))
    assert(r(0).getAs[Double]("lo") == 0.0 && r(3).getAs[Double]("hi") == 10.0)
  }

  test("assocRules: counts, confidence, and lift on a hand basket set") {
    // baskets: {a,b}, {a,b}, {a,c}, {b} → n=4, a:3 b:3 c:1, ab:2 ac:1
    val df = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), (2L, "b"),
      (3L, "a"), (3L, "c"), (4L, "b")).toDF("basket", "item")
    val r = graft.ops.Advanced.assocRules(df, "basket", "item", 25)
      .orderBy("item_a", "item_b").collect()
    val ab = r.find(x => x.getString(0) == "a" && x.getString(1) == "b").get
    assert(ab.getAs[Long]("n_pairs") == 2L)
    assert(ab.getAs[Double]("conf_ab") == 2.0 / 3.0)
    assert(ab.getAs[Double]("lift") == 2.0 * 4.0 / 9.0)
    // ac has support 1/4 = 25% → included at minSupportPct=25
    assert(r.exists(x => x.getString(0) == "a" && x.getString(1) == "c"))
  }

  test("abcClassification: 80/95 split with the crossing item in class A") {
    // values 80, 15, 4, 1 → cum-before 0, 80, 95, 99
    val df = Seq(("w", 80.0), ("x", 15.0), ("y", 4.0), ("z", 1.0))
      .toDF("k", "v")
    val r = Reductions.abcClassification(df, "k", "v")
      .orderBy("cum").collect()
    assert(r.map(_.getAs[String]("k")).toSeq == Seq("w", "x", "y", "z"))
    assert(r.map(_.getAs[String]("abc_class")).toSeq ==
      Seq("A", "B", "C", "C"))
    // partition-layout invariance of the distributed prefix sum
    val r2 = Reductions.abcClassification(df.repartition(7), "k", "v")
      .orderBy("cum").collect()
    assert(r.map(_.toSeq).toSeq == r2.map(_.toSeq).toSeq)
  }

  test("kCore: peeling cascades — tail falls off, the clique survives") {
    // triangle {1,2,3} + pendant chain 3-4-5: 2-core = the triangle only
    // (4 survives round 1 with degree 2, but loses 5 and peels in round 2)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val r = graft.ops.Graph.kCore(edges, "src", "dst", 2, 4)
      .orderBy("id").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(r.forall(_.getLong(1) == 2L))
    // k=3: the triangle has degree 2 everywhere → empty core
    assert(graft.ops.Graph.kCore(edges, "src", "dst", 3, 4).count() == 0L)
  }

  test("ccf: lag-0 of a column with itself is 1; indicator lead is detected") {
    val df = (1 to 40).map { i =>
      ("k", i, i.toDouble % 7, (i % 7).toDouble) }.toDF("k", "t", "x", "y")
    val r = Stats.ccf(df, Seq("k"), Seq("t"), "x", "y", Seq(0, 1))
      .orderBy("lag").collect()
    assert(math.abs(r(0).getAs[Double]("ccf") - 1.0) < 1e-9,
      "identical series → lag-0 ccf 1")
    assert(r(1).getAs[Double]("ccf") < 1.0)
  }

  test("applyChanges: upsert, delete, and untouched rows; latest change wins") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "bal")
    val changes = Seq(
      (1L, "a", 11.0, 5L, false),   // older update
      (1L, "a", 12.0, 9L, false),   // latest update wins
      (2L, "b", 0.0, 7L, true),     // delete key 2
      (4L, "d", 40.0, 3L, false)    // insert new key
    ).toDF("id", "name", "bal", "v", "del")
    val out = graft.ops.Behavior.applyChanges(base, changes, Seq("id"),
        Seq("v"), "del")
      .orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L))
    assert(out(0).getDouble(2) == 12.0, "latest version wins")
    assert(out(1).getDouble(2) == 30.0, "untouched row passes through")
    assert(out(2).getDouble(2) == 40.0, "insert lands")
  }

  test("jaccardLinks: path predicts the closing edge; squares cross-link") {
    // path 1-2-3: predict (1,3) via common neighbor 2, score 1/(1+1-1)=1
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val p = graft.ops.Graph.jaccardLinks(path, "src", "dst", 1L).collect()
    assert(p.length == 1)
    assert(p(0).getLong(0) == 1L && p(0).getLong(1) == 3L)
    assert(p(0).getAs[Long]("common") == 1L)
    assert(p(0).getAs[Double]("score") == 1.0)
    // square 1-2-3-4-1: predicts both diagonals with 2 common, score 2/2=1
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val d = graft.ops.Graph.jaccardLinks(sq, "src", "dst", 2L)
      .orderBy("a", "b").collect()
    assert(d.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 3L), (2L, 4L)))
    assert(d.forall(_.getAs[Long]("common") == 2L))
  }

  test("knnClassify: majority vote with the deterministic tiebreak") {
    import graft.llm.Similarity
    def vec(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    // query at (1,0); corpus: two label-1 near it, one label-2 nearer,
    // k=3 → label 1 wins on votes despite label 2 having the best rank
    val corpus = Seq(
      (10L, vec(0.99, 0.14), 2),
      (11L, vec(0.9, 0.43), 1),
      (12L, vec(0.9, -0.43), 1),
      (13L, vec(-1.0, 0.0), 3)
    ).toDF("vec_id", "embedding", "label")
    val queries = Seq((1L, vec(1.0, 0.0), 1)).toDF("vec_id", "embedding", "label")
    val r = Similarity.knnClassify(queries, corpus, 3).collect()(0)
    assert(r.getAs[Int]("pred_label") == 1)
    assert(r.getAs[Long]("votes") == 2L)
    assert(r.getAs[Boolean]("correct"))
    // k=1 → the single nearest neighbor (label 2) wins
    val r1 = Similarity.knnClassify(queries, corpus, 1).collect()(0)
    assert(r1.getAs[Int]("pred_label") == 2)
    assert(!r1.getAs[Boolean]("correct"))
  }

  test("theilSen: recovers a clean slope and shrugs off one wild outlier") {
    // y = 2x + 1 on x = 1..9, plus one gross outlier at x = 10
    val pts = (1 to 9).map(i => ("g", i.toDouble, 2.0 * i + 1.0)) :+
      (("g", 10.0, 1000.0))
    val r = Stats.theilSen(pts.toDF("g", "x", "y"), "g", "x", "y")
      .collect()(0)
    assert(r.getAs[Double]("slope") == 2.0, "median slope ignores the outlier")
    assert(r.getAs[Double]("intercept") == 1.0)
    assert(r.getAs[Long]("n") == 10L && r.getAs[Long]("n_pairs") == 45L)
  }

  test("theilSen: oversized groups refuse loudly") {
    val big = (1 to 50).map(i => ("g", i.toDouble, i.toDouble)).toDF("g", "x", "y")
    val e = intercept[IllegalArgumentException] {
      Stats.theilSen(big, "g", "x", "y", maxGroupRows = 10L)
    }
    assert(e.getMessage.contains("maxGroupRows"))
  }

  test("forecastAccuracy: hand-computed MAE/RMSE/MASE on a tiny series") {
    // actual 1,2,3,4; forecast 1,3,2,6 → e = 0,1,-1,2
    // MAE = 1, RMSE = sqrt(6/4), naive mean |Δy| = 1 → MASE = 1
    val df = Seq((1, 1.0, Some(1.0)), (2, 2.0, Some(3.0)),
      (3, 3.0, Some(2.0)), (4, 4.0, Some(6.0)))
      .toDF("t", "y", "f").withColumn("k", lit("a"))
    val r = Stats.forecastAccuracy(df, Seq("k"), Seq("t"), "y", "f")
      .collect()(0)
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Double]("mae") == 1.0)
    assert(math.abs(r.getAs[Double]("rmse") - math.sqrt(1.5)) < 1e-9)
    assert(r.getAs[Double]("mase") == 1.0)
  }

  test("forecastAccuracy: null forecasts excluded from errors, not from naive") {
    val df = Seq((1, 10.0, None: Option[Double]), (2, 12.0, Some(12.0)),
      (3, 14.0, Some(10.0))).toDF("t", "y", "f").withColumn("k", lit("a"))
    val r = Stats.forecastAccuracy(df, Seq("k"), Seq("t"), "y", "f")
      .collect()(0)
    assert(r.getAs[Long]("n") == 2L)           // row 1 has no forecast
    assert(r.getAs[Double]("mae") == 2.0)      // |0| + |4| over 2... e=0,-4
    // naive denominator uses all three actuals: |2| + |2| over 2 = 2
    assert(r.getAs[Double]("mase") == 1.0)
  }

  test("bhAdjust: result is partition-layout invariant") {
    val df = (1L to 200L).map(i => (i, ((i * 37) % 101).toDouble / 101.0))
      .toDF("id", "p")
    val a = Stats.bhAdjust(df, "id", "p").orderBy("id").collect().toSeq
    val b = Stats.bhAdjust(df.repartition(13), "id", "p")
      .orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("kruskalWallis: hand-computed 3-group no-tie case, layout-invariant") {
    // a={1,2}, b={3,4}, c={5,6}: ranks 1..6, R = 3, 7, 11;
    // H = 12/(6·7)·(9/2 + 49/2 + 121/2) − 3·7 = 179/7 − 21 ≈ 4.5714
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0),
      ("c", 5.0), ("c", 6.0)).toDF("g", "x")
    val r = Stats.kruskalWallis(df, "x", "g").collect()(0)
    assert(r.getAs[Long]("k") == 3 && r.getAs[Long]("n") == 6)
    assert(r.getAs[Long]("tie_tt") == 0)
    assert(math.abs(r.getAs[Double]("h") - (179.0 / 7.0 - 21.0)) < 1e-4)
    val r2 = Stats.kruskalWallis(df.repartition(7), "x", "g").collect()(0)
    assert(r.toSeq == r2.toSeq, "H must not depend on layout")
  }

  test("kruskalWallis: identical distributions give H near zero") {
    val df = (1L to 300L).map(i => (("g" + (i % 3)).toString,
      ((i * 7) % 50).toDouble)).toDF("g", "x")
    val h = Stats.kruskalWallis(df, "x", "g").collect()(0).getAs[Double]("h")
    assert(math.abs(h) < 1.0, s"cyclic assignment should give tiny H, got $h")
  }

  test("weightedQuantilesByGroup: hand-computed picks, layout-invariant") {
    // group a: (1, w=1) (2, w=2) (3, w=1) → W=4, cum 1,3,4
    //   wp50: first 2·cum ≥ 4 → x=2; wp90: first 10·cum ≥ 36 → x=3
    // group b: (10, w=5) → both quantiles = 10
    val df = Seq(("a", 1.0, 1L), ("a", 2.0, 2L), ("a", 3.0, 1L),
      ("b", 10.0, 5L)).toDF("g", "x", "w")
    val r = Reductions.weightedQuantilesByGroup(df, "g", "x", col("w"),
      Seq(("wp50", 1, 2), ("wp90", 9, 10))).orderBy("g").collect()
    assert(r(0).getAs[Long]("total_w") == 4L)
    assert(r(0).getAs[Double]("wp50") == 2.0)
    assert(r(0).getAs[Double]("wp90") == 3.0)
    assert(r(1).getAs[Double]("wp50") == 10.0)
    val r2 = Reductions.weightedQuantilesByGroup(df.repartition(7), "g", "x",
      col("w"), Seq(("wp50", 1, 2), ("wp90", 9, 10))).orderBy("g").collect()
    assert(r.map(_.toSeq).toSeq == r2.map(_.toSeq).toSeq)
  }

  test("weightedQuantilesByGroup: unit weights equal the unweighted pick") {
    val df = (1L to 100L).map(i => ("k", i.toDouble)).toDF("g", "x")
    val r = Reductions.weightedQuantilesByGroup(df, "g", "x", lit(1L),
      Seq(("wp50", 1, 2))).collect()(0)
    // smallest x with cum ≥ 50 out of 100 → 50
    assert(r.getAs[Double]("wp50") == 50.0)
  }

  test("brownForsythe: equal |deviation| groups give zero spread F") {
    // {0,2} and {10,12}: medians 1, 11 → every z = 1 → ssb = ssw = 0,
    // F guard nulls out
    val df = Seq(("a", 0.0), ("a", 2.0), ("b", 10.0), ("b", 12.0))
      .toDF("g", "x")
    val r = Stats.brownForsythe(df, "x", "g").collect()(0)
    assert(r.getAs[Long]("k") == 2 && r.getAs[Long]("n") == 4)
    assert(r.getAs[Double]("ssb") == 0.0 && r.getAs[Double]("ssw") == 0.0)
    assert(r.isNullAt(r.fieldIndex("f")))
  }

  test("brownForsythe: wider group drives F up") {
    val narrow = (1 to 50).map(i => ("n", 100.0 + (i % 3).toDouble))
    val wide = (1 to 50).map(i => ("w", 100.0 + (i % 21).toDouble * 5.0))
    val df = (narrow ++ wide).toDF("g", "x")
    val f = Stats.brownForsythe(df, "x", "g").collect()(0).getAs[Double]("f")
    assert(f > 10.0, s"clearly unequal spreads should give large F, got $f")
  }

  test("logRank: mirror-image groups give O = E exactly (chi2 = 0)") {
    // identical survival experience in both groups → at every event time
    // n1 = n2 and d1 = d2, so E1 = dt/2 = d1 term-for-term
    val one = Seq((1L, 1L), (2L, 1L), (3L, 0L), (5L, 1L))
    val df = (one.map { case (t, e) => (t, e, "even") } ++
      one.map { case (t, e) => (t, e, "odd") }).toDF("dur", "ev", "grp")
    val r = Stats.logRank(df, "dur", "ev", "grp", "even", "odd").collect()(0)
    assert(r.getAs[Long]("o1") == 3L)
    assert(r.getAs[Double]("e1") == 3.0)
    assert(r.getAs[Double]("chi2") == 0.0)
  }

  test("logRank: censoring decrements at-risk before later event times") {
    // even: 1(event), 4(event); odd: 2(censor), 4(event)
    // t=1: n1=2,n2=2,d=1 → e += 1·2/4 = 0.5
    // t=4: n1=1,n2=1,d=2 → e += 2·1/2 = 1.0 (the censor at 2 already
    // removed odd's first subject)
    val df = Seq((1L, 1L, "even"), (4L, 1L, "even"),
      (2L, 0L, "odd"), (4L, 1L, "odd")).toDF("dur", "ev", "grp")
    val r = Stats.logRank(df, "dur", "ev", "grp", "even", "odd").collect()(0)
    assert(r.getAs[Long]("o1") == 2L)
    assert(r.getAs[Double]("e1") == 1.5)
  }

  test("nelsonAalen: textbook hazard fold with censoring") {
    // same sample as the KM spec: 1(e) 2(c) 3(e) 3(e) 4(c)
    // h(1) = 1/5 = .2; h(3) = .2 + 2/3 (floor-scaled at 1e9)
    val df = Seq((1L, 1L), (2L, 0L), (3L, 1L), (3L, 1L), (4L, 0L))
      .toDF("dur", "ev")
    val r = Stats.nelsonAalen(df, "dur", "ev").orderBy("t").collect()
    assert(r.length == 2)
    assert(r(0).getAs[Long]("t") == 1L && r(0).getAs[Long]("n_risk") == 5L)
    assert(r(0).getAs[Double]("h") == 0.2)
    assert(r(1).getAs[Long]("n_risk") == 3L &&
      r(1).getAs[Long]("d_events") == 2L)
    assert(r(1).getAs[Double]("h") == (200000000L + 666666666L) / 1e9)
  }

  test("entropyMi: independent columns → MI 0; identical columns → NMI 1") {
    val ind = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"))
      .toDF("u", "v")
    val ri = Stats.entropyMi(ind, "u", "v").collect()(0)
    assert(ri.getAs[Double]("mi") == 0.0)
    assert(ri.getAs[Double]("nmi") == 0.0)
    assert(ri.getAs[Long]("k_a") == 2L && ri.getAs[Long]("k_b") == 2L)
    val dep = Seq(("a", "a"), ("a", "a"), ("b", "b"), ("b", "b"))
      .toDF("u", "v")
    val rd = Stats.entropyMi(dep, "u", "v").collect()(0)
    assert(rd.getAs[Double]("nmi") == 1.0,
      "a relabeling must score NMI exactly 1 (identical floored sums)")
    assert(rd.getAs[Double]("mi") == rd.getAs[Double]("h_a"))
  }

  test("mcnemar: discordant counts and the chi-square") {
    val rows = Seq.fill(3)((true, true)) ++ Seq.fill(2)((true, false)) ++
      Seq((false, true)) ++ Seq.fill(4)((false, false))
    val df = rows.toDF("a", "b")
    val r = Stats.mcnemar(df, col("a"), col("b")).collect()(0)
    assert(r.getAs[Long]("n11") == 3L && r.getAs[Long]("n10") == 2L)
    assert(r.getAs[Long]("n01") == 1L && r.getAs[Long]("n00") == 4L)
    assert(r.getAs[Double]("chi2") == 1.0 / 3.0)
  }

  test("ljungBox: white-noise-scale Q from the panel ACF") {
    // one key, a short deterministic series; just pin shape + bounds:
    // every lag with n > lag contributes, Q ≥ 0
    val xs = Seq(1.0, 3.0, 2.0, 5.0, 4.0, 7.0, 6.0, 9.0, 8.0, 11.0)
    val df = xs.zipWithIndex.map { case (v, i) => (1L, i.toLong, v) }
      .toDF("k", "pos", "x")
    val r = Stats.ljungBox(df, Seq("k"), Seq("pos"), "x", Seq(1, 2, 3))
      .collect()(0)
    assert(r.getAs[Long]("h_lags") == 3L)
    assert(r.getAs[Double]("q_stat") >= 0.0)
  }

  test("cuped: perfectly correlated covariate removes all variance") {
    val users = (1 to 40).map { i =>
      val x = (i % 7).toDouble + 1.0
      (if (i % 2 == 0) "A" else "B", x, 2.0 * x)
    }.toDF("cohort", "pre", "post")
    val r = Behavior.cuped(users, "cohort", "pre", "post")
      .orderBy("cohort").collect()
    assert(r.length == 2)
    val theta = r(0).getAs[Double]("theta")
    assert(math.abs(theta - 2.0) < 1e-6, s"theta should fit y=2x, got $theta")
    assert(math.abs(r(0).getAs[Double]("var_reduction")) < 1e-6,
      "y = 2x leaves ~no residual variance")
    // adjusted means collapse to the pooled mean on both cohorts
    val adj = r.map(_.getAs[Double]("mean_y_cuped"))
    assert(math.abs(adj(0) - adj(1)) < 1e-5)
  }

  test("rfm: the dominant customer lands in the (5,5,5) segment") {
    val orders = (1 to 5).flatMap { c =>
      (1 to c).map(j => (c.toLong, f"2024-01-${c}%02d", 10.0 * c))
    }.toDF("cust", "d", "amt")
      .withColumn("d", col("d").cast("date"))
    val segs = Behavior.rfm(orders, "cust", "d", "amt").collect()
    assert(segs.map(_.getAs[Long]("n_customers")).sum == 5L)
    val top = segs.find(r => r.getAs[Int]("r_score") == 5 &&
      r.getAs[Int]("f_score") == 5 && r.getAs[Int]("m_score") == 5)
    assert(top.isDefined, "customer 5 (latest, most orders, biggest spend)")
    assert(top.get.getAs[Long]("n_customers") == 1L)
    val bottom = segs.find(r => r.getAs[Int]("r_score") == 1 &&
      r.getAs[Int]("f_score") == 1 && r.getAs[Int]("m_score") == 1)
    assert(bottom.isDefined, "customer 1 is worst on all three axes")
  }

  test("isotonic calibration: monotone fit that preserves total positives") {
    // one spiked decile (scores 41..50 all positive) forces PAV pooling
    val rows = (1 to 100).map(i =>
      (i.toDouble, if (i > 40 && i <= 50) 1L else 0L))
    val df = rows.toDF("score", "label")
    val r = Ml.isotonicCalibration(df, "score", "label", 10)
      .orderBy("bin").collect()
    val iso = r.map(_.getAs[Double]("iso_prob"))
    iso.sliding(2).foreach { case Array(a, b) =>
      assert(a <= b, s"iso_prob must be non-decreasing: ${iso.toSeq}")
    }
    // the projection property: pooled blocks preserve the positive mass
    val fitted = r.map(x => x.getAs[Long]("n") * x.getAs[Double]("iso_prob")).sum
    assert(math.abs(fitted - 10.0) < 1e-9,
      s"PAV must preserve total positives, got $fitted")
    // the spike was pooled down: no bin may keep the raw 1.0 rate
    assert(iso.max < 1.0)
  }

  test("mannKendall: monotone series gives S = ±maxPairs") {
    val up = Seq((1, 10L), (2, 20L), (3, 30L)).toDF("t", "v")
    val r = Stats.mannKendall(up, "t", "v").collect()(0)
    assert(r.getAs[Long]("n") == 3L && r.getAs[Long]("s") == 3L)
    val varS = (3.0 * 2.0 * 11.0 - 0.0) / 18.0
    assert(r.getAs[Double]("var_s") == varS)
    assert(r.getAs[Double]("z") == 2.0 / math.sqrt(varS))
    val down = Seq((1, 30L), (2, 20L), (3, 10L)).toDF("t", "v")
    assert(Stats.mannKendall(down, "t", "v").collect()(0)
      .getAs[Long]("s") == -3L)
  }

  test("mannKendall: ties reduce the variance via the correction term") {
    val tied = Seq((1, 10L), (2, 10L), (3, 20L)).toDF("t", "v")
    val r = Stats.mannKendall(tied, "t", "v").collect()(0)
    assert(r.getAs[Long]("s") == 2L) // one tied pair contributes 0
    // tt = 2·1·9 = 18 → var = (66 − 18)/18
    assert(r.getAs[Double]("var_s") == (66.0 - 18.0) / 18.0)
  }

  test("cmh: independence within every stratum gives chi2 = 0") {
    // each stratum: perfectly balanced 2×2 (a = r1·c1/n exactly)
    val rows = for {
      s <- Seq("hi", "lo"); e <- Seq(true, false); o <- Seq(true, false)
      _ <- 1 to 5
    } yield (s, e, o)
    val df = rows.toDF("stratum", "e", "o")
    val r = Stats.cmh(df, "stratum", col("e"), col("o")).collect()(0)
    assert(r.getAs[Long]("k_strata") == 2L)
    assert(r.getAs[Double]("o_minus_e") == 0.0)
    assert(r.getAs[Double]("v") > 0.0)
    assert(r.getAs[Double]("chi2") == 0.0)
  }

  test("crossValidateSimpleRegression: subtracted moments == direct fold fit") {
    val rows = (1 to 200).map(i =>
      (i.toLong, (i % 23).toDouble, (i % 23) * 2.0 + 5.0 + (i % 7) * 0.01))
    val df = rows.toDF("id", "x", "y")
    val cv = Ml.crossValidateSimpleRegression(df, "id", "x", "y", 4)
      .collect()
    assert(cv.length == 4)
    assert(cv.map(r => r.getAs[Long]("n_train") + r.getAs[Long]("n_test"))
      .distinct.toSeq == Seq(200L), "folds must partition the data")
    // the subtraction shortcut must reproduce an honest fit on fold 0's
    // complement (same fixed-point scales → tiny closed-form drift only)
    val folded = Ml.withFold(df, "id", 4)
    val direct = Ml.fitSimpleLinearRegression(
      folded.filter(col("fold") =!= 0), "x", "y")
    val f0 = cv.find(_.getAs[Int]("fold") == 0).get
    assert(math.abs(f0.getAs[Double]("slope") - direct.coefficients(0)) < 1e-9,
      s"slope ${f0.getAs[Double]("slope")} vs ${direct.coefficients(0)}")
    assert(math.abs(f0.getAs[Double]("intercept") - direct.intercept) < 1e-9)
    cv.foreach(r => assert(r.getAs[Double]("rmse") >= 0.0))
  }

  test("twoWayAnova: additive balanced design → near-zero interaction") {
    val rows = for {
      a <- Seq("a1", "a2"); b <- Seq("b1", "b2"); i <- 1 to 25
    } yield (a, b,
      (if (a == "a2") 10.0 else 0.0) + (if (b == "b2") 1.0 else 0.0) +
        (i % 5) * 0.01)
    val r = Stats.twoWayAnova(rows.toDF("a", "b", "x"), "a", "b", "x")
      .collect()(0)
    assert(r.getAs[Long]("n") == 100L)
    assert(r.getAs[Long]("ka") == 2L && r.getAs[Long]("kb") == 2L)
    assert(math.abs(r.getAs[Double]("ss_int")) < 1e-3,
      s"additive design must have ~no interaction, got ${r.getAs[Double]("ss_int")}")
    val (fa, fb) = (r.getAs[Double]("f_a"), r.getAs[Double]("f_b"))
    assert(fa > fb && fb > 0.0, s"10-unit effect must dwarf 1-unit: $fa vs $fb")
  }

  test("friedman: unanimous treatment order gives the textbook statistic") {
    // 6 blocks, 3 treatments, same order everywhere → χ² = 12 exactly
    val rows = for (blk <- 1 to 6; (t, v) <- Seq(("t1", 1.0), ("t2", 2.0),
      ("t3", 3.0))) yield (blk.toLong, t, v + blk * 10.0 % 1.0)
    val r = Stats.friedman(rows.toDF("blk", "t", "x"), "blk", "t", "x")
      .collect()(0)
    assert(r.getAs[Long]("b") == 6L && r.getAs[Long]("k") == 3L)
    assert(r.getAs[Double]("chi2_f") == 12.0)
  }

  test("runsTest: alternating vs monotone series") {
    val alt = (1 to 8).map(i => (i, if (i % 2 == 0) 10L else 1L))
      .toDF("d", "v")
    val meanSplit = sum(col("v")).cast("double") / count(lit(1))
    val ra = Stats.runsTest(alt, "d", "v", meanSplit).collect()(0)
    assert(ra.getAs[Long]("n1") == 4L && ra.getAs[Long]("n2") == 4L)
    assert(ra.getAs[Long]("runs") == 8L)
    assert(ra.getAs[Double]("z") > 2.0, "perfect alternation = too many runs")
    val mono = (1 to 8).map(i => (i, i.toLong * 10)).toDF("d", "v")
    val rm = Stats.runsTest(mono, "d", "v", meanSplit).collect()(0)
    assert(rm.getAs[Long]("runs") == 2L)
    assert(rm.getAs[Double]("z") < -2.0, "monotone trend = too few runs")
  }

  test("partialCorr: controlling for the confounder removes the link") {
    // y = z + noise-free, x = z exactly: x↔y correlation is pure z
    val rows = (1 to 60).map { i =>
      val z = (i % 11).toDouble
      (z, z * 2.0 + 1.0, z)
    }
    val r = Stats.partialCorr(rows.toDF("x", "y", "z"), "x", "y", "z")
      .collect()(0)
    assert(math.abs(r.getAs[Double]("r_xy") - 1.0) < 1e-9)
    // degenerate partialling (rxz = ryz = 1) nulls out, not NaN
    assert(r.isNullAt(r.fieldIndex("r_xy_z")))
  }

  test("partialCorr: independent confounder leaves r intact") {
    val rows = (1 to 120).map { i =>
      val x = (i % 7).toDouble
      (x, 3.0 * x + 2.0, (i % 2).toDouble)
    }
    val r = Stats.partialCorr(rows.toDF("x", "y", "z"), "x", "y", "z")
      .collect()(0)
    assert(math.abs(r.getAs[Double]("r_xy") - 1.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("r_xy_z") - 1.0) < 1e-6)
  }

  test("cronbachAlpha: parallel items score near 1, random items near 0") {
    val good = (1 to 100).map { i =>
      val t = (i % 13).toDouble
      (t + 0.01 * (i % 3), t + 0.02 * (i % 5), t)
    }
    val a = Stats.cronbachAlpha(good.toDF("a", "b", "c"),
      Seq("a", "b", "c")).collect()(0).getAs[Double]("alpha")
    assert(a > 0.95, s"parallel items must be reliable, got $a")
    val bad = (1 to 100).map(i =>
      ((i % 7).toDouble, (i * 3 % 11).toDouble, (i * 5 % 13).toDouble))
    val ab = Stats.cronbachAlpha(bad.toDF("a", "b", "c"),
      Seq("a", "b", "c")).collect()(0).getAs[Double]("alpha")
    assert(ab < 0.5, s"unrelated items must score low, got $ab")
  }

  test("medianWithCI: hand-checked rank bounds on 1..9") {
    val df = (1 to 9).map(i => ("g", i.toDouble)).toDF("g", "x")
    val r = Reductions.medianWithCI(df, "g", "x").collect()(0)
    assert(r.getAs[Long]("n") == 9L)
    assert(r.getAs[Double]("median") == 5.0)
    // lo = ceil((9 − 1.96·3)/2) = 2; hi = min(9, ceil((9 + 5.88)/2)+1) = 9
    assert(r.getAs[Double]("ci_lo") == 2.0)
    assert(r.getAs[Double]("ci_hi") == 9.0)
  }

  test("giniCoefficient: textbook extremes") {
    val equal = Seq(100L, 100L, 100L, 100L).toDF("cents")
    val re = Reductions.giniCoefficient(equal, "cents").collect()(0)
    assert(re.getAs[Long]("n") == 4L)
    assert(re.getAs[Double]("gini") == 0.0)
    val conc = Seq(0L, 0L, 0L, 100L).toDF("cents")
    val rc = Reductions.giniCoefficient(conc, "cents").collect()(0)
    // Σ(2i−n−1)x = (8−5)·100 = 300; /(4·100) = 0.75
    assert(rc.getAs[Double]("gini") == 0.75)
  }

  test("giniCoefficient: layout-invariant on a tied distribution") {
    val df = Seq(5L, 5L, 9L, 1L, 5L, 20L, 9L, 1L).toDF("cents")
    val a = Reductions.giniCoefficient(df, "cents").collect()(0)
    val b = Reductions.giniCoefficient(df.repartition(7), "cents")
      .collect()(0)
    assert(a.getAs[Double]("gini") == b.getAs[Double]("gini"))
    assert(a.getAs[Double]("gini") > 0.0 && a.getAs[Double]("gini") < 1.0)
  }

  test("boxCoxLadder: log-normal data picks lambda = 0") {
    val zs = Seq(-1.0, -0.5, 0.0, 0.5, 1.0)
    val xs = (1 to 40).flatMap(i => zs.map(z => math.exp(z + (i % 3) * 0.01)))
    val r = Stats.boxCoxLadder(xs.toDF("x"), "x").collect()
    assert(r.length == 5)
    val best = r.find(_.getAs[Boolean]("is_best")).get
    assert(best.getAs[Double]("lambda") == 0.0,
      s"exp(z) data wants the log transform, got λ=${best.getAs[Double]("lambda")}")
  }

  test("woeTable: symmetric categories get opposite WoE and positive IV") {
    val rows = Seq.fill(3)(("A", "en")) ++ Seq(("A", "de")) ++
      Seq(("B", "en")) ++ Seq.fill(3)(("B", "de"))
    val r = Stats.woeTable(rows.toDF("cat", "lang"), "cat",
      col("lang") === "en").orderBy("category").collect()
    val (wa, wb) = (r(0).getAs[Double]("woe"), r(1).getAs[Double]("woe"))
    assert(math.abs(wa - math.log(3.0)) < 1e-8)
    assert(math.abs(wa + wb) < 2e-9, "mirror categories must cancel")
    assert(r(0).getAs[Double]("iv") > 0.0)
    assert(r(0).getAs[Double]("iv") == r(1).getAs[Double]("iv"))
  }

  test("hillTailIndex: MLE alpha from floor-scaled log terms") {
    val df = Seq(1L, 2L, 3L, 6L, 12L).toDF("d")
    val r = Stats.hillTailIndex(df, "d", 3L).collect()(0)
    assert(r.getAs[Long]("n_tail") == 3L && r.getAs[Long]("x_min") == 3L)
    val s = (math.floor(math.log(3.0 / 3.0) * 1e9) +
      math.floor(math.log(6.0 / 3.0) * 1e9) +
      math.floor(math.log(12.0 / 3.0) * 1e9)) / 1e9
    assert(r.getAs[Double]("alpha") == 1.0 + 3.0 / s)
    // a tail entirely at xmin has zero log mass → alpha undefined
    val flat = Seq(3L, 3L, 3L).toDF("d")
    val rf = Stats.hillTailIndex(flat, "d", 3L).collect()(0)
    assert(rf.isNullAt(rf.fieldIndex("alpha")))
  }

  test("pageRank: dangling-node mass redistributes (sum conserved), hand case") {
    // 1 → 2 only: node 2 is a sink. Without the redistribution term,
    // 42.5% of total rank drains PER ITERATION; with it the total stays
    // within integer-truncation error of Scale.
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val S = Graph.Scale
    val r = Graph.pageRank(edges, "src", "dst", iters = 1, damp = 85)
      .collect().map(x => x.getAs[Long]("id") -> x.getAs[Long]("r")).toMap
    // hand: N=2, r0=S/2, D=S/2, base=15*(S/2)/100
    val base = 15L * (S / 2) / 100
    assert(r(1L) == base + 85L * (S / 2 / 2) / 100)
    assert(r(2L) == base + 85L * (S / 2 + S / 2 / 2) / 100)
    val deep = Graph.pageRank(edges, "src", "dst", iters = 8, damp = 85)
      .agg(sum(col("r"))).collect()(0).getLong(0)
    assert(math.abs(deep - S) < S / 1000, s"mass drained: $deep vs $S")
  }

  test("pageRank: iters=30 on a 50k-node graph is bounded (lineage checkpoints)") {
    // each round consumes the rank frame twice (contrib + dangling mass);
    // without per-round checkpoints the lazy plan doubles per round — kCore
    // measured 60 s/OOM at depth 6 on a 5-edge toy. 30 rounds must stay
    // linear-time.
    val n = 50000L
    val edges = spark.range(n).select(col("id").as("src"),
        ((col("id") * 7 + 1) % n).as("dst"))
    val r = Graph.pageRank(edges, "src", "dst", iters = 30, damp = 85,
      dedupEdges = false)
    assert(r.count() == n)
    val total = r.agg(sum(col("r"))).collect()(0).getLong(0)
    assert(math.abs(total - Graph.Scale) < Graph.Scale / 100)
  }

  test("triangleCount/jaccardLinks: maxDegree excludes the hub, keeps the rest") {
    // a 100-leaf star (hub 0) plus a separate triangle 101-102-103: the
    // uncapped wedge frame is deg(hub)²≈10k pairs; capped, the hub and
    // its edges vanish while the triangle still counts
    val star = (1L to 100L).map(i => (0L, i))
    val tri = Seq((101L, 102L), (102L, 103L), (101L, 103L))
    val edges = (star ++ tri).toDF("src", "dst")
    val capped = Graph.triangleCount(edges, "src", "dst",
      maxDegree = Some(10L)).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("triangles")).toMap
    assert(!capped.contains(0L), "hub must be excluded")
    assert(capped(101L) == 1L && capped(102L) == 1L && capped(103L) == 1L)
    // jaccard: leaves 1,2 share only the hub; with the hub capped out no
    // candidate pair survives from the star, but 101/102/103's common
    // neighbors still score (existing edges are anti-joined away, so the
    // only scored pairs come via shared neighbors outside the edge set)
    val unc = Graph.jaccardLinks(edges, "src", "dst").collect()
    assert(unc.exists(r => r.getAs[Long]("a") == 1L && r.getAs[Long]("b") == 2L))
    val cap = Graph.jaccardLinks(edges, "src", "dst",
      maxDegree = Some(10L)).collect()
    assert(!cap.exists(r => r.getAs[Long]("a") == 1L),
      "star pairs must vanish once the hub is capped")
  }

  test("assocRules: maxBasketSize drops the degenerate basket from counts AND denominator") {
    // 3 small baskets {a,b}, one 50-item reseller basket containing a,b
    val small = (1 to 3).flatMap(b => Seq((s"b$b", "a"), (s"b$b", "b")))
    val big = (1 to 50).map(i => ("huge", s"i$i")) ++
      Seq(("huge", "a"), ("huge", "b"))
    val df = (small ++ big).toDF("basket", "item")
    val capped = graft.ops.Advanced.assocRules(df, "basket", "item", 50,
      maxBasketSize = Some(10)).collect()
    val ab = capped.find(r => r.getAs[String]("item_a") == "a" &&
      r.getAs[String]("item_b") == "b").get
    // denominator = 3 baskets (huge excluded): conf(a→b) = 3/3
    assert(ab.getAs[Long]("n_pairs") == 3L)
    assert(ab.getAs[Double]("conf_ab") == 1.0)
    val unc = graft.ops.Advanced.assocRules(df, "basket", "item", 50).collect()
    val ab2 = unc.find(r => r.getAs[String]("item_a") == "a" &&
      r.getAs[String]("item_b") == "b").get
    assert(ab2.getAs[Long]("n_pairs") == 4L, "uncapped counts all 4")
  }

  test("lorenz: concentration shares are exact integer ratios") {
    val df = Seq((1L, 1.0), (2L, 1.0), (3L, 1.0), (4L, 97.0))
      .toDF("u", "amt")
    val r = Behavior.lorenz(df, "u", "amt", buckets = 4).collect()
    assert(r.length == 2, "ties share a band; only bands 1 and 4 fill")
    assert(r(0).getAs[Int]("bucket") == 1 && r(0).getAs[Long]("n_units") == 3L)
    assert(r(0).getAs[Double]("share") == 0.03)
    assert(r(1).getAs[Int]("bucket") == 4)
    assert(r(1).getAs[Double]("share") == 0.97)
    assert(r(1).getAs[Double]("cum_share") == 1.0)
  }

  test("attribution: hand journeys credit all four models exactly") {
    // user 1: click,view → purchase | error → purchase | click (orphan)
    // user 2: a 3-touch journey exercising the 40/20/40 split
    val ev = Seq(
      (1L, 1L, 1L, "click"), (1L, 2L, 2L, "view"), (1L, 3L, 3L, "purchase"),
      (1L, 4L, 4L, "error"), (1L, 5L, 5L, "purchase"), (1L, 6L, 6L, "click"),
      (2L, 1L, 7L, "aa"), (2L, 2L, 8L, "bb"), (2L, 3L, 9L, "cc"),
      (2L, 4L, 10L, "purchase"))
      .toDF("u", "ts", "id", "etype")
    val got = Behavior.attribution(ev, "u", "etype", Seq("ts", "id"),
      "purchase").collect()
      .map(r => r.getAs[String]("channel") ->
        (r.getAs[Long]("touches"), r.getAs[Long]("first_micro"),
          r.getAs[Long]("last_micro"), r.getAs[Long]("linear_micro"),
          r.getAs[Long]("position_micro"))).toMap
    // click: only t1 credits (the post-purchase click earns nothing)
    assert(got("click") == ((1L, 1000000L, 0L, 500000L, 500000L)), s"$got")
    assert(got("view") == ((1L, 0L, 1000000L, 500000L, 500000L)))
    // error: a 1-touch journey takes the full budget in every model
    assert(got("error") == ((1L, 1000000L, 1000000L, 1000000L, 1000000L)))
    // 3-touch journey: endpoints 40%, middle floor(2e5/1)
    assert(got("aa") == ((1L, 1000000L, 0L, 333333L, 400000L)))
    assert(got("bb") == ((1L, 0L, 0L, 333333L, 200000L)))
    assert(got("cc") == ((1L, 0L, 1000000L, 333333L, 400000L)))
    assert(!got.contains("purchase"), "conversions are not touches")
  }

  test("attribution: per-model totals conserve the journey budget") {
    // every credited journey hands out exactly 1e6 first/last micro;
    // linear/position leak only the integer-division remainders
    val rnd = new scala.util.Random(7)
    val types = Array("a", "b", "c", "d", "purchase")
    val ev = (0 until 400).map(i =>
      (rnd.nextInt(8).toLong, i.toLong, i.toLong,
        types(rnd.nextInt(types.length)))).toSeq
      .toDF("u", "ts", "id", "etype")
    val rows = Behavior.attribution(ev, "u", "etype", Seq("ts", "id"),
      "purchase").collect()
    val journeys = rows.map(_.getAs[Long]("first_micro")).sum / 1000000L
    assert(rows.map(_.getAs[Long]("last_micro")).sum == journeys * 1000000L)
    val lin = rows.map(_.getAs[Long]("linear_micro")).sum
    assert(lin <= journeys * 1000000L &&
      lin > journeys * 1000000L - journeys * 50L,
      s"linear leaks only remainders: $lin vs $journeys journeys")
  }

  test("msprt: effect raises log-lambda above the null, guards hold") {
    val a = (1 to 20).map(i => ("a", i.toDouble))
    val bNull = (1 to 20).map(i => ("b", i.toDouble))
    val bShift = (1 to 20).map(i => ("b", i.toDouble + 5.0))
    val nul = Stats.msprt((a ++ bNull).toDF("g", "x"), "x", "g", "a", "b",
      tau2 = 1.0).collect()(0)
    val eff = Stats.msprt((a ++ bShift).toDF("g", "x"), "x", "g", "a", "b",
      tau2 = 1.0).collect()(0)
    assert(nul.getAs[Double]("delta") == 0.0)
    // zero lift: lnΛ = ½ln(ρ/(ρ+τ²)) < 0 — the e-value shrinks
    assert(nul.getAs[Double]("log_lambda") < 0.0)
    assert(eff.getAs[Double]("log_lambda") > nul.getAs[Double]("log_lambda"))
    assert(eff.getAs[Double]("log_lambda") > 0.5, "5-sigma-ish lift rejects")
    // degenerate cohort (n=1): statistic nulls rather than divides by 0
    val tiny = Stats.msprt(Seq(("a", 1.0), ("a", 2.0), ("b", 3.0))
      .toDF("g", "x"), "x", "g", "a", "b").collect()(0)
    assert(tiny.isNullAt(tiny.fieldIndex("log_lambda")))
    intercept[IllegalArgumentException] {
      Stats.msprt(a.toDF("g", "x"), "x", "g", "a", "b", tau2 = 0.0)
    }
  }

  test("poissonBootstrapCI: CI brackets the mean, fully deterministic") {
    // 24 whole cycles of 21 values → the mean is exactly 100.0
    val df = (0 until 504).map(i => (i.toLong, 100.0 + (i % 21) - 10.0))
      .toSeq.toDF("id", "x")
    def run() = Stats.poissonBootstrapCI(df, "x", Seq("id"), reps = 200)
      .collect()(0)
    val r = run()
    assert(r.getAs[Long]("n") == 504L && r.getAs[Int]("reps") == 200)
    val (lo, pt, hi) = (r.getAs[Double]("ci_lo"),
      r.getAs[Double]("point_mean"), r.getAs[Double]("ci_hi"))
    assert(pt == 100.0)
    assert(lo < pt && pt < hi, s"[$lo, $hi] must bracket $pt")
    // sd≈6.06/√500 → CI half-width ~0.5; a 3× envelope catches breakage
    assert(hi - lo > 0.1 && hi - lo < 1.6, s"width ${hi - lo}")
    assert(run() == r, "md5-derived weights: bit-identical reruns")
    intercept[IllegalArgumentException] {
      Stats.poissonBootstrapCI(df, "x", Seq("id"), reps = 10)
    }
  }

  test("arFit2: alternating series hits r1 = -1 (phi degenerate); short " +
       "series null out; NaN rows drop before lagging") {
    // key a: +1,-1,+1,... → lag-1 pairs anticorrelate (r1 → -1 up to the
    //        sqrt rounding of the Pearson form)
    // key b: 2 points → no lag-2 pairs → r2 null → phi null
    // key c: NaN in the middle — complete-cased BEFORE lagging, so the
    //        remaining 3 points form 2 lag-1 pairs and 1 lag-2 pair
    // key d: 1,2,3,4 — r2 comes from exactly TWO lag-2 pairs, where the
    //        Pearson form collapses to (u−v)(w−z)/(|u−v||w−z|) = ±1 with
    //        no rounding; r1 (three pairs) only approaches 1 (√6·√6 ≠ 6)
    val rows =
      (1 to 8).map(i => ("a", i.toLong, if (i % 2 == 0) -1.0 else 1.0)) ++
      Seq(("b", 1L, 3.0), ("b", 2L, 4.0),
          ("c", 1L, 1.0), ("c", 2L, Double.NaN), ("c", 3L, 2.0),
          ("c", 4L, 4.0),
          ("d", 1L, 1.0), ("d", 2L, 2.0), ("d", 3L, 3.0), ("d", 4L, 4.0))
    val out = Stats.arFit2(rows.toDF("k", "i", "x"), Seq("k"), Seq("i"), "x")
      .collect().map(r => r.getAs[String]("k") -> r).toMap
    val a = out("a")
    assert(math.abs(a.getAs[Double]("r1") + 1.0) < 1e-12,
      s"alternating series: r1 ~ -1, got ${a.getAs[Double]("r1")}")
    val d = out("d")
    assert(math.abs(d.getAs[Double]("r1") - 1.0) < 1e-12)
    assert(d.getAs[Double]("r2") == 1.0,
      "two-pair lag: the Pearson form is exact ±1")
    val b = out("b")
    assert(b.getAs[Long]("n1") == 1L && b.getAs[Long]("n2") == 0L)
    assert(b.isNullAt(b.fieldIndex("r1")), "single pair: no variance -> null")
    assert(b.isNullAt(b.fieldIndex("phi1")))
    val c = out("c")
    assert(c.getAs[Long]("n") == 3L, "NaN row removed from the series")
    assert(c.getAs[Long]("n1") == 2L && c.getAs[Long]("n2") == 1L,
      "lags run over the cleaned series, not the raw one")
  }

  test("changepoint: level shift found exactly; constant ties to smallest " +
       "index; n=1 series absent") {
    val rows = Seq(
      ("s", 1L, 0.0), ("s", 2L, 0.0), ("s", 3L, 0.0),   // shift after t=3
      ("s", 4L, 10.0), ("s", 5L, 10.0),
      ("f", 1L, 5.0), ("f", 2L, 5.0), ("f", 3L, 5.0),   // flat
      ("one", 1L, 7.0))                                  // no split exists
    val out = Stats.changepoint(rows.toDF("k", "i", "x"), Seq("k"),
        Seq("i"), "x")
      .collect().map(r => r.getAs[String]("k") -> r).toMap
    val s = out("s")
    assert(s.getAs[Long]("cp_index") == 3L)
    assert(s.getAs[Double]("mean_left") == 0.0 &&
      s.getAs[Double]("mean_right") == 10.0)
    // gain = t(n-t)/n (mL-mR)^2 = 3*2/5 * 100 = 120
    assert(s.getAs[Double]("gain") == 120.0)
    val f = out("f")
    assert(f.getAs[Long]("cp_index") == 1L, "all-zero gains tie to t=1")
    assert(f.getAs[Double]("gain") == 0.0)
    assert(!out.contains("one"), "n < 2 has no candidate split")
  }

  test("segmentedTrend: splits at the level break and fits both slopes " +
       "exactly on an integer piecewise-linear series") {
    import spark.implicits._
    // level break at t=10 (the mean-split criterion lands there) with
    // slope +1 before and slope -2 after — all-integer values make the
    // fitted slopes IEEE-exact
    val xs = (1 to 10).map(t => (t - 1).toDouble) ++        // 0..9, slope 1
      (11 to 20).map(t => (122 - 2 * t).toDouble)           // 100..82, slope -2
    val df = xs.zipWithIndex.map { case (v, i) => ("s", i + 1L, v) }
      .toDF("k", "i", "x")
    val r = Stats.segmentedTrend(df, Seq("k"), Seq("i"), "x").collect()(0)
    assert(r.getAs[Long]("n") == 20L)
    assert(r.getAs[Long]("cp_index") == 10L,
      s"level break at t=10, got ${r.getAs[Long]("cp_index")}")
    assert(r.getAs[Double]("slope_left") == 1.0)
    assert(r.getAs[Double]("slope_right") == -2.0)
    assert(r.getAs[Double]("slope_change") == -3.0)
    // a 2-point series: each side is a single point -> slopes null
    val tiny = Seq(("t", 1L, 1.0), ("t", 2L, 5.0)).toDF("k", "i", "x")
    val t2 = Stats.segmentedTrend(tiny, Seq("k"), Seq("i"), "x").collect()(0)
    assert(t2.getAs[Long]("cp_index") == 1L)
    assert(t2.isNullAt(t2.fieldIndex("slope_left")) &&
      t2.isNullAt(t2.fieldIndex("slope_right")))
  }

  test("holmAdjust: the textbook step-down — monotone adjusted p, " +
       "Bonferroni at rank 1, raw p at rank m") {
    import spark.implicits._
    val tests = Seq((1L, 0.01), (2L, 0.04), (3L, 0.03), (4L, 0.005))
      .toDF("id", "p")
    val out = Stats.holmAdjust(tests, "id", "p")
      .orderBy(col("holm_rank")).collect()
    // sorted p: .005, .01, .03, .04 (m = 4)
    // raw terms: 4*.005=.02, 3*.01=.03, 2*.03=.06, 1*.04=.04
    // prefix max: .02, .03, .06, .06
    assert(out.map(_.getAs[Long]("id")).toSeq == Seq(4L, 1L, 3L, 2L))
    val adj = out.map(_.getAs[Double]("p_adj")).toSeq
    assert(adj == Seq(0.02, 0.03, 0.06, 0.06), s"got $adj")
    assert(adj.sorted == adj, "step-down adjustment is monotone")
  }

  test("psi: identical distributions give exactly 0; a hard shift clears " +
       "the 0.25 alarm; empty current bins stay finite") {
    val base = (1 to 200).map(i => (i % 100).toDouble)
    // ref and cur are the SAME multiset → pc == pr per bin → every term 0
    val same = (base.map(x => ("r", x)) ++ base.map(x => ("c", x)))
      .toDF("side", "x")
    val p0 = Stats.psi(same, "x", col("side") === "r", col("side") === "c")
      .collect()(0)
    assert(p0.getAs[Double]("psi") == 0.0, "identical halves: PSI exactly 0")
    assert(p0.getAs[Long]("n_ref") == 200L && p0.getAs[Long]("n_cur") == 200L)
    // current shifted way right: most reference bins empty on the current
    // side — smoothing keeps terms finite and the alarm loud
    val shifted = (base.map(x => ("r", x)) ++
      base.map(x => ("c", x + 1000.0))).toDF("side", "x")
    val p1 = Stats.psi(shifted, "x", col("side") === "r", col("side") === "c")
      .collect()(0)
    val v = p1.getAs[Double]("psi")
    assert(!v.isNaN && !v.isInfinite && v > 0.25, s"shift alarm: $v")
    // an empty reference must fail loudly, not bin everything silently
    intercept[IllegalArgumentException] {
      Stats.psi(same, "x", col("side") === "nope", col("side") === "c")
    }
  }

  test("associationTable: identical columns score V = 1; a balanced " +
       "cross product scores V = 0") {
    val dep = (1 to 60).map(i => (s"g${i % 3}", s"g${i % 3}", s"h${i % 2}"))
      .toDF("a", "b", "c")
    val out = Stats.associationTable(dep, Seq("a", "b", "c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val ab = out(("a", "b"))
    assert(math.abs(ab.getAs[Double]("v") - 1.0) < 1e-6,
      "a determines b exactly -> V = 1 (up to the 10^-6 floor-scale)")
    assert(ab.getAs[Long]("k_x") == 3L && ab.getAs[Long]("k_y") == 3L)
    // i%3 and i%2 over 60 rows hit every (3x2) cell exactly 10 times:
    // observed == expected everywhere -> chi2 = 0 -> V = 0
    val ac = out(("a", "c"))
    assert(ac.getAs[Double]("chi2") == 0.0 && ac.getAs[Double]("v") == 0.0)
    intercept[IllegalArgumentException] {
      Stats.associationTable(dep, Seq("a"))
    }
  }

  test("modularity: two perfectly-labeled triangles score exactly 0.5; " +
       "a random-ish split scores lower") {
    import spark.implicits._
    // two triangles {1,2,3}, {4,5,6}; symmetric directed list
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val good = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L), (5L, 2L),
      (6L, 2L)).toDF("id", "community")
    val g = Graph.modularity(edges, "src", "dst", good, "id", "community")
      .collect()(0)
    assert(g.getAs[Long]("k_communities") == 2L)
    assert(g.getAs[Long]("m_edges") == 6L && g.getAs[Long]("intra_edges") == 6L)
    // Q = intra/M2 - sum_c (d_c/M2)^2 = 1 - 2*(6/12)^2 = 0.5 exactly
    assert(g.getAs[Double]("modularity") == 0.5)
    val bad = Seq((1L, 1L), (2L, 2L), (3L, 1L), (4L, 2L), (5L, 1L),
      (6L, 2L)).toDF("id", "community")
    val b = Graph.modularity(edges, "src", "dst", bad, "id", "community")
      .collect()(0)
    assert(b.getAs[Double]("modularity") < 0.0,
      "splitting triangles across communities is worse than random")
  }

  test("sequenceSupport: first-occurrence semantics, exact ratios") {
    import spark.implicits._
    // u1: a b a c   (a->b, a->c, b->c; the second a never re-counts)
    // u2: b a       (b->a only)
    // u3: a         (antecedent-only user)
    val ev = Seq(
      ("u1", 1L, "a"), ("u1", 2L, "b"), ("u1", 3L, "a"), ("u1", 4L, "c"),
      ("u2", 1L, "b"), ("u2", 2L, "a"),
      ("u3", 1L, "a"))
      .toDF("u", "i", "st")
    val out = Behavior.sequenceSupport(ev, "u", Seq("i"), "st")
      .collect()
      .map(r => (r.getAs[String]("antecedent"),
        r.getAs[String]("consequent")) -> r).toMap
    val abP = out(("a", "b"))
    assert(abP.getAs[Long]("n_users_ab") == 1L &&
      abP.getAs[Long]("n_users_a") == 3L &&
      abP.getAs[Long]("n_users") == 3L)
    assert(abP.getAs[Double]("support") == 1.0 / 3.0)
    assert(abP.getAs[Double]("confidence") == 1.0 / 3.0)
    val baP = out(("b", "a"))
    assert(baP.getAs[Long]("n_users_ab") == 1L,
      "u1's later 'a' must NOT count b->a: first occurrences only")
    assert(baP.getAs[Long]("n_users_a") == 2L)
    assert(out(("a", "c")).getAs[Long]("n_users_ab") == 1L)
    assert(!out.contains(("c", "a")), "zero-support pairs are absent")
  }

  test("binnedMi: identical columns saturate NMI; hash-independent columns " +
       "carry almost none") {
    import spark.implicits._
    val xs = (1 to 2000).map(_.toDouble)
    val same = xs.map(x => (x, x)).toDF("a", "b")
    val s = Stats.binnedMi(same, "a", "b", bins = 10).collect()(0)
    assert(s.getAs[Long]("k_a") == 10L && s.getAs[Long]("k_b") == 10L)
    assert(math.abs(s.getAs[Double]("nmi") - 1.0) < 1e-6,
      s"identical deciles: NMI = 1, got ${s.getAs[Double]("nmi")}")
    val indep = xs.map(x => (x, (x * 2654435761.0) % 977)).toDF("a", "b")
    val i = Stats.binnedMi(indep, "a", "b", bins = 10).collect()(0)
    assert(i.getAs[Double]("nmi") < 0.05,
      s"hash scramble: NMI ~ 0, got ${i.getAs[Double]("nmi")}")
  }

  test("jsDivergence: identical mixes score exactly 0; disjoint supports " +
       "score ln 2") {
    import spark.implicits._
    val mix = Seq("x", "x", "y", "z")
    val same = (mix.map(c => ("r", c)) ++ mix.map(c => ("c", c)))
      .toDF("side", "cat")
    val s = Stats.jsDivergence(same, "cat", col("side") === "r",
      col("side") === "c").collect()(0)
    assert(s.getAs[Double]("jsd") == 0.0, "p = q per category: every term 0")
    assert(s.getAs[Long]("k_categories") == 3L)
    val disjoint = (Seq("a", "b").map(c => ("r", c)) ++
      Seq("x", "y").map(c => ("c", c))).toDF("side", "cat")
    val d = Stats.jsDivergence(disjoint, "cat", col("side") === "r",
      col("side") === "c").collect()(0)
    assert(math.abs(d.getAs[Double]("jsd") - math.log(2.0)) < 1e-6,
      s"disjoint supports hit the ln 2 ceiling: ${d.getAs[Double]("jsd")}")
  }

  test("fleissKappa: perfect agreement scores 1, perfect disagreement -1 " +
       "on the balanced two-category design; singleton items drop") {
    import spark.implicits._
    val agree = Seq(("i1", "a"), ("i1", "a"), ("i2", "b"), ("i2", "b"),
      ("lone", "a")).toDF("item", "cat")
    val a = Stats.fleissKappa(agree, "item", "cat").collect()(0)
    assert(a.getAs[Long]("n_items") == 2L && a.getAs[Long]("n_ratings") == 4L,
      "the single-rating item is excluded everywhere")
    assert(a.getAs[Double]("p_bar") == 1.0 && a.getAs[Double]("p_e") == 0.5)
    assert(a.getAs[Double]("kappa") == 1.0)
    val fight = Seq(("i1", "a"), ("i1", "b"), ("i2", "a"), ("i2", "b"))
      .toDF("item", "cat")
    val f = Stats.fleissKappa(fight, "item", "cat").collect()(0)
    assert(f.getAs[Double]("kappa") == -1.0,
      "every pair disagrees: kappa = (0 - 0.5)/(1 - 0.5) = -1")
  }

  test("dwellTimes: exact spell durations; last events never close; " +
       "per-user isolation") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(base.getTime + s * 1000L)
    val ev = Seq(
      ("u1", 1L, at(0), "browse"), ("u1", 2L, at(10), "cart"),
      ("u1", 3L, at(25), "buy"),
      ("u2", 1L, at(100), "browse"), ("u2", 2L, at(103), "browse"),
      ("u2", 3L, at(109), "exit"))
      .toDF("u", "i", "ts", "st")
    val out = Behavior.dwellTimes(ev, "u", Seq("ts", "i"), "ts", "st")
      .collect().map(r => r.getAs[String]("state") -> r).toMap
    // browse spells: u1 0->10 (10s), u2 100->103 (3s) and 103->109 (6s)
    val b = out("browse")
    assert(b.getAs[Long]("n_spells") == 3L)
    assert(b.getAs[Double]("total_secs") == 19.0)
    assert(b.getAs[Double]("max_secs") == 10.0)
    assert(out("cart").getAs[Double]("total_secs") == 15.0)
    assert(!out.contains("buy") && !out.contains("exit"),
      "terminal events have no next event: no spell")
  }

  test("mahalanobisOutliers: flags the joint-ellipse violator that both " +
       "marginals miss; singular covariance flags nothing") {
    import spark.implicits._
    // x and y strongly correlated on the diagonal; (10, -10) is ordinary
    // in each marginal but wildly off the joint ellipse
    val rows = (1 to 50).flatMap(i =>
      Seq((i.toLong, i % 21 - 10.0, i % 21 - 10.0 + (i % 3) * 0.1))) :+
      (99L, 10.0, -10.0)
    val out = Stats.mahalanobisOutliers(rows.toDF("id", "x", "y"),
      "x", "y", threshold = 9.21).collect()
    assert(out.map(_.getAs[Long]("id")).contains(99L),
      "the anti-diagonal point must be flagged")
    assert(out.forall(_.getAs[Double]("d2") > 9.21))
    assert(out.length < 5, s"the diagonal bulk stays unflagged: ${out.length}")
    // perfectly collinear pair: det = 0 -> empty, no crash
    val lin = (1 to 20).map(i => (i.toLong, i.toDouble, 2.0 * i))
      .toDF("id", "x", "y")
    assert(Stats.mahalanobisOutliers(lin, "x", "y", 1.0).count() == 0L)
  }

  test("hashSampleTopKWeighted: exactly k, deterministic, weight-ineligible " +
       "rows never win, heavy weights dominate") {
    import spark.implicits._
    val df = ((1 to 200).map(i => (i.toLong, 1.0)) ++
      (201 to 210).map(i => (i.toLong, 1e6)) ++
      Seq((900L, 0.0), (901L, -3.0))).toDF("id", "w")
    def run() = df.hashSampleTopKWeighted("w", 20, Seq("id"))
      .collect().map(_.getAs[Long]("id")).toSet
    val s = run()
    assert(s.size == 20, "exactly k distinct rows")
    assert(run() == s, "md5 race: bit-identical reruns")
    assert(!s.contains(900L) && !s.contains(901L), "w <= 0 never wins")
    // ten 1e6-weight rows vs two hundred weight-1 rows: all ten must win
    assert((201L to 210L).forall(s.contains), s"heavy rows all in: $s")
    // k larger than the eligible set: return all eligible, no crash
    assert(df.hashSampleTopKWeighted("w", 5000, Seq("id")).count() == 210L)
  }

  test("bfsDistances: hop layers on a path graph, early exit past the end") {
    // 1-2-3-4 undirected path: from 1, dists are 0,1,2,3 (cap 5: exits dry)
    val und = Seq((1L,2L),(2L,3L),(3L,4L)).flatMap { case (a,b) => Seq((a,b),(b,a)) }
    val out = Graph.bfsDistances(und.toDF("s","d"), "s", "d", Seq(1L), 5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
  }

  test("bfsDistances: maxHops caps the frontier") {
    val und = Seq((1L,2L),(2L,3L),(3L,4L)).flatMap { case (a,b) => Seq((a,b),(b,a)) }
    val out = Graph.bfsDistances(und.toDF("s","d"), "s", "d", Seq(1L), 1)
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 2L))
  }

  test("degreeAssortativity: star graph is degenerate (null r); two stars anticorrelate") {
    // hub 1 -> leaves: every edge has x=3, y=1 -> zero variance -> null
    val star = Seq((1L,10L),(1L,11L),(1L,12L)).toDF("s","d")
    val r1 = Graph.degreeAssortativity(star, "s", "d").head
    assert(r1.getLong(0) == 3L && r1.isNullAt(1))
    // mixed: hub->hub edge plus hub->leaf edges -> negative-ish correlation exists
    val mixed = Seq((1L,10L),(1L,11L),(2L,10L),(3L,12L)).toDF("s","d")
    val r2 = Graph.degreeAssortativity(mixed, "s", "d").head
    assert(r2.getLong(0) == 4L && !r2.isNullAt(1))
  }

  test("reciprocity: half-reciprocal digraph, density over ordered pairs") {
    // edges 1->2, 2->1, 1->3: 2 of 3 edges have a reverse
    val e = Seq((1L,2L),(2L,1L),(1L,3L)).toDF("s","d")
    val r = Graph.reciprocity(e, "s", "d").head
    assert(r.getLong(r.fieldIndex("n_nodes")) == 3L)
    assert(r.getLong(r.fieldIndex("n_edges")) == 3L)
    assert(r.getLong(r.fieldIndex("n_reciprocal")) == 2L)
    assert(math.abs(r.getDouble(r.fieldIndex("reciprocity")) - 2.0/3.0) < 1e-12)
    assert(math.abs(r.getDouble(r.fieldIndex("density")) - 0.5) < 1e-12)
  }
}
