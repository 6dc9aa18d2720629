package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Advanced

class AdvancedSpec extends SparkSuite {

  test("clampedRunningSumKeyed: floor clamps, lost records the shortfall") {
    init()
    import spark.implicits._
    // deltas +5, −8, +2: balance 5, 0 (lost 3), 2; second key resets
    val df = Seq(("k", 1, 5.0), ("k", 2, -8.0), ("k", 3, 2.0),
      ("j", 1, -4.0)).toDF("g", "t", "x")
    val r = graft.ops.Advanced
      .clampedRunningSumKeyed(df, Seq("g"), Seq("t"), "x", floor = 0.0)
      .orderBy("g", "t").collect()
    assert(r(0).getAs[Double]("balance") == 0.0 &&
      r(0).getAs[Double]("balance_lost") == 4.0, "j clamps instantly")
    assert(r(1).getAs[Double]("balance") == 5.0)
    assert(r(2).getAs[Double]("balance") == 0.0 &&
      r(2).getAs[Double]("balance_lost") == 3.0)
    assert(r(3).getAs[Double]("balance") == 2.0 &&
      r(3).getAs[Double]("balance_lost") == 0.0)
  }

  test("intervalUnionCoverage: overlaps merge, gaps don't bridge") {
    init()
    import spark.implicits._
    // [0,10) ∪ [5,12) ∪ [20,25) → 12 + 5 = 17; duplicate interval free
    val df = Seq(("u", 0L, 10L), ("u", 5L, 12L), ("u", 20L, 25L),
      ("u", 5L, 12L)).toDF("k", "s", "e")
    val r = graft.ops.Behavior.intervalUnionCoverage(df, "k", "s", "e")
      .collect()(0)
    assert(r.getAs[Long]("covered_us") == 17L)
    assert(r.getAs[Long]("n_intervals") == 4L)
  }

  test("ewmVarKeyed: hand recursion; constant tail decays variance to ~0") {
    init()
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(("k", 1, 10.0), ("k", 2, 20.0), ("k", 3, 20.0),
      ("j", 1, 5.0)).toDF("g", "t", "x")
    val r = graft.ops.Advanced
      .ewmVarKeyed(df, Seq("g"), Seq("t"), "x", alpha = 0.5)
      .orderBy("g", "t").collect()
    // j: single row → m = 5, v = 0
    assert(r(0).getAs[Double]("ewm_mean") == 5.0 &&
      r(0).getAs[Double]("ewm_var") == 0.0)
    // k: m1=10,v1=0; d=10 → m2=15, v2=0.5·(0+0.5·100)=25
    assert(r(1).getAs[Double]("ewm_mean") == 10.0)
    assert(r(2).getAs[Double]("ewm_mean") == 15.0)
    assert(r(2).getAs[Double]("ewm_var") == 25.0)
    // d=5 → m3=17.5, v3=0.5·(25+0.5·25)=18.75
    assert(r(3).getAs[Double]("ewm_mean") == 17.5)
    assert(r(3).getAs[Double]("ewm_var") == 18.75)
    assert(r(3).getAs[Double]("ewm_std") == math.sqrt(18.75))
  }
  init()
  import spark.implicits._

  // q50 itself is now portable/oracle-exact (KMV + rank-picked quantiles);
  // the DataSketches HLL/CPC aggregates stay the library path and keep
  // their exact-comparison coverage here.
  test("sketch distinct (HLL + CPC) within error bounds of exact") {
    graft.functions.Sketches.register(spark)
    val out = Tables.t(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("hll_distinct(l_partkey)").as("approx_parts"),
        expr("cpc_distinct(l_partkey)").as("cpc_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val exact = r.getAs[Long]("exact_parts").toDouble
      val approx = r.getAs[Long]("approx_parts").toDouble
      val cpc = r.getAs[Long]("cpc_parts").toDouble
      assert(math.abs(approx - exact) / exact < 0.05,
        s"HLL estimate $approx vs exact $exact")
      // CPC at lgK=12 has RSE ≈ 0.59/sqrt(4096) ≈ 0.9%; 5% is generous
      assert(math.abs(cpc - exact) / exact < 0.05,
        s"CPC estimate $cpc vs exact $exact")
    }
    // serialized-merge path: per-group sketches must merge across partitions
    import spark.implicits._
    val big = spark.range(0, 100000).select((col("id") % 5000).as("v"))
    val est = big.selectExpr("cpc_distinct(v) AS e").collect()(0).getLong(0)
    assert(math.abs(est - 5000.0) / 5000.0 < 0.05, s"CPC merged estimate $est")
  }

  test("q50 portable sketch row: KMV within error bounds, quantiles ordered") {
    val out = Queries.queries("q50_sketches")(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val exact = r.getAs[Long]("exact_parts").toDouble
      val kmv = r.getAs[Double]("kmv_parts")
      // KMV RSE ≈ 1/sqrt(k−2) ≈ 3.1% at k=1024; 12% is 4σ
      assert(math.abs(kmv - exact) / exact < 0.12,
        s"KMV estimate $kmv vs exact $exact")
      assert(r.getAs[Double]("median_price") <= r.getAs[Double]("p90_price"))
    }
  }

  test("heavy hitters: exact output, complete under skew, guard on weak sketch") {
    graft.functions.Sketches.register(spark)
    import spark.implicits._
    // Zipf-ish skew: item i appears with multiplicity; many-partition input
    // exercises sketch merge. 400k rows, hot items far above threshold.
    val df = spark.range(0, 400000).repartition(16)
      .selectExpr("CAST(CASE WHEN id % 10 < 4 THEN concat('hot_', id % 10) " +
        "ELSE concat('cold_', id % 50021) END AS STRING) AS v")
    val got = graft.ops.Reductions.heavyHittersExact(df, "v", phi = 0.01)
      .orderBy(col("cnt").desc, col("v")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val exact = df.groupBy("v").count()
      .filter(col("count") >= math.ceil(0.01 * 400000).toLong)
      .orderBy(col("count").desc, col("v")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(exact.nonEmpty && got.sameElements(exact))
    // phi below the sketch's error bound must refuse, not silently drop items
    intercept[IllegalArgumentException] {
      graft.ops.Reductions.heavyHittersExact(df, "v", phi = 1e-7,
        lgMaxMapSize = 4)
    }
  }

  test("kll quantile close to exact percentile") {
    graft.functions.Sketches.register(spark)
    val r = Tables.t(spark, sfDir, "lineitem")
      .agg(expr("kll_quantile(l_extendedprice, 0.5)").as("approx"),
        percentile(col("l_extendedprice"), lit(0.5)).as("exact"))
      .collect()(0)
    val (a, e) = (r.getDouble(0), r.getDouble(1))
    assert(math.abs(a - e) / e < 0.05, s"KLL median $a vs exact $e")
  }

  test("codegen TokenCount ≡ regex split semantics on adversarial strings") {
    graft.functions.TextKernels.register(spark)
    val cases = Seq("", "   ", "a", " a ", "a b", "a  b\t\nc", "héllo wörld",
      "日本語 テスト  x", "\t\r\n", "one", "a b", // NBSP is NOT \s
      "x " * 50 + "end")
    val df = cases.toDF("s").selectExpr("s", "graft_token_count(s) AS native")
    val got = df.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    cases.foreach { s =>
      val expected = s.split("\\s+").count(_.nonEmpty)
      assert(got(s) == expected, s"'$s': native=${got(s)} expected=$expected")
    }
    // and it participates in whole-stage codegen over a real scan
    // (the literal frame above gets constant-folded to a LocalTableScan)
    val scanned = Tables.t(spark, sfDir, "documents")
      .selectExpr("graft_token_count(text) AS n")
    // the "*(n)" prefix is the WholeStageCodegen marker in plan strings
    val plan = scanned.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_token_count"), plan)
    assert(scanned.agg(org.apache.spark.sql.functions.sum("n")).collect()(0).getLong(0) > 0)
  }

  test("theta sketch set ops: estimates near exact on known overlap") {
    graft.functions.Sketches.register(spark)
    import graft.functions.Sketches._
    // A = 0..999, B = 500..1499 → |A∩B| = 500, |A∪B| = 1500
    val df = (0 until 1000).map(i => ("a", i.toLong))
      .++((500 until 1500).map(i => ("b", i.toLong))).toDF("g", "v")
    val sk = df.groupBy("g").agg(expr("theta_sketch(v)").as("sk"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]]("sk")).toMap
    assert(math.abs(thetaEstimate(sk("a")) - 1000) < 30)
    assert(math.abs(thetaIntersectEstimate(sk("a"), sk("b")) - 500) < 30)
    assert(math.abs(thetaUnionEstimate(sk("a"), sk("b")) - 1500) < 45)
  }

  test("induction: sequential decay accumulation ordered and correct") {
    val rows = Seq(OrderRow(1, 100.0), OrderRow(2, 200.0), OrderRow(3, 50.0))
    val ds = spark.createDataset(rows)
    val out = Advanced.induction(ds, InductState(0L, 0.0)) { (acc, r) =>
      InductState(r.o_orderkey, acc.running * 0.5 + r.o_totalprice)
    }.collect()
    assert(out.map(_.o_orderkey).toSeq == Seq(1L, 2L, 3L))
    assert(out(2).running == ((100.0 * 0.5 + 200.0) * 0.5 + 50.0))
  }

  test("loess smooths noise toward the underlying trend") {
    val pts = (0 until 100).map { i =>
      val x = i.toDouble
      (1L, x, 2.0 * x + (if (i % 2 == 0) 5.0 else -5.0)) // linear + alternating noise
    }
    val df = pts.toDF("g", "x", "y")
    val sm = Advanced.loessSmooth(df, "g", "x", "y", bandwidth = 0.3)
      .collect().map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    // smoothed curve should be closer to 2x than the noisy points are
    val rawErr = sm.map { case (x, y, _) => math.abs(y - 2 * x) }.sum
    val smErr = sm.map { case (x, _, s) => math.abs(s - 2 * x) }.sum
    assert(smErr < rawErr / 2, s"loess err $smErr vs raw $rawErr")
  }

  test("loessFit is bit-identical to commons-math LoessInterpolator") {
    import org.apache.commons.math3.analysis.interpolation.LoessInterpolator
    val rnd = new scala.util.Random(42)
    for (n <- Seq(10, 37, 100); iters <- Seq(0, 2)) {
      val xs = (0 until n).map(i => i + rnd.nextDouble() * 0.5).sorted.toArray
      // include outliers so robustness iterations produce zero weights
      val ys = xs.map(x => 3.0 * x + rnd.nextGaussian() +
        (if (rnd.nextInt(10) == 0) 50.0 else 0.0))
      val bw = math.max(0.3, math.min(1.0, 3.0 / n))
      val mine = Advanced.loessFit(xs, ys, bw, iters)
      val cm = new LoessInterpolator(bw, iters).smooth(xs, ys)
      assert(mine.toSeq == cm.toSeq,
        s"n=$n iters=$iters: ${mine.toSeq.zip(cm.toSeq).filter(p => p._1 != p._2).take(3)}")
    }
  }

  test("correlation table: diagonal 1, symmetric, self-consistent") {
    val cols = Seq("l_discount", "l_extendedprice", "l_quantity")
    val out = Advanced.correlationTable(Tables.t(spark, sfDir, "lineitem"),
      cols, squareScale = Map("l_extendedprice" -> 2))
      .collect()
      .map(r => r.getString(0) -> cols.indices.map(i => r.getDouble(i + 1))).toMap
    cols.zipWithIndex.foreach { case (c, i) =>
      assert(out(c)(i) == 1.0)
      cols.zipWithIndex.foreach { case (d, j) =>
        assert(math.abs(out(c)(j) - out(d)(i)) < 1e-12) // symmetry
      }
    }
  }

  test("spearman: monotone map ⇒ ρ=1, reversal ⇒ ρ=-1, ties handled") {
    // y = x³ is a nonlinear monotone map (Pearson < 1, Spearman = 1);
    // z reverses order; w duplicates values to exercise average ranks.
    val df = (1 to 200).map { i =>
      val x = i.toDouble
      (x, x * x * x, -x, (i / 10).toDouble)
    }.toDF("x", "y", "z", "w")
    val cols = Seq("w", "x", "y", "z")
    val out = Advanced.spearmanCorrelationTable(df, cols)
      .collect()
      .map(r => r.getString(0) -> cols.indices.map(i => r.getDouble(i + 1))).toMap
    // monotone ⇒ 1 / reversed ⇒ -1 up to final-formula double rounding
    assert(math.abs(out("x")(cols.indexOf("y")) - 1.0) < 1e-12)
    assert(math.abs(out("x")(cols.indexOf("z")) + 1.0) < 1e-12)
    val wx = out("w")(cols.indexOf("x"))
    assert(wx > 0.98 && wx < 1.0, s"tied-rank corr $wx") // ties ⇒ slightly < 1
    cols.foreach(c => assert(out(c)(cols.indexOf(c)) == 1.0))
  }

  test("rank table: broadcast and range-partitioned paths agree bit-exactly") {
    // Same values (with ties + nulls) through both plan shapes: the small
    // path (single-task cumulate + broadcast) and the large path (range
    // partition + driver offsets), forced by shrinking the cutoff to 0.
    val df = spark.range(0, 5000)
      .selectExpr("CASE WHEN id % 97 = 0 THEN NULL ELSE CAST(id % 731 AS DOUBLE) END AS v")
    def table(cutoff: Long) = {
      val (ranks, cleanup) = Advanced.doubledAvgRankTable(df, "v", "r", cutoff)
      val rows = ranks.collect().map(r => (r.getDouble(0), r.getLong(1))).sorted
      cleanup(); rows
    }
    val small = table(Long.MaxValue)
    val large = table(0L)
    assert(small.nonEmpty && small.sameElements(large))
  }

  test("kendall tau-b: known small cases") {
    // perfect concordance / discordance, and the classic tie case
    val df = Seq((1L, 1.0, 10.0, 3.0, 1.0), (2L, 2.0, 20.0, 2.0, 1.0),
      (3L, 3.0, 30.0, 1.0, 2.0), (4L, 4.0, 40.0, 0.0, 2.0))
      .toDF("id", "a", "b", "c", "d")
    val cols = Seq("a", "b", "c", "d")
    val out = Advanced.kendallCorrelationTable(df, cols)
      .collect()
      .map(r => r.getString(0) -> cols.indices.map(i => r.getDouble(i + 1))).toMap
    assert(math.abs(out("a")(cols.indexOf("b")) - 1.0) < 1e-12)
    assert(math.abs(out("a")(cols.indexOf("c")) + 1.0) < 1e-12)
    // d vs a: C=4, D=0, n0=6, ties(d)=2 → 4/sqrt(6*4)
    val ad = out("a")(cols.indexOf("d"))
    assert(math.abs(ad - 4.0 / math.sqrt(24.0)) < 1e-15, s"tau-b $ad")
  }

  test("inversionCount matches brute force (ties, partition counts)") {
    val rnd = new scala.util.Random(42)
    for (n <- Seq(0, 1, 2, 37, 500); domA <- Seq(3, 50); domB <- Seq(3, 40)) {
      // heavy ties in both columns exercise equal-key runs and equal-b
      // groups at bucket boundaries
      val data = Seq.fill(n)((rnd.nextInt(domA).toDouble, rnd.nextInt(domB).toDouble))
      val df = data.toDF("a", "b")
      val sorted = data.sortBy(identity)
      var brute = 0L
      for (i <- sorted.indices; j <- i + 1 until sorted.length)
        if (sorted(i)._2 > sorted(j)._2) brute += 1
      for (parts <- Seq("1", "3", "7")) {
        val prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        try assert(Advanced.inversionCount(df, "a", "b") == brute,
          s"n=$n domA=$domA domB=$domB parts=$parts")
        finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      }
    }
  }

  test("kendall distributed plan == pair-frame plan bit-exactly") {
    val rnd = new scala.util.Random(7)
    // ties, nulls, and enough rows that the sort spans several partitions
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize((0 until 3000).map { i =>
        org.apache.spark.sql.Row(i.toLong,
          if (i % 211 == 0) null else rnd.nextInt(25).toDouble,
          rnd.nextInt(400).toDouble,
          if (i % 173 == 0) null else rnd.nextDouble() * 10,
          rnd.nextInt(4).toDouble)
      }, 5),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.DoubleType, nullable = true),
        org.apache.spark.sql.types.StructField("b",
          org.apache.spark.sql.types.DoubleType, nullable = false),
        org.apache.spark.sql.types.StructField("c",
          org.apache.spark.sql.types.DoubleType, nullable = true),
        org.apache.spark.sql.types.StructField("d",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
    val cols = Seq("a", "b", "c", "d")
    def dump(maxRows: Long) =
      Advanced.kendallCorrelationTable(df, cols, maxRows = maxRows)
        .orderBy("column").collect()
        .map(r => (r.getString(0), cols.indices.map(i =>
          java.lang.Double.doubleToRawLongBits(r.getDouble(i + 1))).toSeq)).toSeq
    // maxRows above n → pair frame; 0 → Knight's distributed plan
    assert(dump(Long.MaxValue) == dump(0L))

    // degenerate: a CONSTANT column makes its tau denominator 0 — both
    // plans must land on the same bits (0/0 → the same canonical NaN)
    val dfc = df.withColumn("e", lit(1.5))
    val colsC = cols :+ "e"
    def dumpC(maxRows: Long) =
      Advanced.kendallCorrelationTable(dfc, colsC, maxRows = maxRows)
        .orderBy("column").collect()
        .map(r => (r.getString(0), colsC.indices.map(i =>
          java.lang.Double.doubleToRawLongBits(r.getDouble(i + 1))).toSeq)).toSeq
    val (pf, kn) = (dumpC(Long.MaxValue), dumpC(0L))
    assert(pf == kn)
    assert(pf.exists(_._2.exists(bits =>
      java.lang.Double.longBitsToDouble(bits).isNaN)))
  }

  test("kendall distributed plan on full lineitem: sane table, no row bound") {
    // the old implementation REFUSED anything above its row bound; the
    // distributed plan must just run (6k rows here; the asymptotics carry)
    val li = Tables.t(spark, sfDir, "lineitem")
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val out = Advanced.kendallCorrelationTable(li, cols, maxRows = 0L)
      .orderBy("column").collect()
    assert(out.length == 3)
    val byName = out.map(r => r.getString(0) ->
      cols.indices.map(i => r.getDouble(i + 1))).toMap
    cols.foreach { c =>
      assert(byName(c)(cols.indexOf(c)) == 1.0)
      byName(c).foreach(v => assert(v >= -1.0 && v <= 1.0, s"$c: $v"))
    }
    // symmetric: tau(q, p) == tau(p, q)
    assert(byName("l_quantity")(1) == byName("l_extendedprice")(0))
  }

  test("linearRecurrenceKeyed == sequential per-key fold, bitwise") {
    val rnd = new scala.util.Random(11)
    val data = (0 until 4000).map(i =>
      (i.toLong, (i % 37).toLong, rnd.nextDouble() * 100 - 20))
    val df = data.toDF("id", "k", "x").repartition(7)
    val out = Advanced.linearRecurrenceKeyed(
      df, Seq("k"), Seq("id"), "x", 0.9, "s")
      .select("id", "s").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // driver-side replay: same op order per key
    val expect = data.groupBy(_._2).flatMap { case (_, rows) =>
      var s = 0.0
      rows.sortBy(_._1).map { case (id, _, x) => s = 0.9 * s + x; id -> s }
    }
    assert(out.size == 4000)
    expect.foreach { case (id, v) =>
      assert(java.lang.Double.doubleToRawLongBits(out(id)) ==
        java.lang.Double.doubleToRawLongBits(v), s"id=$id")
    }
    // null x fails loudly (Row.getDouble would silently read 0.0)
    val withNull = Seq((1L, 1L, java.lang.Double.valueOf(1.0)),
      (2L, 1L, null.asInstanceOf[java.lang.Double]))
      .toDF("id", "k", "x")
    val e = intercept[org.apache.spark.SparkException] {
      Advanced.linearRecurrenceKeyed(withNull, Seq("k"), Seq("id"), "x",
        0.5, "s").collect()
    }
    assert(e.getMessage.contains("null x") || e.getCause != null)
  }

  test("ewmaKeyed == pandas ewm(adjust=False) per-key fold, bitwise") {
    val rnd = new scala.util.Random(7)
    val data = (0 until 3000).map(i =>
      (i.toLong, (i % 23).toLong, rnd.nextDouble() * 50 - 10))
    val df = data.toDF("id", "k", "x").repartition(5)
    val out = Advanced.ewmaKeyed(df, Seq("k"), Seq("id"), "x", 0.3, "ewma")
      .select("id", "ewma").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expect = data.groupBy(_._2).flatMap { case (_, rows) =>
      var s = 0.0; var first = true
      rows.sortBy(_._1).map { case (id, _, x) =>
        s = if (first) x else 0.7 * s + 0.3 * x
        first = false
        id -> s
      }
    }
    assert(out.size == 3000)
    expect.foreach { case (id, v) =>
      assert(java.lang.Double.doubleToRawLongBits(out(id)) ==
        java.lang.Double.doubleToRawLongBits(v), s"id=$id")
    }
  }

  test("holtKeyed == two-state per-key fold, bitwise; forecast = l + b") {
    val rnd = new scala.util.Random(3)
    val data = (0 until 2000).map(i =>
      (i.toLong, (i % 11).toLong, rnd.nextDouble() * 30 + i * 0.01))
    val df = data.toDF("id", "k", "x").repartition(4)
    val out = Advanced.holtKeyed(df, Seq("k"), Seq("id"), "x", 0.4, 0.2)
      .select("id", "level", "trend", "forecast").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val expect = data.groupBy(_._2).flatMap { case (_, rows) =>
      var l = 0.0; var b = 0.0; var first = true
      rows.sortBy(_._1).map { case (id, _, x) =>
        if (first) { l = x; b = 0.0; first = false }
        else {
          val lp = l
          l = 0.4 * x + (1.0 - 0.4) * (lp + b)
          b = 0.2 * (l - lp) + (1.0 - 0.2) * b
        }
        id -> (l, b)
      }
    }
    assert(out.size == 2000)
    expect.foreach { case (id, (l, b)) =>
      def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
      assert(bits(out(id)._1) == bits(l) && bits(out(id)._2) == bits(b), s"id=$id")
      assert(bits(out(id)._3) == bits(l + b), s"forecast id=$id")
    }
  }

  test("linearRecurrence keyless segmented scan: exact on integer data, " +
    "close on doubles") {
    // integer-representable states: segmented carries are exact, so the
    // distributed result must equal the sequential fold bitwise
    val ints = (0 until 40).map(i => (i.toLong, ((i * 7) % 90 + 1).toDouble))
    val dfI = ints.toDF("id", "x")
    val (outI, cleanI) = Advanced.linearRecurrence(dfI, Seq("id"), "x", 2.0, "s")
    val gotI = outI.select("id", "s").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    cleanI()
    var s = 0.0
    ints.foreach { case (id, x) =>
      s = 2.0 * s + x
      assert(gotI(id) == s, s"id=$id got=${gotI(id)} want=$s")
    }
    // general doubles: equal to sequential within reassociation tolerance
    val rnd = new scala.util.Random(3)
    val ds = (0 until 5000).map(i => (i.toLong, rnd.nextDouble() * 10 - 5))
    val dfD = ds.toDF("id", "x").repartition(9)
    val (outD, cleanD) = Advanced.linearRecurrence(dfD, Seq("id"), "x", 0.8, "s")
    val gotD = outD.select("id", "s").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    cleanD()
    var t = 0.0
    ds.foreach { case (id, x) =>
      t = 0.8 * t + x
      assert(math.abs(gotD(id) - t) <= 1e-9 * (1.0 + math.abs(t)), s"id=$id")
    }
  }

  test("linearRecurrence: divergent overflow meeting a carry refuses loudly") {
    // |a| > 1 over enough rows per partition overflows a^n; with multiple
    // partitions and non-zero carries that poisons downstream rows — the
    // carry loop must throw, not emit Inf/NaN
    val df = (0 until 20000).map(i => (i.toLong, 1.0)).toDF("id", "x")
      .repartition(4)
    val e = intercept[IllegalArgumentException] {
      val (out, clean) = Advanced.linearRecurrence(df, Seq("id"), "x", 1.5, "s")
      try out.count() finally clean()
    }
    assert(e.getMessage.contains("overflowed"))
  }

  test("keyed folds: struct key with nested array or binary key refuses") {
    // key runs are detected by Seq equality, which compares array-backed
    // values by reference: such a key would restart the state on every
    // row, so every operator on the keyed fold kernel refuses it
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "linearRecurrenceKeyed" -> (df =>
        Advanced.linearRecurrenceKeyed(df, Seq("k"), Seq("id"), "x", 0.5, "out")),
      "holtKeyed" -> (df =>
        Advanced.holtKeyed(df, Seq("k"), Seq("id"), "x", 0.5, 0.5)),
      "clampedRunningSumKeyed" -> (df =>
        Advanced.clampedRunningSumKeyed(df, Seq("k"), Seq("id"), "x", 0.0)),
      "ewmVarKeyed" -> (df =>
        Advanced.ewmVarKeyed(df, Seq("k"), Seq("id"), "x", 0.5)),
      "holtWintersKeyed" -> (df =>
        Advanced.holtWintersKeyed(df, Seq("k"), Seq("id"), "x", 0.5, 0.5, 0.5, 2)),
      "cusumKeyed" -> (df =>
        Advanced.cusumKeyed(df, Seq("k"), Seq("id"), "x", 0.0, 0.0, 1.0)),
      "macd" -> (df =>
        graft.ops.Indicators.macd(df, Seq("k"), Seq("id"), "x")))
    val base = Seq((Seq(1, 2), "a", 1L, 1.0), (Seq(1, 2), "a", 2L, 2.0))
      .toDF("arr", "s", "id", "x")
    val badKeys = Seq(
      "struct<array>" -> base.select(struct(col("arr"), col("s")).as("k"),
        col("id"), col("x")),
      "binary" -> base.select(col("s").cast("binary").as("k"), col("id"),
        col("x")))
    for ((name, op) <- ops; (kind, df) <- badKeys) {
      val e = intercept[IllegalArgumentException](op(df))
      assert(e.getMessage.contains(s"$name: key column 'k'") &&
        e.getMessage.contains("array-backed"), s"$name/$kind: ${e.getMessage}")
    }
    // struct of scalars is fine
    val ok = Seq(("a", 1, 1L, 1.0), ("a", 1, 2L, 2.0))
      .toDF("s", "i", "id", "x")
      .select(struct(col("s"), col("i")).as("k"), col("id"), col("x"))
    for ((name, op) <- ops) assert(op(ok).count() == 2, name)
  }

  test("loessSmooth: series above maxGroupRows refuses loudly") {
    val df = (0 until 500).map(i => (1L, i.toDouble, i.toDouble))
      .toDF("g", "x", "y")
    val e = intercept[org.apache.spark.SparkException] {
      Advanced.loessSmooth(df, "g", "x", "y", maxGroupRows = 100).collect()
    }
    assert(e.getCause.getMessage.contains("maxGroupRows"))
  }

  test("probDistToLabel: argmax name, first column wins ties, NaN raises") {
    import graft.ops.Ml
    val df = Seq((1L, 0.2, 0.5, 0.3), (2L, 0.4, 0.4, 0.2), (3L, 0.1, 0.2, 0.7))
      .toDF("id", "a", "b", "c")
    val out = Ml.probDistToLabel(df, Seq("a", "b", "c"), "label")
      .orderBy("id").collect().map(_.getAs[String]("label"))
    assert(out.toSeq == Seq("b", "a", "c")) // row 2: tie a/b → first (a)
    val bad = Seq((1L, Double.NaN, 0.5, 0.3)).toDF("id", "a", "b", "c")
    intercept[Exception] {
      Ml.probDistToLabel(bad, Seq("a", "b", "c"), "label").collect()
    }
  }

  test("labels: inference-target codes reverse-map to original values") {
    import graft.ops.Ml
    val df = Seq("x", "y", "x", "z").toDF("cat")
    val m = Categorical.fitLabelMap(df, "cat", "code")
    val coded = Categorical.transform(df, m, "cat").select("code")
    val back = Ml.labels(coded, m, "code").collect().map(_.getAs[String]("cat"))
    assert(back.sorted.toSeq == Seq("x", "x", "y", "z"))
  }

  test("pdMerge full outer keeps both unmatched sides") {
    val a = Seq((1, "a"), (2, "b")).toDF("k", "va")
    val b = Seq((2, "x"), (3, "y")).toDF("k", "vb")
    val out = graft.ops.Joins.pdMerge(a, b, Seq("k"), "outer")
      .orderBy("k").collect()
    assert(out.length == 3)
    assert(out(0).getAs[String]("vb") == null && out(2).getAs[String]("va") == null)
  }

  test("pdMerge: cross-width numeric keys match (reference short-types); " +
       "rows multiply on duplicate keys (issue-381 semantics)") {
    // SHORT-typed key on one side, LONG on the other: the merge must
    // match on VALUE (Spark widens implicitly, like the reference's
    // boxed-number equality)
    val lds = Seq((java.lang.Short.valueOf(2022.toShort), "foo"))
      .toDF("y", "i")
    val rds = Seq((2022L, "foo", "2022"), (2023L, "foo", "2023"))
      .toDF("y", "i", "s")
    val j = graft.ops.Joins.pdMerge(lds, rds, Seq("i", "y"), "inner")
      .collect()
    assert(j.length == 1 && j(0).getAs[String]("s") == "2022")
    // duplicate keys on both sides: |L|·|R| rows per key, never deduped
    val l10 = Seq.fill(10)(1).toDF("row")
    val r4 = Seq.fill(4)(1).toDF("row")
    assert(graft.ops.Joins.pdMerge(l10, r4, Seq("row"), "left")
      .count() == 40L)
  }

  test("keyJoin prefixes right-side collisions") {
    val a = Seq((1, "x")).toDF("k", "v")
    val b = Seq((1, "y")).toDF("kb", "v")
    val out = graft.ops.Joins.keyJoin(a, b, Seq("k"), Seq("kb"))
    assert(out.columns.contains("right.v") && out.columns.contains("v"))
    assert(out.count() == 1)
  }

  test("pca: recovers dominant axis, components orthonormal, partition-invariant") {
    import graft.ops.Ml
    // y ≈ 2x (dominant direction (1,2)/√5), z independent small noise
    val rows = (0 until 2000).map { i =>
      val x = (i % 100).toDouble / 10.0
      (i.toLong, x, 2.0 * x + ((i * 37) % 7).toDouble * 0.01,
        ((i * 13) % 5).toDouble * 0.1)
    }
    val df = rows.toDF("id", "x", "y", "z")
    val m = Ml.fitPca(df, Seq("x", "y", "z"), 3)
    // orthonormal components
    for (a <- m.components; b <- m.components) {
      val dot = a.zip(b).map { case (p, q) => p * q }.sum
      val expect = if (a eq b) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-9, s"dot=$dot")
    }
    // first component ≈ (1,2,0)/√5 up to the sign convention
    val v = m.components(0)
    assert(math.abs(math.abs(v(1) / v(0)) - 2.0) < 0.05, v.toSeq.toString)
    assert(math.abs(v(2)) < 0.05)
    assert(m.eigenvalues(0) > m.eigenvalues(1))
    // deterministic across partition counts (exact sums)
    val m8 = Ml.fitPca(df.repartition(8), Seq("x", "y", "z"), 3)
    assert(m.components.flatten.toSeq == m8.components.flatten.toSeq)
    // transform matches the driver-side matrix multiply
    val first = Ml.pcaProject(df, Seq("x", "y", "z"), 2)
      .orderBy("id").select("pc").head().getSeq[Double](0)
    val manual = m.components.take(2).map(c =>
      c(0) * rows.head._2 + c(1) * rows.head._3 + c(2) * rows.head._4)
    assert(first.zip(manual).forall { case (a, b) => math.abs(a - b) < 1e-9 })
  }

  test("descriptiveStatsFull: known moments, nulls, positional first/last") {
    import spark.implicits._
    // 5, 1..4, null, 5..9: hand-checkable stats, null mid-stream (the
    // reference's positional first/last take raw endpoints, so a trailing
    // null would legitimately make `last` missing)
    val df = ((Seq(5.0, 1, 2, 3, 4).map(Option(_)) :+ (None: Option[Double])) ++
      (5 to 9).map(d => Option(d.toDouble)))
      .toDF("x").coalesce(1)
    val r = graft.ops.Reductions.descriptiveStatsFull(df, Seq("x"))
      .collect()(0)
    assert(r.getAs[Long]("n_valid") == 10 && r.getAs[Long]("n_missing") == 1)
    assert(r.getAs[Long]("n_distinct") == 9)
    assert(r.getAs[Double]("min") == 1.0 && r.getAs[Double]("max") == 9.0)
    assert(r.getAs[Double]("mean") == 5.0)
    assert(r.getAs[Double]("mode") == 5.0) // count 2 beats all the 1-counts
    assert(r.getAs[Double]("median") == 5.0)
    assert(r.getAs[String]("datatype") == "double")
    // positional semantics on the single-partition frame
    assert(r.getAs[Double]("first") == 5.0)
    assert(r.getAs[Double]("last") == 9.0)
    // symmetric-ish data: skew is small but the sign of the exact
    // third moment: values {5,1..9} → Σ(x−5)³ = 0 → skew 0
    assert(math.abs(r.getAs[Double]("skew")) < 1e-12)
    // keyed first/last variant is partition-stable
    val keyed = spark.range(0, 1000).repartition(7)
      .select(col("id"), (col("id") % 13).cast("double").as("v"))
    val kr = graft.ops.Reductions.descriptiveStatsFull(
      keyed, Seq("v"), orderCol = Some("id")).collect()(0)
    assert(kr.getAs[Double]("first") == 0.0 && kr.getAs[Double]("last") == 999 % 13)
  }
}
