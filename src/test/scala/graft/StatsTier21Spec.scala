package graft

import org.apache.spark.sql.functions._
import graft.ops.{Stats, Ml}

/** Semantic pins for the round-19 continuation wave (q420–q423): Theil
  * decomposition, Youden threshold, target encoding, D'Agostino K². */
class StatsTier21Spec extends SparkSuite {
  init()

  test("theilDecomposition: equal values give T = 0 everywhere") {
    import spark.implicits._
    val df = Seq(("a", 2.0), ("a", 2.0), ("a", 2.0), ("a", 2.0))
      .toDF("g", "v")
    val r = Stats.theilDecomposition(df, "v", "g").collect()(0)
    assert(r.getLong(1) == 4L)
    assert(math.abs(r.getDouble(4)) < 1e-4, s"theil_g=${r.getDouble(4)}")
    assert(math.abs(r.getDouble(5)) < 1e-4)
    assert(math.abs(r.getDouble(6)) < 1e-4)
    assert(math.abs(r.getDouble(7)) < 1e-4)
  }

  test("theilDecomposition: equal group means put all inequality within") {
    import spark.implicits._
    // g1 = {1, 3} (unequal), g2 = {2, 2} (equal): mu = mu_g1 = mu_g2 = 2
    val df = Seq(("g1", 1.0), ("g1", 3.0), ("g2", 2.0), ("g2", 2.0))
      .toDF("g", "v")
    val out = Stats.theilDecomposition(df, "v", "g").collect()
      .map(r => r.getString(0) -> r).toMap
    val between = out("g1").getDouble(6)
    val within = out("g1").getDouble(7)
    val total = out("g1").getDouble(5)
    assert(math.abs(between) < 1e-4, s"between=$between")
    assert(within > 0.01, s"within=$within")
    // additive identity T = T_b + T_w (up to floor-scale dust)
    assert(math.abs(total - (between + within)) < 1e-3)
    assert(math.abs(out("g2").getDouble(4)) < 1e-4) // equal group: T_g = 0
    assert(out("g1").getDouble(4) > 0.01)
    // shares: both groups carry half the mass
    assert(math.abs(out("g1").getDouble(3) - 0.5) < 1e-4)
  }

  test("theilDecomposition: non-positive rows are excluded") {
    import spark.implicits._
    val base = Seq(("a", 1.0), ("a", 3.0))
    val noisy = base ++ Seq(("a", 0.0), ("a", -5.0))
    val r1 = Stats.theilDecomposition(base.toDF("g", "v"), "v", "g")
      .collect()(0)
    val r2 = Stats.theilDecomposition(noisy.toDF("g", "v"), "v", "g")
      .collect()(0)
    assert(r1.getLong(1) == 2L && r2.getLong(1) == 2L)
    assert(r1.getDouble(4) == r2.getDouble(4))
  }

  test("youdenThreshold: perfect separation finds J = 1 at the lowest " +
    "positive score") {
    import spark.implicits._
    val df = Seq((0.9, "p"), (0.8, "p"), (0.2, "n"), (0.1, "n"))
      .toDF("s", "y")
    val r = Stats.youdenThreshold(df, "s", col("y") === "p").collect()(0)
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 0.8, s"thr=${r.getDouble(2)}")
    assert(r.getLong(3) == 2L && r.getLong(4) == 0L) // tp, fp
    assert(r.getLong(5) == 0L && r.getLong(6) == 2L) // fn, tn
    assert(r.getDouble(7) == 1.0 && r.getDouble(8) == 1.0)
    assert(r.getDouble(9) == 1.0)
  }

  test("youdenThreshold: anti-predictive score settles at J = 0, " +
    "all-positive operating point") {
    import spark.implicits._
    // pos at 0.1, neg at 0.9: thr 0.9 gives J = -1; thr 0.1 gives J = 0
    val df = Seq((0.1, "p"), (0.9, "n")).toDF("s", "y")
    val r = Stats.youdenThreshold(df, "s", col("y") === "p").collect()(0)
    assert(r.getDouble(2) == 0.1)
    assert(r.getDouble(9) == 0.0)
    assert(r.getDouble(7) == 1.0 && r.getDouble(8) == 0.0)
  }

  test("youdenThreshold: tie on J picks the highest threshold") {
    import spark.implicits._
    // pos {3, 1}, neg {2}: thr 3 -> J = 1/2*... tp=1 fp=0 J=1*1-0*2=1
    // thr 2 -> tp=1 fp=1 j=1*1-1*2=-1; thr 1 -> tp=2 fp=1 j=2-2=0.
    // unique max at thr=3. For a real tie: pos {3}, neg {2}, pos {1}:
    // thr 3: j=1*1-0=1; thr 2: j=1-1=0; thr 1: j=2*1-1*1... use a
    // symmetric case: pos {2}, neg {1} and pos {4}, neg {3}:
    // thr 4: tp=1 fp=0 -> j=1*2-0=2; thr 3: tp=1 fp=1 -> j=2-2=0;
    // thr 2: tp=2 fp=1 -> j=4-2=2 (tie with thr 4); thr 1: tp=2 fp=2 -> 0.
    val df = Seq((4.0, "p"), (3.0, "n"), (2.0, "p"), (1.0, "n"))
      .toDF("s", "y")
    val r = Stats.youdenThreshold(df, "s", col("y") === "p").collect()(0)
    assert(r.getDouble(2) == 4.0, s"tie must go high: ${r.getDouble(2)}")
    assert(r.getDouble(9) == 0.5)
  }

  test("youdenThreshold: empty positive class emits nulls") {
    import spark.implicits._
    val df = Seq((1.0, "n"), (2.0, "n")).toDF("s", "y")
    val r = Stats.youdenThreshold(df, "s", col("y") === "p").collect()(0)
    assert(r.getLong(0) == 0L && r.getLong(1) == 2L)
    assert(r.isNullAt(2) && r.isNullAt(9))
  }

  test("targetEncode: shrinkage pulls rare categories to the global mean") {
    import spark.implicits._
    // a = {2, 4} (mean 3), b = {6} (mean 6); global mu = 4, m = 1:
    // enc_a = (6 + 4)/3 = 10/3, enc_b = (6 + 4)/2 = 5
    val df = Seq(("a", 2.0), ("a", 4.0), ("b", 6.0)).toDF("c", "v")
    val out = Ml.targetEncode(df, "c", "v", m = 1.0).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("a").getLong(1) == 2L)
    assert(math.abs(out("a").getDouble(2) - 3.0) < 1e-6)
    assert(math.abs(out("a").getDouble(3) - 10.0 / 3.0) < 1e-6)
    assert(math.abs(out("b").getDouble(3) - 5.0) < 1e-6)
    // larger m shrinks harder toward mu = 4
    val hard = Ml.targetEncode(df, "c", "v", m = 1e6).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(math.abs(hard("b") - 4.0) < 0.01)
  }

  test("dagostinoK2: CLT-normal sample keeps both z components small; " +
    "skewed sample blows up z_skew") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 4000).map { _ =>
      ("norm", (1 to 12).map(_ => rnd.nextDouble()).sum - 6.0)
    } ++ (1 to 4000).map { _ =>
      val u = rnd.nextDouble(); ("skew", u * u * 10.0)
    }
    val out = Stats.dagostinoK2(rows.toDF("g", "v"), "v", "g")
      .collect().map(r => r.getString(0) -> r).toMap
    val zs = out("norm").getDouble(4); val zk = out("norm").getDouble(5)
    assert(math.abs(zs) < 4.0 && math.abs(zk) < 4.0, s"zs=$zs zk=$zk")
    assert(out("norm").getDouble(6) < 20.0)
    assert(out("skew").getDouble(4) > 10.0,
      s"skewed z_skew=${out("skew").getDouble(4)}")
    // k2 is exactly the sum of squares of its own components
    val k2 = out("skew").getDouble(6)
    val want = out("skew").getDouble(4) * out("skew").getDouble(4) +
      out("skew").getDouble(5) * out("skew").getDouble(5)
    assert(k2 == want)
  }

  test("dagostinoK2: n below 20 gates to null") {
    import spark.implicits._
    val df = (1 to 19).map(i => ("g", i.toDouble)).toDF("g", "v")
    val r = Stats.dagostinoK2(df, "v", "g").collect()(0)
    assert(r.getLong(1) == 19L && r.isNullAt(4) && r.isNullAt(6))
  }

  test("dagostinoK2: a constant group (m2 = 0) gates to null, no zero divide") {
    import spark.implicits._
    val df = ((1 to 25).map(_ => ("flat", 5.0)) ++
      (1 to 25).map(i => ("ramp", i.toDouble))).toDF("g", "v")
    val out = Stats.dagostinoK2(df, "v", "g").collect()
      .map(r => r.getString(0) -> r).toMap
    assert((2 to 6).forall(out("flat").isNullAt), out("flat"))
    assert((2 to 6).forall(i => !out("ramp").isNullAt(i)), out("ramp"))
  }

  test("dagostinoK2 runs under whole-stage codegen with no fallback") {
    // with the fallback off, a generated class that does not compile
    // throws instead of running the plan interpreted
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val df = (1 to 200).map(i => (s"g${i % 4}", rnd.nextGaussian()))
      .toDF("g", "v")
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val out = Stats.dagostinoK2(df, "v", "g").collect()
      assert(out.length == 4 && out.forall(r => !r.isNullAt(6)))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
