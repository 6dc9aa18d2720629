package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Stats

/** The seven two-class cumulates share one range-partitioned scan: each
  * partition starts from the class counts before it, and wasserstein1 /
  * energyDistance take the last gap of a partition from the next
  * non-empty one. Their answers must not depend on how the sorted
  * distinct values fall into partitions. */
class TwoClassCumulateSpec extends SparkSuite {
  init()
  import spark.implicits._

  private val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
    "ksTest" -> (df => Stats.ksTest(df, "v", "g", "a", "b")),
    "cramerVonMises" -> (df => Stats.cramerVonMises(df, "v", "g", "a", "b")),
    "wasserstein1" -> (df => Stats.wasserstein1(df, "v", "g", "a", "b")),
    "energyDistance" -> (df => Stats.energyDistance(df, "v", "g", "a", "b")),
    "andersonDarling2" -> (df =>
      Stats.andersonDarling2(df, "v", "g", "a", "b")),
    // a null or "c" group is a negative for the score sweeps
    "averagePrecision" -> (df =>
      Stats.averagePrecision(df, "v", col("g") === "a")),
    "youdenThreshold" -> (df =>
      Stats.youdenThreshold(df, "v", col("g") === "a")))

  /** 600 rows over `distinct` tied values, groups a/b plus c and null
    * (outside both samples), and about one null and one NaN value in 20. */
  private def sample(seed: Int, distinct: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val groups = Seq(Some("a"), Some("a"), Some("b"), Some("b"), Some("b"),
      Some("c"), None)
    (0 until 600).map { _ =>
      val v = rnd.nextInt(20) match {
        case 0 => None
        case 1 => Some(Double.NaN)
        case _ => Some(rnd.nextInt(distinct) * 0.75 - 2.0)
      }
      (groups(rnd.nextInt(groups.length)), v)
    }.toDF("g", "v")
  }

  private def atPartitions[T](n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, prev)
  }

  test("seven cumulates: identical rows at 1, 3 and 7 partitions") {
    // 5 distinct values at 7 partitions leave at least two partitions
    // empty; 60 put gaps across partition boundaries
    for ((label, df) <- Seq("5 distinct" -> sample(11, 5),
                            "60 distinct" -> sample(12, 60));
         (name, op) <- ops) {
      val runs = Seq(1, 3, 7).map(p =>
        p -> atPartitions(p)(op(df).collect().toSeq.map(_.toSeq)))
      val base = runs.head._2
      assert(base.size == 1 && !base.head.contains(null), s"$name/$label: $base")
      runs.tail.foreach { case (p, rows) =>
        assert(rows == base, s"$name/$label at $p partitions: $rows vs $base")
      }
    }
  }

  test("a DoubleType group matches a = \"1\" in all five two-group tests") {
    // the row filter and both class predicates compare the group column
    // under the same coercion ("1" is read as 1.0), so every admitted row
    // lands in its class
    val df = Seq((1.0, 0.5), (1.0, 1.5), (1.0, 2.5), (2.0, 1.0), (2.0, 3.0))
      .toDF("g", "v")
    val ks = Stats.ksTest(df, "v", "g", "1", "2").collect()(0)
    // cumulative (c1, c2): (1,0) (1,1) (2,1) (3,1) (3,2); max |2·c1 − 3·c2| = 3
    assert((ks.getLong(0), ks.getLong(1), ks.getLong(2)) == ((3L, 2L, 3L)))
    assert(ks.getDouble(3) == 0.5)
    // by hand over the same cumulates, gaps 0.5 0.5 1.0 0.5:
    //  cramerVonMises Σ mult·(2·c1 − 3·c2)² = 4+1+1+9+0 = 15, / (5·5·3·2)
    //  wasserstein1 ⌊10⁹·|2·c1 − 3·c2|·gap/6⌋ = 166666666 + 83333333
    //    + 166666666 + 250000000
    //  energyDistance e_xy 166666666 + 250000000 + 500000000 + 250000000,
    //    e_xx 222222222 + 222222222 + 444444444, e_yy 0.25 + 0.5 + 0.25
    //  andersonDarling2 ⌊num²·l/(B·(5−B))⌋ = 1 + 0 + 0 + 2, / (3·2·5)
    val expect = Seq(
      "cramerVonMises" -> (Stats.cramerVonMises(df, "v", "g", "1", "2"),
        Seq(0.1)),
      "wasserstein1" -> (Stats.wasserstein1(df, "v", "g", "1", "2"),
        Seq(0.666666665)),
      "energyDistance" -> (Stats.energyDistance(df, "v", "g", "1", "2"),
        Seq(1.166666666, 0.888888888, 1.0,
          2.0 * 1.166666666 - 0.888888888 - 1.0)),
      "andersonDarling2" -> (Stats.andersonDarling2(df, "v", "g", "1", "2"),
        Seq(0.1)))
    for ((name, (out, stats)) <- expect) {
      val r = out.collect()(0)
      assert(r.getLong(0) == 3L && r.getLong(1) == 2L, s"$name: $r")
      assert(stats.indices.map(i => r.getDouble(2 + i)) == stats, s"$name: $r")
    }
  }
}
