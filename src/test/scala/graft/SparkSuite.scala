package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, getOrCreate-shared). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  def init(): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    Tables.ensureFunctions(spark)
  }

  /** Run `f` with the driver row limit behind
    * [[graft.ops.Bounded.fitsDriver]] set to `limit` (0 = nothing fits)
    * and Spark's size-based broadcast off, so only the engine's own
    * decision picks local replay, broadcast or sort-merge. The previous
    * settings are restored afterwards. */
  def atDriverRowLimit[T](limit: Long)(f: => T): T = {
    val conf = Seq(graft.ops.Bounded.DriverRowLimitKey -> limit.toString,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  def rowSet(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** Row sets of `f` on its distributed sort-merge leg (limit 0) and at
    * the default limit, where the parity specs' toy inputs run locally. */
  def bothWays(f: => DataFrame): (Set[Seq[Any]], Set[Seq[Any]]) =
    (atDriverRowLimit(0L)(rowSet(f)), rowSet(f))
}
