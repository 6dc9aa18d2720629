package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.Bounded._

/** Session set-up and query selection shared by [[Bench]] and [[PlanDump]]. */
private[graft] object Harness {
  type Query = (SparkSession, String) => DataFrame

  val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The registered queries called `names`, in the order given. Every
    * unknown name is reported in one error, before any query runs. */
  def select(names: Seq[String]): Seq[(String, Query)] = {
    val registry = SparkEntry.queries
    val unknown = names.filterNot(registry.contains).distinct
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")} (not in SparkEntry.queries)")
    names.distinct.map(n => n -> registry(n))
  }

  /** A `local[SPARK_GRAFT_CPUS]` session (default 4) with as many shuffle
    * partitions and the UI off, warmed up on `sfDir` so the first query is
    * not charged for session machinery and file-source init.
    * `SPARK_GRAFT_EXTRA_CONF="k=v;k=v"` sets further session conf, the
    * knobs spark-submit --conf would open (e.g.
    * `spark.graft.driverRowLimit=0` to force the distributed legs). */
  def session(sfDir: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(';').foreach { kv =>
      val i = kv.indexOf('=')
      if (i > 0) builder.config(kv.take(i).trim, kv.drop(i + 1).trim)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collectBounded(1, "warmup")
    spark.read.parquet(s"$sfDir/region.parquet").count()
    spark
  }
}
