package graft
import org.apache.spark.sql.SparkSession

/** Optimization-round deliverable helper: dump `.explain("formatted")` for
  * registered queries to `plans/<tag>/<query>_<suffix>.txt`, then execute
  * the query (count) and append the FINAL adaptive plan, so each file shows
  * both the static plan (PushedFilters/ReadSchema per scan) and the
  * post-AQE physical shape (join strategies, reused/coalesced exchanges).
  *
  *   sbt "runMain graft.PlanDump q149_pagerank,q332_hits before [sfDir]"
  *
  * writes plans/r19/q149_pagerank_before.txt etc.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q01_groupby_agg").split(',').toSeq
    val suffix = if (args.length > 1) args(1) else "before"
    val sfDir =
      if (args.length > 2) args(2)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    // same conf hook as Bench — lets a "before" dump force the pre-gate
    // plan shape (e.g. SPARK_GRAFT_EXTRA_CONF=spark.graft.driverRowLimit=0)
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(';').foreach { kv =>
      val i = kv.indexOf('=')
      if (i > 0) builder.config(kv.take(i).trim, kv.drop(i + 1).trim)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = new java.io.File(
      "plans/" + sys.env.getOrElse("SPARK_GRAFT_PLANS_TAG", "r20"))
    dir.mkdirs()
    // r20 (VERDICT r19 item 4 — "vacuous plan dumps for the iterative
    // tier"): operators that eagerly materialize inside (persist counts,
    // bounded readouts, checkpointed pipelines) hide their real plans
    // behind a Scan ExistingRDD in the top-level explain. Capture every
    // INNER SQL action's executed plan via a QueryExecutionListener and
    // append them all to the dump, so the per-stage shapes (join
    // strategy, exchanges) are committed evidence, not claims.
    val inner = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        inner.add((s"$funcName ${durationNs / 1000000}ms",
          qe.executedPlan.toString))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    names.foreach { name =>
      spark.sparkContext.setJobDescription(s"plandump: $name")
      inner.clear()
      spark.listenerManager.register(listener)
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val cnt = df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      // listener delivery is async — settle before draining
      Thread.sleep(500)
      spark.listenerManager.unregister(listener)
      val finalPlan = df.queryExecution.executedPlan.toString
      val w = new java.io.PrintWriter(
        new java.io.File(dir, s"${name}_$suffix.txt"), "UTF-8")
      try {
        w.println(s"# $name @ $sfDir  rows=$cnt  wall=${"%.2f".format(sec)}s" +
          " (incl. query construction)")
        w.println(s"# == explain(formatted), pre-execution ==")
        w.println(formatted)
        w.println(s"# == final adaptive physical plan (post-AQE, after count) ==")
        w.println(finalPlan)
        val it = inner.iterator()
        var i = 0
        while (it.hasNext) {
          val (what, plan) = it.next()
          w.println(s"\n# == inner action $i: $what ==")
          w.println(plan)
          i += 1
        }
      } finally w.close()
      println(s"[plandump] $name -> ${dir}/${name}_$suffix.txt " +
        s"(rows=$cnt, ${"%.2f".format(sec)}s)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
