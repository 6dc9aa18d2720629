package graft
import java.io.{File, PrintWriter}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Plan and job evidence for registered queries. For each name it writes
  * `plans/<SPARK_GRAFT_PLANS_TAG, default r20>/<query>_<suffix>.txt` with
  *  - the formatted explain (PushedFilters/ReadSchema per scan);
  *  - the final adaptive plan of the frame's own execution (join
  *    strategies, reused and coalesced exchanges);
  *  - the executed plan of every inner SQL action: operators that
  *    materialize eagerly (persist counts, bounded readouts, checkpointed
  *    rounds) hide their real plans behind a Scan ExistingRDD at the top;
  *  - one row per Spark job: id, wall, `stage#tasks`, first `graft.` call
  *    site, so an eager multi-job operator's expensive phase is attributable;
  * and prints one summary line (rows, wall, jobs) per query.
  *
  *   sbt "runMain graft.PlanDump q149_pagerank,q332_hits before [sfDir]"
  *
  * writes plans/r20/q149_pagerank_before.txt etc.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q01_groupby_agg").split(',').toSeq
    val suffix = if (args.length > 1) args(1) else "before"
    val sfDir = if (args.length > 2) args(2) else Harness.sfDir
    val dir = new File("plans/" + sys.env.getOrElse("SPARK_GRAFT_PLANS_TAG", "r20"))
    val spark = Harness.session(sfDir)
    try dump(spark, names, sfDir, dir, suffix).foreach(println)
    finally spark.stop()
  }

  /** Writes `dir/<query>_<suffix>.txt` for each of `names` and returns one
    * summary line per query. Every name is checked before any query runs. */
  def dump(spark: SparkSession, names: Seq[String], sfDir: String,
           dir: File, suffix: String): Seq[String] = {
    val queries = Harness.select(names)
    dir.mkdirs()
    val rec = new Recorder(spark)
    try {
      rec.drain()
      rec.take() // whatever ran before the first query
      queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val formatted = df.queryExecution.explainString(FormattedMode)
        // count() would plan a separate aggregate and leave this frame's
        // plan unexecuted; the noop sink runs the frame's own plan over
        // every output column
        val obs = Observation()
        df.observe(obs, count(lit(1)).as("rows"))
          .write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        val rows = obs.get("rows")
        rec.drain()
        val (actions, jobs) = rec.take()
        // the write is the query's last SQL action, and its executed plan
        // is the finished adaptive plan (df.queryExecution is never run)
        val finalPlan = actions.lastOption.map(_._2)
          .getOrElse(sys.error(s"$name: the listener saw no SQL action"))
        val file = new File(dir, s"${name}_$suffix.txt")
        val w = new PrintWriter(file, "UTF-8")
        try {
          w.println(f"# $name @ $sfDir  rows=$rows  wall=$sec%.2fs" +
            " (incl. query construction)")
          w.println("# == explain(formatted), pre-execution ==")
          w.println(formatted)
          w.println("# == final adaptive physical plan (post-AQE, noop write) ==")
          w.println(finalPlan)
          actions.init.zipWithIndex.foreach { case ((what, plan), i) =>
            w.println(s"\n# == inner action $i: $what ==")
            w.println(plan)
          }
          w.println(s"\n# == jobs (${jobs.size}): id, wall, stage#tasks, call site ==")
          jobs.foreach(j => w.println(j))
        } finally w.close()
        spark.catalog.clearCache()
        f"[plandump] $name -> $file (rows=$rows, wall=$sec%.2fs, jobs=${jobs.size})"
      }
    } finally rec.close()
  }

  private val DrainProp = "graft.plandump.drain"

  /** SQL actions (name, executed plan) and job rows delivered by the
    * listener bus since the last [[take]]. */
  private final class Recorder(spark: SparkSession)
      extends SparkListener with QueryExecutionListener {
    private val sc = spark.sparkContext
    private val lock = new Object
    private val actions = mutable.ArrayBuffer[(String, String)]()
    private val jobs = mutable.LinkedHashMap[Int, (Long, String)]()
    private val ends = mutable.Map[Int, Long]()
    private var posted = 0L
    private var drained = 0L
    sc.addSparkListener(this)
    spark.listenerManager.register(this)

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val plan = qe.executedPlan.toString
      lock.synchronized(actions += (s"$funcName ${durationNs / 1000000}ms" -> plan))
    }

    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

    override def onJobStart(js: SparkListenerJobStart): Unit = lock.synchronized {
      Option(js.properties).flatMap(p => Option(p.getProperty(DrainProp))) match {
        case Some(id) =>
          drained = math.max(drained, id.toLong)
          lock.notifyAll()
        case None =>
          val stages = js.stageInfos
            .map(si => s"${si.name.takeWhile(_ != ' ')}#${si.numTasks}").mkString(",")
          // first graft frame of the terminal stage's call site = the
          // operator line that scheduled the job
          val site = js.stageInfos.lastOption.flatMap(_.details.linesIterator
              .find(l => l.contains("graft.") && !l.contains("graft.PlanDump")))
            .map(_.trim.stripPrefix("at ")).getOrElse("")
          jobs(js.jobId) = (js.time, s"[$stages] $site")
      }
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      lock.synchronized(if (jobs.contains(je.jobId)) ends(je.jobId) = je.time)

    /** Returns once the bus has delivered every event posted so far. A job
      * over zero partitions posts its start without running anything, and
      * the shared queue that delivers it also carries the
      * QueryExecutionListener callbacks, in posting order. */
    def drain(): Unit = {
      val id = lock.synchronized { posted += 1; posted }
      sc.setLocalProperty(DrainProp, id.toString)
      try sc.emptyRDD[Int].count()
      finally sc.setLocalProperty(DrainProp, null)
      lock.synchronized {
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (drained < id && System.nanoTime() < deadline) lock.wait(100)
        if (drained < id)
          throw new IllegalStateException("listener bus did not drain in 30 s")
      }
    }

    /** The recorded actions and formatted job rows; clears both. */
    def take(): (Seq[(String, String)], Seq[String]) = lock.synchronized {
      val rows = jobs.toSeq.map { case (id, (t0, what)) =>
        val wall = ends.get(id).map(t1 => (t1 - t0) / 1e3).getOrElse(-1.0)
        f"  job $id%4d $wall%7.2fs  ${what.take(140)}"
      }
      val out = (actions.toSeq, rows)
      actions.clear(); jobs.clear(); ends.clear()
      out
    }

    def close(): Unit = {
      spark.listenerManager.unregister(this)
      sc.removeSparkListener(this)
    }
  }
}
