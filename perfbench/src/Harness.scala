package perfbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import graft.ops.Bounded._
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.{count, lit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's JVM: one client thread issues a workload's queries back
  * to back (closed loop) and records every execution. It computes no
  * statistics; `run.py` launches it and reduces the record it writes.
  *
  *   --sf DIR  --queries q1,q2  --expect FILE  --seed N  --seconds S
  *   --trace 0|1  --settle-passes N  --min-passes N  --cores N
  *   --local-dir DIR  --t0-us EPOCH_US  --out FILE
  *
  * After set-up it does one cold pass, `settle-passes` unmeasured passes,
  * and warm passes for at least S seconds and `min-passes` passes. With
  * `--trace 1` the cold pass and half of the warm passes run under
  * [[Tracer]], so the record holds both sides of the tracing overhead. */
object Harness {
  private val baseUs: Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1e6 + i.getNano / 1e3
  }
  private val baseNs: Long = System.nanoTime()
  private def epochUs(ns: Long): Double = baseUs + (ns - baseNs) / 1e3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val cores = a("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a("local-dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.ensureFunctions(spark)
    // the same warm-up as graft.Bench: session machinery and file-source
    // init, so the first query is not charged for them
    spark.range(1000).selectExpr("sum(id)").collectBounded(1, "warm-up")
    graft.Tables.t(spark, a("sf"), "region").count()
    val sessionS = (epochUs(System.nanoTime()) - a("t0-us").toDouble) / 1e6
    val record = Map("session_s" -> sessionS, "stamps" -> stamps(spark)) ++ run(spark, a)
    Files.writeString(Paths.get(a("out")),
      JsonMapper.builder().addModule(DefaultScalaModule).build().writeValueAsString(record))
    spark.stop()
  }

  private def stamps(spark: SparkSession): Map[String, Any] = {
    val args = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    Map(
      "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "xmn" -> args.find(_.startsWith("-Xmn")).getOrElse(""),
      "xmx" -> args.find(_.startsWith("-Xmx")).getOrElse(""))
  }

  private def run(spark: SparkSession, a: Map[String, String]): Map[String, Any] = {
    val sf = a("sf")
    val names = a("queries").split(',').toSeq
    val expect: Map[String, Long] =
      Files.readAllLines(Paths.get(a("expect"))).asScala.toSeq
        .map(_.trim.split("\\s+")).collect { case Array(q, n) => q -> n.toLong }.toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val minPasses = a("min-passes").toInt
    val settlePasses = a("settle-passes").toInt
    val registry = graft.SparkEntry.queries
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
    val jit = ManagementFactory.getCompilationMXBean
    val heap = new HeapPeak
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val execs = mutable.ArrayBuffer[Map[String, Any]]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val runSpan = tracer.map(_.newSpan(-1, "run", "", epochUs(System.nanoTime())))
    // the tracer while it is installed; passes outside it record no spans
    var tracing: Option[Tracer] = None
    def traceOn(on: Boolean): Unit = tracer.foreach { tr =>
      if (on) tr.install() else tr.uninstall()
      tracing = if (on) tracer else None
    }

    // time spent in the collections run before each query, left out of
    // the pass's wall time
    var collectNs = 0L

    def execute(pass: Int, phase: String, q: String, parent: Option[Long]): Unit = {
      // every query starts from a collected heap, so which query ran before
      // it (the seed's rotation) does not decide when it collects or how
      // high the heap gets while it runs
      val c0 = System.nanoTime()
      System.gc()
      collectNs += System.nanoTime() - c0
      val cg0 = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
      val gc0 = gcMs
      val obs = Observation()
      var error = ""
      val t0 = System.nanoTime()
      val qSpan = for (tr <- tracing; p <- parent) yield {
        val s = tr.newSpan(p, "query", q, epochUs(t0))
        tr.openQuerySpan(s)
        s
      }
      val bSpan = for (tr <- tracing; s <- qSpan) yield tr.newSpan(s.id, "build", q, epochUs(t0))
      tracing.foreach(_.tag(bSpan.map(_.id)))
      var tb = t0
      try {
        val df = registry(q)(spark, sf)
        tb = System.nanoTime()
        val aSpan = for (tr <- tracing; s <- qSpan) yield tr.newSpan(s.id, "action", q, epochUs(tb))
        tracing.foreach(_.tag(aSpan.map(_.id)))
        bSpan.foreach(_.end = epochUs(tb))
        // the noop sink materialises every output column; count() would
        // let column pruning skip projected work
        df.observe(obs, count(lit(1)).as("rows"))
          .write.format("noop").mode("overwrite").save()
        aSpan.foreach(_.end = epochUs(System.nanoTime()))
      } catch { case e: Throwable =>
        error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
      val t1 = System.nanoTime()
      if (tb == t0) tb = t1
      bSpan.foreach(s => if (s.end.isNaN) s.end = epochUs(tb))
      qSpan.foreach(_.end = epochUs(t1))
      tracing.foreach { tr => tr.tag(None); tr.closeQuerySpan() }
      val rows: Long =
        if (error.nonEmpty) -1L
        else obs.get.get("rows").map(_.asInstanceOf[Long]).getOrElse(-1L)
      if (error.isEmpty && !expect.contains(q)) error = "failed the oracle gate"
      else if (error.isEmpty && expect(q) != rows)
        error = s"row count $rows, oracle-checked ${expect(q)}"
      spark.catalog.clearCache()
      execs += Map(
        "pass" -> pass, "phase" -> phase, "query" -> q,
        "start_us" -> epochUs(t0), "wall_s" -> (t1 - t0) / 1e9,
        "build_s" -> (tb - t0) / 1e9, "rows" -> rows, "ok" -> error.isEmpty,
        "error" -> error, "span" -> qSpan.map(_.id).getOrElse(-1L),
        "codegen.compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0._1),
        "codegen.compile_ms" -> (CodeGenerator.compileTime - cg0._2) / 1e6,
        "jvm.gc_pause_s" -> (gcMs - gc0) / 1e3)
      if (error.nonEmpty) System.err.println(s"[perfbench] $q: $error")
    }

    // the seed picks a rotation of the listed order, used for every pass.
    // Passes repeat one cycle of queries whichever query comes first, so
    // whether Spark's 100-entry codegen cache holds a pass is the same for
    // every seed; an arbitrary permutation changes the cycle, and with it
    // whether warm passes compile again
    val shift = Math.floorMod(scala.util.hashing.byteswap64(seed), names.size.toLong).toInt
    val order = names.drop(shift) ++ names.take(shift)

    def pass(p: Int, phase: String): Double = {
      heap.newPass()
      collectNs = 0L
      val steal0 = stealTicks()
      val jit0 = jit.getTotalCompilationTime
      val t0 = System.nanoTime()
      val pSpan = for (tr <- tracing; r <- runSpan) yield tr.newSpan(r.id, "pass", phase, epochUs(t0))
      order.foreach(q => execute(p, phase, q, pSpan.map(_.id)))
      val t1 = System.nanoTime()
      pSpan.foreach(_.end = epochUs(t1))
      val wall = (t1 - t0 - collectNs) / 1e9
      val steal1 = stealTicks()
      passes += Map("pass" -> p, "phase" -> phase, "start_us" -> epochUs(t0),
        "wall_s" -> wall, "collect_s" -> collectNs / 1e9,
        // JIT compiler threads' time: Spark's code keeps being compiled
        // well after the cold pass, on cores the query also needs
        "jit_s" -> (jit.getTotalCompilationTime - jit0) / 1e3,
        "steal_frac" -> (steal1._1 - steal0._1).toDouble / math.max(1L, steal1._2 - steal0._2),
        "heap_peak_mb" -> heap.passPeakMb)
      wall
    }

    heap.start()
    traceOn(true)
    pass(0, "cold")
    traceOn(false)
    // set-up ends when every query has run once: the caches it fills
    // (codegen, schemas, JIT) are what the warm passes rely on
    val readyS = (epochUs(System.nanoTime()) - a("t0-us").toDouble) / 1e6
    // unmeasured passes let the JIT settle after the cold pass: the passes
    // right after it are still markedly slower than the ones that follow
    var p = 1
    while (p <= settlePasses) {
      pass(p, "settle")
      p += 1
    }
    var spent = 0.0
    if (!traced) {
      // warm passes until `seconds` have passed and `min-passes` ran
      while (spent < seconds || p <= settlePasses + minPasses) {
        spent += pass(p, "warm")
        p += 1
      }
    } else {
      // pairs of an untraced and a traced pass, the order swapped in every
      // other pair, so drift falls evenly on both sides of the overhead
      var pairs = 0
      while (spent < seconds || pairs < 2) {
        val sides = if (pairs % 2 == 0) Seq(false, true) else Seq(true, false)
        for (on <- sides) {
          traceOn(on)
          spent += pass(p, if (on) "traced" else "warm")
          traceOn(false)
          p += 1
        }
        pairs += 1
      }
    }
    runSpan.foreach(_.end = epochUs(System.nanoTime()))
    heap.stop()
    val out = mutable.LinkedHashMap[String, Any](
      "seed" -> seed, "cores" -> a("cores").toInt, "ready_s" -> readyS, "passes" -> passes,
      "executions" -> execs, "heap_peak_mb" -> heap.peakMb)
    tracer.foreach { tr =>
      out("untagged_jobs") = tr.untaggedJobs
      out("total_jobs") = tr.totalJobs
      out("spans") = tr.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "label" -> s.label, "start_us" -> s.start,
        "end_us" -> (if (s.end.isNaN) None else Some(s.end))))
      out("counters") = tr.counters.map { case (k, v) => k.toString -> v }
    }
    out.toMap
  }

  /** Largest heap occupancy right after a collection, from the GC
    * notifications of every collector, over the run and over the current
    * pass. Only heap pools count: Metaspace and the code cache are not
    * driver heap. */
  private final class HeapPeak extends NotificationListener {
    private val peak = new AtomicLong(0L)
    private val passPeak = new AtomicLong(0L)
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (x, y) => math.max(x, y))
        passPeak.accumulateAndGet(used, (x, y) => math.max(x, y))
      }

    def start(): Unit = emitters.foreach(_.addNotificationListener(this, null, null))
    def stop(): Unit = emitters.foreach(_.removeNotificationListener(this))
    def newPass(): Unit = passPeak.set(0L)
    def peakMb: Double = peak.get / (1024.0 * 1024.0)
    def passPeakMb: Double = passPeak.get / (1024.0 * 1024.0)
  }

  /** (steal, total) CPU ticks of the whole machine since boot, from
    * /proc/stat: the time the hypervisor gave to other guests. */
  private def stealTicks(): (Long, Long) = {
    val t = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (t(7), t.take(8).sum)
  }
}
