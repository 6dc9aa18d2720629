package graft

/** The timed board: every registered query, or the comma-separated
  * `SPARK_GRAFT_BENCH_ONLY` list, run `SPARK_GRAFT_BENCH_RUNS` times (default
  * 3) with `fn(spark, sf).count()`; each query reports its fastest run.
  * Prints one `# bench <name> <sec>` line per query, then one JSON line
  * last, and writes the full per-query map to `BENCH_LOCAL.json`.
  *
  *   SPARK_GRAFT_BENCH_ONLY=q01_groupby_agg,q149_pagerank sbt "runMain graft.Bench"
  */
object Bench {
  /** The driver captures only the last 2000 chars of stdout and parses the
    * final line as JSON, so that line must fit well inside the window. */
  val TailBudget = 1800

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val chosen = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(only => Harness.select(only.split(',').toSeq))
      .getOrElse(SparkEntry.queries.toSeq)
    val spark = Harness.session(sfDir)
    // Heap parity guard (JITTER.md r18): bench numbers are only comparable
    // at matched heap sizing. Print the JVM max heap on every run and warn
    // loudly when it differs from the 8g committed-band convention.
    val maxHeapMb = Runtime.getRuntime.maxMemory() / (1024L * 1024L)
    println(s"# bench-env max-heap ${maxHeapMb}m " +
      s"young-gen-capped=${java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.toString.contains("-Xmn")}")
    if (maxHeapMb < 6 * 1024 || maxHeapMb > 12 * 1024)
      System.err.println(s"[bench] WARNING: max heap ${maxHeapMb}m is " +
        "outside the 8g committed-band convention — totals are not " +
        "comparable to prior BENCH_r*.json without matching -Xmx " +
        "(see JITTER.md heap-parity note)")
    // Noise self-defense: each query runs THREE times (a fresh plan each
    // run — no shuffle/stage reuse between them) and reports the min, so
    // transient box contention can't masquerade as a code regression.
    // Caches any query legitimately hands back (e.g. dedupGroups'
    // caller-owned result) are dropped between queries so no query's
    // memory squeezes the next.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // The heaviest queries run LAST: their GC/scheduler backwash inflates
    // whatever query happens to follow them by 2-4x. With nothing after
    // them, the backwash lands on spark.stop().
    val heavy = Set("q60_dedup_groups", "q61_ivf_ann")
    val ordered = {
      val all = chosen.sortBy(_._1)
      all.filterNot(q => heavy(q._1)) ++ all.filter(q => heavy(q._1))
    }
    val results = ordered.map { case (name, fn) =>
      val times = (0 until runs).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
        val sec = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        if (ok) Some(sec) else None
      }
      // Settle between queries so one query's garbage is not the next
      // query's pause: collect it now, while the clock is not running.
      System.gc()
      // failures are marked -1 and excluded from the total, not silently
      // recorded as if they were fast successes
      name -> (if (times.size == runs) times.min else -1.0)
    }.sortBy(_._1)
    // Human-readable full-name lines first (prefixed, not JSON — the driver
    // ignores them), then ONE short machine line LAST.
    results.foreach { case (k, v) => println(s"# bench $k ${fmt(v)}") }
    val (fullJson, tailJson) = boardLines(results, sfDir)
    // cwd = repo root under sbt's forked run
    try {
      val w = new java.io.PrintWriter("BENCH_LOCAL.json", "UTF-8")
      try w.println(fullJson) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] BENCH_LOCAL.json write failed: ${e.getMessage}") }
    println(tailJson)
    System.out.flush()
    spark.stop()
  }

  // Locale.ROOT: a comma-decimal default locale would emit invalid JSON.
  private def fmt(v: Double): String =
    if (v < 0) "-1"
    else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** The two board lines for per-query best times (`-1` = failed): the full
    * map for `BENCH_LOCAL.json`, and the stdout line, which keeps only as
    * many entries as fit in [[TailBudget]]. Keys are the bare qNN prefix of
    * each name, sorted; `value` is the total over the queries that ran.
    * The stdout line drops the fastest entries first (slow queries are the
    * informative ones) and never a failure. */
  def boardLines(results: Seq[(String, Double)], sfDir: String): (String, String) = {
    def shortKey(name: String): String = name.takeWhile(_ != '_')
    // a qNN prefix collision would emit duplicate JSON keys and silently
    // misattribute timings at parse time — fail loudly instead
    val keys = results.map(r => shortKey(r._1))
    require(keys.distinct.size == keys.size, "duplicate bench short keys: " +
      keys.groupBy(identity).collect { case (k, v) if v.size > 1 => k }.mkString(","))
    val total = results.map(_._2).filter(_ >= 0).sum
    def mkJson(entries: Seq[(String, Double)]): String = {
      val qs = entries.map { case (k, v) => "\"" + shortKey(k) + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","full":"BENCH_LOCAL.json"}"""
    }
    // failures sort FIRST so they are never dropped: (failed-first, time
    // desc, name)
    var keep = results.sortBy { case (k, v) => (v >= 0, -v, k) }
    while (keep.nonEmpty && mkJson(keep.sortBy(_._1)).length > TailBudget)
      keep = keep.dropRight(math.max(1, (mkJson(keep).length - TailBudget) / 12))
    (mkJson(results.sortBy(_._1)), mkJson(keep.sortBy(_._1)))
  }
}
