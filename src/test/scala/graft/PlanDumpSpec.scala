package graft

import java.io.File
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** [[PlanDump.dump]]: the final-plan section shows the finished adaptive
  * plan, the job table is filled in, and an unknown name fails before
  * anything is written. */
class PlanDumpSpec extends SparkSuite {
  init()

  private def tempDir(): File = Files.createTempDirectory("plandump").toFile

  private def deleteAll(d: File): Unit =
    Files.walk(d.toPath).sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(p => Files.delete(p))

  /** The lines after the header starting with `head`, up to the next header. */
  private def section(lines: Seq[String], head: String): Seq[String] =
    lines.dropWhile(!_.startsWith(head)).drop(1).takeWhile(!_.startsWith("# =="))

  test("q01: final adaptive plan is finished, job table non-empty") {
    val dir = tempDir()
    try {
      val summary = PlanDump.dump(spark, Seq("q01_groupby_agg"), sfDir, dir, "t")
      val file = new File(dir, "q01_groupby_agg_t.txt")
      assert(summary.size == 1 && summary.head.contains("jobs="), summary)
      val lines = Files.readAllLines(file.toPath).asScala.toSeq
      assert(lines.head.startsWith("# q01_groupby_agg @ "), lines.head)
      assert(section(lines, "# == explain(formatted)").mkString("\n")
        .contains("HashAggregate"))
      val finalPlan = section(lines, "# == final adaptive physical plan")
      assert(finalPlan.exists(_.contains("AdaptiveSparkPlan isFinalPlan=true")),
        finalPlan.mkString("\n"))
      assert(!finalPlan.exists(_.contains("isFinalPlan=false")))
      val jobs = section(lines, "# == jobs").filter(_.trim.startsWith("job "))
      assert(jobs.nonEmpty, lines.mkString("\n"))
      // every job finished before the drain, so every row has its wall time
      assert(!jobs.exists(_.contains(" -1.00s")), jobs.mkString("\n"))
    } finally deleteAll(dir)
  }

  test("unknown names fail together before any file is written") {
    val dir = tempDir()
    try {
      val e = intercept[IllegalArgumentException](PlanDump.dump(spark,
        Seq("q01_groupby_agg", "q_nope", "q_nope2"), sfDir, dir, "t"))
      assert(e.getMessage.contains("q_nope") && e.getMessage.contains("q_nope2"))
      assert(dir.list().isEmpty)
    } finally deleteAll(dir)
  }
}
