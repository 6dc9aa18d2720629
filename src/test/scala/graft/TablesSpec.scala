package graft

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** [[Tables.t]] caches each table's inferred schema; a table rewritten at
  * the same path with another schema must be read with the new one. */
class TablesSpec extends SparkSuite {
  init()
  import spark.implicits._

  private def deleteAll(d: File): Unit =
    Files.walk(d.toPath).sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(p => Files.delete(p))

  test("a table rewritten at the same path is read with its new schema") {
    val dir = Files.createTempDirectory("tables").toFile
    try {
      val path = s"$dir/t.parquet"
      Seq(1L, 2L).toDF("a").write.parquet(path)
      assert(Tables.t(spark, dir.toString, "t").columns.toSeq == Seq("a"))
      Seq((3L, "x")).toDF("a", "b").write.mode("overwrite").parquet(path)
      val back = Tables.t(spark, dir.toString, "t")
      assert(back.columns.toSeq == Seq("a", "b"))
      assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((3L, "x")))
    } finally deleteAll(dir)
  }

  test("a single-file table replaced in place is read with its new schema") {
    val dir = Files.createTempDirectory("tables").toFile
    try {
      def onePartFile(df: org.apache.spark.sql.DataFrame, tag: String): Path = {
        val out = s"$dir/$tag"
        df.coalesce(1).write.parquet(out)
        new File(out).listFiles().find(_.getName.endsWith(".parquet")).get.toPath
      }
      val file = new File(dir, "t.parquet").toPath
      Files.copy(onePartFile(Seq(1L).toDF("a"), "v1"), file)
      assert(Tables.t(spark, dir.toString, "t").columns.toSeq == Seq("a"))
      Files.copy(onePartFile(Seq((2L, 7.5)).toDF("a", "w"), "v2"), file,
        StandardCopyOption.REPLACE_EXISTING)
      val back = Tables.t(spark, dir.toString, "t")
      assert(back.columns.toSeq == Seq("a", "w"))
      assert(back.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
        Seq((2L, 7.5)))
    } finally deleteAll(dir)
  }
}
