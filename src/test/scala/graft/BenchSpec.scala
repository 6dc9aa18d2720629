package graft

import java.util.Locale
import org.scalatest.funsuite.AnyFunSuite

/** The board's JSON lines: layout, truncation and failure handling. The
  * literals were produced by the board code before [[Bench.boardLines]]
  * was extracted from `Bench.main`, so they pin the driver contract. */
class BenchSpec extends AnyFunSuite {
  private val small = Seq("q10_b" -> 1.5, "q02_a" -> 0.0004, "q3_fail" -> -1.0,
    "q100_zz" -> 12.3456, "q20_x" -> 0.1235)

  private def synthetic(n: Int, failEvery: Int): Seq[(String, Double)] =
    (1 to n).map { i =>
      f"q$i%03d_w" -> (if (i % failEvery == 0) -1.0 else ((i * 37) % 101) / 40.0)
    }

  private def keys(line: String): Seq[String] =
    "\"(q\\d+)\":".r.findAllMatchIn(line).map(_.group(1)).toSeq

  test("a short board: both lines equal the pinned literal") {
    val (full, tail) = Bench.boardLines(small, "data/sf0.1")
    val expected =
      """{"metric":"total","value":13.970,"unit":"sec","queries":{"q02":0.000,"q100":12.346,"q10":1.500,"q20":0.124,"q3":-1},"sf":"data/sf0.1","full":"BENCH_LOCAL.json"}"""
    assert(full == expected)
    assert(tail == expected)
  }

  test("a truncated board: the stdout line equals the pinned literal") {
    val (full, tail) = Bench.boardLines(synthetic(200, 53), "data/sf0.1")
    assert(full.length == 2694)
    assert(tail ==
      """{"metric":"total","value":247.125,"unit":"sec",""" +
      """"queries":{"q002":1.850,"q004":1.175,"q005":2.100,"q007":1.425,""" +
      """"q008":2.350,"q010":1.675,"q012":1.000,"q013":1.925,"q015":1.250,""" +
      """"q016":2.175,"q018":1.500,"q019":2.425,"q021":1.750,"q023":1.075,""" +
      """"q024":2.000,"q026":1.325,"q027":2.250,"q029":1.575,"q030":2.500,""" +
      """"q032":1.825,"q034":1.150,"q035":2.075,"q037":1.400,"q038":2.325,""" +
      """"q040":1.650,"q042":0.975,"q043":1.900,"q045":1.225,"q046":2.150,""" +
      """"q048":1.475,"q049":2.400,"q051":1.725,"q053":-1,"q054":1.975,""" +
      """"q056":1.300,"q057":2.225,"q059":1.550,"q060":2.475,"q062":1.800,""" +
      """"q064":1.125,"q065":2.050,"q067":1.375,"q068":2.300,"q070":1.625,""" +
      """"q072":0.950,"q073":1.875,"q075":1.200,"q076":2.125,"q078":1.450,""" +
      """"q079":2.375,"q081":1.700,"q083":1.025,"q084":1.950,"q086":1.275,""" +
      """"q087":2.200,"q089":1.525,"q090":2.450,"q092":1.775,"q094":1.100,""" +
      """"q095":2.025,"q097":1.350,"q098":2.275,"q100":1.600,"q103":1.850,""" +
      """"q105":1.175,"q106":-1,"q108":1.425,"q109":2.350,"q111":1.675,""" +
      """"q113":1.000,"q114":1.925,"q116":1.250,"q117":2.175,"q119":1.500,""" +
      """"q120":2.425,"q122":1.750,"q124":1.075,"q125":2.000,"q127":1.325,""" +
      """"q128":2.250,"q130":1.575,"q131":2.500,"q133":1.825,"q135":1.150,""" +
      """"q136":2.075,"q138":1.400,"q139":2.325,"q141":1.650,"q143":0.975,""" +
      """"q144":1.900,"q146":1.225,"q147":2.150,"q149":1.475,"q150":2.400,""" +
      """"q152":1.725,"q154":1.050,"q155":1.975,"q157":1.300,"q158":2.225,""" +
      """"q159":-1,"q160":1.550,"q161":2.475,"q163":1.800,"q165":1.125,""" +
      """"q166":2.050,"q168":1.375,"q169":2.300,"q171":1.625,"q173":0.950,""" +
      """"q174":1.875,"q176":1.200,"q177":2.125,"q179":1.450,"q180":2.375,""" +
      """"q182":1.700,"q184":1.025,"q185":1.950,"q187":1.275,"q188":2.200,""" +
      """"q190":1.525,"q191":2.450,"q193":1.775,"q195":1.100,"q196":2.025,""" +
      """"q198":1.350,"q199":2.275},"sf":"data/sf0.1",""" +
      """"full":"BENCH_LOCAL.json"}""")
  }

  test("keys are the sorted qNN prefixes, whatever the input order") {
    val in = synthetic(200, 53)
    val (full, tail) = Bench.boardLines(in.reverse, "data/sf0.1")
    assert(keys(full) == in.map(_._1.takeWhile(_ != '_')).sorted)
    assert(keys(tail) == keys(tail).sorted)
    assert((full, tail) == Bench.boardLines(in, "data/sf0.1"))
  }

  test("423 entries: the stdout line fits the budget and keeps every failure") {
    val in = synthetic(423, 29)
    val (full, tail) = Bench.boardLines(in, "data/sf0.1")
    assert(keys(full).size == 423)
    assert(tail.length <= Bench.TailBudget, tail.length)
    assert(keys(tail).size < 423)
    val failed = in.collect { case (k, v) if v < 0 => k.takeWhile(_ != '_') }
    assert(failed.size == 14)
    failed.foreach(k => assert(tail.contains("\"" + k + "\":-1"), k))
    // what is dropped is never slower than what is kept
    val kept = keys(tail).toSet
    val (in1, out1) = in.filter(_._2 >= 0).partition(r => kept(r._1.takeWhile(_ != '_')))
    assert(out1.map(_._2).max <= in1.map(_._2).min)
  }

  test("a duplicate qNN prefix fails loudly") {
    val e = intercept[IllegalArgumentException](
      Bench.boardLines(Seq("q7_a" -> 1.0, "q7_b" -> 2.0, "q8_c" -> 3.0), "d"))
    assert(e.getMessage.contains("q7"))
  }

  test("numbers are Locale.ROOT whatever the default locale") {
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      val (full, _) = Bench.boardLines(small, "data/sf0.1")
      assert(full.contains("\"value\":13.970"))
      assert(full.contains("\"q10\":1.500"))
      assert(!full.contains("1,500"))
    } finally Locale.setDefault(prev)
  }
}
