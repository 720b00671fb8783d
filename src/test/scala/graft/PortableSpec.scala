package graft

import graft.functions.Portable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The cross-engine sum and rounding convention: `Portable.dsum` is
  * order- and partitioning-independent where a DOUBLE `sum` is not, its
  * SQL twins and `r6Sql` keep their exact text, and each oracle convention
  * (rounding, decimal sums, the word tokenizer, the normal tail) is spelled
  * out only in its home files.
  */
class PortableSpec extends SparkSpec {
  import spark.implicits._

  test("dsum is bit-identical across row orders and partition counts; sum is not") {
    val values = Seq(1e16, 1.0, -1e16)
    def frame(vs: Seq[Double], parts: Int): DataFrame =
      spark.sparkContext.parallelize(vs, parts).toDF("v")
    // one partition keeps the row order, so the DOUBLE sum's rounding shows
    def plain(vs: Seq[Double]): Double =
      frame(vs, 1).agg(sum(col("v"))).head().getDouble(0)
    assert(plain(values) == 0.0) // 1e16 + 1.0 rounds back to 1e16
    assert(plain(Seq(1e16, -1e16, 1.0)) == 1.0)

    val layouts = for {
      vs <- values.permutations.toSeq
      parts <- Seq(1, 2, 3)
    } yield frame(vs, parts)
    val sums = layouts.map(_.agg(Portable.dsum(col("v"))).head().getDouble(0))
    assert(sums.map(java.lang.Double.doubleToRawLongBits).distinct ==
      Seq(java.lang.Double.doubleToRawLongBits(1.0)))

    val none = frame(values, 2).filter(col("v") > 1e17)
    assert(none.agg(Portable.dsum(col("v")), Portable.dsum0(col("v"))).head() ==
      Row(null, 0.0))

    assert(Portable.dsumSql("a + b") == "CAST(sum(CAST((a + b) AS DECIMAL(38,6))) AS DOUBLE)")
    assert(Portable.dsum0Sql("a + b") ==
      "CAST(coalesce(sum(CAST((a + b) AS DECIMAL(38,6))), 0) AS DOUBLE)")
    assert(Portable.r6Sql("a + b") == "floor((a + b) * 1000000 + 0.5) / 1000000")
  }

  test("only Portable and catalog/Shared define dsum or r6") {
    val root = Paths.get("src/main/scala")
    val portable = root.resolve("graft/functions/Portable.scala")
    val shared = root.resolve("graft/catalog/Shared.scala")
    val hypothesis = root.resolve("graft/operators/Hypothesis.scala")
    // pattern -> the only files allowed to contain it
    val homes: Seq[(scala.util.matching.Regex, Set[java.nio.file.Path])] = Seq(
      """def dsum\(|def r6\(|val r6 =""".r -> Set(portable, shared),
      """def dsumIf\(""".r -> Set(portable),
      """\* 1000000(\.0)? \+ 0\.5\)""".r -> Set(portable),
      """CAST\(sum\(CAST\([^()]* AS DECIMAL\(38,6\)\)\) AS DOUBLE\)""".r -> Set(portable),
      """CAST\(coalesce\(sum\(CAST\([^()]* AS DECIMAL\(38,6\)\)\), 0\) AS DOUBLE\)""".r -> Set(portable),
      """string_split_regex\(lower\(""".r -> Set(shared),
      """0\.4361836""".r -> Set(hypothesis, shared))
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 100, s"too few sources under $root")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      (pattern, home) <- homes
      if !home(f) && pattern.findFirstIn(line).isDefined
    } yield s"${root.relativize(f)}:${i + 1}: [$pattern] ${line.trim}"
    assert(hits.isEmpty, hits.mkString(s"${hits.size} hits\n", "\n", ""))
  }
}
