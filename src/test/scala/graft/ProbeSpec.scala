package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** `graft.Probe`'s argument contract, checked without a session: every
  * bad argument must fail before a Spark session is built. Also guards
  * the single-probe rule — measurements go through `graft.Probe`, so the
  * test tree holds no ad-hoc entry points besides the `ScaleData` tool.
  */
class ProbeSpec extends AnyFunSuite {

  test("Probe parses reps and key=value overrides, keeping '=' inside a value") {
    val a = Probe.parse(Seq("/data/sf0.1", "q_curation", "5",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum=1024",
      "spark.driver.extraJavaOptions=-Da=b"))
    assert(a == Probe.Args("/data/sf0.1", "q_curation", 5, Map(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "1024",
      "spark.driver.extraJavaOptions" -> "-Da=b")))
    assert(Probe.parse(Seq("d", "q_curation")) == Probe.Args("d", "q_curation", 3, Map.empty))
    assert(Probe.parse(Seq("d", "q_curation", "k=v")).conf == Map("k" -> "v"))
  }

  test("Probe rejects an unknown query, a bare argument, zero reps and missing args") {
    def rejects(args: String*): String =
      intercept[IllegalArgumentException](Probe.parse(args)).getMessage
    assert(rejects("d", "q_no_such_query").contains("unknown query: q_no_such_query"))
    assert(rejects("d", "q_curation", "3", "typo").contains("'typo'"))
    assert(rejects("d", "q_curation", "=v").contains("'=v'"))
    assert(rejects("d", "q_curation", "0").contains("reps"))
    assert(rejects("d").contains("usage"))
  }

  test("the test tree defines no entry point besides ScaleData") {
    val entry = """\bdef\s+main\s*\(""".r
    val root = Paths.get("src/test/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no sources under $root")
    def hasMain(p: Path) = entry.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).isDefined
    assert(files.filter(hasMain).map(_.getFileName.toString).sorted == Seq("ScaleData.scala"))
  }
}
