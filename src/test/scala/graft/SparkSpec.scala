package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM per `sbt test` fork). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SessionDefaults.local(4, Map(
      "spark.app.name" -> "graft-test",
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
