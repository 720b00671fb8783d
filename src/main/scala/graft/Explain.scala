package graft

/** Plan-audit utility: print the formatted physical plan of one or more
  * registered queries without executing them (beyond any bounded fit/
  * collect work the query constructor itself performs). Usage:
  *
  *   sbt "runMain graft.Explain /root/testdata/sf0.001 q_pca_cov q_opq_encode"
  *
  * This is the loop the scale discipline asks for — after a query goes
  * oracle-green, read its plan (pushed filters, pruned ReadSchema,
  * exchange count, codegen spans) and iterate until it is the plan you
  * would want at 1000×, not just the first one that passed.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Explain <sfDir> <query> [query...]")
    val sfDir = args(0)
    val spark = SessionDefaults.local(SessionDefaults.defaultCpus)
    spark.sparkContext.setLogLevel("ERROR")
    try args.drop(1).foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
      println(s"===== $name =====")
      fn(spark, sfDir).explain("formatted")
    } finally spark.stop()
  }
}
