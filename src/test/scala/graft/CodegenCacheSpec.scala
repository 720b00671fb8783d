package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** A warm session compiles each plan once. The shared test session is
  * built through [[SessionDefaults.local]], so Spark's codegen cache has
  * [[SessionDefaults.CodegenCacheEntries]] entries; at the stock 100 a
  * pass over the `corpus_dedup` queries (more than 100 distinct classes
  * at sf0.001 in a fresh JVM) evicts its own classes before the next pass
  * comes back to them, and every pass compiles everything again.
  */
class CodegenCacheSpec extends SparkSpec {

  /** The benchmark's `corpus_dedup` workload (perfbench `Harness.CorpusDedup`). */
  private val CorpusDedup = Seq(
    "q_dedup_exact", "q_minhash_sigs", "q_dedup_minhash", "q_dedup_jaccard", "q_containment",
    "q_dedup_cluster", "q_simhash_pairs", "q_line_dedup", "q_cross_dedup", "q_semdedup",
    "q_lof_scalable", "q_ann_ivf_kmeans")
  private val sf = "/root/testdata/sf0.001"

  /** Janino compiles so far in this JVM: one per codegen cache miss. */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Builds every query and writes it to a `noop` sink; returns the compiles it caused. */
  private def pass(): Long = {
    val before = compiles
    CorpusDedup.foreach { n =>
      SparkEntry.queries(n)(spark, sf).write.format("noop").mode("overwrite").save()
    }
    compiles - before
  }

  test("a second pass of the corpus_dedup queries in one session compiles nothing") {
    assert(spark.conf.get(SessionDefaults.CodegenCacheKey) == SessionDefaults.CodegenCacheEntries)
    val first = pass()
    val second = pass()
    info(s"compiles: first pass $first, second pass $second")
    assert(second == 0, s"the second pass recompiled $second classes (the first compiled $first)")
  }

  test("a second call of the operators that run an eager check job compiles nothing") {
    import spark.implicits._
    val patients = (0L until 50L).toDF("patient_id")
    val calls = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "Shard.splitAndShardPatients" -> (() =>
        graft.operators.Shard.splitAndShardPatients(patients, Seq("train" -> 0.8, "held_out" -> 0.2), 2)),
      // over scanned events: on a local Seq the optimizer folds the
      // collision probe into a local relation and nothing is compiled
      "Attribution.markovRemoval (q_markov_attr)" -> (() => SparkEntry.queries("q_markov_attr")(spark, sf)))
    val recompiled = calls.map { case (name, call) =>
      def run(): Long = {
        val before = compiles
        call().write.format("noop").mode("overwrite").save()
        compiles - before
      }
      run()
      name -> run()
    }
    assert(recompiled.forall(_._2 == 0), s"classes compiled by the second call: $recompiled")
  }
}
