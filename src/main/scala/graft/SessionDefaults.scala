package graft

import org.apache.spark.sql.SparkSession

/** Session configuration every graft entry point (Bench, Verify, Main,
  * Explain, Probe) applies, so the engine's TypedImperativeAggregate
  * plans run the same way everywhere — and [[local]], the one place a
  * standalone local session is built.
  *
  * The one load-bearing key: Spark's `ObjectHashAggregateExec` falls
  * back to SORT-based aggregation once a task sees more than
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` distinct
  * groups — and the stock default is 128. Every object aggregate in
  * this library (`TopKByScore`, the `BoundedCollect*` dedup bucket
  * frames, `KmvSketch`, `FrequentItems`, `VectorSum`) keeps O(bounded)
  * state per group precisely so the input stream never has to be
  * sorted; at 128 groups the fused self-kNN LOF (Lof.selfProbeLof,
  * ~6,250 ids/task at sf10) abandoned its hash map in every task and
  * sorted the full ~8·10⁸-row fused pair stream — 34.4 GB memory +
  * 7.8 GB disk spill on a 0.8 GB shuffle (round-12 bench probe), the
  * exact spill the fusion exists to avoid, silently reintroduced one
  * layer down. At 100× the sorted spill grows with the pair mass
  * (~n^1.5) while the intended heap aggregate stays O(k) per group.
  *
  * 2²¹ (2,097,152) groups/task keeps the hash path for every plan this
  * library emits while still bounding memory: the aggregation buffers
  * are k-bounded heaps/sketches (tens of entries), so even two million
  * live groups cost ~100s of MB per task, and a genuine >2M-group task
  * is exactly where handing off to sort-based aggregation is the right
  * call. On a real cluster the same value ships via --conf; entry
  * points here apply it as a DEFAULT (an explicit spark-submit/system
  * property wins — see [[applyTo]]).
  */
object SessionDefaults {
  val ObjectHashFallbackKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
  val ObjectHashFallbackThreshold: String = (1 << 21).toString

  val configs: Map[String, String] = Map(
    ObjectHashFallbackKey -> ObjectHashFallbackThreshold)

  /** The defaults that remain after dropping every key the operator
    * already set through `overrides` (in practice: system properties,
    * i.e. spark-submit --conf / -D) — graft tunes its own standalone
    * entry points but never overrides a cluster submit.
    */
  def effective(overrides: collection.Map[String, _]): Map[String, String] =
    configs.filter { case (k, _) => !overrides.contains(k) }

  def applyTo(b: SparkSession.Builder): SparkSession.Builder = {
    effective(sys.props).foreach { case (k, v) => b.config(k, v) }
    b
  }

  /** Local core count: `SPARK_GRAFT_CPUS`, else every available core. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A fresh `local[cpus]` session: one shuffle partition per core, UTC,
    * no UI, [[configs]] as defaults (a system property still wins), then
    * `conf` on top. The active and default sessions are cleared first, so
    * `getOrCreate` builds a session from exactly this conf instead of
    * handing back one an earlier caller registered.
    */
  def local(cpus: Int, conf: Map[String, String] = Map.empty): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = applyTo(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
