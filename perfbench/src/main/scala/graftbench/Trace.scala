package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.functions.OrderedPairsGen
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CollectMetricsExec, FileSourceScanExec, GenerateExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: `parent` is the index of the enclosing span, or -1. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around calls made from the benchmark into graft. Spans stay
  * in memory; the caller writes them out when the run ends.
  */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[T](name: String)(body: => T): T = {
    val idx = spans.length
    spans += Span(name, System.nanoTime(), 0L, open.headOption.getOrElse(-1))
    open = idx :: open
    try body
    finally {
      open = open.tail
      spans(idx) = spans(idx).copy(endNs = System.nanoTime())
    }
  }

  /** Duration of the last span called `name`. */
  def seconds(name: String): Double =
    spans.reverseIterator.find(_.name == name).map(_.seconds)
      .getOrElse(sys.error(s"no span $name"))
}

/** CPU time the listener-bus thread spends inside the benchmark's callbacks. */
object ListenerCost {
  val ns = new AtomicLong
  private val threads = ManagementFactory.getThreadMXBean
  def apply[T](body: => T): T = {
    val t0 = threads.getCurrentThreadCpuTime
    try body finally ns.addAndGet(threads.getCurrentThreadCpuTime - t0)
  }
}

/** Task and job counters from Spark's listener bus, cumulative since attach. */
final class EngineListener extends SparkListener {
  val cpuNs, runMs, shuffleWrite, shuffleRead, spill, output, jobs, tasks = new AtomicLong

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = ListenerCost {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.diskBytesSpilled)
      output.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = ListenerCost(jobs.incrementAndGet())
}

/** SQL metrics of every executed plan, summed per node type. Walks the
  * final adaptive plan, its query stages and subqueries; a plan node reached
  * twice (a reused exchange) is counted once.
  */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val totals = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** Rows emitted by the pair generator, keyed by the observation name of
    * the query whose plan ran it.
    */
  val pairRows = mutable.Map.empty[String, Long].withDefaultValue(0L)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    ListenerCost(synchronized(record(qe)))

  private def record(qe: QueryExecution): Unit = {
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    val nodes = collectWithSubqueries(qe.executedPlan) { case p => p }.filter(seen.add)
    def m(p: SparkPlan, key: String): Double = p.metrics.get(key).map(_.value.toDouble).getOrElse(0.0)
    val observed = nodes.collectFirst { case c: CollectMetricsExec => c.name }
    nodes.foreach {
      case p: FileSourceScanExec => totals("scan_s") += m(p, "scanTime") / 1e3
      case p: ShuffleExchangeExec => totals("shuffle_write_s") += m(p, "shuffleWriteTime") / 1e9
      case p: SortExec =>
        totals("sort_s") += m(p, "sortTime") / 1e3
        totals("sort_peak_mb") = math.max(totals("sort_peak_mb"), m(p, "peakMemory") / 1e6)
      case p @ (_: HashAggregateExec | _: ObjectHashAggregateExec | _: SortAggregateExec) =>
        totals("agg_s") += m(p, "aggTime") / 1e3
        totals("agg_peak_mb") = math.max(totals("agg_peak_mb"), m(p, "peakMemory") / 1e6)
      case p: GenerateExec =>
        totals("generate_rows") += m(p, "numOutputRows")
        if (p.generator.isInstanceOf[OrderedPairsGen])
          observed.foreach(o => pairRows(o) += m(p, "numOutputRows").toLong)
      case _ =>
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
}

/** Engine-layer measurement of one phase of a workload: attaches the
  * listeners, resets the heap peaks, and reads everything back as
  * `spark.*` / `jvm.*` metrics when the phase ends. `trace.overhead_s` is
  * what the tracing itself cost: calling-thread time spent attaching, draining and
  * reading the listeners, plus the listener callbacks' CPU time.
  */
final class EnginePhase(spark: SparkSession) {
  private val start = System.nanoTime()
  private val listenerNs0 = ListenerCost.ns.get
  private val engine = new EngineListener
  private val plans = new PlanListener
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def codegenMs = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    h.getSnapshot.getMean * h.getCount
  }
  private val gc0 = gcMs
  private val codegen0 = codegenMs
  pools.foreach(_.resetPeakUsage())
  spark.sparkContext.addSparkListener(engine)
  spark.listenerManager.register(plans)
  private val attachNs = System.nanoTime() - start

  def pairRows: collection.Map[String, Long] = plans.pairRows

  /** Ends the phase; `wallS` is the phase's own wall time. */
  def finish(wallS: Double): Map[String, Double] = {
    val finish0 = System.nanoTime()
    org.apache.spark.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(engine)
    spark.listenerManager.unregister(plans)
    val cores = spark.sparkContext.defaultParallelism
    val runS = engine.runMs.get / 1e3
    Map(
      "spark.cpu_s" -> engine.cpuNs.get / 1e9,
      "spark.executor_run_s" -> runS,
      "spark.core_busy_frac" -> runS / (wallS * cores),
      "spark.gc_s" -> (gcMs - gc0) / 1e3,
      "spark.shuffle_write_mb" -> engine.shuffleWrite.get / 1e6,
      "spark.shuffle_read_mb" -> engine.shuffleRead.get / 1e6,
      "spark.spill_mb" -> engine.spill.get / 1e6,
      "spark.output_mb" -> engine.output.get / 1e6,
      "spark.jobs" -> engine.jobs.get.toDouble,
      "spark.tasks" -> engine.tasks.get.toDouble,
      "spark.codegen_compile_s" -> (codegenMs - codegen0) / 1e3,
      "jvm.peak_heap_mb" -> pools.map(_.getPeakUsage.getUsed).sum / 1e6,
    ) ++ Seq("scan_s", "shuffle_write_s", "sort_s", "agg_s", "sort_peak_mb", "agg_peak_mb", "generate_rows")
      .map(k => s"spark.$k" -> plans.totals(k)) ++ Map(
      "trace.wall_s" -> wallS,
      "trace.overhead_s" ->
        (attachNs + System.nanoTime() - finish0 + ListenerCost.ns.get - listenerNs0) / 1e9)
  }
}
