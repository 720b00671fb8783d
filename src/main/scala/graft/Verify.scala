package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets
import scala.collection.mutable

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * This main carries the same artifact contract the bench gained in
  * round 11 (and that saved BENCH_r12 through a host failure), because
  * the correctness channel failed the same way one round later:
  * CORRECTNESS_r12.json came back `{}` after a monolithic all-at-the-end
  * run on a silently 2-5×-degraded host plausibly outlived the driver's
  * window. The contract:
  *
  *   - queries run in deterministic (sorted-name) order off one work
  *     queue; `SPARK_GRAFT_VERIFY_THREADS` (default 4) workers drain it
  *     concurrently — correctness output is order-independent, so
  *     parallelism only buys more completed queries per wall-second;
  *   - `oracle_sql.json` is REWRITTEN ATOMICALLY after every completed
  *     query, containing exactly the queries attempted so far — a killed
  *     run leaves a consistent partial dump the DuckDB compare can
  *     consume as-is (a query that failed on the Spark side stays listed
  *     so it surfaces loudly as missing output, never vanishes);
  *   - `verify_progress.json` (same directory) records counts, per-query
  *     seconds, failures and budget-skips after every query;
  *   - `SPARK_GRAFT_TIME_BUDGET` (seconds, default 2400) makes the run
  *     self-limiting: when the remaining budget drops under an adaptive
  *     per-query reserve the rest are recorded as skipped and the run
  *     exits 0 well before any external kill.
  */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Atomic overwrite: write to a sibling temp file, then move into
    * place, so an external kill can never leave a half-written JSON
    * where the driver expects a parseable one.
    */
  def writeAtomic(path: String, content: String): Unit = {
    val target = Paths.get(path)
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  final case class Summary(
      attempted: Seq[String],
      failed: Map[String, String],
      skipped: Map[String, String])

  /** The dump loop, session-agnostic for the spec harness; see the
    * object Scaladoc for the artifact contract it implements.
    */
  def run(
      spark: SparkSession,
      sfDir: String,
      outDir: String,
      only: Option[Set[String]],
      budgetSec: Double,
      nThreads: Int): Summary = {
    val tStart = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - tStart) / 1e9
    def remaining: Double = budgetSec - elapsedSec

    new java.io.File(outDir).mkdirs()
    val names: Vector[String] = SparkEntry.queries.keys.toVector.sorted
      .filter(n => only.forall(_.contains(n)))
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    names.foreach(queue.add)

    // shared, lock-guarded bookkeeping — every mutation is followed by an
    // atomic artifact refresh so the on-disk state is never behind by
    // more than the in-flight queries
    val lock = new Object
    val attempted = mutable.LinkedHashSet.empty[String]
    val secs = mutable.LinkedHashMap.empty[String, Double]
    val failed = mutable.LinkedHashMap.empty[String, String]
    val skipped = mutable.LinkedHashMap.empty[String, String]
    var maxSec = 0.0

    def oracleJson(): String = SparkEntry.oracleSql
      .filter { case (k, _) => attempted.contains(k) }
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
      .mkString("{", ",", "}")
    def progressJson(): String = {
      val secsJ = secs.toSeq.sortBy(_._1)
        .map { case (n, s) => f"${jsonStr(n)}:$s%.2f" }.mkString("{", ",", "}")
      val failJ = failed.toSeq.sortBy(_._1)
        .map { case (n, e) => s"${jsonStr(n)}:${jsonStr(e)}" }.mkString("{", ",", "}")
      val skipJ = skipped.toSeq.sortBy(_._1)
        .map { case (n, w) => s"${jsonStr(n)}:${jsonStr(w)}" }.mkString("{", ",", "}")
      s"""{"total":${names.size},"attempted":${attempted.size},""" +
        s""""ok":${attempted.size - failed.size},"n_failed":${failed.size},""" +
        s""""n_skipped":${skipped.size},"failed":$failJ,"skipped":$skipJ,""" +
        f""""secs":$secsJ,"budget_sec":$budgetSec%.0f,"elapsed_sec":$elapsedSec%.1f,""" +
        s""""threads":$nThreads,"sf":${jsonStr(sfDir)}}"""
    }
    def refreshArtifacts(): Unit = lock.synchronized {
      try {
        writeAtomic(s"$outDir/oracle_sql.json", oracleJson())
        writeAtomic(s"$outDir/verify_progress.json", progressJson())
      } catch { case _: Throwable => () }
    }

    // Per-query reserve below which the rest of the queue is skipped:
    // adaptive to the heaviest query seen so far ON THIS HOST, so a
    // degraded box reserves proportionally more, floored at 20 s.
    def reserve: Double = lock.synchronized { math.max(20.0, 1.5 * maxSec) }

    def runOne(name: String): Unit = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val err =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      val sec = (System.nanoTime() - t0) / 1e9
      lock.synchronized {
        attempted += name
        secs(name) = sec
        maxSec = math.max(maxSec, sec)
        err.foreach(failed(name) = _)
      }
      refreshArtifacts()
      err match {
        case None    => println(f"[verify] $name ok ($sec%.1f s)")
        case Some(e) => System.err.println(s"[verify] $name failed: $e")
      }
    }

    val workers = (1 to math.max(1, nThreads)).map { _ =>
      val t = new Thread(() => {
        var next = queue.poll()
        while (next != null) {
          if (remaining < reserve) {
            lock.synchronized {
              skipped(next) = f"time budget ($remaining%.0f s left < $reserve%.0f s reserve)"
            }
            refreshArtifacts()
          } else runOne(next)
          next = queue.poll()
        }
      })
      t.setDaemon(true); t.start(); t
    }
    workers.foreach(_.join())
    refreshArtifacts()
    println(progressJson())
    Summary(attempted.toSeq, failed.toMap, skipped.toMap)
  }

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query subset]
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, q) => (s, o, Some(q.split(",").map(_.trim).toSet))
      case _ => sys.error("usage: Verify <sfDir> <outDir> [q1,q2,...]")
    }
    val nThreads = math.max(1, sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt)
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_TIME_BUDGET", "2400").toDouble
    val spark = SessionDefaults.local(SessionDefaults.defaultCpus)
    val summary = run(spark, sfDir, outDir, only, budgetSec, nThreads)
    spark.stop()
    // rc stays 0 even with failures (the pre-round-13 driver contract):
    // a failed query stays listed in oracle_sql.json with no parquet
    // output, so the driver's DuckDB compare reports it loudly — while a
    // nonzero rc could make a strict driver discard the whole otherwise-
    // usable dump, which is exactly the failure mode this rewrite kills.
    if (summary.failed.nonEmpty)
      System.err.println(s"[verify] ${summary.failed.size} queries FAILED: " +
        summary.failed.keys.mkString(", "))
  }
}
