package graft

/** Repeat one registered query in the exact bench configuration and print
  * what every run cost — the instrument for a noisy or rising bench
  * number. Usage:
  *
  *   sbt "runMain graft.Probe /root/testdata/sf0.1 q_curation 3"
  *   sbt "runMain graft.Probe <sfDir> <query> [reps] [key=value ...]"
  *
  * Each rep is one [[Bench.runSection]] call for the query: a fresh bench
  * session (trailing `key=value` arguments become conf overrides on top
  * of it), the warm-up, the timed count, the task-metrics listener and the
  * blocking unpersist. One `PROBE` line per run reports wall seconds,
  * rows, GC seconds, memory/disk spill, shuffle read/write and the error
  * if any; a summary line gives min/max and their ratio. Slow runs that
  * carry proportionally more spill or GC are memory pressure on a shared
  * host; constant shuffle and spill with falling GC is warm-up; spill that
  * grows with the data is a plan property. [[Explain]] prints the plan
  * without running a job.
  */
object Probe {

  private val Usage = "usage: graft.Probe <sfDir> <query> [reps] [key=value ...]"

  final case class Args(sfDir: String, query: String, reps: Int, conf: Map[String, String])

  /** Parse and check the arguments before any session exists: an unknown
    * query or an argument that is neither the rep count nor `key=value`
    * fails here, naming it. A value may itself contain `=`.
    */
  def parse(args: Seq[String]): Args = args match {
    case sfDir +: query +: rest =>
      require(SparkEntry.queries.contains(query), s"unknown query: $query")
      val (reps, overrides) = rest match {
        case n +: tail if n.nonEmpty && n.forall(_.isDigit) => (n.toInt, tail)
        case _ => (3, rest)
      }
      require(reps >= 1, s"reps must be at least 1, got $reps")
      val conf = overrides.map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"not a key=value conf override: '$kv' ($Usage)")
        kv.take(i) -> kv.drop(i + 1)
      }
      Args(sfDir, query, reps, conf.toMap)
    case _ => throw new IllegalArgumentException(Usage)
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args.toSeq)
    val cpus = SessionDefaults.defaultCpus
    val secs = (1 to a.reps).map { run =>
      val r = Bench.runSection(a.sfDir, Some(Set(a.query)), cpus, a.conf).head
      val p = r.probe.get
      println(f"PROBE ${a.query} run=$run sec=${r.sec}%.2f rows=${r.rows} " +
        f"gc_sec=${p.gcSec}%.2f mem_spill_gb=${p.memSpillGb}%.3f " +
        f"disk_spill_gb=${p.diskSpillGb}%.3f shuffle_read_gb=${p.shReadGb}%.3f " +
        f"shuffle_write_gb=${p.shWriteGb}%.3f err=${r.err.getOrElse("none")}")
      r.sec
    }
    println(f"PROBE summary min=${secs.min}%.2f max=${secs.max}%.2f " +
      f"ratio=${secs.max / secs.min}%.2f")
  }
}
