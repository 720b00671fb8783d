package graft.plans

import org.apache.spark.sql.{DataFrame, Dataset}

import scala.jdk.CollectionConverters._

/** Lineage pinning with a durability switch — every iterative loop and
  * multi-consumer frame in graft materializes through [[pin]] instead of
  * calling `localCheckpoint` directly. That includes the MEDS data frame
  * in [[graft.meds.ConfigPipeline]], pinned at each stage that reads it
  * twice. The one exception is a frame that
  * is small by contract and broadcast by every consumer (a fitted code
  * vocabulary): [[local]] keeps it on the driver instead.
  *
  * Default (key unset): `localCheckpoint` — blocks cached on executors,
  * zero I/O, the right call on `local[n]` and for short-lived frames.
  * Its cluster hazard: Spark CANNOT recompute a localCheckpointed
  * partition, so losing one executor mid-iteration kills the job. At
  * hundreds of executors that is an expected event, not an edge case.
  *
  * With `spark.graft.checkpointDir` set (a session conf, so one line of
  * cluster config flips the whole library — no API churn through every
  * operator): RELIABLE `checkpoint()` into that directory (HDFS/object
  * store on a cluster). Blocks are re-readable after any executor loss;
  * the job degrades to re-reading the checkpoint instead of dying.
  *
  * `eager = false` keeps the lazy variant (pin on first use) in both
  * modes — used where a frame is only SOMETIMES multi-consumed.
  */
object Materialize {

  /** Session conf key holding the reliable-checkpoint directory. */
  val DirKey = "spark.graft.checkpointDir"

  def pin[T](ds: Dataset[T], eager: Boolean): Dataset[T] = {
    val spark = ds.sparkSession
    spark.conf.getOption(DirKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        // setCheckpointDir is sticky on the shared context; (re)setting it
        // is idempotent and cheap relative to the checkpoint write itself.
        if (spark.sparkContext.getCheckpointDir.isEmpty ||
            !spark.sparkContext.getCheckpointDir.exists(_.contains(dir)))
          spark.sparkContext.setCheckpointDir(dir)
        ds.checkpoint(eager)
      case None => ds.localCheckpoint(eager)
    }
  }

  /** `df` computed now and kept on the driver as a local relation. Only
    * for frames that are small by contract and that every consumer
    * broadcasts anyway — a fitted code vocabulary, one row per code (see
    * [[graft.operators.Vocabulary.lexicographicIndices]]): the collect then
    * only moves ahead of the plan, so each consumer scans the local rows
    * instead of re-planning the lineage that produced them, and a write
    * of the frame is a local write. Unlike [[pin]], nothing is cached on
    * executors, so no executor loss can lose it.
    */
  def local(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.collect().toSeq.asJava, df.schema)

  /** `.pin(eager)` chain syntax — a drop-in for `.localCheckpoint(eager)`. */
  implicit class PinOps[T](private val ds: Dataset[T]) extends AnyVal {
    def pin(eager: Boolean = true): Dataset[T] = Materialize.pin(ds, eager)
  }
}
