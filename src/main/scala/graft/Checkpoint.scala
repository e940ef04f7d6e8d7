package graft

import org.apache.spark.sql.DataFrame

/** The one lineage-truncation policy. Every iterative loop and every
  * memoized frame in the engine cuts its plan here, so the choice
  * between the two Spark mechanisms is made in one place. */
object Checkpoint {

  /** Eagerly materializes `df` and returns a frame whose lineage starts
    * at the materialized data.
    *
    * When the SparkContext has a checkpoint directory (the deployment's
    * `spark.checkpoint.dir`, or `SparkContext.setCheckpointDir`), this
    * is a reliable `checkpoint`: the rows are written under that
    * directory and survive executor loss. Otherwise it is a
    * `localCheckpoint`: executor-local blocks, no file I/O, lost with
    * the executor that holds them — right for a single JVM. Spark's own
    * iterative code (`PeriodicCheckpointer`) takes the same cue from
    * the directory; no call site chooses the mode. */
  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(true)
}
