package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}

/** Task fan-out for CPU-dense row-local operators.
  *
  * A scan's task count is its split count. The small-SF fixtures are one
  * single-row-group parquet file each, so a map-heavy op (md5-per-shingle
  * fingerprinting, brute-force cosine probes, exact-percentile partials)
  * lands on ONE task while the rest of the box idles — the round-5 bench
  * showed doc_fingerprint paying 6.5x DuckDB for exactly this. At
  * production scale the input is thousands of splits and needs no help —
  * so the round-robin exchange is added ONLY when the scan under-splits
  * the box: whenever the frame already has >= cores partitions this is an
  * identity (no exchange appears in the plan; asserted in TextSpec).
  *
  * The split count is estimated by running Spark's own split planning
  * over driver-side file metadata from the plan's file relations —
  * NOT via `df.rdd.getNumPartitions`, which forces a full physical-plan +
  * RDD-DAG compile of `df` that is then thrown away when `repartition`
  * plans the real query (round-6 advice: double planning per call).
  * Reading the analyzed logical plan costs analysis only, and that work
  * is cached on the Dataset's QueryExecution either way.
  */
object FanOut {
  def apply(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val splits = estimatedScanSplits(df)
    // No file relation (pure in-memory frame): its parallelism came from
    // the caller, not a scan — leave it alone.
    if (splits.nonEmpty && splits.min < cores) df.repartition(cores) else df
  }

  /** Estimated scan partition count per file relation in `df`'s plan:
    * the file scan's own split planning (`FilePartition.maxSplitBytes`,
    * `PartitionedFileUtil.splitFiles`, then `FilePartition.getFilePartitions`
    * over the splits largest first, as `FileSourceScanExec` runs it), fed
    * the file statuses the relation's FileIndex already holds on the
    * driver. Deterministic, no Spark job, no physical planning; both
    * decision boundaries (fan-out on a single-split scan, identity on a
    * well-split one) are asserted in TextSpec against the executed plan.
    */
  private def estimatedScanSplits(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        val fs = lr.relation.asInstanceOf[HadoopFsRelation]
        val sess = fs.sparkSession
        val dirs = fs.location.listFiles(Nil, Nil)
        val maxSplit = FilePartition.maxSplitBytes(sess, dirs)
        val splits = dirs.flatMap(d => d.files.flatMap { f =>
          PartitionedFileUtil.splitFiles(f, f.getPath,
            fs.fileFormat.isSplitable(sess, fs.options, f.getPath), maxSplit, d.values)
        }).sortBy(-_.length)
        FilePartition.getFilePartitions(sess, splits, maxSplit).size
    }
}
