package graft.ops

import org.apache.spark.sql.DataFrame

/** Fan-out guard for CPU-heavy per-row stages (regex normalization,
  * shingling, embedding math).
  *
  * Spark sizes scan partitions by BYTES (`spark.sql.files.maxPartitionBytes`),
  * so a compact columnar file with expensive per-row work downstream can come
  * out as ONE task and single-thread the whole stage — 32 idle cores. At
  * cluster scale inputs carry thousands of splits and this is a no-op; it
  * only round-robins rows when the scan's parallelism is below the session's.
  * The check reads the physical plan's partition count (no job is run).
  */
object Parallelize {

  /** Repartition `df` to the default parallelism iff it currently has fewer
    * partitions than that. Row order is NOT preserved across the shuffle —
    * callers that depend on row order must carry an explicit ordering key. */
  def ensure(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions < target) df.repartition(target)
    else df
  }
}
