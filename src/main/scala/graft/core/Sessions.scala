package graft.core

import org.apache.spark.sql.SparkSession

/** The one place the measured job shape is built. */
object Sessions {

  /** Local-mode core count: `SPARK_GRAFT_CPUS` when set, else every core
    * of this host.
    */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  /** Local session at `local[cpus]` with the job shape that `graft.Bench`,
    * `graft.ScalingBench` and `PipelineDemo` all measure:
    *   - data-sized shuffle width for AQE plans: start wide (1024) and
    *     coalesce to the 16 MB advisory target. This is the job shape that
    *     closed the scaling-efficiency gate (BASELINE.md r3). 64 MB
    *     partitions spilled the pair-join sorts and aggregations at 4 cores
    *     (3 GB spill measured); 16 MB keeps every operator in memory.
    *   - hash joins over sort-merge where the per-partition build side
    *     fits: no giant per-partition sorts.
    *   - `spark.sql.shuffle.partitions` stays core-sized because it is what
    *     NON-AQE plans use: stateful streaming disables AQE, and a
    *     1024-task micro-batch is pure scheduler churn (measured 4x
    *     slowdown).
    */
  def jobShape(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "1024")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
