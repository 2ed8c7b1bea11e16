package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed within-key running sums.
  *
  * A plain `sum(...).over(Window.partitionBy(key).orderBy(...))` funnels
  * every row of a key into one task — fatal when a key holds 10^8 rows at
  * corpus scale. This computes the same prefix sum without any whole-key
  * task: range-partition by (key, order) so a giant key spans many
  * contiguous partitions, running-sum locally within (partition, key),
  * then add per-(partition, key) offsets from a tiny totals table whose
  * own prefix-sum window is bounded by the partition count, never by the
  * key's row count.
  *
  * Generalized from the ER pipeline's hot-block neighborhood ranking
  * (ErPipeline.rankWithinBlocks and its giant-block probe call it here) so
  * sequence packing and other stream-offset operators reuse the same
  * scale-safe kernel.
  */
object PrefixSum {

  /** Running sum of `weight` INCLUDING the current row, within each
    * distinct value of `keyCols`, ordered by `orderCols`. The order
    * columns must be unique within a key so the output is deterministic
    * even though range boundaries come from sampling. Returns the input
    * columns plus `out` and `_pid` (kept so callers/tests can observe the
    * partition spread of a hot key).
    */
  def withinKeys(
      rows: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
      weight: Column, out: String): DataFrame = {
    val keys = keyCols.map(col)
    // Materialized ONCE (eager localCheckpoint): (a) a range exchange
    // re-executes its child for the boundary-sampling pass, (b) the
    // local-sum and per-(partition, key) totals branches below both
    // consume these rows, and (c) _pid (spark_partition_id) is
    // NONDETERMINISTIC, which blocks exchange reuse between the branches
    // — uncheckpointed, an expensive upstream is evaluated up to four
    // times through here (measured round 6: text_curation_pipeline ran
    // its whole dedup+decontaminate+quality upstream once per branch).
    // The checkpoint holds only the caller's projection — every caller
    // passes narrow (key, order, weight) rows — and spills via
    // MEMORY_AND_DISK, so it is scale-safe where a 4x recompute is not.
    val parted = rows
      .repartitionByRange((keys ++ orderCols.map(col)): _*)
      .withColumn("_pid", spark_partition_id())
      .withColumn("_w", weight.cast("long"))
      .localCheckpoint()
    val lw = Window.partitionBy(("_pid" +: keyCols).map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = parted.withColumn("_ls", sum(col("_w")).over(lw))
    // totals from the PRE-window rows: same values (sum ignores order),
    // one window execution instead of two
    val totals = parted.groupBy(("_pid" +: keyCols).map(col): _*)
      .agg(sum("_w").as("_c"))
    val ow = Window.partitionBy(keys: _*).orderBy("_pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("_off", coalesce(sum("_c").over(ow), lit(0L)))
      .select((col("_pid") +: keys) :+ col("_off"): _*)
    local.join(offsets, "_pid" +: keyCols)
      .withColumn(out, col("_ls") + col("_off"))
      .drop("_ls", "_off", "_w")
  }
}
