package graft.core

/** Small filesystem helpers shared by operators/tests. */
object Fs {
  /** Recursive delete with the walk stream closed (Files.walk leaks a
    * directory handle if the stream is abandoned).
    */
  def deleteRecursively(dir: java.nio.file.Path): Unit = {
    if (!java.nio.file.Files.exists(dir)) return
    val walk = java.nio.file.Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close()
  }
}

/** Shared partitioning helpers. */
object Par {
  /** Explicit width for exchanges feeding pair-exploding or per-row-heavy
    * compute (block self-joins, edit-distance verifies, media decodes).
    * AQE coalescing sizes post-shuffle partitions by MAP-side bytes, but
    * these operators multiply work downstream of the exchange, so the
    * advisory target collapses a kilobyte-scale probe side to ONE
    * partition and serializes the scan (measured round 6:
    * er_blocking_pairs ran 6.9 of 7.2 s in a single task). An explicit
    * count opts the exchange out of coalescing; the width follows the
    * scheduler: defaultParallelism tracks total cluster cores at any
    * scale, which is the right width for COMPUTE-bound scans (their
    * throughput scales with cores, not with shuffle fan-out) — never a
    * local constant. Deliberately NOT spark.sql.shuffle.partitions: an
    * explicit width is exempt from AQE coalescing, so inheriting a large
    * shuffle width here would schedule thousands of near-empty tasks
    * (measured: a 1024-partition session turned the 5 s candidates stage
    * into 21 s of task churn).
    */
  def spread(s: org.apache.spark.sql.SparkSession): Int =
    math.max(1, s.sparkContext.defaultParallelism)
}

import java.sql.Timestamp

/** Common-Crawl-style web page row — the authoritative input shape
  * (BASELINE.json input_hint): url is the primary key, warc_ts drives
  * incremental recompute (plays the reference's contact_timestamp,
  * idrt/algorithm/prepare_data.py:70-77), lang plays `pool`
  * (idrt/algorithm/run_search.py:60-70).
  */
final case class WebPage(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)
