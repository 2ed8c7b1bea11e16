package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Small-file compaction with range layout — the nightly maintenance
  * pass of a 100-TB table. Historical write parallelism leaves scan
  * task counts proportional to WRITER count, not data volume (a year
  * of 1024-task incremental appends is ~370k files whose open/footer
  * overhead dominates a scan); compaction rewrites a directory into
  * ~targetRowsPerFile-sized files range-partitioned and sorted by a
  * chosen column, so parquet footer min/max stats make later scans
  * prune whole files on that column's predicates.
  */
object Compaction {

  final case class Stats(rows: Long, filesBefore: Int, filesAfter: Int)

  /** Part-file names under `dir`, listed through the directory's own
    * Hadoop FileSystem — so plain paths and `file:`/`hdfs:`/`s3a:` URIs
    * all work, as they do for the parquet read and write.
    */
  private[graft] def partFiles(spark: SparkSession, dir: String): Seq[String] = {
    val path = new Path(dir)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(path).toSeq.map(_.getPath.getName).filter(_.startsWith("part-"))
  }

  /** Rewrite `inDir` into `outDir` as ceil(rows/targetRowsPerFile)
    * range-disjoint files sorted by `sortCol`. Content is preserved
    * exactly (same rows, any order); the caller owns `outDir` cleanup.
    * `rowsHint >= 0` skips the row-count scan (callers that already
    * counted the input pass it through — one less full read of the
    * directory being compacted); negative means count here.
    */
  def compact(
      spark: SparkSession, inDir: String, outDir: String,
      sortCol: String, targetRowsPerFile: Long, rowsHint: Long = -1L): Stats = {
    require(targetRowsPerFile > 0, s"targetRowsPerFile: $targetRowsPerFile")
    val in = spark.read.parquet(inDir)
    val rows = if (rowsHint >= 0) rowsHint else in.count()
    val files = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    in.repartitionByRange(files, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(outDir)
    Stats(rows, partFiles(spark, inDir).size, partFiles(spark, outDir).size)
  }
}
