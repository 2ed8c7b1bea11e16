package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md par.7 + the builder prompt.
  * The query catalog lives in graft.queries.Catalog; the ER pipeline in
  * graft.pipeline.
  */
object SparkEntry {
  /** Flagship: end-to-end blocking + scoring candidate-pair query on the
    * documents table (SURVEY.md par.7.2 step 3).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("er_blocking_pairs")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md par.2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Catalog.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Both maps come from `Catalog.all`, so they
    * have the same keys.
    */
  def oracleSql: Map[String, String] = graft.queries.Catalog.oracleSql
}
