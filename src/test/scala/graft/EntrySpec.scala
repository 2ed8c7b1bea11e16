package graft

import org.apache.spark.sql.functions._

import graft.pipeline.ErPipeline
import graft.sources.WebPageGen

/** Driver-contract smoke (entry rows > 0) plus the hot-block linearity
  * guarantee the 100 TB story rests on.
  */
class EntrySpec extends SparkSpec {

  test("SparkEntry.entry returns rows (driver smoke contract)") {
    val n = SparkEntry.entry(spark).count()
    assert(n > 0, "flagship query returned no rows")
    // every catalog query has an oracle, and every oracle a query
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"queries without oracle SQL: $noOracle")
    val noQuery = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(noQuery.isEmpty, s"oracle SQL without a query: $noQuery")
    // both maps come from Catalog.all, so a duplicate name there would
    // silently drop a query from them
    val names = graft.queries.Catalog.all.map(_.name)
    assert(names.size === 69 && names.distinct.size === 69,
      s"Catalog.all must hold 69 distinct names: ${names.diff(names.distinct)}")
  }

  test("a pathological hot block generates linear, capped candidates") {
    import spark.implicits._
    // 600 records forced into the same block keys (identical name, email
    // and lang; an email means no LSH keys): full pairing would be
    // C(600,2) ~ 180k pairs; the sorted-neighborhood fallback must keep it
    // <= n * hotWindow
    val ts = java.sql.Timestamp.valueOf("2000-01-01 00:00:00")
    val extracted = (0 until 600).map { i =>
      (f"url://hot/$i%04d", ts, "en", "", "",
        "Ada", "Lovelace", "ada@calc.org", "", "NY", "10001")
    }.toDF("url", "warc_ts", "lang", "text", "extracted_text",
      "first_name", "last_name", "email", "phone", "state", "zip")
    val cfg = ErPipeline.Config()
    val sigs = ErPipeline.signatures(ErPipeline.normalize(extracted), cfg)
    val cands = ErPipeline.candidates(sigs, cfg)
    val n = cands.count()
    assert(n <= 600L * cfg.hotWindow,
      s"hot block went quadratic: $n pairs for 600 records (cap ${600 * cfg.hotWindow})")
    assert(n >= 599L, s"hot block under-paired: $n (sorted neighborhood must chain the block)")
    // the chain keeps the block transitively connected -> one cluster
    val scored = ErPipeline.scorePairs(cands, sigs, cfg)
    val clusters = ErPipeline.clusters(sigs, scored)
    assert(clusters.select("cluster_id").distinct().count() === 1L,
      "identical records in a hot block must resolve to one entity")
  }
}
