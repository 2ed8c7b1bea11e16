package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec

import graft.pipeline.ErPipeline
import graft.sources.WebPageGen

/** Physical-plan assertions — the 100 TB story is in the plan shape:
  * filters/projections reach the parquet scan, dimension joins broadcast,
  * pair generation is equi-join keyed by block (never cartesian), custom
  * expressions run inside whole-stage codegen.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def executed(name: String): String =
    graft.queries.Catalog.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  test("filter + projection push down to the parquet scan") {
    val p = executed("q_filter_project")
    assert(p.contains("PushedFilters"), p.take(400))
    assert(p.contains("LessThan(l_shipdate") || p.contains("l_shipdate"),
      "shipdate predicate should reach the scan")
    assert(p.contains("ReadSchema") &&
      !p.contains("l_extendedprice"), "unused columns must be pruned from the scan")
  }

  test("dimension joins broadcast (no shuffle of the fact side)") {
    val p = executed("q_join_agg")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
  }

  test("blocking self-join is an equi join on the block key, never cartesian") {
    val p = executed("er_blocking_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(600))
  }

  test("exact embedding near-dup is a tiled equi-join, never cartesian") {
    val p = executed("dedup_embedding")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(600))
  }

  test("ngram-jaccard candidates come from banded equi-joins, never cartesian") {
    val p = executed("dedup_ngram_jaccard")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(600))
  }

  test("sorted-neighborhood pairing is join-free: one window, O(n x k) pairs") {
    val df = graft.queries.Catalog.queries("er_sorted_neighbors")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), "lead()-window pairing must not plan a self-join:\n" + p.take(800))
    assert(p.contains("Window"), p.take(400))
    // pair volume bound: strictly fewer than n * window pairs
    val n = spark.read.parquet(s"$dir/customer.parquet").count()
    assert(df.count() < n * 4)
  }

  test("ANN LSH candidate dedup carries ids only, never embedding payloads") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.types.ArrayType
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val plan = graft.operators.Ann
      .lshTopK(e.filter(col("vec_id") < 5), e, "vec_id", "vec_id", "embedding", 3,
        bits = 4, tables = 4)
      .queryExecution.optimizedPlan
    // the candidate distinct is the Aggregate whose output = grouping keys;
    // none of its columns may be an array (the embeddings join back later)
    val distincts = plan.collect {
      case a: Aggregate if a.aggregateExpressions.length == a.groupingExpressions.length => a
    }
    assert(distincts.nonEmpty, "expected a distinct Aggregate in the LSH plan")
    distincts.foreach(_.output.foreach(attr =>
      assert(!attr.dataType.isInstanceOf[ArrayType],
        s"candidate distinct shuffles array column '${attr.name}'")))
  }

  test("bucketed join runs with ZERO exchanges (co-located join lever)") {
    import org.apache.spark.sql.functions.col
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      // disable broadcast so the assertion exercises the bucket-aware SMJ
      // path a fact-fact join at 100 TB would take
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // drop the catalog entries AND clear orphaned warehouse locations a
      // killed prior JVM may have left behind — they block saveAsTable
      def fresh(name: String): Unit = {
        spark.sql(s"DROP TABLE IF EXISTS $name")
        val wh = spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:").stripPrefix("//")
        graft.core.Fs.deleteRecursively(java.nio.file.Paths.get(wh, name))
      }
      fresh("ps_orders"); fresh("ps_customer")
      spark.read.parquet(s"$dir/orders.parquet").select("o_custkey", "o_totalprice")
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("ps_orders")
      spark.read.parquet(s"$dir/customer.parquet").select("c_custkey", "c_mktsegment")
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("ps_customer")
      val j = spark.table("ps_orders").hint("merge")
        .join(spark.table("ps_customer"), col("o_custkey") === col("c_custkey"))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(600))
      // the shuffle is the scale cost; the elimination is the lever. (The
      // per-bucket Sort stays — Spark 4 does not propagate sortBy order
      // even for single-file buckets — but it sorts already-sorted runs
      // inside each bucket, never across the network.)
      assert(!p.contains("Exchange"),
        "bucketed-on-join-key tables must join without any shuffle:\n" + p.take(800))
      assert(p.contains("Bucketed: true"),
        "scan must report bucketed layout:\n" + p.take(800))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS ps_orders")
      spark.sql("DROP TABLE IF EXISTS ps_customer")
    }
  }

  test("partitioned layout prunes partitions at the scan (PartitionFilters)") {
    import org.apache.spark.sql.functions.{col, to_date}
    val tmp = java.nio.file.Files.createTempDirectory("graft_partprune").toString
    try {
      spark.read.parquet(s"$dir/events.parquet")
        .withColumn("day", to_date(col("ts")))
        .write.partitionBy("day").mode("overwrite").parquet(tmp)
      val days = spark.read.parquet(tmp).select("day").distinct().collect()
      assert(days.length >= 2, "need multiple partitions to prove pruning")
      val one = days.map(_.getDate(0).toString).min
      val q = spark.read.parquet(tmp).filter(col("day") === one)
      val scan = q.queryExecution.executedPlan.toString
      assert(scan.contains("PartitionFilters") && scan.contains("day"),
        "day predicate must become a partition filter:\n" + scan.take(800))
      // the pruned scan must actually read fewer files than exist — the
      // metrics MUST come from the QueryExecution that ran (q.count()
      // builds a different one whose scan metrics we'd never see)
      q.collect()
      val read = q.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics.get("numFiles")
      }.flatten.map(_.value).sum
      val total = new java.io.File(tmp).listFiles().count(_.getName.startsWith("day="))
      assert(read > 0, "scan metrics not populated — assertion would be vacuous")
      assert(read < total, s"scan read $read file(s) of $total partitions — no pruning")
    } finally graft.core.Fs.deleteRecursively(java.nio.file.Paths.get(tmp))
  }

  test("AQE splits skewed join partitions at runtime (skew lever)") {
    import org.apache.spark.sql.functions._
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // shrink the skew thresholds to test-data scale; broadcast off so
      // the join actually shuffles (the 100 TB fact-fact shape)
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16k")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // one pathological key holds half the fact rows — the hot-key shape
      // salting guards against in the pipeline; here AQE must re-plan it
      val fact = spark.range(200000).select(
        when(col("id") % 2 === 0, lit(0L))
          .otherwise(pmod(col("id"), lit(100))).as("k"),
        col("id").as("v"))
      val dim = spark.range(100).select(col("id").as("k"), (col("id") * 2).as("w"))
      // NOTE no keyed agg above the join: a parent requiring
      // hashpartitioning(k) vetoes the skew split (it would break the
      // distribution) unless forceOptimizeSkewedJoin pays an extra shuffle
      val j = fact.join(dim, "k")
      j.collect() // execute so AQE finalizes the plan
      val p = j.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          assert(a.toString.contains("isFinalPlan=true"), a.toString.take(300))
          a.executedPlan.toString // the re-planned subtree AQE settled on
        case other => other.toString
      }
      assert(p.contains("skew=true") || p.toLowerCase.contains("skewed"),
        "AQE must mark the hot partition skewed and split it:\n" + p.take(1200))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("tfidf reuses the (doc, term) shuffle: corpus scanned once at runtime") {
    // The DF branch is derived FROM the TF aggregate; its per-term count
    // is written as sum(least(tf, 1)) so RemoveRedundantAggregates
    // cannot collapse it into a bare distinct — with identical subtrees
    // AQE materializes the (doc_id, term) exchange once and the second
    // consumer is a ReusedExchange, not a second scan + explode.
    val df = graft.queries.Catalog.queries("text_tfidf")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        assert(a.toString.contains("isFinalPlan=true"), a.toString.take(300))
        a.toString
      case other => other.toString
    }
    assert(p.contains("ReusedExchange"),
      "expected the DF branch to reuse the TF shuffle:\n" + p.take(1500))
  }

  test("custom expressions execute inside whole-stage codegen") {
    // assert on a shuffle-free parquet-sourced plan: AQE-wrapped plans
    // report no codegen subtrees until executed, local relations never
    // whole-stage-codegen - neither says anything about the expression
    import org.apache.spark.sql.functions.col
    val p = spark.read.parquet(s"$dir/documents.parquet")
      .select(graft.functions.Similarity.jaroWinkler(col("text"), col("lang")).as("jw"),
        graft.functions.Similarity.ngramEmbed(col("text"), 16).as("e"))
    val f = p.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(!f.startsWith("Found 0"), "plan lost whole-stage codegen")
    assert(f.contains("GraftKernels"), "custom kernels not inlined into generated code")
  }

  test("pipeline candidates plan: equi joins keyed by block, AQE enabled") {
    val pages = WebPageGen.pages(spark, 50L).toDF
    val sigs = ErPipeline.signatures(ErPipeline.normalize(ErPipeline.extract(pages)))
    val cands = ErPipeline.candidates(sigs)
    val plan = cands.queryExecution.executedPlan
    val p = plan.toString
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(p.contains("AdaptiveSparkPlan"), "AQE should wrap the plan")
    // hot-block neighbors come from an equi join on (bk, rn): a residual
    // condition on rn means a join keyed on bk alone that tests every
    // pair of a block's rows in one task
    val physical = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val rnConds = physical.collect { case j: BaseJoinExec => j.condition }.flatten
      .filter(_.references.exists(_.name == "rn"))
    assert(rnConds.isEmpty, s"join with a residual condition on rn: $rnConds")
  }

  test("scorePairs joins stay equi (hash/sort-merge) on url keys") {
    val pages = WebPageGen.pages(spark, 50L).toDF
    val sigs = ErPipeline.signatures(ErPipeline.normalize(ErPipeline.extract(pages)))
    val scored = ErPipeline.scorePairs(ErPipeline.candidates(sigs), sigs)
    val p = scored.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("as-of join plain path is join-free: one union-scan window, no range join") {
    val df = graft.queries.Catalog.queries("q_asof_join")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the naive encoding is a range theta join (BNLJ/cartesian) plus a
    // per-pair max; the union-scan shape has NO join operator at all
    assert(!p.contains("Join"), "as-of must not plan any join:\n" + p.take(1000))
    assert(p.contains("Window"), p.take(600))
    // exactly one data shuffle: the sort-partitioning by key for the
    // window. Match the operator name anywhere after the tree-art prefix
    // (+-, :-, indentation) and exclude ReusedExchange; === 1 so the
    // assertion can never pass vacuously on a format change
    val exchanges = "(?<!Reused)Exchange".r.findAllIn(p).length
    assert(exchanges === 1, s"expected exactly one shuffle, saw $exchanges:\n" + p.take(1200))
  }

  test("line dedup anti-joins a broadcast hot-line table: corpus never shuffles by line") {
    val df = graft.queries.Catalog.queries("text_line_dedup")(spark, dir)
    df.collect() // execute so AQE finalizes the plan
    val p = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        assert(a.toString.contains("isFinalPlan=true"), a.toString.take(300))
        a.toString
      case other => other.toString
    }
    val lines = p.linesIterator.toSeq
    assert(lines.exists(l => l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      "hot-line removal must be a broadcast anti join:\n" + p.take(1200))
    assert(!lines.exists(l => l.contains("LeftAnti") &&
        (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))),
      "the corpus must not shuffle by line content:\n" + p.take(1200))
  }
}
