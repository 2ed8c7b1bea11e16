package erbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.WebPage
import graft.functions.GraftKernels.mix64
import graft.pipeline.ErPipeline
import graft.plans.StageStore
import graft.sources.WebPageGen

import Main.{Args, Metric, Outcome, median, progress, secondsSince}

/** The two entity-resolution workloads and their traced run.
  *
  *  - er_batch: a checkpointed `ErPipeline.run` into a fresh stage root,
  *    then a resume after a simulated kill at stage 4 (the `scores` and
  *    `clusters` stage directories are deleted).
  *  - er_incremental: `ErPipeline.runIncremental` over a snapshot in which
  *    1% of entities changed and 1% are new, against the priors of a full
  *    checkpointed run, with its clusters forced.
  *
  * Corpora are `WebPageGen` pages from `--seed`, 9 per entity:
  * `BatchEntities` for er_batch, `IncrementalEntities` for the incremental
  * prior and the traced run (`--entities` overrides both; the launcher
  * uses that only for its class-loading training run).
  */
object ErWorkloads {

  val Cfg: ErPipeline.Config = ErPipeline.Config()

  /** 2,000 entities x 9 variants = 18,000 pages. Up to ~36,000 pages the
    * run costs about the same (fixed per-job cost); a run must fit its
    * share of the benchmark's time budget.
    */
  val BatchEntities = 2000L

  /** 1,000 entities x 9 variants = 9,000 prior pages. */
  val IncrementalEntities = 1000L

  /** Base page + 5 duplicate variants form one cluster; the 3 distinct
    * variants stay singletons (WebPageGen.Variants).
    */
  val ClustersPerEntity = 4L

  val MinF1 = 0.99

  val DayMs = 86400000L

  private val KernelSample = 2000

  def corpus(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val df = WebPageGen.pages(spark, n, seed).toDF.cache()
    df.count()
    df
  }

  /** `make`'s value and its wall seconds. */
  def timed[T](make: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = make
    (r, secondsSince(t0))
  }

  /** The 1 in 100 entities the next snapshot regenerates, by hash. */
  def changed(seed: Long, id: Long): Boolean =
    java.lang.Math.floorMod(mix64(id ^ mix64(seed)), 100L) == 0L

  /** The next crawl: changed entities are regenerated under `seed + 1`
    * with `warc_ts` one day later, and n/100 new entities are appended.
    */
  def snapshot(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    import spark.implicits._
    val df = spark.range(n + n / 100).flatMap { id =>
      val upd = id < n && changed(seed, id)
      WebPageGen.Variants.indices.map { v =>
        val p = WebPageGen.labeledPage(if (upd) seed + 1 else seed, id, v)
        val ts = if (upd) new Timestamp(p.warc_ts.getTime + DayMs) else p.warc_ts
        WebPage(p.url, ts, p.html, p.text, p.lang)
      }
    }.toDF.cache()
    df.count()
    df
  }

  def expectedStale(n: Long, seed: Long): Long =
    WebPageGen.Variants.size * ((0L until n).count(changed(seed, _)) + n / 100)

  private def distinctClusters(clusters: DataFrame): Long =
    clusters.select("cluster_id").distinct().count()

  /** An ephemeral full run with its clusters forced. */
  private def ephemeralRun(spark: SparkSession, pages: DataFrame): Long = {
    val r = ErPipeline.run(spark, pages, Cfg)
    val n = distinctClusters(r.clusters)
    r.signatures.unpersist()
    n
  }

  private def f1(scored: DataFrame, labeled: DataFrame): Double = {
    val r = ErPipeline.labeledPairMetrics(scored, labeled).select("f1").head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  // ---------------------------------------------------------------------
  // er_batch
  // ---------------------------------------------------------------------

  final case class BatchOp(runS: Double, resumeS: Double, f1: Double) {
    def wallS: Double = runS + resumeS
  }

  /** One timed operation: checkpointed run, kill at stage 4, resume. The
    * clock stops for the checks, which read the fresh run's outputs before
    * the kill removes them. Without `check` (the warm-up) nothing is
    * checked.
    */
  def batchOp(spark: SparkSession, pages: DataFrame, labeled: DataFrame, entities: Long,
      root: Path, check: Option[String => Boolean => Unit]): BatchOp = {
    val cfg = Cfg.copy(outRoot = root.toString)
    val expect = ClustersPerEntity * entities
    val t0 = System.nanoTime()
    val fresh = ErPipeline.run(spark, pages, cfg)
    val nFresh = distinctClusters(fresh.clusters)
    val runS = secondsSince(t0)
    val freshFp = check.map(_ => StageStore.fingerprint(fresh.clusters))
    val score = check.map(_ => f1(fresh.scored, labeled))
    Seq("scores", "clusters").foreach(s => FileUtils.deleteDirectory(root.resolve(s).toFile))
    val t1 = System.nanoTime()
    val resumed = ErPipeline.run(spark, pages, cfg)
    val nResumed = distinctClusters(resumed.clusters)
    val resumeS = secondsSince(t1)
    check.foreach { c =>
      c(s"fresh run has $expect clusters (got $nFresh)")(nFresh == expect)
      c(s"resumed run has $expect clusters (got $nResumed)")(nResumed == expect)
      c(s"pairwise_f1 >= $MinF1 (got ${score.get})")(score.get >= MinF1)
      c("resumed clusters fingerprint equals the fresh run's")(
        freshFp.contains(StageStore.fingerprint(resumed.clusters)))
      val badText = ErPipeline.extract(pages)
        .filter(!(col("extracted_text") <=> col("text"))).count()
      c(s"extracted_text byte-identical to text ($badText urls differ)")(badText == 0)
    }
    FileUtils.deleteDirectory(root.toFile)
    BatchOp(runS, resumeS, score.getOrElse(Double.NaN))
  }

  def batch(spark: SparkSession, a: Args, sessionS: Double): Outcome = {
    if (a.trace) return traced(spark, a, sessionS)
    val checks = new Checks
    val n = a.entities.getOrElse(BatchEntities)
    val (pages, genS) = timed(corpus(spark, n, a.seed))
    val tl = System.nanoTime()
    val labeled = WebPageGen.labeledPairs(spark, n, a.seed).cache()
    labeled.count()
    val labeledS = secondsSince(tl)
    val stages = a.work.resolve("stages")
    val tw = System.nanoTime()
    batchOp(spark, pages, labeled, n, stages.resolve("warm-up"), None)
    val warmS = secondsSince(tw)

    val ops = mutable.ArrayBuffer.empty[BatchOp]
    var measured = 0.0
    while (measured < a.seconds) {
      val t0 = System.nanoTime()
      checks.op(s"iteration ${ops.length + 1}")(c =>
        batchOp(spark, pages, labeled, n, stages.resolve(s"op-${checks.attempted}"), Some(c)))
        .fold(measured += secondsSince(t0)) { o => ops += o; measured += o.wallS }
    }
    val nPages = pages.count()
    val wall = median(ops.map(_.wallS).toSeq)
    val setupS = sessionS + genS + labeledS + warmS
    Outcome(checks.attempted, checks.failed,
      Seq(
        Metric("wall_s", wall, "s"),
        Metric("docs_per_s", nPages / wall, "1/s"),
        Metric("setup_s", setupS, "s")),
      Seq(
        "peak_rss_mb" -> Main.peakRssMb(), "pages" -> nPages, "entities" -> n, "samples" -> ops.length,
        "wall_s_samples" -> ops.map(_.wallS).toSeq,
        "run_s" -> median(ops.map(_.runS).toSeq),
        "resume_s" -> median(ops.map(_.resumeS).toSeq),
        "pairwise_f1" -> (if (ops.isEmpty) Double.NaN else ops.map(_.f1).min),
        "session_s" -> sessionS, "corpus_build_s" -> genS,
        "labeled_pairs_s" -> labeledS, "warm_up_s" -> warmS,
        "failures" -> checks.failures.toSeq))
  }

  // ---------------------------------------------------------------------
  // er_incremental
  // ---------------------------------------------------------------------

  final case class Priors(signatures: DataFrame, scored: DataFrame, clusters: DataFrame)

  /** The prior run: a full pipeline run whose signatures, scores and
    * clusters are materialized as the priors of the incremental run.
    */
  def priorRun(spark: SparkSession, pages: DataFrame): Priors = {
    val r = ErPipeline.run(spark, pages, Cfg)
    val p = Priors(r.signatures.localCheckpoint(), r.scored.localCheckpoint(),
      r.clusters.localCheckpoint())
    r.signatures.unpersist()
    p
  }

  final case class IncOp(runS: Double, materializeS: Double,
      stats: ErPipeline.IncrementalStats, sites: Map[String, TaskMetricsListener.Stats]) {
    def wallS: Double = runS + materializeS
  }

  /** One timed operation: runIncremental, then force its clusters. With
    * `reuseClusters` the prior clusters are passed in and only affected
    * components re-cluster; without, the merged pair table re-clusters
    * globally.
    */
  def incOp(spark: SparkSession, snap: DataFrame, priors: Priors, reuseClusters: Boolean,
      oracleFp: String, expectStale: Long, check: String => Boolean => Unit,
      listener: Option[TaskMetricsListener] = None): IncOp = {
    listener.foreach { l => Trace.waitIdle(spark.sparkContext); l.reset() }
    val t0 = System.nanoTime()
    val (res, stats) = ErPipeline.runIncremental(spark, snap, priors.signatures,
      priors.scored, Cfg, if (reuseClusters) Some(priors.clusters) else None)
    val runS = secondsSince(t0)
    val (_, materializeS) = Trace.span(spark.sparkContext, "inc.materialize") {
      distinctClusters(res.clusters)
    }
    // what the listener saw of this operation, before the checks add jobs
    val sites = listener.map { l => Trace.waitIdle(spark.sparkContext); l.snapshot() }
      .getOrElse(Map.empty)
    check(s"stale rows = $expectStale (got ${stats.staleRowCount})")(
      stats.staleRowCount == expectStale)
    check("clusters equal a full run on the same snapshot")(
      StageStore.fingerprint(res.clusters) == oracleFp)
    Seq(res.signatures, res.candidates, res.scored).foreach(_.unpersist())
    IncOp(runS, materializeS, stats, sites)
  }

  /** The invariant IncrementalSpec asserts: a full recompute of the
    * snapshot gives the clusters the incremental run must reproduce.
    */
  def oracle(spark: SparkSession, snap: DataFrame): String = {
    val full = ErPipeline.run(spark, snap, Cfg)
    val fp = StageStore.fingerprint(full.clusters)
    full.signatures.unpersist()
    fp
  }

  /** er_incremental (`reuseClusters`) and er_incremental_global. */
  def incremental(spark: SparkSession, a: Args, sessionS: Double,
      reuseClusters: Boolean): Outcome = {
    if (a.trace) return traced(spark, a, sessionS)
    val checks = new Checks
    val n = a.entities.getOrElse(IncrementalEntities)
    val (prior, genS) = timed(corpus(spark, n, a.seed))
    val tp = System.nanoTime()
    val priors = priorRun(spark, prior)
    prior.unpersist(true)
    val priorS = secondsSince(tp)
    val ts = System.nanoTime()
    val snap = snapshot(spark, n, a.seed)
    val oracleFp = oracle(spark, snap)
    val expect = expectedStale(n, a.seed)
    val snapS = secondsSince(ts)
    val tw = System.nanoTime()
    checks.op("warm-up")(c => incOp(spark, snap, priors, reuseClusters, oracleFp, expect, c))
    val warmS = secondsSince(tw)

    val ops = mutable.ArrayBuffer.empty[IncOp]
    var measured = 0.0
    while (measured < a.seconds) {
      val t0 = System.nanoTime()
      checks.op(s"iteration ${ops.length + 1}")(c =>
        incOp(spark, snap, priors, reuseClusters, oracleFp, expect, c))
        .fold(measured += secondsSince(t0)) { o => ops += o; measured += o.wallS }
    }
    val nPages = snap.count()
    val wall = median(ops.map(_.wallS).toSeq)
    val setupS = sessionS + genS + priorS + snapS + warmS
    Outcome(checks.attempted, checks.failed,
      Seq(
        Metric("wall_s", wall, "s"),
        Metric("docs_per_s", nPages / wall, "1/s"),
        Metric("setup_s", setupS, "s")),
      Seq(
        "peak_rss_mb" -> Main.peakRssMb(), "pages" -> nPages, "prior_pages" -> n * WebPageGen.Variants.size,
        "stale_pages" -> expect, "reuse_prior_clusters" -> reuseClusters,
        "samples" -> ops.length, "wall_s_samples" -> ops.map(_.wallS).toSeq,
        "run_s" -> median(ops.map(_.runS).toSeq),
        "materialize_s" -> median(ops.map(_.materializeS).toSeq),
        "rescored_pairs" -> ops.headOption.map(_.stats.rescoredPairs),
        "reused_pairs" -> ops.headOption.map(_.stats.reusedPairs),
        "edges_reclustered" -> ops.headOption.map(_.stats.clusterEdgesReclustered),
        "session_s" -> sessionS, "corpus_build_s" -> genS, "prior_run_s" -> priorS,
        "snapshot_and_oracle_s" -> snapS, "warm_up_s" -> warmS,
        "failures" -> checks.failures.toSeq))
  }

  // ---------------------------------------------------------------------
  // traced run
  // ---------------------------------------------------------------------

  private val BatchSpans =
    Seq("signatures", "candidates", "scores", "clusters", "stagestore.write", "stagestore.resume")

  /** Per-layer group of a call-site key (`File.method`) of the
    * incremental path. Jobs issued by runIncremental's own body (its
    * stale and stats counts) form `body`.
    */
  def incLayer(key: String): String = key match {
    case "inc.materialize" => "materialize"
    case k if k.startsWith("Clustering.") || k.endsWith("Clusters") || k == "ErPipeline.clusters" =>
      "clusters"
    case "ErPipeline.scorePairs" => "scores"
    case k if k.startsWith("PrefixSum.") || k.contains("andidates") || k.contains("Blocks") =>
      "candidates"
    case "ErPipeline.extract" | "ErPipeline.normalize" | "ErPipeline.signatures" |
        "ErPipeline.staleRows" => "signatures"
    case "ErPipeline.runIncremental" => "body"
    case _ => "other"
  }

  /** Layers reported as metrics. Scoring and signature work of the
    * incremental path is lazy: it runs inside the jobs of whichever action
    * forces it (the clustering or runIncremental's own counts), so no job
    * carries their call sites and they are not reported separately.
    */
  private val IncLayers = Seq("candidates", "clusters", "body")

  private def mb(bytes: Long): Double = bytes / (1024.0 * 1024.0)

  private def spanMetrics(prefix: String, s: TaskMetricsListener.Stats, wallS: Double,
      cores: Int): Seq[Metric] = Seq(
    Metric(s"$prefix.tasks", s.tasks.toDouble, "count"),
    Metric(s"$prefix.skew", s.skew, "ratio"),
    Metric(s"$prefix.shuffle_write_mb", mb(s.shuffleWriteBytes), "MB"),
    Metric(s"$prefix.shuffle_read_mb", mb(s.shuffleReadBytes), "MB"),
    Metric(s"$prefix.cpu_util", s.cpuNs / (wallS * 1e9 * cores), "ratio"))

  private def statsJson(s: TaskMetricsListener.Stats): Map[String, Any] = Map(
    "jobs" -> s.jobs, "tasks" -> s.tasks, "job_ms" -> s.jobMs, "skew" -> s.skew,
    "shuffle_write_mb" -> mb(s.shuffleWriteBytes), "shuffle_read_mb" -> mb(s.shuffleReadBytes),
    "spill_mb" -> mb(s.spillBytes), "gc_ms" -> s.gcMs, "cpu_ms" -> s.cpuNs / 1e6)

  private val Zero = TaskMetricsListener.Stats(0, 0, 0.0, 1.0, 0, 0, 0, 0, 0)

  /** Σ over block keys of the pairs each block emits before the pair
    * dedup: C(n,2) for blocks up to maxBlock, the sorted-neighborhood
    * window count above it. Counted from outside, over the signatures.
    */
  def emittedPairs(sigs: DataFrame): Long = {
    val w = Cfg.hotWindow.toLong
    sigs.select(explode(col("block_keys")).as("bk")).groupBy("bk").count()
      .agg(sum(when(col("count") <= Cfg.maxBlock, col("count") * (col("count") - 1) / 2)
        .otherwise(col("count") * w - lit(w * (w + 1) / 2))).cast("long"))
      .head().getLong(0)
  }

  private def treeStats(root: Path): (Long, Long) = {
    val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .toSeq
    (files.length.toLong, files.map(Files.size).sum)
  }

  private def floats(r: Row, i: Int): UnsafeArrayData =
    UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](i).toArray)

  /** The traced run, the same for every ER workload: every layer of the
    * batch path as its own materialized span, the kernel microbench, the
    * incremental run with prior clusters attributed by call site, and the
    * listener self-test. Outputs are checked as in the untraced runs.
    */
  def traced(spark: SparkSession, a: Args, sessionS: Double): Outcome = {
    val sc = spark.sparkContext
    val cores = Runtime.getRuntime.availableProcessors()
    val checks = new Checks
    val metrics = mutable.ArrayBuffer.empty[Metric]
    val trace = mutable.ArrayBuffer.empty[(String, Any)]
    val stages = a.work.resolve("stages")
    // the incremental prior's size for every layer: at er_batch's size the
    // run would not fit the 180 s a run may take
    val n = a.entities.getOrElse(IncrementalEntities)
    val pages = corpus(spark, n, a.seed)

    // warm-up, then one untraced pipeline run as the reference for the
    // tracing overhead of the four pipeline spans
    ephemeralRun(spark, pages)
    val tr = System.nanoTime()
    ephemeralRun(spark, pages)
    val referenceS = secondsSince(tr)
    progress("traced: warm-up and untraced reference run done")

    val listener = new TaskMetricsListener
    sc.addSparkListener(listener)

    // --- batch layers: each stage materialized at its public boundary
    val spanS = mutable.LinkedHashMap.empty[String, Double]
    val rows = mutable.Map.empty[String, Long]
    val root = stages.resolve("traced")
    val t0 = System.nanoTime()
    def staged(name: String)(f: => DataFrame): DataFrame = {
      val (df, s) = Trace.span(sc, name)(f.localCheckpoint())
      spanS(name) = s
      rows(name) = df.count()
      df
    }
    val sigs = staged("signatures")(
      ErPipeline.signatures(ErPipeline.normalize(ErPipeline.extract(pages)), Cfg))
    val cands = staged("candidates")(ErPipeline.candidates(sigs, Cfg))
    val scored = staged("scores")(ErPipeline.scorePairs(cands, sigs, Cfg))
    val clustered = staged("clusters")(ErPipeline.clusters(sigs, scored))
    val tables = Seq("signatures" -> sigs, "candidates" -> cands, "scores" -> scored,
      "clusters" -> clustered)
    val inputFp = StageStore.fingerprint(pages.select("url", "warc_ts"))
    def store(span: String): Seq[DataFrame] = {
      val (dfs, s) = Trace.span(sc, span) {
        tables.map { case (name, df) =>
          StageStore.runStage(spark, root.toString, name, Cfg.pipelineVersion, inputFp)(df)
        }
      }
      spanS(span) = s
      rows(span) = tables.map { case (n, _) => rows(n) }.sum
      dfs
    }
    store("stagestore.write")
    val resumed = store("stagestore.resume")
    val batchWall = secondsSince(t0)
    progress("traced: batch spans done")
    Trace.waitIdle(sc)
    val batchStats = listener.snapshot()
    listener.reset()

    BatchSpans.foreach { name =>
      val s = batchStats.getOrElse(name, Zero)
      metrics += Metric(s"$name.s", spanS(name), "s")
      metrics += Metric(s"$name.rows_out", rows(name).toDouble, "count")
      metrics ++= spanMetrics(name, s, spanS(name), cores)
      trace += s"span.$name" -> (statsJson(s) + ("s" -> spanS(name)))
    }
    val emitted = emittedPairs(sigs)
    val nCands = rows("candidates")
    val (nFiles, bytes) = treeStats(root)
    val inputBytes = pages.agg(sum(octet_length(col("html")))).head().getLong(0)
    val scoreStats = batchStats.getOrElse("scores", Zero)
    metrics ++= Seq(
      Metric("candidates.emitted_pairs", emitted.toDouble, "count"),
      Metric("candidates.useful_ratio", nCands.toDouble / emitted, "ratio"),
      Metric("scores.cpu_ns_per_pair", scoreStats.cpuNs.toDouble / nCands, "ns"),
      Metric("clusters.edges", scored.filter(col("matches")).count().toDouble, "count"),
      Metric("clusters.jobs", batchStats.getOrElse("clusters", Zero).jobs.toDouble, "count"),
      Metric("stagestore.bytes_per_input_byte", bytes.toDouble / inputBytes, "ratio"),
      Metric("stagestore.files", nFiles.toDouble, "count"),
      Metric("batch.unaccounted_ratio", 1.0 - spanS.values.sum / batchWall, "ratio"))
    val pipelineSpansS = BatchSpans.take(4).map(spanS).sum
    metrics += Metric("batch.trace_overhead_ratio", pipelineSpansS / referenceS, "ratio")
    trace += "batch.untraced_reference_s" -> referenceS
    trace += "batch.traced_wall_s" -> batchWall
    checks.op("traced batch") { c =>
      val expect = ClustersPerEntity * n
      val got = distinctClusters(clustered)
      c(s"traced run has $expect clusters (got $got)")(got == expect)
      c("resumed stage tables match the materialized stages")(
        StageStore.fingerprint(resumed(3)) == StageStore.fingerprint(clustered))
    }

    // --- kernels, on inputs sampled from this corpus's candidate pairs
    val pairRows = cands.sample(false, 0.2, 7L).limit(KernelSample)
      .join(sigs.select(col("url").as("url1"), col("name_norm").as("n1"),
        col("embedding").as("e1")), "url1")
      .join(sigs.select(col("url").as("url2"), col("name_norm").as("n2"),
        col("embedding").as("e2")), "url2")
      .select("n1", "n2", "e1", "e2").collect()
    val texts = pages.select("text").sample(false, 0.2, 7L).limit(KernelSample)
      .collect().map(r => UTF8String.fromString(r.getString(0)))
    val kernels = Kernels.run(
      pairRows.map(r => (UTF8String.fromString(r.getString(0)), UTF8String.fromString(r.getString(1)))),
      pairRows.map(r => (floats(r, 2), floats(r, 3))),
      texts)
    progress("traced: kernels done")
    kernels.foreach { k =>
      metrics += Metric(s"kernel.${k.name}_ns", k.nsPerCall, "ns")
      trace += s"kernel.${k.name}" -> Map("ns_per_call" -> k.nsPerCall, "calls" -> k.calls,
        "inputs" -> k.inputs)
    }

    // --- incremental layers; priors are the stage tables just resumed
    val priors = Priors(resumed(0), resumed(2), resumed(3))
    val snap = snapshot(spark, n, a.seed)
    val oracleFp = oracle(spark, snap)
    val expect = expectedStale(n, a.seed)
    progress("traced: snapshot and oracle done")
    // with prior clusters (er_incremental's operation): the path that
    // spends its time in incremental clustering. Global re-clustering
    // (er_incremental_global) runs the same candidates and body jobs; its
    // clustering is the batch `clusters` code. Leaving it out keeps the
    // traced run well inside the 180 s a run may take.
    checks.op("traced inc")(c =>
      incOp(spark, snap, priors, reuseClusters = true, oracleFp, expect, c, Some(listener)))
      .foreach { op =>
        val byLayer = op.sites.toSeq.groupBy { case (k, _) => incLayer(k) }
          .map { case (l, ss) => l -> ss.map(_._2) }
        def jobS(l: String) = byLayer.getOrElse(l, Nil).map(_.jobMs).sum / 1e3
        metrics += Metric("inc.run.s", op.runS, "s")
        metrics += Metric("inc.materialize.s", op.materializeS, "s")
        IncLayers.foreach { l =>
          val ss = byLayer.getOrElse(l, Nil)
          metrics ++= Seq(
            Metric(s"inc.$l.s", jobS(l), "s"),
            Metric(s"inc.$l.shuffle_write_mb", mb(ss.map(_.shuffleWriteBytes).sum), "MB"),
            Metric(s"inc.$l.jobs", ss.map(_.jobs).sum.toDouble, "count"),
            Metric(s"inc.$l.tasks", ss.map(_.tasks).sum.toDouble, "count"))
        }
        val all = op.sites.values.toSeq
        metrics ++= Seq(
          Metric("inc.gc_ms", all.map(_.gcMs).sum.toDouble, "ms"),
          Metric("inc.unaccounted_ratio",
            1.0 - byLayer.keys.toSeq.map(jobS).sum / op.wallS, "ratio"))
        trace += "inc.sites" -> op.sites.map { case (k, st) =>
          k -> (statsJson(st) + ("layer" -> incLayer(k)))
        }
        trace += "inc.stats" -> op.stats.toString
        progress(s"traced: inc done (${op.wallS} s)")
      }

    // --- the listener's own skew reading
    val st = SelfTest.measure(spark, listener)
    metrics += Metric("selftest.skew_planted", st.planted, "ratio")
    metrics += Metric("selftest.skew_uniform", st.uniform, "ratio")
    checks.op("listener self-test")(c => SelfTest.check(st, c))

    Outcome(checks.attempted, checks.failed, metrics.toSeq,
      Seq("pages" -> pages.count(), "entities" -> n, "snapshot_pages" -> snap.count(),
        "session_s" -> sessionS, "failures" -> checks.failures.toSeq),
      trace.toSeq)
  }
}
