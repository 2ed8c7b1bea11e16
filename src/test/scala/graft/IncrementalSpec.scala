package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.WebPage
import graft.pipeline.ErPipeline
import graft.sources.WebPageGen
import graft.sources.WebPageGen.{Contact, LabeledPage}

/** SURVEY.md par.5 item 5: an incremental re-run with m updated rows
  * re-scores only the affected pairs and produces exactly the same final
  * state a full recompute would: across deltas that bump timestamps, add
  * entities, split a cluster and join two, and under a batch cap and a
  * per-record candidate cap.
  */
class IncrementalSpec extends SparkSpec {
  import IncrementalSpec._

  private val Seed = 42L
  private val Day = 24L * 3600L * 1000L

  private def webPage(p: LabeledPage): WebPage = WebPage(p.url, p.warc_ts, p.html, p.text, p.lang)

  /** The generated page of (entity, variant) one day later, its card
    * rewritten to `contact` when given.
    */
  private def later(id: Long, variant: String, contact: Option[Contact] = None): WebPage = {
    val p = webPage(WebPageGen.labeledPage(Seed, id, WebPageGen.Variants.indexWhere(_._1 == variant)))
    val html = contact.fold(p.html)(WebPageGen.htmlFor(_, id, variant).getBytes("UTF-8"))
    p.copy(warc_ts = new Timestamp(p.warc_ts.getTime + Day), html = html,
      text = WebPageGen.extractTextJvm(new String(html, "UTF-8")))
  }

  /** All pages of entities `from until until`, as generated. */
  private def entities(from: Long, until: Long): Seq[WebPage] =
    for (id <- from until until; v <- WebPageGen.Variants.indices)
      yield webPage(WebPageGen.labeledPage(Seed, id, v))

  /** `base` with `changed` replacing the pages of the same url and adding
    * the rest.
    */
  private def snapshot(base: DataFrame, changed: Seq[WebPage]): DataFrame = {
    val delta = spark.createDataFrame(changed)
    base.join(delta.select("url"), Seq("url"), "left_anti").unionByName(delta).localCheckpoint()
  }

  private def pairsOf(scored: DataFrame): Set[(String, String, Double, Boolean)] =
    scored.select("url1", "url2", "score", "matches").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getBoolean(3))).toSet

  private def clustersOf(clusters: DataFrame): Set[(String, String)] =
    clusters.collect().map(r => (r.getString(0), r.getString(1))).toSet

  /** Reports set differences, not the sets: a failure names a few rows. */
  private def assertSame[A](what: String, inc: Set[A], full: Set[A]): Unit = {
    val (missing, extra) = (full -- inc, inc -- full)
    if (missing.nonEmpty || extra.nonEmpty)
      fail(s"$what differ from a full run: missing=${missing.take(3)} extra=${extra.take(3)}")
  }

  test("incremental run rescoring == full recompute; untouched pairs reused") {
    val cfg = ErPipeline.Config()
    val pages0 = WebPageGen.pages(spark, 80L, Seed).toDF.localCheckpoint()
    def nClusters(c: DataFrame): Long = c.select("cluster_id").distinct().count()
    /** Signatures and scored pairs of a full run of `pages0` under `c`. */
    def priors(c: ErPipeline.Config): (DataFrame, DataFrame) = {
      val full0 = ErPipeline.run(spark, pages0, c)
      assert(nClusters(full0.clusters) === 320L)
      (full0.signatures.localCheckpoint(), full0.scored.localCheckpoint())
    }
    val uncapped = priors(cfg)

    // identical html/text under a bumped warc_ts: scores must not change
    // values, but those pairs MUST be re-scored
    val bumped = (0L until 80L).filter(_.toString.startsWith("1")).map(later(_, "base"))
    // split: a base page turns into an unrelated contact under the same url
    val split = (1L to 6L).map(id => later(id, "base", Some(WebPageGen.baseContact(Seed + 1, 1000L + id))))
    // join: one entity's email page takes another entity's phone, state and zip
    val joined = Seq(20L -> 21L, 30L -> 31L, 40L -> 41L).map { case (a, b) =>
      val other = WebPageGen.baseContact(Seed, b)
      later(a, "r4a-email", Some(WebPageGen.baseContact(Seed, a)
        .copy(phone = other.phone, state = other.state, zip = other.zip)))
    }
    val mixed = split ++ joined ++ entities(80L, 83L)
    val deltas = Seq(
      Delta("(a) bumped timestamps + 5 new entities", bumped ++ entities(80L, 85L), 340L),
      Delta("(b) split", split, 326L),
      Delta("(c) join", joined, 317L),
      Delta("(d) split + join + 3 new entities", mixed, 335L),
      // the 4 oldest stale rows are the split bases of entities 1-4
      Delta("(e) (d) at batchLimit 4", mixed, 324L, batchLimit = 4, processed = Some(split.take(4))),
      // the per-record cap ranks pairs globally; priors come from a capped run
      Delta("(f) (d) at maxCandidatesPerRecord 3", mixed, 335L, cap = 3))

    deltas.foreach { d =>
      val pages1 = snapshot(pages0, d.changed)
      val processed = d.processed.getOrElse(d.changed)
      val dCfg = cfg.copy(maxCandidatesPerRecord = d.cap)
      val (sigs0, scored0) = if (d.cap == 0) uncapped else priors(dCfg)
      val fullRes = ErPipeline.run(spark, snapshot(pages0, processed), dCfg)
      assert(nClusters(fullRes.clusters) === d.clusters, s"${d.name}: precondition")

      val ((inc, stats, incClusters), jobs) = jobsOf {
        val (inc, stats) = ErPipeline.runIncremental(spark, pages1, sigs0, scored0,
          dCfg.copy(batchLimit = d.batchLimit))
        (inc, stats, clustersOf(inc.clusters))
      }
      val tasks = jobs.map(_.tasks).sum
      info(s"${d.name}: stale=${stats.staleRowCount} rescored=${stats.rescoredPairs} " +
        s"reused=${stats.reusedPairs} jobs=${jobs.size} tasks=$tasks")
      // the job shape keeps a cached shuffle at 1,024 partitions; the
      // incremental path must not pay that per intermediate. Measured per
      // delta: 37-44 jobs and 108-179 tasks (43-54 and 122-217 at 2966240,
      // whose candidates were scoped to the blocks a stale record touched).
      val largest = jobs.sortBy(-_.tasks).take(5).map(j => s"job ${j.id} (${j.name}): ${j.tasks}")
      assert(tasks <= 1000L,
        s"${d.name}: $tasks tasks in ${jobs.size} jobs, largest ${largest.mkString(", ")}")
      // jobs: 44 at most over 3 full-suite runs, plus a margin of 4; the
      // touched-block candidate path ran 53-54 on deltas (a), (b) and (d)
      assert(jobs.size <= 48,
        s"${d.name}: ${jobs.size} jobs, largest ${largest.mkString(", ")}")
      assert(stats.staleRowCount === processed.size.toLong, d.name)
      assert(stats.reusedPairs > 0, s"${d.name}: unchanged pairs must be reused, not recomputed")
      assertSame(s"${d.name}: scored pairs", pairsOf(inc.scored), pairsOf(fullRes.scored))
      assertSame(s"${d.name}: clusters", incClusters, clustersOf(fullRes.clusters))
    }
  }

  test("without broadcast joins an incremental run stays within its task budget") {
    // With every join broadcast, a cache() in place of one of
    // runIncremental's localCheckpoints adds few tasks, and the bound of
    // the deltas above passes it. With sort-merge joins a cached shuffle
    // output keeps all 1,024 initial partitions, and every fill and scan
    // of it runs 1,024 tasks.
    val cfg = ErPipeline.Config()
    val pages0 = WebPageGen.pages(spark, 80L, Seed).toDF.localCheckpoint()
    val full0 = ErPipeline.run(spark, pages0, cfg)
    val (sigs0, scored0) = (full0.signatures.localCheckpoint(), full0.scored.localCheckpoint())
    val pages1 = snapshot(pages0, (1L to 6L).map(later(_, "base")))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    val (stats, jobs) = try jobsOf {
      val (inc, stats) = ErPipeline.runIncremental(spark, pages1, sigs0, scored0, cfg)
      clustersOf(inc.clusters)
      stats
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val tasks = jobs.map(_.tasks).sum
    info(s"stale=${stats.staleRowCount} jobs=${jobs.size} tasks=$tasks")
    assert(stats.staleRowCount === 6L)
    val largest = jobs.sortBy(-_.tasks).take(5).map(j => s"job ${j.id} (${j.name}): ${j.tasks}")
    // measured 88 tasks in 40 jobs; cache() in place of the stale,
    // mergedSigs or reused checkpoint ran 17,469, 9,297 and 7,250
    assert(tasks <= 1000L, s"$tasks tasks in ${jobs.size} jobs, largest ${largest.mkString(", ")}")
  }

  test("priors with columns the signatures no longer carry give the same clusters") {
    val cfg = ErPipeline.Config()
    val pages0 = WebPageGen.pages(spark, 40L, Seed).toDF.localCheckpoint()
    val full0 = ErPipeline.run(spark, pages0, cfg)
    val sigs0 = full0.signatures.localCheckpoint()
    val scored0 = full0.scored.localCheckpoint()
    // the signatures table of older stage roots, extra columns in place
    val wide = sigs0.select(col("url"), col("warc_ts"), col("lang"), lit("page text").as("text"),
      col("name_norm"), col("name_norm_rev"), lit("").as("first_norm"), lit("").as("last_norm"),
      col("email_norm"), col("phone_norm"), col("state_norm"), col("zip_norm"),
      lit(true).as("valid"), array(lit(1), lit(2)).as("name_tokens"), lit(2).as("name_len"),
      col("embedding"), col("block_keys"))
    val pages1 = snapshot(pages0, (0L until 40L).filter(_ % 7 == 0).map(later(_, "base")))
    def clusters(priorSigs: DataFrame): String = {
      val (inc, stats) = ErPipeline.runIncremental(spark, pages1, priorSigs, scored0, cfg)
      assert(stats.staleRowCount === 6L)
      graft.plans.StageStore.fingerprint(inc.clusters)
    }
    assert(clusters(wide) === clusters(sigs0))
  }

  test("batchLimit caps an incremental run at the oldest stale rows") {
    val cfg = ErPipeline.Config()
    val pages0 = WebPageGen.pages(spark, 40L).toDF.cache()
    val full0 = ErPipeline.run(spark, pages0, cfg)
    val sigs0 = full0.signatures.cache()
    val scored0 = full0.scored.cache()
    scored0.count()

    // bump 12 urls; cap the run at 5 -> exactly the 5 oldest get processed
    val bumped = pages0.orderBy("url").limit(12)
      .withColumn("warc_ts", col("warc_ts") + expr("INTERVAL 1 DAY"))
    val pages1 = pages0
      .join(bumped.select("url"), Seq("url"), "left_anti")
      .unionByName(bumped)
      .cache()
    val capped = cfg.copy(batchLimit = 5)
    // drain in rounds of <= 5 until no rows are stale: 12 rows -> 5, 5, 2.
    // localCheckpoint between rounds truncates lineage, as a real caller
    // materializing each increment would (checkpoint/Iceberg commit).
    var sigs = sigs0
    var scored = scored0
    var processed = Seq.empty[Long]
    var done = false
    while (!done && processed.size < 6) {
      val (res, st) = ErPipeline.runIncremental(spark, pages1, sigs, scored, capped)
      if (st.staleRowCount == 0L) done = true
      else {
        processed :+= st.staleRowCount
        sigs = res.signatures.localCheckpoint(true)
        scored = res.scored.localCheckpoint(true)
      }
    }
    assert(processed === Seq(5L, 5L, 2L),
      s"12 rows at batchLimit=5 should drain oldest-first in 3 rounds, got $processed")
  }
}

object IncrementalSpec {

  /** One delta of the 80-entity corpus: the snapshot replaces or adds the
    * `changed` pages; the run processes `processed` of them (all unless
    * batchLimit caps it); a full run of the processed snapshot has
    * `clusters` clusters. `cap` is the maxCandidatesPerRecord of the
    * priors, the full run and the incremental run.
    */
  final case class Delta(name: String, changed: Seq[WebPage], clusters: Long,
      batchLimit: Int = 0, cap: Int = 0, processed: Option[Seq[WebPage]] = None)
}
